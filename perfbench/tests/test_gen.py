import os

import pyarrow.parquet as pq

import gen


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_ingest_search_inputs_are_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    gen.gen_ingest_search(str(a), 7, base_docs=20, batch_docs=5, n_ops=3)
    gen.gen_ingest_search(str(b), 7, base_docs=20, batch_docs=5, n_ops=3)
    gen.gen_ingest_search(str(c), 8, base_docs=20, batch_docs=5, n_ops=3)
    assert _files(a) == _files(b)
    assert _files(a)["base.parquet"] != _files(c)["base.parquet"]


def test_curate_inputs_are_byte_identical_per_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    m = gen.gen_curate(str(a), 3, batch_docs=200, n_ops=2)
    gen.gen_curate(str(b), 3, batch_docs=200, n_ops=2)
    assert _files(a) == _files(b)
    for planted in m["planted"]:
        assert sum(planted.values()) == 200
        assert planted["gate_fail"] and planted["exact_dup"] and planted["near_dup"]


def test_search_docs_chunk_into_several_chunks(tmp_path):
    m = gen.gen_ingest_search(str(tmp_path), 1, base_docs=50, batch_docs=1, n_ops=1)
    lens = [len(t) for t in pq.read_table(tmp_path / m["base"])["content"].to_pylist()]
    assert 2000 <= sum(lens) / len(lens) <= 3000
    assert [q["mode"] for q in m["queries"]] == ["rerank", "rerank"]
