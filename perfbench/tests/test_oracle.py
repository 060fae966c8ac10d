import numpy as np
import pytest

import oracle


def test_chunk_fixed_windows_trim_and_skip_empty():
    assert oracle.chunk_fixed("") == []
    assert oracle.chunk_fixed("  short  ") == [(0, "short")]
    text = "a" * 2500
    assert [(i, len(c)) for i, c in oracle.chunk_fixed(text)] == [
        (0, 1000), (1, 1000), (2, 900)]
    # The all-space middle window is dropped but keeps its index.
    text = "x" * 10 + " " * 1990 + "y" * 10
    assert oracle.chunk_fixed(text) == [(0, "x" * 10), (2, "y" * 10)]


def test_round6_is_half_up_on_the_shortest_decimal():
    assert oracle.round6(0.1234565) == 0.123457
    assert oracle.round6(-0.0000005) == -0.000001
    assert oracle.round6(0.30000000000000004) == 0.3


def test_embed_matrix_matches_the_program_embedder():
    from gistdex_spark.functions.embedder import embed_text

    texts = ["", "a", "alpha beta"] + [f"chunk {i} " * (i % 7) for i in range(200)]
    got = oracle.embed_matrix(texts)
    want = np.array([embed_text(t, 64) for t in texts])
    assert np.array_equal(got, want)


def test_search_hand_computed(monkeypatch):
    """Three 2-d chunks against query vector (1, 0): cosines 1.0, 0.6, 0.0."""
    orc = oracle.SearchOracle()
    orc.ids = ["id1", "id2", "id3"]
    orc.contents = ["Nothing here", "has BETA", "alpha beta"]
    orc.types = ["gist", "text", "gist"]
    e = np.array([[1.0, 0.0], [0.6, 0.8], [0.0, 1.0]])
    orc._cache = (e, np.sqrt(oracle.seq_dot(e, e)))
    monkeypatch.setattr(oracle, "embed_matrix", lambda texts: np.array([[1.0, 0.0]]))

    # rerank: score + 0.1 per query word contained (case-insensitive)
    assert orc.search("alpha beta", k=2) == [("id1", 1.0), ("id2", 0.7)]
    assert orc.search("alpha beta", k=3) == [("id1", 1.0), ("id2", 0.7), ("id3", 0.2)]
    # hybrid: 0.7 * score + 0.3 * matched-word share
    assert orc.search("alpha beta", k=2, mode="hybrid") == [("id1", 0.7), ("id2", 0.57)]
    # the type filter applies before top-k
    assert orc.search("alpha beta", k=1, source_type="gist") == [("id1", 1.0)]
    assert orc.search("zzz", k=1, source_type="none") == []


def test_search_ties_order_by_id():
    orc = oracle.SearchOracle()
    orc.add_docs(["s1", "s2"], ["same text", "same text"], ["gist", "gist"])
    got = orc.search("q", k=2)
    assert got[0][1] == got[1][1]
    assert [cid for cid, _ in got] == sorted(orc.ids)


@pytest.mark.parametrize("n", [1, 3])
def test_seq_dot_accumulates_in_index_order(n):
    a = np.array([[1e16, 1.0, -1e16]] * n)
    b = np.array([1.0, 1.0, 1.0])
    # (1e16 + 1) rounds back to 1e16, so index order gives 0, not 1.
    assert oracle.seq_dot(a, b).tolist() == [0.0] * n


def test_shard_census_hand_computed():
    texts = {1: "a b c", 2: "D e", 5: "f g  h i"}
    rows = [
        {"doc_id": 1, "n_tok": 3, "start": 0, "shard_id": 0},
        {"doc_id": 2, "n_tok": 2, "start": 3, "shard_id": 0},
        {"doc_id": 5, "n_tok": 4, "start": 5, "shard_id": 1},
    ]
    # (shard_id, n_docs, doc_from, doc_to, n_tokens, token_start, token_end)
    assert oracle.shard_census(rows, texts, 4) == [(0, 2, 1, 2, 5, 0, 5), (1, 1, 5, 5, 4, 5, 9)]
    rows[2]["start"] = 6
    assert oracle.shard_census(rows, texts, 4) is None
