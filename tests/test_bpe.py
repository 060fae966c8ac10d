"""Deterministic BPE (functions/bpe.py): training must reproduce a
hand-computed merge sequence, apply must be the standard greedy
lowest-rank loop, the Arrow-batched UDF must equal the driver-side
reference, and the pinned registry frames must round-trip."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from gistdex_spark.functions.bpe import (
    EOW,
    _ranks,
    apply_bpe,
    bpe_token_count,
    load_merges,
    pretokenize,
    token_count,
    train_bpe,
)
from tests.conftest import REPO_ROOT

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "bpe_merges.json",
)
SF = "/root/testdata/sf0.01"


def test_train_matches_hand_computed_merge_sequence():
    """Corpus 'low low lower', worked by hand:
    pairs round 1: (l,o)=3, (o,w</w>)=2, (o,w)=1, (w,e)=1, (e,r</w>)=1
      -> merge (l,o)
    round 2: (lo,w</w>)=2 beats the count-1 rest -> merge (lo,w</w>)
    round 3: every remaining pair has count 1 (< 2 compression cutoff)
      -> stop."""
    merges = train_bpe(["low low lower"], n_merges=10)
    assert merges == [["l", "o"], ["lo", "w" + EOW]]


def test_train_tie_breaks_lexicographically():
    """'ab ab cd cd': both (a,b</w>) and (c,d</w>) have count 2 — the
    lexicographically smaller pair must merge first, every time."""
    merges = train_bpe(["ab ab cd cd"], n_merges=2)
    assert merges == [["a", "b" + EOW], ["c", "d" + EOW]]


def test_apply_is_greedy_lowest_rank():
    ranks = _ranks([["l", "o"], ["lo", "w" + EOW]])
    # learned word collapses fully; 'lowest' reuses only the (l,o) rule
    # — rule 2 needs a word-FINAL w, so mid-word 'w' stays split.
    assert apply_bpe("low", ranks) == ["low" + EOW]
    assert apply_bpe("lowest", ranks) == ["lo", "w", "e", "s", "t" + EOW]
    # unseen characters fall back to character-level + EOW marker
    assert apply_bpe("zq", ranks) == ["z", "q" + EOW]
    assert apply_bpe("", ranks) == []


def test_token_count_driver_reference():
    merges = [["l", "o"], ["lo", "w" + EOW]]
    # 'low lowest zq' -> 1 + 5 + 2 tokens; None/empty count 0
    assert token_count("low lowest zq", merges) == 8
    assert token_count(None, merges) == 0
    assert token_count("", merges) == 0


def test_training_is_deterministic():
    import duckdb

    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM '{SF}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]
    assert train_bpe(texts, 48) == train_bpe(texts, 48)


def test_fixture_is_regenerable_and_not_saturated():
    """The committed fixture must be exactly what make_bpe_merges.py
    produces from the frozen corpus (tokenizer drift = silent pin
    invalidation), and must leave subword structure (fertility > 1 —
    a saturated table would make the BPE family vacuous)."""
    import duckdb

    with open(FIXTURE) as f:
        fx = json.load(f)
    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM '{fx['corpus']}' ORDER BY doc_id"
        ).fetchall()
    ]
    assert train_bpe(texts, fx["n_merges_requested"]) == fx["merges"]
    ws = sum(len(pretokenize(t)) for t in texts)
    bpe = sum(token_count(t, fx["merges"]) for t in texts)
    assert bpe > ws * 1.2, "fixture saturated: BPE ~= whitespace counts"


def test_bpe_properties_hypothesis():
    """Property pins for the tokenizer algebra: (1) apply is a fixpoint
    — re-applying the merges to a tokenization's concatenation changes
    nothing (greedy merging terminates at a stable form); (2) token
    counts are additive over whitespace concatenation (documents
    tokenize word-by-word, so packing/shard arithmetic can sum per-doc
    counts); (3) the tokens always reassemble the word exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    merges = load_merges(FIXTURE)
    ranks = _ranks(merges)
    words = st.text(
        alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x7F),
        min_size=1, max_size=12,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(words, min_size=0, max_size=8))
    def check(ws):
        text = " ".join(ws)
        # additivity over concatenation
        assert token_count(text, ranks) == sum(
            token_count(w, ranks) for w in ws
        )
        for w in ws:
            toks = apply_bpe(w, ranks)
            # reassembly: strip the EOW marker, concat == word
            assert "".join(toks).replace(EOW, "") == w
            # fixpoint: each emitted token is stable under re-apply
            for t_i in range(len(toks) - 1):
                r = ranks.get((toks[t_i], toks[t_i + 1]))
                assert r is None, (w, toks, t_i)

    check()


def test_udf_equals_driver_reference(spark):
    from gistdex_spark.sources.tables import load_table

    merges = load_merges(FIXTURE)
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", bpe_token_count("text", merges).alias("n")
        ).collect()
    }
    rows = docs.collect()
    assert len(got) == len(rows) > 0
    for r in rows:
        assert got[r["doc_id"]] == token_count(r["text"], merges), r["doc_id"]


_FOREIGN_CWD_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
from gistdex_spark.functions.bpe import bpe_token_count, load_merges
from gistdex_spark.session import get_spark

spark = get_spark("bpe-foreign-cwd", cpus=1)
df = spark.createDataFrame([("low low lower",)], "text STRING")
n = df.select(bpe_token_count("text", load_merges({FIXTURE!r}))).first()[0]
print("COUNT", n)
"""


def test_udf_workers_import_the_package_from_a_foreign_cwd(tmp_path):
    """A session from ``get_spark`` must let its Python workers import
    ``gistdex_spark`` when the driver runs outside the repo and finds
    the package only through its own ``sys.path``. A subprocess is
    required: the test session's workers already run from the repo."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    want = token_count("low low lower", load_merges(FIXTURE))
    assert f"COUNT {want}" in proc.stdout.splitlines()


def test_pinned_frames_roundtrip(spark):
    """The frozen expected frames (make_pinned_expected.py) must match
    a live run at sf0.01 — the same value gate make_parity applies."""
    from gistdex_spark.parity import compare_pinned
    from gistdex_spark.queries import REGISTRY

    pin_path = os.path.join(
        os.path.dirname(FIXTURE), "pinned_expected_sf0.01.json"
    )
    with open(pin_path) as f:
        pins = json.load(f)
    for name in (
        "token_count_bpe",
        "sequence_packing_stats_bpe",
        "shard_manifest_bpe",
    ):
        pdf = REGISTRY[name](spark, SF).toPandas()
        rec = compare_pinned(pdf, pins[name])
        assert rec["values_match"], (name, rec["first_mismatches"])


def test_packing_bpe_unit_actually_differs(spark):
    """The BPE packing audit must not be the whitespace audit in
    disguise: with fertility ~1.9 the per-source token totals must
    differ from the whitespace form's."""
    from gistdex_spark.queries import REGISTRY

    ws = {
        r["source"]: r["n_tokens"]
        for r in REGISTRY["sequence_packing_stats"](spark, SF).collect()
    }
    bpe = {
        r["source"]: r["n_tokens"]
        for r in REGISTRY["sequence_packing_stats_bpe"](spark, SF).collect()
    }
    assert set(ws) == set(bpe)
    assert all(bpe[s] > ws[s] for s in ws)


def test_word_token_dictionary_fixture(duck):
    """fixtures/bpe_word_tokens.json (make_bpe_dict.py) — the frozen
    unit table behind the BPE queries' REAL DuckDB oracles — must (a)
    be tied to the current merges fixture by checksum, (b) agree with
    the reference apply loop for every word, and (c) cover every
    distinct word the sf0.01 corpus tokenizes to, so the oracles'
    strict inner join can never silently drop tokens."""
    import hashlib

    from gistdex_spark.functions.text import sql_tokens

    dict_path = os.path.join(
        os.path.dirname(FIXTURE), "bpe_word_tokens.json"
    )
    with open(dict_path) as f:
        fx = json.load(f)
    with open(FIXTURE, "rb") as f:
        assert fx["merges_md5"] == hashlib.md5(f.read()).hexdigest(), (
            "bpe_word_tokens.json is stale vs bpe_merges.json — rerun "
            "make_bpe_dict.py"
        )
    ranks = _ranks(load_merges(FIXTURE))
    wt = fx["word_tokens"]
    for w, n in wt.items():
        assert n == len(apply_bpe(w, ranks)), w
    corpus_words = {
        r[0]
        for r in duck.sql(
            f"SELECT DISTINCT unnest({sql_tokens('text')}) FROM documents"
        ).fetchall()
        if r[0]
    }
    missing = corpus_words - set(wt)
    assert not missing, f"corpus words missing from dictionary: {missing}"


def test_tokens_udf_equals_driver_reference(spark):
    """bpe_tokens (the sequence UDF behind the per-token registry
    queries) must emit exactly the driver-side tokenize() stream, and
    its lengths must agree with token_count."""
    from gistdex_spark.functions.bpe import bpe_tokens, tokenize
    from gistdex_spark.sources.tables import load_table

    merges = load_merges(FIXTURE)
    docs = load_table(spark, SF, "documents").limit(80)
    got = {
        r["doc_id"]: list(r["toks"])
        for r in docs.select(
            "doc_id", bpe_tokens("text", merges).alias("toks")
        ).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        want = tokenize(r["text"], merges)
        assert got[r["doc_id"]] == want, r["doc_id"]
        assert len(want) == token_count(r["text"], merges)


def test_word_pieces_fixture_consistent():
    """word_pieces (the list form behind the per-token oracles) must be
    the apply loop's exact output for every word, and word_tokens must
    be its lengths — one dictionary, two derived views."""
    dict_path = os.path.join(
        os.path.dirname(FIXTURE), "bpe_word_tokens.json"
    )
    with open(dict_path) as f:
        fx = json.load(f)
    ranks = _ranks(load_merges(FIXTURE))
    assert set(fx["word_pieces"]) == set(fx["word_tokens"])
    for w, pieces in fx["word_pieces"].items():
        assert pieces == apply_bpe(w, ranks), w
        assert fx["word_tokens"][w] == len(pieces), w
