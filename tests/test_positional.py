"""Positional index + phrase / proximity queries vs a pure-Python oracle.

The oracle recomputes phrase starts and proximity pairs naively from
tokenize_py over the same corpus rows — a fully independent method from
the engine's array_intersect-of-shifted-position-lists plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators import positional as pos
from inverted_index_and_search_spark.operators import query as q
from inverted_index_and_search_spark.tokenizer import tokenize_py
from tests.conftest import TESTDATA

PHRASES = [
    ["def"],                      # single-term phrase == term match
    ["def", "trait"],             # common bigram in the synthetic code corpus
    ["return", "def"],
    ["trait", "def", "def"],      # trigram
    ["def", "def"],               # repeated term -> overlapping matches
    ["def", "zzzqqqxx"],          # missing term -> empty
    ["DEF", "TRAIT"],             # query-side lowercasing
]


def oracle_phrase(corpus_pdf, phrase: list[str]) -> dict[int, int]:
    """doc_id -> number of (possibly overlapping) phrase starts."""
    norm = [t.lower() for t in phrase]
    k = len(norm)
    out: dict[int, int] = {}
    for doc_id, content in zip(corpus_pdf["doc_id"], corpus_pdf["content"]):
        toks = tokenize_py(content)
        n = sum(1 for i in range(len(toks) - k + 1) if toks[i:i + k] == norm)
        if n:
            out[int(doc_id)] = n
    return out


def oracle_near(corpus_pdf, a: str, b: str, w: int) -> list[int]:
    hits = []
    for doc_id, content in zip(corpus_pdf["doc_id"], corpus_pdf["content"]):
        toks = tokenize_py(content)
        pa = [i for i, t in enumerate(toks) if t == a]
        pb = [i for i, t in enumerate(toks) if t == b]
        if any(abs(x - y) <= w for x in pa for y in pb):
            hits.append(int(doc_id))
    return sorted(hits)


@pytest.fixture(scope="module")
def pidx(docs_df):
    idx = pos.build_positional_index(docs_df)
    idx.postings.cache().count()
    idx.doc_stats.cache().count()
    return idx


@pytest.mark.parametrize("tokenizer", ["standard", "code"])
def test_positions_match_token_offsets(docs_df, corpus_pdf, tokenizer):
    """Positions from the entry point (the Arrow loop for "standard",
    the JVM chain for "code") are exactly the 0-based token offsets of
    the term under the python twin of that tokenizer."""
    from inverted_index_and_search_spark.tokenizer import tokenizer_py

    rows = pos.term_doc_positions_arrow(docs_df, tokenizer=tokenizer).collect()
    got = {(r["term"], int(r["doc_id"])): list(r["positions"]) for r in rows}
    # spot-check every term of a handful of docs, fully
    for doc_id, content in list(
            zip(corpus_pdf["doc_id"], corpus_pdf["content"]))[:5]:
        toks = tokenizer_py(tokenizer)(content)
        want: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            want.setdefault(t, []).append(i)
        for t, posns in want.items():
            assert got[(t, int(doc_id))] == posns
    # every row's dl is its doc's token count
    want_dl = {int(d): len(tokenizer_py(tokenizer)(c))
               for d, c in zip(corpus_pdf["doc_id"], corpus_pdf["content"])}
    assert all(r["dl"] == want_dl[int(r["doc_id"])] for r in rows)


@pytest.mark.parametrize("phrase", PHRASES, ids=["-".join(p) for p in PHRASES])
def test_phrase_match_oracle(pidx, corpus_pdf, phrase):
    want = oracle_phrase(corpus_pdf, phrase)
    got = {int(r["doc_id"]): int(r["phrase_tf"])
           for r in pos.phrase_match(pidx, phrase).collect()}
    assert got == want


def test_phrase_overlapping_counts(spark):
    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "b a a b")], "doc_id long, content string")
    idx = pos.build_positional_index(docs)
    got = {r["doc_id"]: r["phrase_tf"]
           for r in pos.phrase_match(idx, ["a", "a"]).collect()}
    assert got == {0: 3, 1: 1}


def test_phrase_empty_and_missing(pidx):
    assert pos.phrase_match(pidx, []).collect() == []
    assert pos.phrase_match(pidx, ["zzzqqqxx", "def"]).collect() == []


def test_norm_phrase_tokenizes_punctuation(pidx):
    """Phrase elements run through the canonical tokenizer: 'def-return'
    is the sequence (def, return), not an impossible literal token."""
    assert pos.norm_phrase(["def-return", "If"]) == ["def", "return", "if"]
    a = {(r["doc_id"], r["phrase_tf"])
         for r in pos.phrase_match(pidx, ["def", "return"]).collect()}
    b = {(r["doc_id"], r["phrase_tf"])
         for r in pos.phrase_match(pidx, ["def-return"]).collect()}
    assert a == b and a


def test_phrase_single_term_equals_tf(pidx, oracle_idx):
    got = {int(r["doc_id"]): int(r["phrase_tf"])
           for r in pos.phrase_match(pidx, ["def"]).collect()}
    want = dict(oracle_idx.postings.get("def", {}))
    assert got == want


def test_phrase_bm25_single_term_matches_bm25(pidx, oracle_idx):
    """A 1-word phrase scores identically to the ordinary BM25 path."""
    got = [(int(r["doc_id"]), r["score"])
           for r in pos.phrase_bm25_topk(pidx, ["def"], k=10).collect()]
    from inverted_index_and_search_spark import oracle as orc
    want = orc.bm25_topk(oracle_idx, ["def"], k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-6


def test_phrase_bm25_ranks_by_phrase_tf(spark):
    """More phrase occurrences -> higher score at equal doc length."""
    docs = spark.createDataFrame(
        [(0, "x y q q q q q q"), (1, "x y x y q q q q"),
         (2, "q q q q q q q q")], "doc_id long, content string")
    idx = pos.build_positional_index(docs)
    got = [int(r["doc_id"])
           for r in pos.phrase_bm25_topk(idx, ["x", "y"], k=3).collect()]
    assert got == [1, 0]


@pytest.mark.parametrize("a,b,w", [("def", "trait", 2), ("return", "var", 1),
                                   ("if", "int", 5)])
def test_terms_within_window_oracle(pidx, corpus_pdf, a, b, w):
    want = oracle_near(corpus_pdf, a, b, w)
    got = [int(r["doc_id"])
           for r in pos.terms_within_window(pidx, a, b, w).collect()]
    assert got == want


def test_positional_index_is_superset(pidx, docs_df, oracle_idx):
    """Existing query operators run unchanged on a positional index."""
    from inverted_index_and_search_spark import oracle as orc
    got_and = [int(r["doc_id"])
               for r in q.boolean_and(pidx, ["def", "return"]).collect()]
    assert got_and == orc.boolean_and(oracle_idx, ["def", "return"])
    got_bm = [(int(r["doc_id"]), r["score"])
              for r in q.bm25_topk(pidx, ["def", "return"], k=5).collect()]
    want_bm = orc.bm25_topk(oracle_idx, ["def", "return"], k=5)
    assert [d for d, _ in got_bm] == [d for d, _ in want_bm]


def test_boolean_or_oracle(pidx, oracle_idx):
    terms = ["def", "var_3_0"]
    want = sorted(
        set(oracle_idx.postings.get("def", {}))
        | set(oracle_idx.postings.get("var_3_0", {})))
    got = [int(r["doc_id"]) for r in q.boolean_or(pidx, terms).collect()]
    assert got == want
    assert q.boolean_or(pidx, []).collect() == []


def test_boolean_and_not_oracle(pidx, oracle_idx):
    inc, exc = ["def"], ["var_3_0"]
    want = sorted(
        set(oracle_idx.postings.get("def", {}))
        - set(oracle_idx.postings.get("var_3_0", {})))
    got = [int(r["doc_id"])
           for r in q.boolean_and_not(pidx, inc, exc).collect()]
    assert got == want
    # empty exclude == plain AND
    got2 = [int(r["doc_id"]) for r in q.boolean_and_not(pidx, inc, []).collect()]
    from inverted_index_and_search_spark import oracle as orc
    assert got2 == orc.boolean_and(oracle_idx, inc)


def test_top_terms_per_doc_oracle(pidx, oracle_idx):
    import math

    n = oracle_idx.n_docs
    k = 3
    want: dict[int, list[str]] = {}
    per_doc: dict[int, list[tuple[float, str]]] = {}
    for term, posts in oracle_idx.postings.items():
        idf = math.log((n + 1.0) / (len(posts) + 1.0))
        for doc_id, tf in posts.items():
            per_doc.setdefault(doc_id, []).append((tf * idf, term))
    for doc_id, pairs in per_doc.items():
        pairs.sort(key=lambda x: (-x[0], x[1]))
        want[doc_id] = [t for _, t in pairs[:k]]
    rows = q.top_terms_per_doc(pidx, k=k).collect()
    got: dict[int, list[str]] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["rank"])):
        got.setdefault(int(r["doc_id"]), []).append(r["term"])
    assert got == want


def test_sharded_positional_results_identical(spark, docs_df, oracle_idx,
                                              corpus_pdf):
    """Hot-term posting-list sharding changes the ROW layout only:
    boolean/BM25/phrase results are identical to the unsharded build.
    Forces EVERY term hot (an all-terms hot set)."""
    from pyspark.sql import functions as F

    all_terms = (pos.term_doc_positions(docs_df)
                 .select("term").distinct())
    tdp = pos.term_doc_positions(docs_df)
    sharded = pos.positional_postings(tdp, hot=all_terms)
    base = pos.build_positional_index(docs_df)
    from inverted_index_and_search_spark.operators.index_build import (
        Index,
        doc_stats,
    )
    sh_idx = Index(postings=sharded,
                   doc_stats=doc_stats(docs_df, tdp),
                   tf=tdp, sharded=True)

    # hot terms really are split across rows
    n_rows = sharded.groupBy("term").count().agg(F.max("count")).collect()[0][0]
    assert n_rows > 1

    # per-row df/cf are term-level on every shard row
    stats_sh = {(r["term"], r["df"], r["cf"])
                for r in sharded.select("term", "df", "cf").collect()}
    stats_b = {(r["term"], r["df"], r["cf"])
               for r in base.postings.select("term", "df", "cf").collect()}
    assert stats_sh == stats_b

    for terms in (["def", "return"], ["def"], ["var_3_0"]):
        got_b = q.boolean_and(base, terms).collect()
        got_s = q.boolean_and(sh_idx, terms).collect()
        assert got_b == got_s
        bm_b = [(r["doc_id"], round(r["score"], 9))
                for r in q.bm25_topk(base, terms, k=10).collect()]
        bm_s = [(r["doc_id"], round(r["score"], 9))
                for r in q.bm25_topk(sh_idx, terms, k=10).collect()]
        assert bm_b == bm_s

    ph_b = pos.phrase_match(base, ["def", "trait"]).collect()
    ph_s = pos.phrase_match(sh_idx, ["def", "trait"]).collect()
    assert ph_b == ph_s


def test_same_term_window_needs_two_occurrences(spark):
    docs = spark.createDataFrame(
        [(0, "x q x"), (1, "q x q"), (2, "x x")],
        "doc_id long, content string")
    idx = pos.build_positional_index(docs)
    got = [int(r["doc_id"])
           for r in pos.terms_within_window(idx, "x", "x", 2).collect()]
    assert got == [0, 2]  # doc 1 has one 'x' only -> no self-match


def test_sharded_index_text_sink_one_line_per_term(spark, docs_df,
                                                   monkeypatch):
    from inverted_index_and_search_spark.operators import index_build as ib

    base = pos.build_positional_index(docs_df)
    # a zero threshold over the full sample flags every term hot
    monkeypatch.setattr(ib, "HOT_DF", 0)
    monkeypatch.setattr(ib, "HOT_SAMPLE_MOD", 1)
    sharded = pos.build_positional_index(docs_df, shard_hot_terms=True)
    assert sharded.sharded is True
    lines_s = sorted(r["value"]
                     for r in ib.postings_text_lines(sharded).collect())
    lines_b = sorted(r["value"]
                     for r in ib.postings_text_lines(base).collect())
    assert lines_s == lines_b
    # one line per term even when every term is sharded
    terms = [ln.split("\t")[0] for ln in lines_s]
    assert len(terms) == len(set(terms))


def test_positional_build_unsharded_when_nothing_hot(spark, tmp_path):
    """Index.sharded reports the probed hot set: default detection on
    sf0.001 finds nothing hot, so the build and its meta.json say
    unsharded and the sinks skip the shard merge."""
    import json

    from inverted_index_and_search_spark.operators import index_build as ib

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    idx = pos.build_positional_index(docs, content_col="text",
                                     shard_hot_terms=True)
    assert idx.sharded is False
    out = str(tmp_path / "pidx")
    ib.write_index(idx, out)
    with open(f"{out}/meta.json") as f:
        assert json.load(f)["sharded"] is False
