"""Positional compressed segments: codec roundtrip + phrase evaluation
rank/score-identity with the DataFrame positional operators."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators import positional as pos
from inverted_index_and_search_spark.operators import segments as seg
from tests.conftest import spark_jobs

PHRASES = [["def"], ["def", "trait"], ["return", "def"],
           ["trait", "def", "def"], ["def", "def"], ["def", "zzzqqqxx"]]


@st.composite
def position_lists(draw):
    n_postings = draw(st.integers(1, 8))
    out = []
    for _ in range(n_postings):
        gaps = draw(st.lists(st.integers(1, 1000), min_size=1, max_size=20))
        first = draw(st.integers(0, 10_000))
        out.append(np.cumsum([first] + gaps[1:]).astype(np.int64))
    return out


@settings(max_examples=200, deadline=None)
@given(position_lists())
def test_positions_codec_roundtrip(pls):
    tfs = np.asarray([len(p) for p in pls], dtype=np.int64)
    enc = seg._encode_positions(pls)
    flat = seg.decode_positions(enc, tfs)
    assert flat.tolist() == np.concatenate(pls).tolist()


@pytest.fixture(scope="module")
def psegs(spark, docs_df):
    tdp = pos.term_doc_positions(docs_df)
    n_docs = docs_df.count()
    tf_dl = tdp.groupBy("doc_id").agg(
        seg.F.sum("tf").alias("dl"))
    avgdl = float(tf_dl.agg(seg.F.avg("dl")).collect()[0][0])
    sidx = seg.build_segment_index(tdp, n_docs, avgdl,
                                   hot=ib.hot_terms_from_docs(docs_df))
    sidx.segments.cache().count()
    return sidx


@pytest.fixture(scope="module")
def pidx(docs_df):
    idx = pos.build_positional_index(docs_df)
    idx.postings.cache().count()
    idx.doc_stats.cache().count()
    return idx


def test_segment_schema_has_positions(psegs):
    assert "positions_enc" in psegs.segments.columns


@pytest.mark.parametrize("phrase", PHRASES, ids=["-".join(p) for p in PHRASES])
def test_phrase_docs_matches_dataframe_path(psegs, pidx, phrase):
    want = [(int(r["doc_id"]), int(r["phrase_tf"]))
            for r in pos.phrase_match(pidx, phrase).collect()]
    assert seg.phrase_docs(psegs, phrase) == want


@pytest.mark.parametrize("phrase", [["def", "trait"], ["return", "def"],
                                    ["def", "def"], ["def"]])
def test_phrase_topk_matches_dataframe_scores(psegs, pidx, phrase):
    want = [(int(r["doc_id"]), float(r["score"]))
            for r in pos.phrase_bm25_topk(pidx, phrase, k=10).collect()]
    got = seg.phrase_topk(psegs, phrase, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-9


def test_query_server_phrase(psegs, pidx):
    server = seg.QueryServer(psegs)
    want = seg.phrase_topk(psegs, ["def", "trait"], k=10)
    assert server.phrase_topk(["def", "trait"], k=10) == want
    # warm repeat uses only the cache — same result
    assert server.phrase_topk(["def", "trait"], k=10) == want
    assert server.phrase_topk(["zzzqqqxx", "def"], k=10) == []


def test_non_positional_segments_reject_phrase(spark, docs_df):
    tf = ib.term_doc_tf_arrow(docs_df)
    n_docs = docs_df.count()
    sidx = seg.build_segment_index(tf, n_docs, 100.0)
    with pytest.raises(ValueError, match="positional"):
        seg.phrase_docs(sidx, ["def", "trait"])


def test_positional_segments_roundtrip_persisted(psegs, spark, tmp_path):
    out = str(tmp_path / "possegs")
    seg.write_segment_index(psegs, out)
    rt = seg.read_segment_index(spark, out)
    assert seg.phrase_docs(rt, ["def", "trait"]) == seg.phrase_docs(psegs, ["def", "trait"])
    # non-phrase queries still work on the positional layout
    assert seg.topk(rt, ["def", "return"], k=5) == seg.topk(
        psegs, ["def", "return"], k=5)


def test_batch_phrase_topk_matches_driver(psegs):
    queries = [(0, ["def", "trait"]), (1, ["return", "def"]),
               (2, ["def", "def"]), (3, ["zzzqqqxx", "def"])]
    got = {}
    for r in seg.batch_phrase_topk(psegs, queries, k=5).collect():
        got.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for qid, phrase in queries:
        want = [(i + 1, d, s) for i, (d, s) in
                enumerate(seg.phrase_topk(psegs, phrase, k=5))]
        assert sorted(got.get(qid, [])) == want, phrase


def test_positions_decode_is_lazy(psegs):
    fetched = seg.fetch_term_postings(psegs, ["def"])
    tp = fetched["def"]
    assert tp.positions_enc is not None and tp.positions_flat is None
    flat = tp.ensure_positions()
    assert flat.size == int(np.diff(
        np.concatenate(([0], tp.pos_bounds))).sum())
    assert tp.positions_flat is flat  # cached, decoded once


# ------------------------------------------------------------- proximity

NEAR_CASES = [("def", "return", 3), ("def", "trait", 5),
              ("return", "if", 1), ("def", "zzzqqqxx", 4),
              ("def", "def", 2)]


@pytest.mark.parametrize("a,b,w", NEAR_CASES)
def test_near_docs_matches_dataframe_path(psegs, pidx, a, b, w):
    """Segment proximity kernel == positional.terms_within_window,
    including the same-term two-distinct-occurrences rule."""
    want = [int(r["doc_id"])
            for r in pos.terms_within_window(pidx, a, b, w).collect()]
    got = seg.near_docs(psegs, a, b, w)
    assert got == want, (a, b, w)


def test_query_server_near_terms(psegs, pidx):
    server = seg.QueryServer(psegs)
    for a, b, w in NEAR_CASES:
        want = [int(r["doc_id"])
                for r in pos.terms_within_window(pidx, a, b, w).collect()]
        assert server.near_terms(a, b, w) == want, (a, b, w)
    # warm repeat touches only the cache (no further fetches needed)
    assert server.near_terms(*NEAR_CASES[0]) == [
        int(r["doc_id"])
        for r in pos.terms_within_window(pidx, *NEAR_CASES[0]).collect()]


def test_near_docs_requires_positional(spark, docs_df):
    tf = ib.term_doc_tf_arrow(docs_df)
    n = docs_df.count()
    sidx = seg.build_segment_index(tf, n, 10.0)
    with pytest.raises(ValueError):
        seg.near_docs(sidx, "def", "return", 3)


def test_positional_merge_preserves_phrases(spark, docs_df, psegs):
    """Merging positional halves keeps positions intact: phrase results
    equal the whole-corpus positional segment index."""
    from pyspark.sql import functions as F

    halves = []
    for par in (0, 1):
        part = docs_df.where(F.pmod("doc_id", F.lit(2)) == par)
        tdp = pos.term_doc_positions(part)
        nd = part.count()
        ad = float(
            tdp.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
            .join(part.select("doc_id"), "doc_id", "right").fillna({"dl": 0})
            .agg(F.avg("dl")).collect()[0][0] or 0.0)
        halves.append(seg.build_segment_index(tdp, nd, ad))
    merged = seg.merge_segment_indexes(halves)
    merged.segments.cache()  # queried 8 times: decode and encode once
    for phrase in PHRASES[:4]:
        assert seg.phrase_docs(merged, phrase) == seg.phrase_docs(
            psegs, phrase), phrase
        assert seg.phrase_topk(merged, phrase, k=10) == pytest.approx(
            seg.phrase_topk(psegs, phrase, k=10)), phrase


# ------------------------------------- warm expression evaluation

EXPRS_WARM = [
    "def",
    "def AND return",
    "def OR var_3_0",
    "def AND NOT var_3_0",
    '("def trait" OR var_3_0) AND NOT zzzqqqxx',
    "def NEAR/3 return",
    "(def NEAR/2 trait) OR var_3_0",
    "zzzqqqxx AND def",
    # wildcard / fuzzy atoms (round 4): dictionary scan + per-term cache
    "de* AND return",
    "retur~1 OR var_3_0",
    "(de* OR retrn~) AND NOT var_5_0",
    "zzzqqqxx*",
]


def test_query_server_search_expr_matches_dataframe(psegs, pidx):
    from inverted_index_and_search_spark.operators import search_expr as se

    server = seg.QueryServer(psegs)
    for expr in EXPRS_WARM:
        want = [int(r["doc_id"])
                for r in se.search_expr(pidx, expr).collect()]
        assert server.search_expr(expr) == want, expr


def test_query_server_search_expr_ranked_matches_dataframe(psegs, pidx):
    from inverted_index_and_search_spark.operators import search_expr as se

    server = seg.QueryServer(psegs)
    for expr in EXPRS_WARM:
        want = [(int(r["doc_id"]), r["score"])
                for r in se.search_expr_ranked(pidx, expr, k=10).collect()]
        got = server.search_expr_ranked(expr, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], expr
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, expr


def test_query_server_expr_errors(psegs):
    from inverted_index_and_search_spark.operators.search_expr import ExprError

    server = seg.QueryServer(psegs)
    with pytest.raises(ExprError):
        server.search_expr("NOT def")


def test_query_server_expr_phrase_needs_positions(spark, docs_df):
    from inverted_index_and_search_spark.operators.search_expr import ExprError

    tf = ib.term_doc_tf_arrow(docs_df)
    sidx = seg.build_segment_index(tf, docs_df.count(), 10.0)
    server = seg.QueryServer(sidx)
    for expr in ['"def return"', "def NEAR/2 return"]:
        with pytest.raises(ExprError):
            server.search_expr(expr)
    assert server.search_expr("def AND return")  # plain boolean still fine


def test_sharded_positional_segments_phrase_identical(spark, docs_df,
                                                      psegs):
    """Forced all-hot positional segments: positions merge correctly
    across shard rows — phrase and proximity results identical to the
    single-row layout."""
    tdp = pos.term_doc_positions(docs_df)
    all_terms = tdp.select("term").distinct()
    sh = seg.build_segment_index(tdp, psegs.n_docs, psegs.avgdl,
                                 hot=all_terms)
    sh.segments.cache()  # queried 12 times: build once
    from pyspark.sql import functions as F
    mx = (sh.segments.groupBy("term").count()
          .agg(F.max("count")).collect()[0][0])
    assert mx > 1
    for phrase in PHRASES[:4]:
        assert seg.phrase_docs(sh, phrase) == seg.phrase_docs(
            psegs, phrase), phrase
        assert seg.phrase_topk(sh, phrase, k=10) == pytest.approx(
            seg.phrase_topk(psegs, phrase, k=10)), phrase
    for a, b, w in NEAR_CASES[:3]:
        assert seg.near_docs(sh, a, b, w) == seg.near_docs(
            psegs, a, b, w), (a, b, w)


def test_phrase_server_hot_term_routes_distributed(psegs):
    """r5: a phrase containing an uncached term hotter than
    max_term_df_warm routes through the distributed batch phrase
    kernel — score parity with the warm path, nothing decoded into the
    cursor cache (phrases routinely contain stop-word-class terms,
    whose POSITION arrays are the largest the server can be asked to
    decode)."""
    phrase = ["def", "trait"]
    want = seg.QueryServer(psegs).phrase_topk(phrase, k=10)
    bounded = seg.QueryServer(psegs, max_term_df_warm=2)
    got = bounded.phrase_topk(phrase, k=10)
    assert [(d, round(s, 6)) for d, s in got] == \
           [(d, round(s, 6)) for d, s in want] and got
    assert not bounded._cache


def test_phrase_server_first_seen_term_one_spark_job(spark, psegs):
    """A first-seen phrase costs ONE Spark job (the bounded pruned
    fetch, no separate df probe); a warm repeat costs none."""
    srv = seg.QueryServer(psegs)
    assert psegs.n_docs <= srv.max_term_df_warm
    phrase = ["def", "trait"]
    got, jobs = spark_jobs(spark, lambda: srv.phrase_topk(phrase, k=10))
    assert got and jobs == 1
    again, jobs = spark_jobs(spark, lambda: srv.phrase_topk(phrase, k=10))
    assert again == got and jobs == 0
