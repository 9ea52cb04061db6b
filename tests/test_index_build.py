"""Index-build correctness vs the pure-Python oracle: postings exact,
stats exact, sha256 per-row invariant, salted path identical output."""

from __future__ import annotations

import hashlib

import pytest

from inverted_index_and_search_spark.operators import index_build as ib


@pytest.fixture(scope="module")
def index(docs_df):
    return ib.build_index(docs_df)


def _postings_as_dict(postings_rows):
    return {
        r["term"]: [(p["doc_id"], p["tf"]) for p in r["postings"]]
        for r in postings_rows
    }


def test_postings_exact(index, oracle_idx):
    got = _postings_as_dict(index.postings.collect())
    want = {
        t: sorted(docs.items()) for t, docs in oracle_idx.postings.items()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t] == want[t], t


def test_df_cf_stats(index, oracle_idx):
    rows = index.postings.select("term", "df", "cf").collect()
    for r in rows:
        assert r["df"] == oracle_idx.df(r["term"])
        assert r["cf"] == oracle_idx.cf(r["term"])


def test_doc_stats_and_sha(index, oracle_idx, corpus_pdf, docs_df):
    rows = {r["doc_id"]: r for r in index.doc_stats.collect()}
    assert set(rows) == set(oracle_idx.dl)
    for d, r in rows.items():
        assert r["dl"] == oracle_idx.dl[d]
        assert r["content_sha256"] == oracle_idx.sha[d]
    # the tf kernels' per-row dl is the doc's token count, both tokenizers
    from inverted_index_and_search_spark.tokenizer import tokenizer_py

    assert all(r["dl"] == oracle_idx.dl[r["doc_id"]]
               for r in index.tf.collect())
    code = tokenizer_py("code")
    code_dl = {int(d): len(code(c))
               for d, c in zip(corpus_pdf["doc_id"], corpus_pdf["content"])}
    assert all(r["dl"] == code_dl[r["doc_id"]] for r in
               ib.term_doc_tf_arrow(docs_df, tokenizer="code").collect())
    # per-row invariant directly vs source rows
    for _, src in corpus_pdf.iterrows():
        assert (
            rows[src["doc_id"]]["content_sha256"]
            == hashlib.sha256(src["content"].encode()).hexdigest()
        )


def test_collection_stats(index, oracle_idx):
    n, avgdl = index.collection_stats()
    assert n == oracle_idx.n_docs
    assert abs(avgdl - oracle_idx.avgdl) < 1e-9


def test_salted_path_identical(docs_df, index):
    salted = ib.build_index(docs_df, salt_hot_terms=True)
    a = index.postings.select("term", "df", "cf", "postings").collect()
    b = salted.postings.select("term", "df", "cf", "postings").collect()
    key = lambda r: r["term"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_salted_path_identical_with_forced_hot_set(docs_df, index,
                                                   monkeypatch):
    """Drive the actual hot-term branch: HOT_DF=0 + HOT_SAMPLE_MOD=1
    makes the detector flag every term 'hot' (all rows salted), the
    opposite extreme of the default threshold where nothing at test
    scale is hot — output must be byte-identical either way."""
    monkeypatch.setattr(ib, "HOT_DF", 0)
    monkeypatch.setattr(ib, "HOT_SAMPLE_MOD", 1)
    tf = ib.term_doc_tf_arrow(docs_df)
    hot = ib.hot_terms(tf)
    assert hot.count() == index.postings.count()  # every term flagged
    forced = ib.postings(tf, hot=hot)
    a = index.postings.select("term", "df", "cf", "postings").collect()
    b = forced.select("term", "df", "cf", "postings").collect()
    key = lambda r: r["term"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_salted_path_identical_with_mixed_hot_set(spark, docs_df, index):
    """Explicit PARTIAL hot set: some terms route through the two-phase
    merge, the rest finalize in phase 1 (the round-3 split plan) —
    output must still be byte-identical to the unsalted build."""
    tf = ib.term_doc_tf_arrow(docs_df)
    hot = spark.createDataFrame(
        [("def",), ("return",), ("zzznothere",)], "term string")
    mixed = ib.postings(tf, hot=hot)
    a = index.postings.select("term", "df", "cf", "postings").collect()
    b = mixed.select("term", "df", "cf", "postings").collect()
    key = lambda r: r["term"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_salted_phase2_merges_hot_terms_only(spark, docs_df):
    """The phase-2 merge (flatten of partial lists) must aggregate ONLY
    the hot branch: one flatten aggregate in the plan, fed by a filter
    on the hot flag, unioned with the already-final cold rows — round 2
    re-shuffled the ENTIRE postings payload through phase 2."""
    tf = ib.term_doc_tf_arrow(docs_df)
    hot = spark.createDataFrame([("def",)], "term string")
    plan = (ib.postings(tf, hot=hot)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("flatten") == 1, plan
    assert "Union" in plan, plan


def test_roundtrip_persisted(tmp_path, spark, index):
    out = str(tmp_path / "idx")
    ib.write_index(index, out)
    back = ib.read_index(spark, out)
    a = _postings_as_dict(index.postings.collect())
    b = _postings_as_dict(back.postings.collect())
    assert a == b
    # bucketed layout actually partitions on disk
    import os

    assert any(p.startswith("term_bucket=") for p in os.listdir(f"{out}/postings"))
