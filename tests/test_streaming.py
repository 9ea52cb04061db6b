"""Streaming surface vs batch twins: watermarked windowed aggregation,
applyInPandasWithState running totals, and incremental index ingest
(delta segments -> compaction == one-shot batch build)."""

from __future__ import annotations

import pytest

from inverted_index_and_search_spark.operators import events as ev
from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators import query as q
from inverted_index_and_search_spark.operators import segments as sg
from inverted_index_and_search_spark.streaming import ingest, stream_ops

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def events_df(spark):
    df = spark.read.parquet(EVENTS)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File-source streams need a directory; stage the single parquet
    file into one."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(EVENTS, d / "part-0.parquet")
    return str(d)


def test_windowed_stream_equals_batch(spark, events_df, events_dir):
    got = sorted(tuple(r) for r in
                 stream_ops.windowed_counts_stream(spark, events_dir).collect())
    want = sorted(tuple(r) for r in ev.windowed_counts(events_df).collect())
    assert got == want and got


def test_stateful_user_counts_equal_batch(spark, events_df, events_dir):
    rows = stream_ops.user_counts_stateful_stream(spark, events_dir).collect()
    # last update per user = max n_events (counts are monotone)
    final: dict[int, tuple[int, float]] = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in events_df.groupBy("user_id")
        .agg(ib.F.count("*").alias("n"),
             ib.F.round(ib.F.sum("value"), 6).alias("tv")).collect()
    }
    assert {u: v[0] for u, v in final.items()} == {u: v[0] for u, v in want.items()}
    for u in want:
        assert abs(final[u][1] - want[u][1]) < 1e-6


def test_incremental_ingest_matches_batch_build(spark, docs_df, tmp_path):
    # stream the corpus in 3 chunks
    chunks_dir = str(tmp_path / "chunks")
    docs = docs_df.select("doc_id", "content")
    for i in range(3):
        (docs.filter((ib.F.col("doc_id") % 3) == i)
         .coalesce(1).write.mode("append").parquet(chunks_dir))

    out = str(tmp_path / "ingest")
    writer = ingest.ingest_stream(spark, chunks_dir, out)

    # pre-compaction live view == batch build (postings rows)
    live = writer.live_index(spark)
    batch = ib.build_index(docs)
    cols = ["term", "term_bucket", "df", "cf", "postings"]
    live_rows = sorted(tuple(r) for r in live.postings.select(cols).collect())
    batch_rows = sorted(tuple(r) for r in batch.postings.select(cols).collect())
    assert live_rows == batch_rows

    # compaction produces the canonical layout, identical rows
    idx_dir = str(tmp_path / "compacted")
    writer.compact(spark, idx_dir)
    compacted = ib.read_index(spark, idx_dir)
    comp_rows = sorted(tuple(r) for r in compacted.postings.select(cols).collect())
    assert comp_rows == batch_rows

    ds_cols = ["doc_id", "dl", "content_sha256"]
    live_ds = sorted(tuple(r) for r in compacted.doc_stats.select(ds_cols).collect())
    batch_ds = sorted(tuple(r) for r in batch.doc_stats.select(ds_cols).collect())
    assert live_ds == batch_ds


def test_code_tokenizer_ingest_matches_batch_build(spark, docs_df, tmp_path):
    """Streaming deltas built with tokenizer='code' compact to the
    exact rows of a one-shot code-tokenizer batch build, and the
    persisted meta carries the tokenizer."""
    chunks_dir = str(tmp_path / "code_chunks")
    docs = docs_df.select("doc_id", "content")
    for i in range(2):
        (docs.filter((ib.F.col("doc_id") % 2) == i)
         .coalesce(1).write.mode("append").parquet(chunks_dir))

    out = str(tmp_path / "code_ingest")
    writer = ingest.ingest_stream(spark, chunks_dir, out, tokenizer="code")
    idx_dir = str(tmp_path / "code_compacted")
    writer.compact(spark, idx_dir)
    compacted = ib.read_index(spark, idx_dir)
    assert compacted.tokenizer == "code"

    batch = ib.build_index(docs, tokenizer="code")
    cols = ["term", "term_bucket", "df", "cf", "postings"]
    got = sorted(tuple(r) for r in compacted.postings.select(cols).collect())
    want = sorted(tuple(r) for r in batch.postings.select(cols).collect())
    assert got == want


def test_ingest_is_restartable(spark, docs_df, tmp_path):
    """availableNow + checkpoint: a second invocation with no new files
    is a no-op; adding files ingests only the new ones."""
    chunks_dir = str(tmp_path / "chunks")
    docs = docs_df.select("doc_id", "content")
    docs.filter(ib.F.col("doc_id") < 30).coalesce(1).write.mode("append").parquet(chunks_dir)

    out = str(tmp_path / "ingest")
    writer = ingest.ingest_stream(spark, chunks_dir, out)
    n1 = writer.live_index(spark).doc_stats.count()
    assert n1 == 30

    ingest.ingest_stream(spark, chunks_dir, out)  # no new files -> no-op
    assert writer.live_index(spark).doc_stats.count() == 30

    docs.filter(ib.F.col("doc_id") >= 30).coalesce(1).write.mode("append").parquet(chunks_dir)
    ingest.ingest_stream(spark, chunks_dir, out)
    assert writer.live_index(spark).doc_stats.count() == docs.count()


def test_positional_ingest_answers_phrases(spark, docs_df, tmp_path):
    """Positional LSM ingest: stream in chunks -> live view and
    compacted index answer phrase queries identically to the one-shot
    positional batch build."""
    from inverted_index_and_search_spark.operators import positional as pos

    chunks_dir = str(tmp_path / "pchunks")
    docs = docs_df.select("doc_id", "content")
    for i in range(3):
        (docs.filter((ib.F.col("doc_id") % 3) == i)
         .coalesce(1).write.mode("append").parquet(chunks_dir))

    out = str(tmp_path / "pingest")
    writer = ingest.ingest_stream(spark, chunks_dir, out, positional=True)

    batch = pos.build_positional_index(docs)
    want = [(int(r["doc_id"]), int(r["phrase_tf"]))
            for r in pos.phrase_match(batch, ["def", "trait"]).collect()]
    assert want, "fixture phrase must occur in the corpus"

    live = writer.live_index(spark)
    got_live = [(int(r["doc_id"]), int(r["phrase_tf"]))
                for r in pos.phrase_match(live, ["def", "trait"]).collect()]
    assert got_live == want

    idx_dir = str(tmp_path / "pcompacted")
    writer.compact(spark, idx_dir)
    compacted = ib.read_index(spark, idx_dir)
    got_comp = [(int(r["doc_id"]), int(r["phrase_tf"]))
                for r in pos.phrase_match(compacted, ["def", "trait"]).collect()]
    assert got_comp == want

    # postings rows (incl. positions) identical to the batch build
    cols = ["term", "term_bucket", "df", "cf", "postings"]
    comp_rows = sorted(tuple(r) for r in compacted.postings.select(cols).collect())
    batch_rows = sorted(tuple(r) for r in batch.postings.select(cols).collect())
    assert comp_rows == batch_rows


def test_compact_segments_equals_batch_segment_build(spark, docs_df,
                                                     tmp_path):
    """Stream in chunks -> compact_segments == one-shot segment build
    over the same docs: identical decoded postings, identical warm
    query results (positional: phrase-capable)."""
    from inverted_index_and_search_spark.operators import positional as pos

    chunks_dir = str(tmp_path / "segchunks")
    docs = docs_df.select("doc_id", "content")
    for i in range(3):
        (docs.filter((ib.F.col("doc_id") % 3) == i)
         .coalesce(1).write.mode("append").parquet(chunks_dir))
    out = str(tmp_path / "seging")
    writer = ingest.ingest_stream(spark, chunks_dir, out, positional=True)
    seg_dir = str(tmp_path / "segout")
    writer.compact_segments(spark, seg_dir)
    streamed = sg.read_segment_index(spark, seg_dir)

    tdp = pos.term_doc_positions(docs)
    n = docs.count()
    avgdl = float(tdp.groupBy("doc_id").agg(ib.F.sum("tf").alias("dl"))
                  .agg(ib.F.avg("dl")).collect()[0][0])
    batch = sg.build_segment_index(tdp, n, avgdl)
    batch.segments.cache()  # queried 4 times: build once

    a = {(r["term"], r["doc_id"], r["tf"])
         for r in sg.decode_segments_tf(streamed).collect()}
    b = {(r["term"], r["doc_id"], r["tf"])
         for r in sg.decode_segments_tf(batch).collect()}
    assert a == b
    assert streamed.n_docs == batch.n_docs
    for terms in (["def"], ["def", "return"]):
        assert sg.topk(streamed, terms, k=10) == pytest.approx(
            sg.topk(batch, terms, k=10))
    assert sg.phrase_docs(streamed, ["def", "return"]) == \
        sg.phrase_docs(batch, ["def", "return"])


@pytest.mark.parametrize("positional", [False, True])
def test_process_batch_tokenizes_once(spark, docs_df, tmp_path, positional):
    """A micro-batch's rows and doc stats come from one kernel pass: the
    batch content is evaluated twice, once by the tokenizer and once by
    the sha256 of the doc stats (a third, re-tokenizing pass for the
    doc lengths is gone), and no cache outlives the call."""
    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    docs = docs_df.select("doc_id", "content")
    batch = docs.mapInPandas(counted, schema=docs.schema)
    writer = ingest.StreamingIndexWriter(str(tmp_path / "ingest"),
                                         positional=positional)
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    writer.process_batch(batch, 0)
    assert seen.value == 2 * docs.count()
    assert cached().size() == before
    rows = spark.read.parquet(str(tmp_path / "ingest" / "delta_tf"))
    assert rows.columns[:3] == ["term", "doc_id", "tf"]
    assert "dl" not in rows.columns


def test_delete_docs_tombstones(spark, docs_df, tmp_path):
    """LSM deletes: tombstone -> live view and compaction equal a batch
    build over the surviving docs; a later re-ingest brings a doc back;
    a re-delivery without a delete supersedes the earlier version."""
    docs = docs_df.select("doc_id", "content")
    out = str(tmp_path / "ingest_del")
    writer = ingest.StreamingIndexWriter(out)
    for i in range(3):
        writer.process_batch(docs.filter((ib.F.col("doc_id") % 3) == i), i)

    dead = [int(r["doc_id"]) for r in
            docs.filter(ib.F.col("doc_id") < 10).collect()]
    b = writer.delete_docs(spark, dead)
    assert b == 3  # one past the highest ingest batch

    cols = ["term", "term_bucket", "df", "cf", "postings"]
    survivors = docs.filter(~ib.F.col("doc_id").isin(dead))
    want = sorted(tuple(r) for r in
                  ib.build_index(survivors).postings.select(cols).collect())
    got = sorted(tuple(r) for r in
                 writer.live_index(spark).postings.select(cols).collect())
    assert got == want

    # compaction physically purges tombstoned docs
    idx_dir = str(tmp_path / "compacted_del")
    writer.compact(spark, idx_dir)
    compacted = ib.read_index(spark, idx_dir)
    assert sorted(tuple(r) for r in
                  compacted.postings.select(cols).collect()) == want
    assert compacted.doc_stats.count() == survivors.count()

    # re-ingest one deleted doc in a LATER batch -> resurrected
    readd = docs.filter(ib.F.col("doc_id") == dead[0])
    writer.process_batch(readd, 4)
    expect2 = docs.filter(~ib.F.col("doc_id").isin(dead[1:]))
    want2 = sorted(tuple(r) for r in
                   ib.build_index(expect2).postings.select(cols).collect())
    got2 = sorted(tuple(r) for r in
                  writer.live_index(spark).postings.select(cols).collect())
    assert got2 == want2

    # a second tombstone kills the resurrected version again
    writer.delete_docs(spark, [dead[0]])
    got3 = writer.live_index(spark).doc_stats.count()
    assert got3 == survivors.count()

    # re-delivery WITHOUT a delete is an upsert (Lucene updateDocument):
    # one survivor comes again unchanged, another with new content; only
    # each doc's latest version is live
    again, changed = [int(r["doc_id"]) for r in
                      survivors.orderBy("doc_id").limit(2).collect()]
    new_version = docs.where(ib.F.col("doc_id") == dead[1]).select(
        ib.F.lit(changed).cast("long").alias("doc_id"), "content")
    assert writer.next_batch_id() == 6
    writer.process_batch(docs.where(ib.F.col("doc_id") == again)
                         .unionByName(new_version), 6)
    expect4 = (survivors.where(ib.F.col("doc_id") != changed)
               .unionByName(new_version))
    batch4 = ib.build_index(expect4)
    live = writer.live_index(spark)
    assert sorted(tuple(r) for r in live.postings.select(cols).collect()) \
        == sorted(tuple(r) for r in batch4.postings.select(cols).collect())
    # one doc_stats row per live doc, so BM25 sees the right N
    ds_ids = [int(r["doc_id"]) for r in live.doc_stats.collect()]
    assert sorted(ds_ids) == sorted(int(r["doc_id"])
                                    for r in expect4.collect())
    for terms in (["def"], ["return", "if"], ["def", "var_5_0"]):
        assert q.boolean_and(live, terms).collect() == \
            q.boolean_and(batch4, terms).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in
                q.bm25_topk(live, terms, 10).collect()] == \
            [(r["doc_id"], round(r["score"], 9)) for r in
             q.bm25_topk(batch4, terms, 10).collect()]

    # compact_segments after the re-delivery == a one-shot segment build
    # over the live docs
    seg_dir = str(tmp_path / "seg_redelivered")
    writer.compact_segments(spark, seg_dir)
    streamed = sg.read_segment_index(spark, seg_dir)
    n, avgdl = batch4.collection_stats()
    want_seg = sg.build_segment_index(ib.term_doc_tf_arrow(expect4), n, avgdl)
    want_seg.segments.cache()
    assert streamed.n_docs == n
    assert {tuple(r) for r in sg.decode_segments_tf(streamed).collect()} \
        == {tuple(r) for r in sg.decode_segments_tf(want_seg).collect()}
    assert sg.topk(streamed, ["def", "return"], k=10) == pytest.approx(
        sg.topk(want_seg, ["def", "return"], k=10))


def test_analyzer_ingest_matches_batch_build(spark, docs_df, tmp_path):
    """Streaming deltas built with a non-identity analyzer compact to
    the exact rows of a one-shot analyzed batch build (r4 advice:
    ingest_stream dropped the analyzer parameter, silently building an
    unanalyzed index)."""
    from inverted_index_and_search_spark.analysis import Analyzer

    an = Analyzer.make(["def", "return"], True)
    chunks_dir = str(tmp_path / "an_chunks")
    docs = docs_df.select("doc_id", "content")
    for i in range(2):
        (docs.filter((ib.F.col("doc_id") % 2) == i)
         .coalesce(1).write.mode("append").parquet(chunks_dir))

    out = str(tmp_path / "an_ingest")
    writer = ingest.ingest_stream(spark, chunks_dir, out, analyzer=an)
    assert writer.analyzer is an

    idx_dir = str(tmp_path / "an_compacted")
    writer.compact(spark, idx_dir)
    compacted = ib.read_index(spark, idx_dir)
    assert compacted.analyzer is not None \
        and not compacted.analyzer.is_identity

    batch = ib.build_index(docs, analyzer=an)
    cols = ["term", "term_bucket", "df", "cf", "postings"]
    got = sorted(tuple(r) for r in compacted.postings.select(cols).collect())
    want = sorted(tuple(r) for r in batch.postings.select(cols).collect())
    assert got == want
    # the stopped words really are gone from the streamed index
    assert not any(r[0] in ("def", "return") for r in got)


def test_compact_emits_forward_layout(spark, docs_df, tmp_path):
    """compact(forward=True): a streamed index gains the doc-bucketed
    forward layout, and MLT over it equals the postings-scan path."""
    import dataclasses

    chunks_dir = str(tmp_path / "fwd_chunks")
    docs = docs_df.select("doc_id", "content")
    docs.coalesce(2).write.mode("append").parquet(chunks_dir)
    out = str(tmp_path / "fwd_ingest")
    writer = ingest.ingest_stream(spark, chunks_dir, out)
    idx_dir = str(tmp_path / "fwd_compacted")
    writer.compact(spark, idx_dir, forward=True)
    back = ib.read_index(spark, idx_dir)
    assert back.forward is not None
    n = back.collection_stats()[0]
    got = [tuple(r) for r in q.doc_profile(back, 3, n).limit(5).collect()]
    want = [tuple(r) for r in q.doc_profile(
        dataclasses.replace(back, forward=None), 3, n).limit(5).collect()]
    assert got == want and got
