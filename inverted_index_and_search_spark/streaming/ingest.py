"""Incremental (streaming) index maintenance — LSM-style.

The reference rebuilds its index from scratch per run; at 10^12 files
an index must absorb new documents incrementally. Design (the standard
LSM shape used by search engines; the delta-log protocol lives in
``streaming/lsm.py``):

- each micro-batch is tokenized + tf-counted ONCE (the batch build's
  tf kernel) and appended as a **delta segment** of
  (term, doc_id, tf[, positions]) rows partitioned by term_bucket under
  ``delta_tf/batch_id=N``, its doc stats (dl, sha256) under
  ``delta_ds/batch_id=N`` — no read-modify-write on the hot path;
- **ingest is an upsert** (Lucene ``updateDocument``): a doc's live
  version is its highest ingest batch, so re-delivering a doc_id,
  changed or not, supersedes its earlier versions. Live rows are unique
  per (term, doc) and live doc stats hold one row per doc, by
  construction;
- **deletes are tombstones** (``delete_docs``): append-only (doc_id)
  deltas ordered against ingests by batch id — a tombstone kills the
  strictly-earlier versions, a later ingest brings the doc back;
- ``live_index`` answers queries before compaction (live rows
  re-aggregated; the version filter is an AQE-broadcast join against
  the tiny set of superseded or tombstoned docs); ``compact`` /
  ``compact_segments`` fold the live rows into the canonical layouts and
  physically purge dead versions — Lucene's liveDocs-then-merge.

``ingest_stream`` drains a directory via ``foreachBatch`` with
``availableNow``; stream -> compact equals the one-shot batch build row
for row (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.streaming.lsm import DeltaLog


class StreamingIndexWriter(DeltaLog):
    """Accumulates delta segments per micro-batch; compacts on demand."""

    rows_dir = "delta_tf"
    docs_dir = "delta_ds"

    def __init__(self, out_dir: str, *, content_col: str = "content",
                 id_col: str = "doc_id", n_buckets: int = ib.DEFAULT_BUCKETS,
                 positional: bool = False, tokenizer: str = "standard",
                 analyzer=None):
        self.out_dir = out_dir
        self.content_col = content_col
        self.id_col = id_col
        self.n_buckets = n_buckets
        #: positional deltas carry per-posting token offsets, so the
        #: live/compacted index answers phrase queries too — the delta
        #: relation gains one array<int> column, nothing else changes
        self.positional = positional
        #: term semantics of every delta batch ("standard" | "code") —
        #: one writer, one vocabulary; live_index/compaction inherit it
        self.tokenizer = tokenizer
        #: analyzer (analysis.Analyzer or None) applied to every batch;
        #: persisted through compaction like the tokenizer
        self.analyzer = analyzer

    # ------------------------------------------------------------ write
    def process_batch(self, docs_batch: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: append this batch's tf + doc-stat deltas,
        both from one kernel pass cached only for the call."""
        from inverted_index_and_search_spark.operators import positional as pos

        kernel = (pos.term_doc_positions_arrow if self.positional
                  else ib.term_doc_tf_arrow)
        tf = kernel(docs_batch, content_col=self.content_col,
                    id_col=self.id_col, tokenizer=self.tokenizer,
                    analyzer=self.analyzer).drop("dl").persist()
        try:
            self._append(tf.withColumn("term_bucket", ib.term_bucket_col(
                F.col("term"), self.n_buckets)),
                self.rows_dir, batch_id, "term_bucket")
            ds = ib.doc_stats(docs_batch, tf, content_col=self.content_col,
                              id_col=self.id_col)
            self._append(ds, self.docs_dir, batch_id)
        finally:
            tf.unpersist()

    # ------------------------------------------------------------- read
    def live_index(self, spark: SparkSession) -> ib.Index:
        """Queryable view over everything ingested so far (pre-compaction):
        the live version's postings re-aggregated across delta segments
        on the fly."""
        tf, ds = self._live(spark, self.rows_dir, self.docs_dir)
        tf = tf.drop("term_bucket")
        if self.positional:
            from inverted_index_and_search_spark.operators.positional import (
                positional_postings,
            )
            posts = positional_postings(tf, n_buckets=self.n_buckets)
        else:
            posts = ib.postings(tf, n_buckets=self.n_buckets)
        return ib.Index(
            postings=posts,
            doc_stats=ds,
            tf=tf,
            n_buckets=self.n_buckets,
            tokenizer=self.tokenizer,
            analyzer=self.analyzer,
        )

    # --------------------------------------------------------- compact
    def compact(self, spark: SparkSession, index_dir: str, *,
                forward: bool = False) -> None:
        """Fold all delta segments into the canonical index layout
        (identical to a one-shot batch build over the live docs).
        ``forward=True`` also emits the doc-bucketed forward layout
        (r5) — the live tf relation is exactly what it derives from,
        so streamed indexes get the doc->terms access path too."""
        ib.write_index(self.live_index(spark), index_dir, forward=forward)

    def compact_segments(self, spark: SparkSession, seg_dir: str) -> None:
        """Fold all deltas into the COMPRESSED segment layout (the
        north-star delta+varint block-max format) — queryable warm via
        segments.QueryServer / `search --index-format segments`;
        identical to a one-shot build_segment_index over the live docs
        (tested). Positional deltas keep their positions, so the
        compacted segments answer phrase/proximity queries."""
        from inverted_index_and_search_spark.operators import segments as sg

        live = self.live_index(spark)
        n_docs, avgdl = live.collection_stats()
        # dl joins on from the live doc stats (one row per doc)
        tf = live.tf.join(live.doc_stats.select("doc_id", "dl"), "doc_id")
        sidx = sg.build_segment_index(
            tf, n_docs, avgdl, n_buckets=self.n_buckets,
            hot=ib.hot_terms(tf), tokenizer=self.tokenizer,
            analyzer=self.analyzer)
        sg.write_segment_index(sidx, seg_dir)


def ingest_stream(spark: SparkSession, input_dir: str, out_dir: str, *,
                  content_col: str = "content", id_col: str = "doc_id",
                  checkpoint: str | None = None,
                  max_files_per_trigger: int = 1,
                  positional: bool = False, tokenizer: str = "standard",
                  analyzer=None):
    """Stream a directory of document parquet files into delta segments
    (availableNow: drains what exists, then stops — cron-friendly)."""
    writer = StreamingIndexWriter(out_dir, content_col=content_col,
                                  id_col=id_col, positional=positional,
                                  tokenizer=tokenizer, analyzer=analyzer)
    return writer.drain(spark, input_dir, checkpoint=checkpoint,
                        max_files_per_trigger=max_files_per_trigger)
