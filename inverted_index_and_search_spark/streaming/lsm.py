"""The LSM delta log with upsert semantics: the one home of the
incremental-ingest protocol behind both writers, the term index's
``streaming.ingest.StreamingIndexWriter`` and the trigram index's
``operators.grep.TrigramIndexWriter``.

Layout under a writer's ``out_dir``; each write overwrites only its own
``batch_id=N`` directory, so a retried micro-batch is idempotent:

- ``<rows_dir>/batch_id=N``: the batch's index rows, one per
  (term, doc) or (gram, doc);
- ``<docs_dir>/batch_id=N``: the per-batch doc relation, one row per
  document delivered in batch N;
- ``delta_del/batch_id=B``: tombstones, one (doc_id) row per delete.

Semantics are Lucene's ``IndexWriter.updateDocument`` ordered by batch
id: a document's live version is its HIGHEST ingest batch (delivering a
doc_id again, changed or not, supersedes every earlier version), live
unless a tombstone at a strictly LATER batch kills it. The live view
keeps one batch per doc, so its rows are unique per (term, doc) and per
(gram, doc) by construction — the invariant behind the ``count(*)``
matching in ``query.boolean_and`` and ``grep._candidates``.

The version filter derives from the doc relation and the tombstones,
never from the row deltas; it holds only superseded or tombstoned docs,
so its join side stays tiny and AQE broadcasts it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELETES = "delta_del"
_BATCH = "batch_id="


class DeltaLog:
    """Base of the incremental writers: batch ids, tombstones, the
    live-version filter and the ``availableNow`` drain. A subclass sets
    ``out_dir``, ``rows_dir`` and ``docs_dir`` and implements
    ``process_batch(docs_batch, batch_id)`` with two :meth:`_append`
    calls: the rows, then the doc relation."""

    # ------------------------------------------------------------ write
    def _append(self, df: DataFrame, sub: str, batch_id: int,
                *partition_by: str) -> None:
        (df.write.mode("overwrite").partitionBy(*partition_by)
         .parquet(f"{self.out_dir}/{sub}/{_BATCH}{batch_id}"))

    def _batch_ids(self, sub: str) -> list[int]:
        path = f"{self.out_dir}/{sub}"
        if not os.path.exists(path):
            return []
        return [int(n[len(_BATCH):]) for n in os.listdir(path)
                if n.startswith(_BATCH)]

    def next_batch_id(self) -> int:
        """One past the highest batch seen (ingest or delete), read from
        the ``batch_id=N`` directory names — no Spark job."""
        return 1 + max((b for sub in (self.rows_dir, self.docs_dir, DELETES)
                        for b in self._batch_ids(sub)), default=-1)

    def delete_docs(self, spark: SparkSession, doc_ids,
                    batch_id: int | None = None) -> int:
        """Tombstone-delete documents: appends a tiny (doc_id) delta
        under ``delta_del/batch_id=B``. It kills the versions ingested
        before batch B; an ingest at B or later brings the doc back.
        The live view applies tombstones at read time and compaction
        purges them. ``doc_ids`` is a (doc_id) DataFrame or an iterable
        of ints; ``batch_id`` defaults to :meth:`next_batch_id`.
        Returns the batch id used."""
        if batch_id is None:
            batch_id = self.next_batch_id()
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            df = spark.createDataFrame([(int(d),) for d in doc_ids],
                                       "doc_id long")
        self._append(df.coalesce(1), DELETES, batch_id)
        return int(batch_id)

    # ------------------------------------------------------------- read
    def _live_versions(self, spark: SparkSession,
                       docs: DataFrame | None) -> DataFrame | None:
        """(doc_id, _live_b) for every doc delivered in more than one
        batch or ever tombstoned: its live batch, or -1 when a later
        tombstone killed it. None when nothing can be superseded (one
        ingest batch, no tombstones). ``docs`` is the doc relation if
        the caller has already read it."""
        has_dels = os.path.exists(f"{self.out_dir}/{DELETES}")
        if not has_dels and len(self._batch_ids(self.docs_dir)) < 2:
            return None
        if docs is None:
            docs = spark.read.parquet(f"{self.out_dir}/{self.docs_dir}")
        none = F.lit(None).cast("int")
        events = docs.select("doc_id", F.col("batch_id").alias("_b"),
                             none.alias("_d"))
        if has_dels:
            events = events.unionByName(
                spark.read.parquet(f"{self.out_dir}/{DELETES}")
                .select("doc_id", none.alias("_b"),
                        F.col("batch_id").alias("_d")))
        first, last, dead = F.col("_first"), F.col("_last"), F.col("_d")
        return (events.groupBy("doc_id")
                .agg(F.min("_b").alias("_first"), F.max("_b").alias("_last"),
                     F.max("_d").alias("_d"))
                .where((first < last) | dead.isNotNull())
                .select("doc_id", F.when(dead.isNull() | (last >= dead), last)
                        .otherwise(F.lit(-1)).alias("_live_b")))

    def _live(self, spark: SparkSession, *subs: str) -> list[DataFrame]:
        """The rows of every document's live version in each of
        ``subs`` (batch_id dropped); one version filter serves them all."""
        read = {sub: spark.read.parquet(f"{self.out_dir}/{sub}")
                for sub in subs}
        versions = self._live_versions(spark, read.get(self.docs_dir))
        if versions is None:
            return [rows.drop("batch_id") for rows in read.values()]
        return [rows.join(versions, "doc_id", "left")
                .where(F.col("_live_b").isNull()
                       | (F.col("batch_id") == F.col("_live_b")))
                .drop("_live_b", "batch_id") for rows in read.values()]

    # ----------------------------------------------------------- stream
    def drain(self, spark: SparkSession, input_dir: str, *,
              checkpoint: str | None = None,
              max_files_per_trigger: int = 1):
        """``availableNow`` ``foreachBatch`` stream: drains the parquet
        files under ``input_dir`` into delta batches, then stops (the
        checkpoint makes a re-run ingest only new files). Returns self."""
        schema = spark.read.parquet(input_dir).schema
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .parquet(input_dir)
             .writeStream.foreachBatch(self.process_batch)
             .option("checkpointLocation",
                     checkpoint or f"{self.out_dir}/_checkpoint")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return self
