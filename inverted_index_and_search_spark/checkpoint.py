"""Resumable index build: per-bucket atomic commits + lineage/metrics.

North rule: "resumable from per-partition checkpoints with lineage and
build metrics". The reference has nothing comparable (its only restart
aid is the output-dir auto-versioning, ``choose_output_path``,
``spark/inverted_index_search.py:156-161``).

Layout under ``out_dir``:

    stage/tf_dl/term_bucket=B/...   the tf kernel's (term, doc_id, tf, dl)
    doc_stats/...                   (doc_id, dl, content_sha256)
    segments/term_bucket=B/...      compressed segments (segments.py)
    stats.json                      {n_docs, avgdl, n_buckets, block, tokenizer}
    _manifest/stage0.json           stage-0 commit (input lineage)
    _manifest/bucket_B.json         per-bucket commit (counts, checksum,
                                    wall seconds, lineage back-pointer)

Commit protocol: every artifact is fully written, then its manifest
file is atomically renamed into place; a restart re-runs exactly the
buckets with no manifest entry. Buckets re-encode from the
materialized stage-0 output, never from the raw corpus, so resumed
builds are bit-identical to uninterrupted ones (postings are sorted by
doc_id before encoding — content does not depend on task scheduling).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators import segments as seg


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _manifest_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, "_manifest", f"{name}.json")


def _committed(out_dir: str, name: str) -> bool:
    return os.path.exists(_manifest_path(out_dir, name))


def _segment_checksum(segments: DataFrame) -> int:
    """Order-insensitive content checksum over the binary columns —
    cheap integrity/lineage fingerprint recorded per bucket."""
    row = segments.select(
        F.sum(
            F.crc32(F.concat(F.encode("term", "utf-8"), "doc_ids_enc",
                             "tfs_enc", "dls_enc"))
        ).alias("c")
    ).collect()[0]
    return int(row["c"] or 0)


def build_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    content_col: str = "content",
    id_col: str = "doc_id",
    n_buckets: int = 8,
    input_desc: str = "",
    on_bucket_done: Callable[[int], None] | None = None,
    tokenizer: str = "standard",
) -> seg.SegmentIndex:
    """Build (or resume building) a compressed segment index.

    ``on_bucket_done`` is a test hook invoked after each bucket commit
    (used to simulate a mid-build crash).

    After the last bucket commits, a run-level metrics artifact
    (``run_metrics.json``: wall seconds, shuffle/input bytes, executor
    CPU/GC — metrics.write_run_metrics) is written next to the index,
    with a lineage back-pointer recorded so the manifest view links the
    run to its input snapshot (reference ``collect_and_log_metrics``,
    ``spark/inverted_index_search.py:262-457``).
    """
    run_t0 = time.perf_counter()
    os.makedirs(os.path.join(out_dir, "_manifest"), exist_ok=True)

    # ---- stage 0: the tf kernel's rows (dl included), bucketed
    if not _committed(out_dir, "stage0"):
        t0 = time.perf_counter()
        tf = ib.term_doc_tf_arrow(docs, content_col=content_col,
                                  id_col=id_col, tokenizer=tokenizer)
        # one bucket per write task via the Murmur3 routing column
        # (hash partitioning leaves ~1/e of tasks empty; range would
        # sample-execute the tokenize+tf pipeline twice)
        route = ib.bucket_route_col(spark, F.col("term_bucket"), n_buckets)
        (tf.withColumn("term_bucket", ib.term_bucket_col(F.col("term"), n_buckets))
         .repartition(n_buckets, route)
         .write.mode("overwrite").partitionBy("term_bucket")
         .parquet(f"{out_dir}/stage/tf_dl"))
        # doc lengths from the materialized rows: no second tokenize
        ds = ib.doc_stats(docs, spark.read.parquet(f"{out_dir}/stage/tf_dl"),
                          content_col=content_col, id_col=id_col)
        ds.write.mode("overwrite").parquet(f"{out_dir}/doc_stats")
        srow = spark.read.parquet(f"{out_dir}/doc_stats").agg(
            F.count("*").alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        stats = {"n_docs": int(srow["n"]), "avgdl": float(srow["avgdl"] or 0.0),
                 "n_buckets": n_buckets, "block": seg.BLOCK,
                 "tokenizer": tokenizer}
        _atomic_write_json(f"{out_dir}/stats.json", stats)
        _atomic_write_json(_manifest_path(out_dir, "stage0"), {
            "input": input_desc,
            "n_docs": stats["n_docs"],
            "avgdl": stats["avgdl"],
            "n_buckets": n_buckets,
            "seconds": round(time.perf_counter() - t0, 3),
        })

    with open(f"{out_dir}/stats.json") as f:
        stats = json.load(f)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    # ---- per-bucket encode + atomic commit
    for b in range(n_buckets):
        name = f"bucket_{b}"
        if _committed(out_dir, name):
            continue
        t0 = time.perf_counter()
        part = spark.read.parquet(f"{out_dir}/stage/tf_dl/term_bucket={b}")
        encoded = seg.build_segment_index(
            part, n_docs, avgdl, n_buckets=n_buckets,
            hot=ib.hot_terms(part), tokenizer=tokenizer,
        ).segments.drop("term_bucket")
        bucket_path = f"{out_dir}/segments/term_bucket={b}"
        encoded.write.mode("overwrite").parquet(bucket_path)
        persisted = spark.read.parquet(bucket_path)
        counts = persisted.agg(
            F.count("*").alias("terms"),
            F.sum("df").alias("sum_df"),
            F.sum("cf").alias("sum_cf"),
        ).collect()[0]
        _atomic_write_json(_manifest_path(out_dir, name), {
            "bucket": b,
            "terms": int(counts["terms"] or 0),
            "sum_df": int(counts["sum_df"] or 0),
            "sum_cf": int(counts["sum_cf"] or 0),
            "checksum": _segment_checksum(persisted),
            "seconds": round(time.perf_counter() - t0, 3),
            "lineage": {"stage0": _manifest_path(out_dir, "stage0")},
        })
        if on_bucket_done is not None:
            on_bucket_done(b)

    # ---- sorted dictionary side table (term-range pruning for
    # prefix/fuzzy; derived from the committed segments, so it commits
    # last and resumes like any other stage)
    if not _committed(out_dir, "dictionary"):
        t0 = time.perf_counter()
        ib.write_dictionary(spark, f"{out_dir}/segments",
                            f"{out_dir}/dictionary")
        _atomic_write_json(_manifest_path(out_dir, "dictionary"), {
            "seconds": round(time.perf_counter() - t0, 3),
            "lineage": {"stage0": _manifest_path(out_dir, "stage0")},
        })

    from inverted_index_and_search_spark.metrics import write_run_metrics

    write_run_metrics(
        spark, out_dir, wall_seconds=time.perf_counter() - run_t0,
        job="resumable_build",
        extra={"n_buckets": n_buckets,
               "lineage": {"stage0": _manifest_path(out_dir, "stage0")}})

    return seg.SegmentIndex(
        segments=spark.read.parquet(f"{out_dir}/segments"),
        n_docs=n_docs, avgdl=avgdl, n_buckets=n_buckets, block=stats["block"],
        dictionary=spark.read.parquet(f"{out_dir}/dictionary"),
        tokenizer=stats.get("tokenizer", "standard"),
    )


def manifest(out_dir: str) -> dict[str, dict]:
    """All committed manifest entries (lineage + metrics view)."""
    mdir = os.path.join(out_dir, "_manifest")
    out = {}
    if os.path.isdir(mdir):
        for fn in sorted(os.listdir(mdir)):
            if fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    out[fn[:-5]] = json.load(f)
    return out
