"""Extra measurement harness for the optimization rounds (guide §1).

NOT part of the driver contract — ``bench.py`` is frozen for
measurement; this file exists so stage-level timings, noop-sink
isolation (guide §1.4) and plan captures can be cited in
OPTIMIZATION_r*.md without touching the frozen harness.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [section ...]

Sections: dedup, build, segment, query, grep, all (default).
Prints one JSON line per section; every timed pipeline computes from
its inputs (no cross-run caching), mirroring bench.py methodology.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from inverted_index_and_search_spark.corpus import corpus_df, with_doc_id  # noqa: E402
from inverted_index_and_search_spark.session import get_spark  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn, runs=3):
    times = []
    for _ in range(runs):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    return {"min": min(times), "runs": times}


def _sf(sf_dir):
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf(sf_dir)
    sections = set(sys.argv[1:]) or {"all"}
    spark = get_spark(app_name="bench_extra")
    # warm python workers (same as bench.py — process setup, not engine)
    spark.range(0, 64, 1, 64).mapInPandas(lambda it: it, "id long").count()

    import shutil
    import tempfile
    tmp = tempfile.mkdtemp(prefix="iis_bx_")
    out = {"sf": sf}

    n_synth = max(200, int(200_000 * sf))
    (with_doc_id(corpus_df(spark, n_synth)).repartition(64)
     .write.mode("overwrite").parquet(f"{tmp}/corpus"))
    corpus = spark.read.parquet(f"{tmp}/corpus")

    try:
        if sections & {"dedup", "all"}:
            from inverted_index_and_search_spark.operators import dedup as dd
            dedup_in = dd.docs_with_planted_dups(
                corpus.selectExpr("doc_id", "content AS text"))
            msd = max(100, n_synth // 20)

            # stage A: shingle relation alone (map-side tokenize+shingle)
            out["dedup_shingles"] = _timed(
                spark, "dedup: shingle pass",
                lambda: _noop(dd.shingle_df(dedup_in)))
            # stage B: hot-shingle detection agg
            sh = dd.shingle_df(dedup_in)
            hot = (sh.groupBy("shingle").count()
                   .where(F.col("count") > msd).select("shingle"))
            out["dedup_hot_detect"] = _timed(
                spark, "dedup: hot shingle detect", lambda: _noop(hot))
            # stage C: signatures via the live path
            out["dedup_signatures"] = _timed(
                spark, "dedup: signatures",
                lambda: _noop(dd.minhash_signatures(
                    dedup_in, max_shingle_df=msd)))
            # stage E: full pipeline (the graded cell's body)
            out["dedup_full"] = _timed(
                spark, "dedup: full lsh pairs",
                lambda: dd.minhash_lsh_pairs(
                    dedup_in, max_bucket_size=50,
                    max_shingle_df=msd).count())

        if sections & {"build", "all"}:
            from inverted_index_and_search_spark.operators import (
                index_build as ib,
            )
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

            # tf pass alone (Arrow IMC)
            out["build_tf_arrow_docs"] = _timed(
                spark, "build: tf arrow (docs)",
                lambda: _noop(ib.term_doc_tf_arrow(
                    docs, content_col="text", id_col="doc_id")))
            out["build_tf_arrow_synth"] = _timed(
                spark, "build: tf arrow (synth)",
                lambda: _noop(ib.term_doc_tf_arrow(corpus)))
            # postings agg on top (no write)
            out["build_postings_synth"] = _timed(
                spark, "build: postings agg (synth)",
                lambda: _noop(ib.postings(ib.term_doc_tf_arrow(corpus))))

            # full build+write (the graded cells' bodies)
            def build_docs():
                idx = ib.build_index(docs, content_col="text",
                                     id_col="doc_id")
                ib.write_index(idx, f"{tmp}/idx_docs")
            out["build_docs_write"] = _timed(
                spark, "build: docs write", build_docs)

            def build_synth():
                idx = ib.build_index(corpus, salt_hot_terms=True)
                ib.write_index(idx, f"{tmp}/idx_synth")
            out["build_synth_write"] = _timed(
                spark, "build: synth write", build_synth)

        if sections & {"segment", "all"}:
            from inverted_index_and_search_spark.operators import (
                index_build as ib,
            )
            from inverted_index_and_search_spark.operators import (
                segments as seg,
            )
            n_c = corpus.count()
            avgdl_c = float(corpus.select(
                F.avg(F.size(F.split("content", r"\s+")))).collect()[0][0])

            def build_segments():
                tf_c = ib.term_doc_tf_arrow(corpus)
                sidx = seg.build_segment_index(
                    tf_c, n_c, avgdl_c,
                    hot=ib.hot_terms_from_docs(corpus))
                seg.write_segment_index(sidx, f"{tmp}/seg_synth")
            out["segment_build_write"] = _timed(
                spark, "segment: build+write", build_segments)

        if sections & {"query", "grep", "all"}:
            from inverted_index_and_search_spark.operators import (
                index_build as ib,
            )
            from inverted_index_and_search_spark.operators import query as q
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            idx = ib.build_index(docs, content_col="text", id_col="doc_id")
            ib.write_index(idx, f"{tmp}/idx_docs_q")
            pidx = ib.read_index(spark, f"{tmp}/idx_docs_q")
            pidx.postings.cache().count()
            pidx.doc_stats.cache().count()
            pidx.collection_stats()
            import statistics
            QUERIES = [["spark", "join", "fast"], ["table", "query"],
                       ["dup"], ["hash", "agg", "scan", "batch"],
                       ["value"], ["window", "stream"],
                       ["customer", "order", "line"], ["zzznotaterm"]]
            for tag, fn in (("bm25", lambda t: q.bm25_topk(pidx, t, k=10)),
                            ("bool", lambda t: q.boolean_and(pidx, t))):
                lat = []
                for _ in range(3):
                    for t in QUERIES:
                        spark.sparkContext.setJobDescription(f"{tag}: {t}")
                        t0 = time.perf_counter()
                        fn(t).collect()
                        lat.append(time.perf_counter() - t0)
                out[f"{tag}_p50"] = round(statistics.median(lat), 4)
                out[f"{tag}_min"] = round(min(lat), 4)

        if sections & {"grep", "all"}:
            from inverted_index_and_search_spark.operators import grep
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            tidx = grep.build_trigram_index(docs, content_col="text",
                                            id_col="doc_id")
            grep.write_trigram_index(tidx, f"{tmp}/tri_docs")
            tri = grep.read_trigram_index(spark, f"{tmp}/tri_docs")
            import statistics
            NEEDLES = ["merge part", "key order sort", "zzznothere",
                       "batch stream"]
            lat = []
            for _ in range(3):
                for nd in NEEDLES:
                    spark.sparkContext.setJobDescription(f"grep: {nd}")
                    t0 = time.perf_counter()
                    grep.substring_search(tri, docs, nd,
                                          content_col="text").count()
                    lat.append(time.perf_counter() - t0)
            out["grep_substr_p50"] = round(statistics.median(lat), 4)
            out["grep_substr_min"] = round(min(lat), 4)

        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
