"""One timed index-build + query run at a fixed parallelism level.

Invoked as a subprocess by tools/bench_scaling.py (fresh JVM per level
so thread pools / codegen caches don't leak between measurements).

Env: SCALE_CPUS (cores), SCALE_CORPUS (pre-generated parquet with
doc_id), SCALE_OUT (tmp dir for the index). Prints one JSON line.

Conf notes for honest scaling numbers: shuffle partitions = 2x cores
and AQE partition-coalescing OFF — the corpus is small enough that the
default 64 MB advisory size would coalesce every shuffle to ~1
partition and serialize the aggregation, which measures AQE's
small-data heuristic, not the engine's scaling. On a real 100 TB run
the shuffles are thousands of partitions and coalescing stays on.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inverted_index_and_search_spark.operators import index_build as ib  # noqa: E402
from inverted_index_and_search_spark.operators import query as q  # noqa: E402
from inverted_index_and_search_spark.session import get_spark  # noqa: E402

QUERIES = [
    ["def", "return", "if"],
    ["class", "import"],
    ["var_17_0"],
    ["public", "static", "void"],
    ["zzznotaterm"],
]


def main() -> None:
    cpus = int(os.environ["SCALE_CPUS"])
    corpus = os.environ["SCALE_CORPUS"]
    out = os.environ["SCALE_OUT"]
    spark = get_spark(
        app_name=f"scaling-{cpus}",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": str(2 * cpus),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # the 800k-file level holds several persisted tf relations
            # across its build sweep; identical at both levels, so the
            # larger heap changes no ratio — it only keeps the level
            # from dying in GC on the shared box (r5: the 16g default
            # OOMed where r4's quieter host squeaked through)
            "spark.driver.memory": "48g",
        },
    )
    docs = spark.read.parquet(corpus)
    n_files = docs.count()
    n_bytes = docs.selectExpr("sum(length(content))").collect()[0][0]

    def one_build(dest: str) -> float:
        t0 = time.perf_counter()
        idx = ib.build_index(docs, salt_hot_terms=True)
        ib.write_index(idx, dest)
        return time.perf_counter() - t0

    # standard tokenizer: the Arrow in-mapper tf kernel (the only tf
    # kernel it builds with). min-of-4: this sandbox's virtualized CPU
    # shows up-to-2x noise between identical runs; min is the
    # least-interference observation of the engine's parallel structure.
    one_build(f"{out}_warm")  # untimed warmup
    build_s = min(one_build(f"{out}_idx") for _ in range(4))

    # positional layout (postings + token offsets — the phrase-capable
    # superset): the Arrow positions kernel, heavier agg payload; measured
    # so the positional build's N->4N scaling is evidenced too
    from inverted_index_and_search_spark.operators import positional as pos

    def one_pos_build(dest: str) -> float:
        t0 = time.perf_counter()
        idx = pos.build_positional_index(docs, shard_hot_terms=True)
        ib.write_index(idx, dest)
        return time.perf_counter() - t0

    one_pos_build(f"{out}_warm_pos")  # untimed warmup
    build_s_pos = min(one_pos_build(f"{out}_pos_{r}") for r in range(2))

    # trigram grep index (round-4 surface): Arrow gram UDF + one
    # bucket-routed write — evidences the substring index's N->4N
    # scaling alongside the term index's. Runs on a DETERMINISTIC
    # quarter-sample of the same corpus: the trigram index emits ~1
    # flat row per content byte (vs ~1 per token), so the full-corpus
    # build is ~8x the term build and would dominate the level's wall
    # budget; the sample is identical at both levels, which is all the
    # efficiency ratio needs.
    from pyspark.sql import functions as FF

    from inverted_index_and_search_spark.operators import grep

    tri_docs = docs.where(FF.pmod(FF.xxhash64("doc_id"), FF.lit(4)) == 0)

    def one_tri_build(dest: str) -> float:
        t0 = time.perf_counter()
        grep.write_trigram_index(grep.build_trigram_index(tri_docs), dest)
        return time.perf_counter() - t0

    one_tri_build(f"{out}_warm_tri")  # untimed warmup
    build_s_tri = min(one_tri_build(f"{out}_tri_{r}") for r in range(2))

    # Spark-native hardware ceiling probe: tokenize EVERY doc with the
    # JVM expression tokenizer (the build's term semantics) but zero
    # shuffle (map + tiny partial-agg merge).
    # Perfectly parallel by construction, so its N->4N speedup is what
    # this host's memory system actually offers a Spark job — the
    # denominator for honest efficiency normalization (a pure-Python
    # multiprocessing burn overstates it: it has no JVM heap traffic).
    from inverted_index_and_search_spark.tokenizer import tokens_col
    from pyspark.sql import functions as F

    def maponly() -> float:
        t0 = time.perf_counter()
        docs.select(F.size(tokens_col(F.col("content"))).alias("n")) \
            .agg(F.sum("n")).collect()
        return time.perf_counter() - t0

    maponly()  # warmup
    maponly_s = min(maponly() for _ in range(4))

    pidx = ib.read_index(spark, f"{out}_idx")
    pidx.postings.cache().count()
    pidx.doc_stats.cache().count()
    pidx.collection_stats()
    lat = []
    for terms in QUERIES:
        t0 = time.perf_counter()
        q.bm25_topk(pidx, terms, k=10).collect()
        lat.append(time.perf_counter() - t0)

    print(json.dumps({
        "cpus": cpus,
        "files": n_files,
        "mb": round(n_bytes / 1e6, 2),
        "build_s": round(build_s, 3),
        "build_s_positional": round(build_s_pos, 3),
        "build_s_trigram": round(build_s_tri, 3),
        "maponly_s": round(maponly_s, 3),
        "files_per_sec": round(n_files / build_s, 2),
        "mb_per_sec": round(n_bytes / 1e6 / build_s, 3),
        "bm25_p50_ms": round(statistics.median(lat) * 1e3, 1),
        "bm25_p95_ms": round(sorted(lat)[int(0.95 * (len(lat) - 1))] * 1e3, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
