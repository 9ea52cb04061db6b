"""Benchmark entry point.

One measured run of one workload::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate run
with spans around every layer call). A full report, spans included, goes
to ``perfbench/results/``.

Every workload, untraced then traced, with the tracing overhead::

    python3 perfbench/run.py --all --seed 1

The tiny self-check (every workload, all checks, ~200 docs)::

    python3 perfbench/run.py --smoke
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: (name, unit) — the metrics every workload reports with --trace 0; what
#: each means per workload is in README.md, bounds are in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p95_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("disk_bytes_per_input_byte", "B/B"),
    ("py_peak_rss_mb", "MB"),
]

#: (name, unit, the end-to-end metric it should move on which workload) —
#: reported with --trace 1; a layer the workload does not reach reads 0
PER_LAYER = [
    ("session.start_s", "s", "setup_s on all"),
    ("session.worker_warmup_s", "s", "setup_s on all"),
    ("tokenizer.tf_pass_s", "s",
     "throughput_per_s on build; setup_s on serve"),
    ("tokenizer.tf_pass_cpu_s", "s",
     "throughput_per_s on build; setup_s on serve"),
    ("tokenizer.tf_rows", "count",
     "throughput_per_s on build; setup_s on serve"),
    ("index_build.hot_terms_s", "s", "throughput_per_s on build"),
    ("index_build.postings_s", "s", "throughput_per_s on build"),
    ("index_build.shuffle_write_mb", "MB", "throughput_per_s on build"),
    ("index_build.spill_mb", "MB", "throughput_per_s on build"),
    ("index_build.write_s", "s", "throughput_per_s on build"),
    ("index_build.output_mb", "MB", "disk_bytes_per_input_byte on build"),
    ("index_build.files_written", "count", "throughput_per_s on build"),
    ("segments.encode_s", "s", "throughput_per_s on build"),
    ("segments.shuffle_write_mb", "MB",
     "throughput_per_s on build; setup_s on serve (compaction)"),
    ("segments.write_s", "s",
     "throughput_per_s on build; setup_s on serve (compaction)"),
    ("segments.output_mb", "MB", "disk_bytes_per_input_byte on build, serve"),
    ("segments.files_written", "count", "throughput_per_s on build"),
    ("segments.cache_hit_ratio", "ratio", "latency_p50_ms on serve"),
    ("segments.routed_distributed", "count", "latency_p50_ms on serve"),
    ("segments.cache_misses", "count", "latency_p95_ms on serve"),
    ("segments.cache_evictions", "count", "latency_p95_ms on serve"),
    ("segments.fetch_ms", "ms", "latency_p95_ms on serve"),
    ("segments.fetch_rows", "count", "latency_p95_ms on serve"),
    ("segments.spark_jobs_per_miss", "count", "latency_p95_ms on serve"),
    ("kernels.bm25.calls", "count", "latency_p50_ms on serve"),
    ("kernels.bm25.kernel_ms", "ms", "latency_p50_ms on serve"),
    ("kernels.bm25.postings_scored", "count", "latency_p50_ms on serve"),
    ("kernels.codec.decode_ms", "ms", "latency_p95_ms on serve"),
    ("kernels.codec.decode_bytes", "B", "latency_p95_ms on serve"),
    ("dedup.shingle_s", "s", "latency_p50_ms on build"),
    ("dedup.signatures_s", "s", "latency_p50_ms on build"),
    ("dedup.pairs_s", "s", "latency_p50_ms on build"),
    ("dedup.verified_pairs", "count", "latency_p50_ms on build"),
    ("dedup.shuffle_write_mb", "MB", "latency_p50_ms on build"),
    ("dedup.retained_storage_mb", "MB", "py_peak_rss_mb on build"),
    ("spark.cached_storage_mb", "MB", "py_peak_rss_mb on all"),
    ("spark.executor_cpu_s", "s", "every timing metric on all"),
    ("spark.gc_s", "s", "every timing metric on all"),
    ("spark.jobs", "count", "every timing metric on all"),
    ("trace.spans", "count", "the tracing overhead"),
    # serve's set-up stream; on the ingest workload (not in
    # BENCHMARK.json) the same layers move its latency and throughput
    ("query.plan_ms", "ms", "setup_s on serve (live queries)"),
    ("query.exec_ms", "ms", "setup_s on serve (live queries)"),
    ("query.spark_jobs", "count", "setup_s on serve (live queries)"),
    ("query.tasks", "count", "setup_s on serve (live queries)"),
    ("streaming.process_batch_s", "s", "setup_s on serve"),
    ("streaming.delete_s", "s", "setup_s on serve"),
    ("streaming.live_view_s", "s", "setup_s on serve (live queries)"),
    ("streaming.delta_files", "count", "setup_s on serve (live queries)"),
    ("streaming.delta_mb", "MB", "setup_s on serve (live queries)"),
    ("streaming.compact_s", "s", "setup_s on serve (compaction)"),
    ("streaming.compact_write_mb", "MB", "disk_bytes_per_input_byte on serve"),
    ("streaming.compact_rewrite_ratio", "ratio",
     "setup_s on serve (compaction)"),
]

#: the known re-delivery defect's repro (see README.md): the only
#: workload whose failed operations --smoke tolerates
REPRO = "ingest-redeliver"

UNITS = dict(n_u[:2] for n_u in END_TO_END + PER_LAYER)


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """Set up, measure, check; returns the full report."""
    harness.require_package()
    work = harness.work_dir(f"{name}-{seed}-t{int(trace)}")
    harness.prepare_env(work)
    spark = None
    try:
        spark, session_s = harness.start_session(work, trace)
        warm_s = harness.warm_workers(spark)
        return measure(spark, work, name, seed, seconds, trace, "full",
                       session_s, warm_s)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(spark, work, name, seed, seconds, trace, mode, session_s,
            warm_s) -> dict:
    wl = WORKLOADS[name](spark, work, seed, seconds, mode)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_rep_s = time.perf_counter() - t0
    tracer = None
    if trace:
        tracer = tracing.Tracer(spark)
        tracing.install_entry_points(tracer)
        wl.tracer = tracer
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t0
        setup_s = session_s + warm_s + prep_s + warm_rep_s
        if tracer:
            wl.timed_from = len(tracer.spans)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "timed")
        t0 = time.perf_counter()
        wl.run()
    finally:
        if tracer:
            tracer.unwrap_all()
    timed_s = time.perf_counter() - t0
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    rss = harness.peak_rss_mb()
    storage = harness.cached_storage_mb(spark)

    wl.check()

    e2e = {"setup_s": setup_s, **wl.e2e(), "py_peak_rss_mb": rss}
    report = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "mode": mode, "attempted": wl.attempted, "failed": len(wl.failures),
        "failures": wl.failures[:10], "timed_s": timed_s,
        "end_to_end": e2e, "details": wl.details(),
        "setup": {"session_s": session_s, "worker_warmup_s": warm_s,
                  "prepare_s": prep_s, "warm_up_rep_s": warm_rep_s},
    }
    if tracer:
        harness.RESULTS.mkdir(parents=True, exist_ok=True)
        tracer.finish(harness.RESULTS / f"spans-{name}-seed{seed}.json")
        layers = dict.fromkeys((n for n, *_ in PER_LAYER), 0.0)
        layers.update(wl.layers())
        # the timed phase: top-level spans plus jobs outside any span
        timed = [s.spark for s in tracer.spans[wl.timed_from:]
                 if s.parent is None]
        timed.append(tracer.group_sums.get("timed", {}))

        def total(key):
            return sum(t.get(key, 0) for t in timed)

        layers.update({
            "session.start_s": session_s,
            "session.worker_warmup_s": warm_s,
            "spark.cached_storage_mb": storage,
            "spark.executor_cpu_s": 1e-9 * total("executorCpuTime"),
            "spark.gc_s": 1e-3 * total("jvmGcTime"),
            "spark.jobs": total("jobs"),
            "trace.spans": len(tracer.spans),
        })
        report["per_layer"] = layers
    return report


def result_line(report: dict) -> str:
    metrics = report["per_layer"] if report["trace"] else report["end_to_end"]
    return json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": float(v), "unit": UNITS[k]}
                    for k, v in metrics.items()},
    })


def print_table(report: dict, out=sys.stderr) -> None:
    print(f"== {report['workload']} seed={report['seed']} "
          f"trace={int(report['trace'])}: {report['failed']} of "
          f"{report['attempted']} operations failed", file=out)
    sections = ["end_to_end", "details"] + (["per_layer"]
                                            if report["trace"] else [])
    for sec in sections:
        for k, v in report[sec].items():
            print(f"  {sec:10s} {k:40s} {v:14.4f} {UNITS.get(k, '')}",
                  file=out)
    for f in report["failures"]:
        print(f"  FAILED: {f}", file=out)


def save(report: dict) -> None:
    harness.RESULTS.mkdir(parents=True, exist_ok=True)
    path = harness.RESULTS / (f"{report['workload']}-seed{report['seed']}-"
                              f"trace{int(report['trace'])}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)


def run_all(seed: int, seconds: float) -> int:
    """Each workload untraced, then traced, as separate processes;
    prints every metric and writes results/summary.json with the tracing
    overhead (traced minus untraced, per end-to-end metric)."""
    summary = {}
    for name in WORKLOADS:
        reports = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", name, "--seed",
                   str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            if subprocess.run(cmd, stdout=subprocess.DEVNULL).returncode:
                print(f"{name} trace={trace}: run failed", file=sys.stderr)
                return 1
            path = harness.RESULTS / f"{name}-seed{seed}-trace{trace}.json"
            with open(path) as f:
                reports[trace] = json.load(f)
        plain, traced = reports[0], reports[1]
        summary[name] = {
            "attempted": plain["attempted"], "failed": plain["failed"],
            "failed_op_ratio": plain["failed"] / plain["attempted"],
            "end_to_end": plain["end_to_end"],
            "details": plain["details"],
            "per_layer": traced["per_layer"],
            "tracing_overhead": {
                k: traced["end_to_end"][k] - v
                for k, v in plain["end_to_end"].items()},
        }
        print(f"\n{name}: failed_op_ratio "
              f"{summary[name]['failed_op_ratio']:.4f}")
        for k, v in plain["end_to_end"].items():
            print(f"  {k:32s} {v:14.4f} {UNITS[k]:6s} tracing overhead "
                  f"{summary[name]['tracing_overhead'][k]:+.4f}")
    with open(harness.RESULTS / "summary.json", "w") as f:
        json.dump(summary, f, indent=1)
    return 0


def smoke() -> int:
    """Every workload at ~200 docs in one session, every check on.
    Fails on any failed operation, except ingest-redeliver's, which are
    printed as the re-delivery defect's baseline (see README.md)."""
    harness.require_package()
    work = harness.work_dir("smoke")
    harness.prepare_env(work)
    spark = None
    bad = 0
    try:
        spark, session_s = harness.start_session(work, True)
        warm_s = harness.warm_workers(spark)
        for name in WORKLOADS:
            report = measure(spark, work / name, name, 1, 2.0, True,
                             "smoke", session_s, warm_s)
            print_table(report)
            if name != REPRO:
                bad += report["failed"]
            else:
                print(f"smoke: {name}: {report['failed']} of "
                      f"{report['attempted']} operations failed (known "
                      "re-delivery defect)")
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("smoke: " + ("ok" if bad == 0 else f"{bad} failed operations"))
    return 0 if bad == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    harness.require_package()
    if args.smoke:
        return smoke()
    if args.all:
        return run_all(args.seed, args.seconds)
    if not args.workload:
        ap.error("--workload is required")
    report = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    save(report)
    print_table(report)
    print(result_line(report))
    return 0


if __name__ == "__main__":
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.exit(main())
