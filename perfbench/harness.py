"""Session, timing, disk and Spark status-store helpers for the benchmark.

Everything the benchmark writes lives under ``.bench_work/`` in the
checkout it runs from (Spark scratch, temp files, the indexes it
builds) and ``perfbench/results/`` (reports); both are removed or
ignored by git.
"""

from __future__ import annotations

import os
import resource
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "inverted_index_and_search_spark"
RESULTS = ROOT / "perfbench" / "results"

#: driver heap: the benchmark's corpora need well under 1 GB; 2 GB
#: leaves the rest of a small shared host to the Python workers
DRIVER_HEAP = "2g"


def require_package() -> None:
    """Exit non-zero, printing no result, when the package under test
    is not next to the benchmark (e.g. a directory holding only the
    benchmark's own files)."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        raise SystemExit(2)


def work_dir(tag: str) -> Path:
    d = ROOT / ".bench_work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    (d / "tmp").mkdir(parents=True)
    return d


def prepare_env(work: Path) -> None:
    """Must run before pyspark starts its JVM: Python workers import the
    package from the checkout (without it the first ``mapInPandas``
    fails with ModuleNotFoundError), and all scratch goes to ``work``."""
    sys.path.insert(0, str(ROOT))
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM (the spark-submit launcher too): temp files in ``work``,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, trace: bool):
    """Host-fit session: ``local[nproc]``, a fixed 2 GB heap (the
    package default is a pre-touched 16 GB heap), one shuffle partition
    per core. A traced run also raises status-store retention so per-span
    stage sums never lose evicted stages; an untraced run keeps Spark's
    defaults, because a status store that never evicts makes each later
    Spark job slower (serve's first-seen queries by ~30%). Returns
    (spark, seconds)."""
    from inverted_index_and_search_spark.session import get_spark

    n = cpus()
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the gateway JVM ends when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def warm_workers(spark) -> float:
    """Start every Python worker once (fork + pandas/pyarrow import)."""
    n = cpus()
    t0 = time.perf_counter()
    spark.range(0, 2 * n, 1, n).mapInPandas(lambda it: it, "id long").count()
    return time.perf_counter() - t0


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def data_files(path) -> int:
    """Data files written under ``path`` (Spark's marker files and
    checksums excluded)."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files
                 if not f.startswith((".", "_")) and not f.endswith(".json"))
    return n


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, 0 <= q <= 1."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def cached_storage_mb(spark) -> float:
    """Memory + disk held by cached RDDs/DataFrames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ------------------------------------------------- status-store sums

#: per-stage fields summed into each span (v1 StageData getters)
STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled",
                "numCompleteTasks")


def stage_sums_by_group(spark) -> dict[str, dict[str, float]]:
    """{job group: summed stage metrics + job count} over every job the
    status store retained. Read once, after the timed phase: it costs a
    py4j round trip per stage field."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    it = store.jobsList(None).iterator()
    jobs = []
    while it.hasNext():
        j = it.next()
        g = j.jobGroup()
        group = g.get() if g.isDefined() else ""
        jobs.append((int(j.jobId()), group, j.stageIds()))
    for jid, group, stage_ids in sorted(jobs):
        acc = out.setdefault(group, dict.fromkeys(STAGE_FIELDS + ("jobs",), 0))
        acc["jobs"] += 1
        sit = stage_ids.iterator()
        while sit.hasNext():
            group_of_stage.setdefault(int(sit.next()), group)
    empty = sc._jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    sit = store.stageList(empty, False, False, no_q, empty).iterator()
    while sit.hasNext():
        s = sit.next()
        group = group_of_stage.get(int(s.stageId()), "")
        acc = out.setdefault(group, dict.fromkeys(STAGE_FIELDS + ("jobs",), 0))
        for f in STAGE_FIELDS:
            acc[f] += int(getattr(s, f)())
    return out
