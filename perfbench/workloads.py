"""The benchmark workloads: ``build``, ``serve`` and ``ingest``, plus
``ingest-redeliver``, the known re-delivery defect's repro.

Each workload generates its inputs from the seed with the package's own
deterministic generator (``corpus.doc_row``),
drives the package's public API from one client thread, and keeps every
answer so :meth:`Workload.check` can compare it with the pure-Python
``oracle`` after the timed phase. Wrong answers and exceptions count as
failed operations; neither aborts a run.

Sizes are per mode (``full`` for measurement, ``smoke`` for the quick
self-check); README.md records why each workload exists and what it
stresses.
"""

from __future__ import annotations

import re
import statistics
import time
import traceback

import numpy as np

import harness

SIZES = {
    # full runs leave out file 0, the generator's 50,000-token outlier:
    # its segment encode and oracle check take ~9 s a repetition, which
    # the time budget has no room for; the smoke run keeps it checked.
    # The warm-up corpus stays under the generator's 50-file threshold
    # for the outlier, so the warm-up costs a few seconds
    "build": {"full": {"docs": 400, "first": 1, "reps": 3,
                       "warmup_docs": 40},
              "smoke": {"docs": 200, "first": 0, "reps": 1,
                        "warmup_docs": 40}},
    # serve's opening queries are untimed: the first-seen path's Spark
    # jobs start ~3x slower and settle only after ~50 misses (JIT and
    # planning warm-up), which a long-running server has behind it
    # serve's corpus is an ingest stream of files 1..batches x new
    "serve": {
        "full": {"stream": {"batches": 2, "new": 300, "updates": 20,
                            "queries": 2},
                 "warm_queries": 500},
        "smoke": {"stream": {"batches": 2, "new": 100, "updates": 5,
                             "queries": 2},
                  "warm_queries": 50},
    },
    "ingest": {
        "full": {"batches": 2, "new": 40, "updates": 4, "queries": 4},
        "smoke": {"batches": 2, "new": 30, "updates": 3, "queries": 3},
    },
}
SIZES["ingest-redeliver"] = SIZES["ingest"]

_SCORE_TOL = 1e-6

#: serve's throughput is the median rate over consecutive blocks of this
#: many queries: every block holds the same mix (one first-seen query in
#: ten), and a short stall of the host moves one block, not the median
RATE_BLOCK = 100


def zipf_keywords(rng, n_terms: int) -> list[str]:
    """``n_terms`` distinct hot keywords, Zipfian by keyword rank with
    the corpus generator's own exponent, so query skew matches the
    keyword skew of the documents."""
    from inverted_index_and_search_spark.corpus import _ZIPF_A, KEYWORDS

    w = 1.0 / np.arange(1, len(KEYWORDS) + 1) ** _ZIPF_A
    pick = rng.choice(len(KEYWORDS), size=n_terms, replace=False,
                      p=w / w.sum())
    return [KEYWORDS[i] for i in pick]


def query_terms(text: str) -> list[str]:
    """Client-side query parsing: the index's (standard) tokenizer."""
    from inverted_index_and_search_spark.tokenizer import tokenize_py

    return sorted(set(tokenize_py(text)))


def same_ranking(got, want) -> bool:
    return (len(got) == len(want)
            and all(gd == wd and abs(gs - ws) <= _SCORE_TOL
                    for (gd, gs), (wd, ws) in zip(got, want)))


def postings_of(rows) -> dict[str, dict[int, int]]:
    """{term: {doc: tf}} from (term, doc_id, tf) rows."""
    out: dict[str, dict[int, int]] = {}
    for term, doc, tf in rows:
        d = out.setdefault(term, {})
        if doc in d:  # a (term, doc) pair must appear once
            d[doc] = -1
        else:
            d[doc] = int(tf)
    return out


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact word n-gram Jaccard, the dedup operator's own definition
    (token = maximal [a-z0-9] run of the lowercased text)."""
    def shingles(t):
        tk = re.findall(r"[a-z0-9]+", t.lower())
        return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return round(len(sa & sb) / union, 6) if union else 0.0


class Workload:
    """Base: ``prepare`` (set-up), ``run`` (timed phase), ``check``
    (oracle comparison), and the metric dictionaries."""

    name = ""

    def __init__(self, spark, work, seed: int, seconds: float, mode: str,
                 size: dict | None = None):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds = seconds
        #: a tracing.Tracer during a traced run's set-up and timed phase
        self.tracer = None
        #: index of the first span of the timed phase
        self.timed_from = 0
        self.size = size or SIZES[self.name][mode]
        self.attempted = 0
        self.failures: list[str] = []

    # helpers -----------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)

    def attempt(self, what: str, fn):
        """Run one operation; an exception is a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — counted, the run goes on
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def span(self, name: str):
        from contextlib import nullcontext
        return self.tracer.span(name) if self.tracer else nullcontext()

    def make_corpus(self, n_docs: int, name: str = "corpus", *,
                    first: int = 0):
        """Seeded corpus, files ``first .. first + n_docs - 1`` of the
        generator (``corpus.doc_row``), written as parquet, one file per
        core; returns (docs DataFrame, content bytes, rows as
        (doc_id, content) for the oracle)."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from inverted_index_and_search_spark.corpus import DOC_KEY, doc_row

        total = first + n_docs
        pdf = pd.DataFrame([doc_row(i, total, self.seed)
                            for i in range(first, total)])
        # doc_id = 0-based rank over the natural key, as corpus.with_doc_id
        # assigns it
        pdf = pdf.sort_values(list(DOC_KEY)).reset_index(drop=True)
        pdf.insert(0, "doc_id", pdf.index.astype("int64"))
        path = self.work / name
        path.mkdir(parents=True, exist_ok=True)
        parts = harness.cpus()
        for i in range(parts):
            pq.write_table(pa.Table.from_pandas(pdf.iloc[i::parts],
                                                preserve_index=False),
                           path / f"part-{i:05d}.parquet")
        return (self.spark.read.parquet(str(path)),
                int(pdf["content"].str.len().sum()),
                list(zip(pdf["doc_id"].tolist(), pdf["content"].tolist())))

    def segment_build(self, docs, out_dir: str) -> None:
        """The CLI ``build --format segments`` job shape."""
        from pyspark.sql import functions as F

        from inverted_index_and_search_spark.operators import (
            index_build as ib,
        )
        from inverted_index_and_search_spark.operators import segments as sg

        tf = ib.term_doc_tf_arrow(docs).persist()
        n_docs = docs.count()
        avgdl = float(
            tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
            .join(docs.select("doc_id"), "doc_id", "right").fillna({"dl": 0})
            .agg(F.avg("dl")).collect()[0][0] or 0.0)
        sidx = sg.build_segment_index(tf, n_docs, avgdl,
                                      hot=ib.hot_terms_from_docs(docs))
        if self.tracer:
            with self.span("segments.encode_pass"):
                sidx.segments.write.format("noop").mode("overwrite").save()
        sg.write_segment_index(sidx, out_dir)
        tf.unpersist()

    def check_segments(self, seg_dir: str, oidx) -> None:
        """Decoded segments equal the oracle postings and doc stats."""
        from inverted_index_and_search_spark.operators import segments as sg

        self.attempted += 1
        sidx = sg.read_segment_index(self.spark, seg_dir)
        rows = sg.decode_segments_tf(sidx).toPandas()
        got = postings_of(zip(rows["term"], rows["doc_id"], rows["tf"]))
        if got != oidx.postings:
            self.fail(f"segments {seg_dir}: decoded postings differ from "
                      "the oracle")
        elif (sidx.n_docs != oidx.n_docs
              or abs(sidx.avgdl - oidx.avgdl) > _SCORE_TOL):
            self.fail(f"segments {seg_dir}: stats {sidx.n_docs}/"
                      f"{sidx.avgdl} != oracle {oidx.n_docs}/{oidx.avgdl}")

    # interface ---------------------------------------------------------
    def warm_up(self) -> None:
        """Untimed work before the set-ups; counted in ``setup_s``."""

    def prepare(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def e2e(self) -> dict[str, float]:
        raise NotImplementedError

    def details(self) -> dict[str, float]:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        raise NotImplementedError


# ====================================================================
class Build(Workload):
    """Offline batch jobs over one corpus, repeated: the parquet postings
    layout, the compressed segment layout, and MinHash-LSH dedup."""

    name = "build"

    def prepare(self) -> None:
        self.docs, self.in_bytes, self.rows = self.make_corpus(
            self.size["docs"], first=self.size["first"])
        self.n_docs = self.docs.count()

    def warm_up(self) -> None:
        """One untimed repetition over a small corpus: the first build
        pays JIT, code generation and page-cache warm-up the repeats do
        not."""
        docs, _, _ = self.make_corpus(self.size["warmup_docs"],
                                      "warmup_corpus")
        self.rep(docs, self.work / "warmup", timed=False)

    def rep(self, docs, out, *, timed: bool = True) -> dict:
        from inverted_index_and_search_spark.operators import dedup as dd
        from inverted_index_and_search_spark.operators import (
            index_build as ib,
        )
        from inverted_index_and_search_spark.operators import segments as sg

        spark, tr = self.spark, self.tracer
        # every repetition pays its own persisted intermediates, as a
        # one-shot batch job would
        spark.catalog.clearCache()
        r = {"out": out}
        if tr and timed:
            with self.span("tokenizer.tf_pass"):
                ib.term_doc_tf_arrow(docs).write.format("noop") \
                    .mode("overwrite").save()
            with self.span("tokenizer.tf_rows"):
                r["tf_rows"] = ib.term_doc_tf_arrow(docs).count()
            with self.span("index_build.hot_terms_pass"):
                ib.hot_terms_from_docs(docs).collect()
        wrap = self.attempt if timed else (lambda _w, fn: fn())

        def parquet_job():
            if tr and timed:
                with self.span("index_build.postings_pass"):
                    ib.build_index(docs, salt_hot_terms=True).postings \
                        .write.format("noop").mode("overwrite").save()
            ib.write_index(ib.build_index(docs, salt_hot_terms=True),
                           str(out / "postings_idx"))
            return True

        t0 = time.perf_counter()
        with self.span("build.parquet_job"):
            ok_pq = wrap("parquet build", parquet_job)
        t1 = time.perf_counter()
        with self.span("build.segment_job"):
            ok_seg = wrap("segment build", lambda: self.segment_build(
                docs, str(out / "segments")) or True)
        t2 = time.perf_counter()
        aug = dd.docs_with_planted_dups(
            docs.selectExpr("doc_id", "content AS text"))
        if tr and timed:
            with self.span("dedup.shingle_pass"):
                dd.shingle_arrays(aug).write.format("noop") \
                    .mode("overwrite").save()
            spark.catalog.clearCache()
            with self.span("dedup.signature_pass"):
                dd.minhash_signatures(aug).write.format("noop") \
                    .mode("overwrite").save()
            spark.catalog.clearCache()
        t2d = time.perf_counter()
        with self.span("build.dedup_job"):
            pairs = wrap("dedup", lambda: [
                (int(p["doc_a"]), int(p["doc_b"]), float(p["jaccard"]))
                for p in dd.minhash_lsh_pairs(aug).collect()])
        t3 = time.perf_counter()
        r.update(pq_s=t1 - t0, seg_s=t2 - t1, dedup_s=t3 - t2d,
                 rep_s=(t1 - t0) + (t2 - t1) + (t3 - t2d),
                 pairs=pairs, ok=bool(ok_pq and ok_seg),
                 storage_mb=harness.cached_storage_mb(spark))
        return r

    def run(self) -> None:
        """``reps`` repetitions, whatever ``seconds`` says: one takes
        several seconds. A traced run needs one for its per-layer
        attribution."""
        n = 1 if self.tracer else self.size["reps"]
        self.reps = [self.rep(self.docs, self.work / f"rep{i}")
                     for i in range(n)]

    def check(self) -> None:
        from inverted_index_and_search_spark import oracle
        from inverted_index_and_search_spark.operators import dedup as dd

        oidx = oracle.build_index(self.rows)
        text = dict(self.rows)
        for d in range(dd.NEAR_DUP_IDS):
            text[d + dd.NEAR_OFFSET] = text[d] + dd.NEAR_SUFFIX
        for d in range(dd.EXACT_DUP_IDS):
            text[d + dd.EXACT_OFFSET] = text[d]
        planted = ({(d, d + dd.NEAR_OFFSET) for d in range(dd.NEAR_DUP_IDS)}
                   | {(d, d + dd.EXACT_OFFSET)
                      for d in range(dd.EXACT_DUP_IDS)}
                   | {(d + dd.NEAR_OFFSET, d + dd.EXACT_OFFSET)
                      for d in range(dd.EXACT_DUP_IDS)})
        for r in self.reps:
            if not r["ok"]:
                continue
            self.check_postings(str(r["out"] / "postings_idx"), oidx)
            self.check_segments(str(r["out"] / "segments"), oidx)
            if r["pairs"] is None:
                continue
            self.attempted += 1
            found = {(a, b) for a, b, _ in r["pairs"]}
            wrong = [(a, b, j) for a, b, j in r["pairs"]
                     if j < dd.JACCARD_T or j != jaccard(text[a], text[b])]
            if not planted <= found or wrong:
                self.fail(f"dedup: missed {sorted(planted - found)[:5]}, "
                          f"wrong {wrong[:5]}")

    def check_postings(self, idx_dir: str, oidx) -> None:
        """Written postings and doc stats equal the oracle's."""
        self.attempted += 1
        spark = self.spark
        p = spark.read.parquet(f"{idx_dir}/postings").selectExpr(
            "term", "df", "cf", "inline(postings)").toPandas()
        got = postings_of(zip(p["term"], p["doc_id"], p["tf"]))
        ds = spark.read.parquet(f"{idx_dir}/doc_stats").toPandas()
        stats = {int(d): (int(dl), sha) for d, dl, sha in
                 zip(ds["doc_id"], ds["dl"], ds["content_sha256"])}
        want_stats = {d: (oidx.dl[d], oidx.sha[d]) for d in oidx.dl}
        dfs_ok = all(int(df) == len(oidx.postings[t]) and
                     int(cf) == sum(oidx.postings[t].values())
                     for t, df, cf in zip(p["term"], p["df"], p["cf"])
                     if t in oidx.postings)
        if got != oidx.postings or not dfs_ok:
            self.fail(f"postings {idx_dir}: differ from the oracle")
        elif stats != want_stats:
            self.fail(f"doc_stats {idx_dir}: differ from the oracle")

    def e2e(self) -> dict[str, float]:
        reps = self.reps
        layouts = [r["out"] for r in reps]
        disk = statistics.median(
            [harness.dir_bytes(o / "postings_idx")
             + harness.dir_bytes(o / "segments") for o in layouts])
        return {
            "latency_p50_ms":
                1e3 * statistics.median([r["rep_s"] for r in reps]),
            "latency_p95_ms": 1e3 * harness.quantile(
                [r["rep_s"] for r in reps], 0.95),
            "throughput_per_s": self.n_docs / statistics.median(
                [r["pq_s"] + r["seg_s"] for r in reps]),
            "disk_bytes_per_input_byte": disk / self.in_bytes,
        }

    def details(self) -> dict[str, float]:
        reps = self.reps
        o = reps[-1]["out"]
        return {
            "repetitions": len(reps),
            "docs": self.n_docs,
            "input_mb": self.in_bytes / 1e6,
            "build_docs_per_s": self.n_docs / statistics.median(
                [r["pq_s"] for r in reps]),
            "segment_build_docs_per_s": self.n_docs / statistics.median(
                [r["seg_s"] for r in reps]),
            "dedup_s": statistics.median([r["dedup_s"] for r in reps]),
            "postings_bytes_per_input_byte":
                harness.dir_bytes(o / "postings_idx") / self.in_bytes,
            "segment_bytes_per_input_byte":
                harness.dir_bytes(o / "segments") / self.in_bytes,
            "cached_storage_mb": reps[-1]["storage_mb"],
        }

    def layers(self) -> dict[str, float]:
        """Per repetition, from the traced run's spans. The traced run
        materializes each prefix of a job to the ``noop`` sink and
        attributes stage time by difference."""
        tr = self.tracer
        n = len(self.reps)
        r = self.reps[-1]
        o = r["out"]

        def secs(name):
            return tr.total_s(name) / n

        def mb(name, *keys):
            return sum(tr.spark_sum(name, k) for k in keys) / n * 1e-6

        tf_s = secs("tokenizer.tf_pass")
        hot_s = secs("index_build.hot_terms_pass")
        post_s = secs("index_build.postings_pass")
        enc_s = secs("segments.encode_pass")
        shingle_s = secs("dedup.shingle_pass")
        sig_s = secs("dedup.signature_pass")
        return {
            "tokenizer.tf_pass_s": tf_s,
            "tokenizer.tf_pass_cpu_s": tr.spark_sum(
                "tokenizer.tf_pass", "executorCpuTime") / n * 1e-9,
            "tokenizer.tf_rows": r["tf_rows"],
            "index_build.hot_terms_s": hot_s,
            # the noop postings pass re-runs tokenize and hot-term
            # detection; write_index re-runs the whole pass before writing
            "index_build.postings_s": post_s - tf_s - hot_s,
            "index_build.shuffle_write_mb":
                mb("index_build.write_index", "shuffleWriteBytes"),
            "index_build.spill_mb": mb("index_build.write_index",
                                       "memoryBytesSpilled",
                                       "diskBytesSpilled"),
            "index_build.write_s": secs("index_build.write_index") - post_s,
            "index_build.output_mb": 1e-6 * harness.dir_bytes(
                o / "postings_idx"),
            "index_build.files_written":
                harness.data_files(o / "postings_idx"),
            # the segment job's tf is cached (persisted, then filled by
            # the avgdl collect) before the noop encode pass runs
            "segments.encode_s": enc_s,
            "segments.shuffle_write_mb":
                mb("segments.write_segment_index", "shuffleWriteBytes"),
            "segments.write_s":
                secs("segments.write_segment_index") - enc_s,
            "segments.output_mb": 1e-6 * harness.dir_bytes(o / "segments"),
            "segments.files_written": harness.data_files(o / "segments"),
            "dedup.shingle_s": shingle_s,
            "dedup.signatures_s": sig_s - shingle_s,
            "dedup.pairs_s": secs("build.dedup_job") - sig_s,
            "dedup.verified_pairs": len(r["pairs"] or ()),
            "dedup.shuffle_write_mb":
                mb("build.dedup_job", "shuffleWriteBytes"),
            "dedup.retained_storage_mb": r["storage_mb"],
        }


# ====================================================================
class Serve(Workload):
    """Closed loop, one client, against a warm QueryServer. Its segments
    come from the streaming path during set-up: the corpus arrives as an
    ``ingest`` stream (micro-batches with new versions and tombstones,
    live DataFrame queries after each), which is then compacted."""

    name = "serve"

    def prepare(self) -> None:
        from inverted_index_and_search_spark.corpus import KEYWORDS
        from inverted_index_and_search_spark.operators import segments as sg

        self.stream = Ingest(self.spark, self.work, self.seed, self.seconds,
                             "", size=self.size["stream"])
        self.stream.tracer = self.tracer
        self.stream.prepare()
        self.stream.run()
        self.rows = sorted(self.stream.batches[-1]["live"].items())
        self.n_docs = len(self.rows)
        self.in_bytes = sum(len(c) for _, c in self.rows)
        self.seg_dir = self.stream.seg_dir
        self.server = sg.QueryServer(sg.read_segment_index(self.spark,
                                                           self.seg_dir))
        # warm: the hot keywords resident, then the opening queries
        self.server.bm25_topk(list(KEYWORDS))
        self.queries = self.make_queries(20_000)
        for kind, terms in self.queries[:self.size["warm_queries"]]:
            (self.server.bm25_topk(terms, 10) if kind == "bm25"
             else self.server.boolean_and(terms))

    def make_queries(self, n: int) -> list[tuple[str, list[str]]]:
        """~80% ranked bm25_topk(k=10), ~20% boolean_and, over 1-4 hot
        keywords drawn Zipfian; every 10th query also names a first-seen
        identifier ``var_<file>_0``. Its file-number term is unique to
        that file (files from 100 up never collide with the generator's
        small ``_<j>`` suffixes), so it is exactly one cache miss. Past
        the corpus's files the numbers name no file: still first-seen,
        still one miss each."""
        import itertools

        rng = np.random.default_rng(self.seed)
        fresh = itertools.chain(
            (rng.permutation(max(0, self.n_docs - 99)) + 100).tolist(),
            itertools.count(self.n_docs + 1))
        out = []
        for i in range(n):
            words = zipf_keywords(rng, int(rng.integers(1, 5)))
            if i % 10 == 9:
                words.append(f"var_{next(fresh)}_0")
            kind = "bm25" if rng.random() < 0.8 else "and"
            out.append((kind, query_terms(" ".join(words))))
        return out

    def run(self) -> None:
        srv = self.server
        self.answers: list[tuple[int, object]] = []
        self.lat: list[float] = []
        self.resident_before = len(srv._cache)
        start = time.perf_counter()
        #: completion time of every RATE_BLOCK-th query, from ``start``
        self.marks = [start]
        for i in range(self.size["warm_queries"], len(self.queries)):
            kind, terms = self.queries[i]
            if self.tracer:
                self.tracer.qid = i
            t0 = time.perf_counter()
            try:
                res = (srv.bm25_topk(terms, 10) if kind == "bm25"
                       else srv.boolean_and(terms))
            except Exception:  # noqa: BLE001 — counted in check()
                res = traceback.format_exc(limit=3)
            t1 = time.perf_counter()
            self.lat.append(t1 - t0)
            self.answers.append((i, res))
            if len(self.lat) % RATE_BLOCK == 0:
                self.marks.append(t1)
            if t1 - start >= self.seconds:
                break
        self.elapsed = time.perf_counter() - start
        if self.tracer:
            self.tracer.qid = None

    def check(self) -> None:
        from inverted_index_and_search_spark import oracle

        self.stream.check()
        self.attempted += self.stream.attempted
        self.failures += self.stream.failures
        oidx = oracle.build_index(self.rows)
        memo: dict[tuple, object] = {}
        for i, res in self.answers:
            self.attempted += 1
            kind, terms = self.queries[i]
            key = (kind, tuple(terms))
            if key not in memo:
                memo[key] = (oracle.bm25_topk(oidx, terms, 10)
                             if kind == "bm25"
                             else oracle.boolean_and(oidx, terms))
            want = memo[key]
            if isinstance(res, str):
                self.fail(f"query {i} {key} raised: {res}")
            elif kind == "and" and list(res) != want:
                self.fail(f"query {i} {key}: {res[:5]} != {want[:5]}")
            elif kind == "bm25" and not same_ranking(res, want):
                self.fail(f"query {i} {key}: {res[:3]} != {want[:3]}")
        # warm-up queries included: they filled the server's cache too
        served = self.queries[:self.answers[-1][0] + 1]
        self.distinct_terms = len({t for _, ts in served for t in ts})

    def rate(self) -> float:
        """Median queries per second over the timed phase's whole
        blocks of RATE_BLOCK queries (the whole phase if it holds
        fewer)."""
        spans = [b - a for a, b in zip(self.marks, self.marks[1:])]
        if not spans:
            return len(self.lat) / self.elapsed
        return RATE_BLOCK / statistics.median(spans)

    def e2e(self) -> dict[str, float]:
        return {
            "latency_p50_ms": 1e3 * statistics.median(self.lat),
            "latency_p95_ms": 1e3 * harness.quantile(self.lat, 0.95),
            "throughput_per_s": self.rate(),
            "disk_bytes_per_input_byte":
                harness.dir_bytes(self.seg_dir) / self.in_bytes,
        }

    def details(self) -> dict[str, float]:
        stream = self.stream.e2e()
        first_seen = [t for i, t in enumerate(self.lat) if i % 10 == 9]
        warm = [t for i, t in enumerate(self.lat) if i % 10 != 9]
        return {
            "queries": len(self.lat),
            "rate_blocks": len(self.marks) - 1,
            "whole_phase_per_s": len(self.lat) / self.elapsed,
            "first_seen_query_p50_ms": 1e3 * statistics.median(first_seen),
            "warm_query_p50_ms": 1e3 * statistics.median(warm),
            "docs": self.n_docs,
            "input_mb": self.in_bytes / 1e6,
            "distinct_query_terms": self.distinct_terms,
            "server_max_terms": self.server.max_terms,
            "resident_terms_at_end": len(self.server._cache),
            "cached_storage_mb": harness.cached_storage_mb(self.spark),
            "ingest_docs_per_s": stream["throughput_per_s"],
            "live_query_p50_ms": stream["latency_p50_ms"],
            "live_query_p90_ms": 1e3 * harness.quantile(self.stream.lat, 0.9),
            "live_queries": len(self.stream.lat),
            "compact_s": self.stream.compact_s,
        }

    def layers(self) -> dict[str, float]:
        """The streaming layers from the set-up's stream; the server and
        kernel layers from the timed phase only."""
        tr = self.tracer

        def named(name):
            return [s for s in tr.named(name) if s.id >= self.timed_from]

        srv_spans = (named("segments.QueryServer.bm25_topk")
                     + named("segments.QueryServer.boolean_and"))
        srv_ids = {s.id for s in srv_spans}
        # a routed query runs batch_topk and neither hits nor fills the
        # cache; every other requested term is a hit or a fetched miss
        routed = named("segments.batch_topk")
        fetches = [s for s in named("segments.fetch_term_postings")
                   if s.parent in srv_ids]
        misses = sum(s.counts["terms"] for s in fetches)
        hits = sum(s.counts["terms"] for s in srv_spans
                   if s.id not in {r.parent for r in routed}) - misses
        jobs = sum(s.spark.get("jobs", 0) for s in srv_spans)
        kernels = (named("kernels.bm25.wand_topk")
                   + named("kernels.bm25.exhaustive_topk"))
        codecs = (named("kernels.codec.decode_deltas")
                  + named("kernels.codec.decode_varint"))
        outer = [s for s in codecs if s.parent is None
                 or not tr.spans[s.parent].name.startswith("kernels.codec")]
        return {
            **self.stream.layers(),
            "segments.cache_hit_ratio": hits / max(1, hits + misses),
            "segments.routed_distributed": len(routed),
            "segments.cache_misses": misses,
            # every miss is inserted; what is not resident left by eviction
            "segments.cache_evictions":
                self.resident_before + misses - len(self.server._cache),
            "segments.fetch_ms": 1e3 * sum(s.dur for s in fetches),
            "segments.fetch_rows":
                sum(s.counts["postings"] for s in fetches),
            "segments.spark_jobs_per_miss": jobs / max(1, misses),
            "kernels.bm25.calls": len(kernels),
            "kernels.bm25.kernel_ms": 1e3 * sum(s.self_s for s in kernels),
            "kernels.bm25.postings_scored":
                sum(s.counts.get("postings", 0) for s in kernels),
            "kernels.codec.decode_ms": 1e3 * sum(s.self_s for s in codecs),
            "kernels.codec.decode_bytes":
                sum(s.counts.get("bytes", 0) for s in outer),
        }


# ====================================================================
class Ingest(Workload):
    """Streaming writes next to reads: micro-batches of new files and new
    versions of earlier files (the old doc_id tombstoned) into a
    StreamingIndexWriter, live-view queries after every batch, then
    compaction to segments. Each doc_id is delivered once."""

    name = "ingest"
    redeliver = False

    def prepare(self) -> None:
        import pandas as pd

        from inverted_index_and_search_spark.corpus import doc_row
        from inverted_index_and_search_spark.streaming.ingest import (
            StreamingIndexWriter,
        )

        sz = self.size
        rng = np.random.default_rng(self.seed)
        # files from 1: file 0 is the generator's 50,000-token outlier,
        # which would dominate every batch, query and the compaction
        n_files = sz["batches"] * sz["new"] + 1
        self.out = self.work / "stream"
        self.seg_dir = str(self.work / "compacted")
        self.writer = StreamingIndexWriter(str(self.out))
        self.batches = []
        live: dict[int, str] = {}   # doc_id -> content
        file_of: dict[int, int] = {}  # live doc_id -> file number
        next_id, next_file = 0, 1
        for b in range(sz["batches"]):
            rows, dead = [], []
            for _ in range(sz["new"]):
                c = doc_row(next_file, n_files, seed=self.seed)["content"]
                rows.append((next_id, c))
                file_of[next_id] = next_file
                next_id, next_file = next_id + 1, next_file + 1
            old = sorted(live)
            n_pick = sz["updates"] + int(self.redeliver)
            picked = (rng.choice(old, size=min(n_pick, len(old)),
                                 replace=False).tolist() if old else [])
            if picked and self.redeliver:
                again = int(picked.pop())
                rows.append((again, live[again]))
            for d in picked:
                f = file_of.pop(d)
                c = doc_row(f, n_files, seed=self.seed + 7919 * (b + 1))
                rows.append((next_id, c["content"]))
                file_of[next_id] = f
                dead.append(int(d))
                next_id += 1
            for d, c in rows:
                live[d] = c
            for d in dead:
                del live[d]
            pdf = pd.DataFrame(rows, columns=["doc_id", "content"])
            qs = []
            for _ in range(sz["queries"]):
                words = zipf_keywords(rng, int(rng.integers(1, 4)))
                if rng.random() < 0.3:
                    words.append(f"var_{int(rng.choice(list(live)))}_0")
                qs.append(("bm25" if len(qs) % 2 == 0 else "and",
                           query_terms(" ".join(words))))
            self.batches.append({
                "df": self.spark.createDataFrame(pdf, "doc_id long, "
                                                 "content string"),
                "docs": len(rows), "dead": dead, "queries": qs,
                "live": dict(live), "in_bytes": sum(len(c) for _, c in rows),
            })
        self.in_bytes = sum(b["in_bytes"] for b in self.batches)

    def run(self) -> None:
        from inverted_index_and_search_spark.operators import (
            index_build as ib,
        )
        from inverted_index_and_search_spark.operators import query

        spark, w, tr = self.spark, self.writer, self.tracer
        self.write_s, self.lat, self.answers = [], [], []
        start = time.perf_counter()
        for b, batch in enumerate(self.batches):
            if tr:
                with self.span("tokenizer.tf_pass"):
                    ib.term_doc_tf_arrow(batch["df"]).write.format("noop") \
                        .mode("overwrite").save()
                with self.span("tokenizer.tf_rows"):
                    batch["tf_rows"] = ib.term_doc_tf_arrow(
                        batch["df"]).count()
            t0 = time.perf_counter()
            self.attempt(f"process_batch {b}",
                         lambda: w.process_batch(batch["df"], 2 * b))
            if batch["dead"]:
                self.attempt(f"delete_docs {b}", lambda: w.delete_docs(
                    spark, batch["dead"], batch_id=2 * b + 1))
            self.write_s.append(time.perf_counter() - t0)
            live = self.attempt(f"live_index {b}", lambda: w.live_index(spark))
            for q, (kind, terms) in enumerate(batch["queries"]):
                qid = b * 1000 + q
                if tr:
                    tr.qid = qid
                t1 = time.perf_counter()
                try:
                    df = (query.bm25_topk(live, terms, 10) if kind == "bm25"
                          else query.boolean_and(live, terms))
                    if tr:
                        with self.span("query.plan"):
                            df._jdf.queryExecution().executedPlan()
                        with self.span("query.exec"):
                            rows = df.collect()
                    else:
                        rows = df.collect()
                    res = ([(int(r["doc_id"]), float(r["score"]))
                            for r in rows] if kind == "bm25"
                           else [int(r["doc_id"]) for r in rows])
                except Exception:  # noqa: BLE001 — counted in check()
                    res = traceback.format_exc(limit=3)
                self.lat.append(time.perf_counter() - t1)
                self.answers.append((b, kind, terms, res))
            if tr:
                tr.qid = None
        self.delta_bytes = harness.dir_bytes(self.out)
        self.delta_files = harness.data_files(self.out)
        t2 = time.perf_counter()
        self.compacted = self.attempt("compact_segments", lambda: (
            w.compact_segments(spark, self.seg_dir) or True))
        self.compact_s = time.perf_counter() - t2
        self.elapsed = time.perf_counter() - start

    def check(self) -> None:
        from inverted_index_and_search_spark import oracle

        oracles = [oracle.build_index(sorted(b["live"].items()))
                   for b in self.batches]
        for b, kind, terms, res in self.answers:
            self.attempted += 1
            o = oracles[b]
            if isinstance(res, str):
                self.fail(f"live query batch {b} {terms} raised: {res}")
            elif kind == "and" and res != oracle.boolean_and(o, terms):
                self.fail(f"live boolean_and batch {b} {terms}: {res[:5]}")
            elif kind == "bm25" and not same_ranking(
                    res, oracle.bm25_topk(o, terms, 10)):
                self.fail(f"live bm25 batch {b} {terms}: {res[:3]}")
        if self.compacted:
            self.check_segments(self.seg_dir, oracles[-1])
        self.distinct_terms = len({t for *_, terms, _ in self.answers
                                   for t in terms})

    def e2e(self) -> dict[str, float]:
        docs = sum(b["docs"] for b in self.batches)
        return {
            "latency_p50_ms": 1e3 * statistics.median(self.lat),
            "latency_p95_ms": 1e3 * harness.quantile(self.lat, 0.95),
            "throughput_per_s": docs / sum(self.write_s),
            "disk_bytes_per_input_byte":
                (self.delta_bytes + harness.dir_bytes(self.seg_dir))
                / self.in_bytes,
        }

    def details(self) -> dict[str, float]:
        return {
            "batches": len(self.batches),
            "docs_ingested": sum(b["docs"] for b in self.batches),
            "docs_deleted": sum(len(b["dead"]) for b in self.batches),
            "live_queries": len(self.lat),
            "input_mb": self.in_bytes / 1e6,
            "live_query_p90_ms": 1e3 * harness.quantile(self.lat, 0.9),
            "compact_s": self.compact_s,
            "distinct_query_terms": self.distinct_terms,
            "cached_storage_mb": harness.cached_storage_mb(self.spark),
        }

    def layers(self) -> dict[str, float]:
        tr = self.tracer
        live_bytes = sum(len(c) for c in self.batches[-1]["live"].values())
        qspans = tr.named("query.exec") + tr.named("query.plan")
        compact_mb = harness.dir_bytes(self.seg_dir) * 1e-6
        return {
            "tokenizer.tf_pass_s": tr.total_s("tokenizer.tf_pass"),
            "tokenizer.tf_pass_cpu_s":
                tr.spark_sum("tokenizer.tf_pass", "executorCpuTime") * 1e-9,
            "tokenizer.tf_rows": sum(b["tf_rows"] for b in self.batches),
            "query.plan_ms": 1e3 * tr.total_s("query.plan"),
            "query.exec_ms": 1e3 * tr.total_s("query.exec"),
            "query.spark_jobs": sum(s.spark.get("jobs", 0) for s in qspans),
            "query.tasks":
                sum(s.spark.get("numCompleteTasks", 0) for s in qspans),
            "streaming.process_batch_s":
                tr.total_s("streaming.process_batch"),
            "streaming.delete_s": tr.total_s("streaming.delete_docs"),
            "streaming.live_view_s": tr.total_s("streaming.live_index"),
            "streaming.delta_files": self.delta_files,
            "streaming.delta_mb": self.delta_bytes * 1e-6,
            "streaming.compact_s": tr.total_s("streaming.compact_segments"),
            "streaming.compact_write_mb": compact_mb,
            "streaming.compact_rewrite_ratio":
                compact_mb * 1e6 / max(1, live_bytes),
            "segments.write_s": tr.total_s("segments.write_segment_index"),
            "segments.shuffle_write_mb": 1e-6 * tr.spark_sum(
                "segments.write_segment_index", "shuffleWriteBytes"),
            "segments.output_mb": compact_mb,
            "segments.files_written": harness.data_files(self.seg_dir),
        }


class IngestRedeliver(Ingest):
    """``ingest`` where every batch after the first also re-delivers one
    already-ingested doc_id unchanged, as an at-least-once stream does.
    The live view counts that document twice and compaction raises
    (ROADMAP open item 2), so this workload's failed operations are the
    known defect's baseline, not noise."""

    name = "ingest-redeliver"
    redeliver = True


WORKLOADS = {w.name: w for w in (Build, Serve, Ingest, IngestRedeliver)}
