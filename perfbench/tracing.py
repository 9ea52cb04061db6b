"""Spans around the calls into each layer, recorded from outside the package.

:class:`Tracer` replaces public functions and methods of the package's
modules with timing wrappers for the duration of a traced run and puts
the originals back afterwards; no package file changes. Each span keeps
its name, start, end, parent span and query id in memory. A span around
Spark work also runs its jobs under its own job group, so after the run
the Spark status store can attribute executor run/CPU/GC time, shuffle
bytes, spill, tasks and jobs to it (:meth:`Tracer.finish`).

Self time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

import harness


class Span:
    __slots__ = ("id", "name", "parent", "qid", "start", "end", "group",
                 "counts", "spark", "self_s", "children")

    def __init__(self, sid, name, parent, qid, group):
        self.id, self.name, self.parent, self.qid = sid, name, parent, qid
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.counts: dict[str, float] = {}
        self.spark: dict[str, float] = {}
        self.self_s = 0.0
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "query_id": self.qid, "start": self.start, "end": self.end,
                "self_s": self.self_s, "counts": self.counts,
                "spark": self.spark}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.qid: int | None = None
        self._patched: list[tuple[object, str, object]] = []
        #: {job group: status-store sums}, filled by finish()
        self.group_sums: dict[str, dict[str, float]] = {}

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, *, spark_jobs: bool = True):
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans)
        group = f"perfbench-span-{sid}" if spark_jobs else None
        s = Span(sid, name, parent.id if parent else None, self.qid, group)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        prev = None
        if group:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.stack.append(s)
        try:
            yield s
        finally:
            self.stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            s.end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, *, spark_jobs: bool = True,
             count=None):
        """Replace ``owner.attr`` with a spanned twin. ``count(span,
        args, kwargs, result)`` may add counters to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, spark_jobs=spark_jobs) as s:
                out = orig(*args, **kwargs)
                if count is not None:
                    count(s, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -------------------------------------------------------- analysis
    def finish(self, path) -> None:
        """Compute self times, attach status-store sums (inclusive of
        descendants) and write every span to ``path``."""
        self.unwrap_all()
        for s in self.spans:
            covered, last_end = 0.0, s.start
            for c in sorted(s.children, key=lambda c: c.start):
                lo, hi = max(c.start, last_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                last_end = max(last_end, c.end)
            s.self_s = s.dur - covered
        sums = self.group_sums = harness.stage_sums_by_group(self.spark)
        for s in reversed(self.spans):  # children before parents
            own = sums.get(s.group, {}) if s.group else {}
            for k, v in own.items():
                s.spark[k] = s.spark.get(k, 0) + v
            if s.parent is not None:
                p = self.spans[s.parent].spark
                for k, v in s.spark.items():
                    p[k] = p.get(k, 0) + v
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_s(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def count(self, name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in self.named(name))

    def spark_sum(self, name: str, key: str) -> float:
        return sum(s.spark.get(key, 0) for s in self.named(name))


def install_entry_points(tracer: Tracer) -> None:
    """Wrap the package entry points the workloads reach."""
    from inverted_index_and_search_spark.kernels import bm25, codec
    from inverted_index_and_search_spark.operators import dedup
    from inverted_index_and_search_spark.operators import index_build as ib
    from inverted_index_and_search_spark.operators import query
    from inverted_index_and_search_spark.operators import segments as sg
    from inverted_index_and_search_spark.streaming.ingest import (
        StreamingIndexWriter,
    )

    for fn in ("build_index", "write_index", "term_doc_tf_arrow",
               "hot_terms_from_docs"):
        tracer.wrap(ib, fn, f"index_build.{fn}")
    for fn in ("build_segment_index", "write_segment_index"):
        tracer.wrap(sg, fn, f"segments.{fn}")

    def fetched(s, args, kwargs, out):
        # the QueryServer fetches exactly the terms it does not hold
        s.counts["terms"] = len(args[1])
        s.counts["postings"] = sum(tp.doc_ids.size for tp in out.values())

    tracer.wrap(sg, "fetch_term_postings", "segments.fetch_term_postings",
                count=fetched)
    tracer.wrap(sg, "batch_topk", "segments.batch_topk")

    def requested(s, args, kwargs, out):
        s.counts["terms"] = len({t.lower() for t in args[1]})

    for fn in ("bm25_topk", "boolean_and"):
        tracer.wrap(sg.QueryServer, fn, f"segments.QueryServer.{fn}",
                    count=requested)

    for fn in ("bm25_topk", "boolean_and"):
        tracer.wrap(query, fn, f"query.{fn}")
    for fn in ("minhash_lsh_pairs", "docs_with_planted_dups"):
        tracer.wrap(dedup, fn, f"dedup.{fn}")
    for fn in ("process_batch", "delete_docs", "live_index",
               "compact_segments"):
        tracer.wrap(StreamingIndexWriter, fn, f"streaming.{fn}")

    def scored(s, args, kwargs, out):
        s.counts["postings"] = sum(t.doc_ids.size for t in args[0])

    for fn in ("wand_topk", "exhaustive_topk"):
        tracer.wrap(bm25, fn, f"kernels.bm25.{fn}", spark_jobs=False,
                    count=scored)

    def decoded(s, args, kwargs, out):
        s.counts["bytes"] = len(args[0])

    for fn in ("decode_deltas", "decode_varint"):
        tracer.wrap(codec, fn, f"kernels.codec.{fn}", spark_jobs=False,
                    count=decoded)
