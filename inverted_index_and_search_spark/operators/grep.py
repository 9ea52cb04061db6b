"""Trigram index: exact-substring and regex search over raw content.

The reference engine answers TERM queries only (SURVEY.md §2.3); a
code-search product also needs `grep`-shape queries — exact substrings
("->getValue(", "#include <") and regexes — which the word tokenizer
cannot serve. The public design this follows is the trigram posting
index of Google Code Search (R. Cox, "Regular Expression Matching with
a Trigram Index", 2012) as carried forward by Zoekt/Sourcegraph:

- **Index**: every distinct character trigram of a document's RAW
  content (case-sensitive, punctuation included) becomes one flat
  ``(gram, doc_id)`` row. Flat rows, not per-gram arrays, by design:
  a stop-gram like ``" th"`` appears in nearly every document, and the
  array layout would re-create the giant-hot-row problem the term index
  had to shard away. Rows are hash-bucketed on the gram exactly like
  term postings (``gram_bucket = pmod(xxhash64(gram), n_buckets)``), so
  query-time pruning reads only the buckets of the query's grams.
- **Gram stats**: a tiny ``(gram, df)`` side table (≤ |alphabet|³ rows,
  bounded by total distinct grams) lets the planner pick the RAREST
  grams of a query as the prefilter — using all grams of a long needle
  just multiplies shuffle volume for no candidate reduction (Zoekt does
  the same frequency-based gram selection).
- **Query**: substring ``s`` (len ≥ 3) → required gram set {s[i:i+3]}
  → take the ``max_grams`` rarest → candidates = docs containing ALL
  of them (bucket-pruned scan, ``gram IN`` pushed, one hash aggregation
  counting matched grams) → **verify only candidates** against the raw
  corpus with a semi-join + ``instr`` — never a full-corpus scan.
  Regexes extract required literal runs via the stdlib regex parser and
  prefilter on their grams, then verify candidates with ``rlike``; a
  pattern with no extractable literal falls back to the documented
  full-scan path (Cox's design degrades the same way).

Scale notes (100 TB): the index build is one map-side explode of
map-side-distinct gram arrays followed by a single bucketed write — the
only shuffle routes (gram, doc_id) rows to their bucket file; the gram
df aggregation piggybacks map-side-combined. Queries touch |query
grams| buckets and aggregate only the filtered rows; verification
reads only candidate docs' content (broadcast semi-join on the usually
tiny candidate id set). No stage materializes a per-gram array.

Beyond the flat layout, this module ships (all result-identical to the
flat path, equality-tested):

- **compressed segments** (:func:`build_trigram_segments`): delta+varint
  per-(gram, shard) doc-id lists on the term-segment codec wire, hot
  grams sharded so a stop-gram's merged list never exists;
- **incremental LSM maintenance** (:class:`TrigramIndexWriter` /
  :func:`ingest_trigram_stream`): the term index's delta log
  (streaming/lsm.py) applied to grams — append-only delta batches,
  upsert on re-delivery, batch-ordered tombstone deletes, live view,
  compaction to either layout;
- **warm serving** (:class:`GrepServer`): per-gram decoded-id and
  per-doc verified-content LRUs, rarest-gram selection via the stats
  table BEFORE any posting fetch — repeat needles answer in
  numpy/Python with no Spark job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators.index_build import (
    DEFAULT_BUCKETS,
    bucket_route_col,
    term_bucket_col,
)
from inverted_index_and_search_spark.kernels.xxhash import term_bucket
from inverted_index_and_search_spark.streaming.lsm import DeltaLog

GRAM_N = 3
#: prefilter width: more grams = fewer candidates but more index rows
#: scanned; 8 rarest grams is plenty for code-shaped needles
DEFAULT_MAX_GRAMS = 8
#: compressed layout skew guard: a gram is hot when its sampled df
#: exceeds GRAM_HOT_DF; a hot gram's doc-id list splits into GRAM_SHARDS
#: rows
GRAM_HOT_DF = 100_000
GRAM_SHARDS = 64


# ---------------------------------------------------------------- build

def grams_py(text: str) -> list[str]:
    """DISTINCT character trigrams of ``text`` (raw: case-sensitive,
    whitespace/punctuation preserved), ordered by first occurrence —
    order is irrelevant downstream. O(len) — one pass, hash set."""
    seen: dict[str, None] = {}
    for i in range(len(text) - GRAM_N + 1):
        seen.setdefault(text[i:i + GRAM_N], None)
    return list(seen)


@F.pandas_udf(T.ArrayType(T.StringType()))
def grams_pandas_udf(content: pd.Series) -> pd.Series:
    """Arrow-batched gram extractor — the ONLY gram build path.

    A Catalyst `transform(sequence(1, n-2), i -> substr(content, i, 3))`
    expression was tried and rejected: UTF8String.substring scans from
    byte 0 to find code-point i (variable-width UTF-8), so evaluating it
    at every position is O(len²) per document — a measured multi-minute
    stall on a single 450 KB file. The Python set pass is O(len) and
    Arrow-batched, the same north-star shape as the tokenizer kernels.
    """
    return pd.Series([grams_py(s) if s is not None else []
                      for s in content], index=content.index)


@dataclass(frozen=True)
class TrigramIndex:
    """Flat trigram postings + gram document frequencies."""

    grams: DataFrame          # flat: (gram, gram_bucket, doc_id)
                              # compressed: (gram, gram_bucket, shard,
                              #              p_df, doc_ids_enc)
    stats: DataFrame          # (gram, df) — tiny, broadcast-sized
    n_buckets: int = DEFAULT_BUCKETS
    #: grams were extracted from lower(content); queries fold the
    #: needle/literals the same way (persisted in meta.json)
    case_insensitive: bool = False
    #: compressed layout: per-(gram, shard) delta+varint doc-id lists
    #: (kernels/codec — the same wire as term segments); queries decode
    #: distributed, results identical to the flat layout (tested)
    compressed: bool = False


def build_trigram_index(docs: DataFrame, *, content_col: str = "content",
                        id_col: str = "doc_id",
                        n_buckets: int = DEFAULT_BUCKETS,
                        case_insensitive: bool = False) -> TrigramIndex:
    """Lazy logical plan for the trigram index over raw content."""
    content = F.col(content_col)
    if case_insensitive:
        content = F.lower(content)
    flat = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(grams_pandas_udf(content)).alias("gram"),
    ).select(
        "gram",
        term_bucket_col(F.col("gram"), n_buckets).alias("gram_bucket"),
        "doc_id",
    )
    stats = flat.groupBy("gram").agg(F.count("*").cast("long").alias("df"))
    return TrigramIndex(grams=flat, stats=stats, n_buckets=n_buckets,
                        case_insensitive=case_insensitive)


def build_trigram_segments(docs: DataFrame, *, content_col: str = "content",
                           id_col: str = "doc_id",
                           n_buckets: int = DEFAULT_BUCKETS,
                           case_insensitive: bool = False,
                           hot: DataFrame | None = None) -> TrigramIndex:
    """COMPRESSED trigram layout: one (gram, shard) row holding the
    shard's sorted doc ids delta+varint-encoded (kernels/codec — the
    exact wire the term segments use).

    Why: the flat layout writes one row per (gram, doc) — ~1 row per
    distinct content trigram position, the dominant storage cost at
    corpus scale; delta+varint doc-id lists compress that by ~an order
    of magnitude (Zoekt stores exactly this shape). Skew: a stop-gram
    (" th") rides nearly every document, so its single merged list
    would be the giant-row straggler the TERM index sharded away —
    the ``hot`` grams (detected by default, see
    :func:`segments_from_flat`) keep their lists SPLIT across
    GRAM_SHARDS rows by pmod(xxhash64(doc_id), GRAM_SHARDS); readers
    union shard decodes (candidate counting is agnostic to row
    grouping). Query results are identical to the flat layout (tested).
    """
    flat = build_trigram_index(docs, content_col=content_col,
                               id_col=id_col, n_buckets=n_buckets,
                               case_insensitive=case_insensitive).grams
    return segments_from_flat(flat, n_buckets=n_buckets,
                              case_insensitive=case_insensitive, hot=hot)


def segments_from_flat(flat: DataFrame, *,
                       n_buckets: int = DEFAULT_BUCKETS,
                       case_insensitive: bool = False,
                       hot: DataFrame | None = None) -> TrigramIndex:
    """Compressed layout from an existing flat (gram, gram_bucket,
    doc_id) relation — the shared tail of :func:`build_trigram_segments`
    and LSM compaction (which already holds flat delta rows).
    ``hot=None`` detects the (gram) hot set on the index_build document
    sample, with the GRAM_HOT_DF threshold. The grouping stays apart
    from index_build.group_postings: its rows keep the per-shard
    ``p_df`` and carry no tf."""
    if hot is None:
        hot = ib.hot_keys(ib.doc_sample(flat), "gram", GRAM_HOT_DF)
    hot = hot.withColumn("_hot", F.lit(True))
    sharded = (flat.join(F.broadcast(hot), "gram", "left")
               .withColumn("shard",
                           F.when(F.col("_hot").isNotNull(),
                                  F.pmod(F.xxhash64("doc_id"),
                                         F.lit(GRAM_SHARDS)))
                           .otherwise(F.lit(0)).cast("int")))
    # flat rows are unique per (gram, doc) — the build emits distinct
    # grams per doc and the LSM live view keeps one version per doc —
    # so the sorted list is strictly increasing, as the encoder needs
    grouped = sharded.groupBy("gram", "gram_bucket", "shard").agg(
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        F.count("*").cast("long").alias("p_df"))

    import numpy as np

    from inverted_index_and_search_spark.kernels import codec

    def enc(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["doc_ids_enc"] = [
                codec.encode_deltas(np.asarray(ids, dtype=np.int64))
                for ids in pdf["doc_ids"]]
            yield pdf.drop(columns=["doc_ids"])

    enc_df = grouped.mapInPandas(
        enc, schema="gram string, gram_bucket int, shard int, "
                    "p_df long, doc_ids_enc binary")
    stats = enc_df.groupBy("gram").agg(
        F.sum("p_df").cast("long").alias("df"))
    return TrigramIndex(grams=enc_df, stats=stats, n_buckets=n_buckets,
                        case_insensitive=case_insensitive, compressed=True)


def decode_gram_postings(rows: DataFrame) -> DataFrame:
    """(gram, doc_id) — compressed rows decoded back to flat postings,
    distributed (Arrow mapInPandas over the already-pruned rows)."""
    from inverted_index_and_search_spark.kernels import codec

    def dec(batches):
        for pdf in batches:
            grams, ids = [], []
            for g, buf, n in zip(pdf["gram"], pdf["doc_ids_enc"],
                                 pdf["p_df"]):
                dids = codec.decode_deltas(bytes(buf), int(n))
                grams.extend([g] * len(dids))
                ids.extend(dids.tolist())
            yield pd.DataFrame({"gram": pd.Series(grams, dtype="object"),
                                "doc_id": pd.Series(ids, dtype="int64")})

    return rows.select("gram", "p_df", "doc_ids_enc").mapInPandas(
        dec, schema="gram string, doc_id long")


def write_trigram_index(tidx: TrigramIndex, out_dir: str, *,
                        mode: str = "overwrite") -> None:
    """Persist bucketed flat grams (one file per bucket via the Murmur3
    routing column — same one-pass write layout as term postings) and
    the small stats side table."""
    import json
    import os

    spark = tidx.grams.sparkSession
    route = bucket_route_col(spark, F.col("gram_bucket"), tidx.n_buckets)
    order = (["gram_bucket", "gram", "shard"] if tidx.compressed
             else ["gram_bucket", "gram", "doc_id"])
    (tidx.grams
     .repartition(tidx.n_buckets, route)
     .sortWithinPartitions(*order)
     .write.mode(mode).partitionBy("gram_bucket")
     .parquet(f"{out_dir}/grams"))
    # stats derive from the WRITTEN parquet — aggregating tidx.stats
    # here would re-execute the whole gram-extraction pipeline a second
    # time (same derive-don't-recompute rule as index_build's
    # write_dictionary); the read-back scans only narrow columns,
    # dictionary-encoded
    written = spark.read.parquet(f"{out_dir}/grams")
    df_agg = (F.sum("p_df") if tidx.compressed else F.count("*"))
    (written.groupBy("gram").agg(df_agg.cast("long").alias("df"))
     .write.mode(mode).parquet(f"{out_dir}/stats"))
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump({"n_buckets": tidx.n_buckets, "gram_n": GRAM_N,
                   "case_insensitive": tidx.case_insensitive,
                   "compressed": tidx.compressed}, f)


def read_trigram_index(spark, out_dir: str) -> TrigramIndex:
    import json
    import os

    n_buckets, ci, comp = DEFAULT_BUCKETS, False, False
    meta_path = f"{out_dir}/meta.json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        n_buckets = int(meta["n_buckets"])
        ci = bool(meta.get("case_insensitive", False))
        comp = bool(meta.get("compressed", False))
    return TrigramIndex(
        grams=spark.read.parquet(f"{out_dir}/grams"),
        stats=spark.read.parquet(f"{out_dir}/stats"),
        n_buckets=n_buckets,
        case_insensitive=ci,
        compressed=comp,
    )


# ---------------------------------------------------------------- query

def _rarest_grams(tidx: TrigramIndex, grams: list[str],
                  max_grams: int) -> list[str]:
    """Pick the ``max_grams`` rarest of the required grams (ties by
    gram asc for determinism). One tiny bucket-pruned aggregation on
    the stats table; a gram ABSENT from stats has df=0 — keep it, it
    short-circuits the query to zero candidates."""
    if len(grams) <= max_grams:
        return grams
    df_map = {
        r["gram"]: r["df"]
        for r in tidx.stats.where(F.col("gram").isin(grams)).collect()
    }
    ordered = sorted(grams, key=lambda g: (df_map.get(g, 0), g))
    return ordered[:max_grams]


def _candidates(tidx: TrigramIndex, grams: list[str]) -> DataFrame:
    """doc_ids containing ALL ``grams``: bucket-pruned, gram-IN-pushed
    scan + one count aggregation (the k-way AND as a hash agg, same
    shape as query.boolean_and). Compressed layouts decode the pruned
    rows distributed first — only the query grams' lists are ever
    decoded."""
    buckets = sorted({term_bucket(g, tidx.n_buckets) for g in grams})
    hits = tidx.grams.where(
        F.col("gram_bucket").isin(buckets) & F.col("gram").isin(grams))
    if tidx.compressed:
        hits = decode_gram_postings(hits)
    # count(*) == count(distinct gram): rows are unique per (gram, doc)
    # on every layout — the build emits distinct grams per doc,
    # compressed shards partition a gram's docs, and the LSM live view
    # keeps one version per doc (streaming/lsm.py) — so no distinct
    # aggregation layer (and its extra exchange) is needed
    return (hits.groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"))
            .where(F.col("n_grams") == len(grams))
            .select("doc_id"))


def _verified_substring(tidx: TrigramIndex, docs: DataFrame, needle: str, *,
                        content_col: str, id_col: str, max_grams: int,
                        fold_case: bool) -> DataFrame:
    """(doc_id, _content, _hay) rows whose content contains ``needle``
    — the shared candidates-then-verify core. ``_hay`` is the haystack
    the match ran against (lower(content) under ``fold_case``)."""
    if fold_case and not tidx.case_insensitive:
        raise ValueError(
            "fold_case needs a case-insensitive trigram index: a "
            "case-sensitive index has no grams for the folded needle")
    hay = F.col("_content")
    if fold_case:
        hay, needle = F.lower(hay), needle.lower()
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(content_col).alias("_content"))
    # a case-insensitive INDEX stores lower() grams: fold the needle for
    # the prefilter even under case-sensitive match semantics — any
    # verbatim occurrence implies its folded grams are present (sound)
    req = grams_py(needle.lower() if tidx.case_insensitive else needle)
    if req:
        cands = _candidates(tidx, _rarest_grams(tidx, req, max_grams))
        base = base.join(cands, "doc_id", "left_semi")
    return (base.select("doc_id", "_content", hay.alias("_hay"))
            .where(F.instr(F.col("_hay"), F.lit(needle)) > 0))


def substring_search(tidx: TrigramIndex, docs: DataFrame, needle: str, *,
                     content_col: str = "content", id_col: str = "doc_id",
                     max_grams: int = DEFAULT_MAX_GRAMS,
                     count_occurrences: bool = False,
                     fold_case: bool = False) -> DataFrame:
    """doc_ids whose raw content contains ``needle`` (case-sensitive by
    default; ``fold_case=True`` matches case-insensitively and requires
    an index built with ``case_insensitive=True``).

    Trigram-prefiltered, candidates-only verified. Needles shorter than
    GRAM_N cannot use the index — documented full-scan fallback (the
    needle is then so unselective a scan is the honest plan anyway).
    Returns (doc_id) or (doc_id, n_hits) with ``count_occurrences``.
    """
    if fold_case:
        needle = needle.lower()
    verified = _verified_substring(
        tidx, docs, needle, content_col=content_col, id_col=id_col,
        max_grams=max_grams, fold_case=fold_case)
    if count_occurrences:
        # non-overlapping occurrence count via length difference
        n = (
            (F.length("_hay")
             - F.length(F.replace(F.col("_hay"), F.lit(needle),
                                  F.lit(""))))
            / F.lit(len(needle))
        ).cast("long")
        return verified.select("doc_id", n.alias("n_hits"))
    return verified.select("doc_id")


def matching_lines(tidx: TrigramIndex, docs: DataFrame, needle: str, *,
                   content_col: str = "content", id_col: str = "doc_id",
                   max_grams: int = DEFAULT_MAX_GRAMS,
                   fold_case: bool = False) -> DataFrame:
    """(doc_id, line_no, line) — grep's output shape: every line (1-based)
    of every matching document that contains ``needle``.

    Scale: lines are exploded ONLY for verified candidate docs (the
    posexplode input is the candidate set, never the corpus), so the
    expansion is bounded by result size — the same
    verify-only-candidates discipline as the doc-level search.
    """
    if fold_case:
        needle = needle.lower()
    verified = _verified_substring(
        tidx, docs, needle, content_col=content_col, id_col=id_col,
        max_grams=max_grams, fold_case=fold_case)
    lines = verified.select(
        "doc_id",
        F.posexplode(F.split(F.col("_content"), "\n", -1))
        .alias("_ln0", "line"))
    hay = F.lower(F.col("line")) if fold_case else F.col("line")
    return (lines.where(F.instr(hay, F.lit(needle)) > 0)
            .select("doc_id", (F.col("_ln0") + 1).alias("line_no"), "line"))


# ------------------------------------------------- regex literal grams

def required_literals(pattern: str, *,
                      fold_case_index: bool = False) -> list[str]:
    """Maximal literal character runs REQUIRED by every match of
    ``pattern``, extracted from the stdlib regex parse tree.

    Conservative by construction: only top-level concatenation is
    walked; alternations, repeats and classes end the current run and
    contribute nothing (a `?`/`*`-quantified atom also breaks the run
    since it may be absent). Anything this returns must appear verbatim
    in every matching string — sound as an index prefilter; an empty
    result means the pattern gets no prefilter (full-scan fallback).

    A global inline ``(?i)`` flag makes every literal case-INsensitive:
    a case-sensitive gram index then has no sound prefilter (a match in
    another casing would be pruned away), so the result is [] — the
    documented full-scan fallback — unless ``fold_case_index`` says the
    caller's index stores folded (lower()) grams, where folding the
    literals keeps the prefilter sound. Scoped groups ``(?i:...)`` need
    no special case: they parse as SUBPATTERN ops, which already break
    the run and contribute nothing.
    """
    try:
        parsed = _sre_parse(pattern)
    except re.error:
        return []
    state = getattr(parsed, "state", None) or getattr(parsed, "pattern", None)
    if int(getattr(state, "flags", 0)) & re.IGNORECASE \
            and not fold_case_index:
        return []
    runs: list[str] = []
    cur: list[str] = []

    def flush() -> None:
        if cur:
            runs.append("".join(cur))
            cur.clear()

    for op, arg in parsed:
        name = str(op).lower()
        # exact name check: NOT_LITERAL ([^a]) must NOT count
        if name == "literal":
            cur.append(chr(arg))
        elif name in ("max_repeat", "min_repeat"):
            lo, _hi, sub = arg
            flush()
            if lo >= 1:
                # a+ / a{2,}: the sub-pattern's own required literals
                # occur at least once
                runs.extend(_literal_runs(sub))
        else:
            flush()
    flush()
    return [r for r in runs if len(r) >= GRAM_N]


def _sre_parse(pattern: str):
    """Stdlib regex parser across Python versions (re._parser on 3.11+,
    the deprecated top-level sre_parse before)."""
    parser = getattr(re, "_parser", None)
    if parser is not None:
        return parser.parse(pattern)
    import warnings

    with warnings.catch_warnings():  # pragma: no cover - <3.11 only
        warnings.simplefilter("ignore", DeprecationWarning)
        import sre_parse

        return sre_parse.parse(pattern)


def _literal_runs(sub) -> list[str]:
    runs: list[str] = []
    cur: list[str] = []
    for op, arg in sub:
        if str(op).lower() == "literal":
            cur.append(chr(arg))
        else:
            if cur:
                runs.append("".join(cur))
                cur.clear()
    if cur:
        runs.append("".join(cur))
    return [r for r in runs if len(r) >= GRAM_N]


def regex_search(tidx: TrigramIndex | None, docs: DataFrame, pattern: str, *,
                 content_col: str = "content", id_col: str = "doc_id",
                 max_grams: int = DEFAULT_MAX_GRAMS,
                 count_matches: bool = False) -> DataFrame:
    """doc_ids whose raw content matches ``pattern`` (Java regex,
    unanchored ``rlike`` semantics); with ``count_matches``,
    (doc_id, n_hits) where n_hits counts leftmost non-overlapping
    matches (``regexp_extract_all`` length, grep -c shape).

    Every required literal's grams are ANDed into one candidate
    prefilter (they must all be present), then ONLY candidates run the
    real regex. With no extractable literal (or ``tidx=None``) the scan
    is the whole corpus — the documented degraded path.
    """
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(content_col).alias("_content"))
    if tidx is not None:
        req: list[str] = []
        for lit in required_literals(
                pattern, fold_case_index=tidx.case_insensitive):
            # a case-insensitive index stores lower() grams; folding a
            # required literal keeps the prefilter sound (any verbatim
            # occurrence lowers to these grams)
            req.extend(grams_py(
                lit.lower() if tidx.case_insensitive else lit))
        req = list(dict.fromkeys(req))
        if req:
            cands = _candidates(tidx, _rarest_grams(tidx, req, max_grams))
            base = base.join(cands, "doc_id", "left_semi")
    matched = base.where(F.col("_content").rlike(pattern))
    if count_matches:
        n = F.size(F.regexp_extract_all(
            F.col("_content"), F.lit(pattern), F.lit(0))).cast("long")
        return matched.select("doc_id", n.alias("n_hits"))
    return matched.select("doc_id")


# ------------------------------------------------------- incremental (LSM)

class TrigramIndexWriter(DeltaLog):
    """LSM-style incremental maintenance for the trigram index: the term
    writer's delta log (streaming/lsm.py) applied to grams.

    - ``process_batch`` appends the batch's flat (gram, gram_bucket,
      doc_id) rows under ``delta/batch_id=N``, then its doc ids (the
      log's per-batch doc relation) under ``delta_docs/batch_id=N``;
    - ingest is an upsert (Lucene ``updateDocument``): a re-delivered
      doc's earlier rows are superseded, so live rows are unique per
      (gram, doc) by construction — in the live view, in any index
      written from it, and after compaction;
    - ``delete_docs`` tombstones kill strictly earlier versions;
    - ``compact`` rewrites the flat or compressed layout from the live
      rows, physically purging superseded and deleted versions.
    """

    rows_dir = "delta"
    docs_dir = "delta_docs"

    def __init__(self, out_dir: str, *, content_col: str = "content",
                 id_col: str = "doc_id", n_buckets: int = DEFAULT_BUCKETS,
                 case_insensitive: bool = False):
        self.out_dir = out_dir
        self.content_col = content_col
        self.id_col = id_col
        self.n_buckets = n_buckets
        self.case_insensitive = case_insensitive

    def process_batch(self, docs_batch: DataFrame, batch_id: int) -> None:
        flat = build_trigram_index(
            docs_batch, content_col=self.content_col, id_col=self.id_col,
            n_buckets=self.n_buckets,
            case_insensitive=self.case_insensitive).grams
        self._append(flat, self.rows_dir, batch_id, "gram_bucket")
        self._append(docs_batch.select(
            F.col(self.id_col).cast("long").alias("doc_id")),
            self.docs_dir, batch_id)

    def live_index(self, spark) -> TrigramIndex:
        flat, = self._live(spark, self.rows_dir)
        flat = flat.select("gram", "gram_bucket", "doc_id")
        stats = flat.groupBy("gram").agg(F.count("*").cast("long").alias("df"))
        return TrigramIndex(grams=flat, stats=stats,
                            n_buckets=self.n_buckets,
                            case_insensitive=self.case_insensitive)

    def compact(self, spark, dest: str, *, compressed: bool = False) -> None:
        tidx = self.live_index(spark)
        if compressed:
            tidx = segments_from_flat(tidx.grams, n_buckets=self.n_buckets,
                                      case_insensitive=self.case_insensitive)
        write_trigram_index(tidx, dest)


def ingest_trigram_stream(spark, input_dir: str, out_dir: str, *,
                          content_col: str = "content",
                          id_col: str = "doc_id",
                          checkpoint: str | None = None,
                          max_files_per_trigger: int = 1,
                          case_insensitive: bool = False) -> TrigramIndexWriter:
    """Structured-Streaming wiring (availableNow foreachBatch) — drains
    the input directory into trigram delta segments, then stops."""
    writer = TrigramIndexWriter(out_dir, content_col=content_col,
                                id_col=id_col,
                                case_insensitive=case_insensitive)
    return writer.drain(spark, input_dir, checkpoint=checkpoint,
                        max_files_per_trigger=max_files_per_trigger)


# --------------------------------------------------------- warm server

#: above this many values, an IN literal list is replaced by a
#: broadcast created-DataFrame semi-join: a multi-thousand-literal IN
#: bloats the plan and per-row-group filter evaluation, while the tiny
#: values relation broadcasts for free
MAX_IN_LITERALS = 1000


def _semi_join_values(df: DataFrame, col: str, values: list,
                      dtype: str) -> DataFrame:
    """Rows of ``df`` whose ``col`` is in ``values`` — pushed IN
    literal for small lists, broadcast semi-join past MAX_IN_LITERALS
    (the cli._doc_key_map pattern)."""
    if len(values) <= MAX_IN_LITERALS:
        return df.where(F.col(col).isin(values))
    spark = df.sparkSession
    vals = spark.createDataFrame([(v,) for v in values], f"{col} {dtype}")
    return df.join(F.broadcast(vals), col, "left_semi")


class GrepServer:
    """Warm interactive grep endpoint — the trigram analogue of
    segments.QueryServer: nothing is preloaded; per-GRAM decoded doc-id
    arrays and per-DOC verified contents cache on demand with bounded
    LRU residency, so repeat needles run the prefilter in numpy and the
    verification in Python — milliseconds, no Spark job. Cold needles
    pay two pruned fetches (gram rows by bucket+IN pushdown; candidate
    contents by doc_id pushdown — an IN literal up to MAX_IN_LITERALS
    ids, a broadcast semi-join beyond).

    Candidate cardinality is DATA-dependent, not query-bounded: a
    needle made of stop-grams (" the ", common code fragments) can
    yield candidates ~ corpus. The warm path therefore verifies
    driver-side ONLY when |candidates| <= max_docs_cached; larger sets
    route through :meth:`_verify_distributed` — the warm prefilter's
    ids semi-join the raw corpus and verification runs executor-side,
    nothing enters the content cache. Driver residency is thus capped
    at O(max_grams_cached gram arrays + max_docs_cached contents +
    the candidate id array + collected matches) for every needle.
    Needles shorter than GRAM_N fall back to the distributed scan (the
    same documented degraded path as substring_search).
    """

    def __init__(self, tidx: TrigramIndex, docs: DataFrame, *,
                 content_col: str = "content", id_col: str = "doc_id",
                 max_grams_cached: int = 100_000,
                 max_docs_cached: int = 50_000,
                 max_gram_df_warm: int | None = None):
        import numpy as np  # noqa: F401 — used throughout

        self.tidx = tidx
        self.docs = docs
        self.content_col = content_col
        self.id_col = id_col
        self.max_grams_cached = max_grams_cached
        self.max_docs_cached = max_docs_cached
        #: a gram with df above this never enters the warm cache: a
        #: SHORT all-stop-gram needle (<= max_grams grams, so rarest-
        #: gram selection never triggers) would otherwise pull
        #: corpus-sized id arrays driver-side — when even the RAREST
        #: required gram exceeds the cap, the whole query routes to the
        #: distributed path (candidates would exceed the content cap
        #: anyway, so nothing warm is lost)
        self.max_gram_df_warm = (10 * max_docs_cached
                                 if max_gram_df_warm is None
                                 else max_gram_df_warm)
        self._grams: dict[str, object | None] = {}   # gram -> np ids
        self._df: dict[str, int] = {}                # gram -> df
        self._content: dict[int, str] = {}           # doc_id -> content

    # ------------------------------------------------------------ fetch
    def _ensure_grams(self, grams: list[str]) -> None:
        import numpy as np

        from inverted_index_and_search_spark.kernels import codec

        missing = [g for g in grams if g not in self._grams]
        if missing:
            buckets = sorted({term_bucket(g, self.tidx.n_buckets)
                              for g in missing})
            rows = _semi_join_values(
                self.tidx.grams.where(F.col("gram_bucket").isin(buckets)),
                "gram", missing, "string")
            got: dict[str, list] = {}
            if self.tidx.compressed:
                for r in rows.select("gram", "p_df", "doc_ids_enc").collect():
                    got.setdefault(r["gram"], []).append(
                        codec.decode_deltas(bytes(r["doc_ids_enc"]),
                                            int(r["p_df"])))
            else:
                for r in (rows.groupBy("gram")
                          .agg(F.sort_array(F.collect_set("doc_id"))
                               .alias("ids")).collect()):
                    got.setdefault(r["gram"], []).append(
                        np.asarray(r["ids"], dtype=np.int64))
            for g in missing:
                parts = got.get(g)
                if parts is None:
                    self._grams[g] = None        # negative cache
                    self._df[g] = 0
                else:
                    merged = np.unique(np.concatenate(parts))
                    self._grams[g] = merged
                    self._df[g] = int(merged.size)
        for g in grams:                          # LRU touch
            if g in self._grams:
                self._grams[g] = self._grams.pop(g)
        gset = set(grams)
        if len(self._grams) > self.max_grams_cached:
            for g in list(self._grams):
                if len(self._grams) <= self.max_grams_cached:
                    break
                if g not in gset:
                    del self._grams[g]

    def _ensure_contents(self, ids) -> None:
        missing = [int(d) for d in ids if int(d) not in self._content]
        if missing:
            base = self.docs.select(
                F.col(self.id_col).cast("long").alias("d"),
                F.col(self.content_col).alias("c"))
            rows = _semi_join_values(base, "d", missing, "long").collect()
            for r in rows:
                self._content[r["d"]] = r["c"]
        for d in ids:                            # LRU touch
            d = int(d)
            if d in self._content:
                self._content[d] = self._content.pop(d)
        idset = {int(d) for d in ids}
        if len(self._content) > self.max_docs_cached:
            for d in list(self._content):
                if len(self._content) <= self.max_docs_cached:
                    break
                if d not in idset:
                    del self._content[d]

    def _candidates(self, req: list[str],
                    max_grams: int = DEFAULT_MAX_GRAMS):
        """Warm candidate ids for a required-gram set; np.empty when an
        absent gram refutes the query; None when even the RAREST gram's
        df exceeds max_gram_df_warm — the caller must route the whole
        query to the distributed path (fetching that array would put a
        corpus-scale id list on the driver for no selectivity).

        Rarest-gram selection happens BEFORE any posting fetch (the
        same discipline as the distributed _rarest_grams); the df probe
        reads only the tiny stats side table (pruned scan), reusing dfs
        already learned from cached grams."""
        import numpy as np

        unknown = [g for g in req
                   if g not in self._df and g not in self._grams]
        if unknown:
            found = {r["gram"]: int(r["df"]) for r in
                     _semi_join_values(self.tidx.stats, "gram",
                                       unknown, "string").collect()}
            for g in unknown:
                self._df[g] = found.get(g, 0)
        if any(self._df.get(g, 0) == 0 and self._grams.get(g) is None
               for g in req):
            return np.empty(0, dtype=np.int64)   # absent gram -> no match
        ordered = sorted(req, key=lambda g: (self._df[g], g))
        req = ordered[:max_grams]
        if self._df[req[0]] > self.max_gram_df_warm:
            return None                          # even the rarest is hot
        self._ensure_grams(req)
        if any(self._grams.get(g) is None for g in req):
            return np.empty(0, dtype=np.int64)
        cand = self._grams[req[0]]
        for g in req[1:]:
            if cand.size == 0:
                break
            cand = np.intersect1d(cand, self._grams[g],
                                  assume_unique=True)
        return cand

    def _verify_distributed(self, cand, *, needle: str | None = None,
                            pattern: str | None = None,
                            fold_case: bool = False,
                            count_occurrences: bool = False):
        """Executor-side verification of a warm candidate id array too
        large to cache driver-side: the ids semi-join the raw corpus
        (broadcast — they are a tiny long column) and instr/rlike runs
        distributed. The content cache is untouched, so driver
        residency stays at the id array + the collected matches."""
        spark = self.docs.sparkSession
        ids = spark.createDataFrame(
            [(int(d),) for d in cand.tolist()], "doc_id long")
        base = (self.docs.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col(self.content_col).alias("_content"))
            .join(F.broadcast(ids), "doc_id", "left_semi"))
        if pattern is not None:
            out = base.where(F.col("_content").rlike(pattern)) \
                .select("doc_id").collect()
            return sorted(r["doc_id"] for r in out)
        hay = F.lower(F.col("_content")) if fold_case else F.col("_content")
        matched = base.select("doc_id", hay.alias("_hay")).where(
            F.instr(F.col("_hay"), F.lit(needle)) > 0)
        if count_occurrences:
            n = ((F.length("_hay")
                  - F.length(F.replace(F.col("_hay"), F.lit(needle),
                                       F.lit(""))))
                 / F.lit(len(needle))).cast("long")
            return sorted((r["doc_id"], r["n_hits"]) for r in
                          matched.select("doc_id", n.alias("n_hits"))
                          .collect())
        return sorted(r["doc_id"] for r in matched.select("doc_id")
                      .collect())

    # ------------------------------------------------------------ query
    def substring(self, needle: str, *, fold_case: bool = False,
                  count_occurrences: bool = False,
                  max_grams: int = DEFAULT_MAX_GRAMS):
        """Sorted [doc_id] (or [(doc_id, n_hits)]) whose content
        contains ``needle`` — warm path; falls back to the distributed
        scan for sub-gram needles and to distributed VERIFICATION when
        the candidate set exceeds max_docs_cached (stop-gram needles —
        caching it would blow the driver)."""
        if fold_case and not self.tidx.case_insensitive:
            raise ValueError(
                "fold_case needs a case-insensitive trigram index")
        if fold_case:
            needle = needle.lower()
        if len(needle) < GRAM_N:
            out = substring_search(self.tidx, self.docs, needle,
                                   content_col=self.content_col,
                                   id_col=self.id_col,
                                   count_occurrences=count_occurrences,
                                   fold_case=fold_case).collect()
            return sorted((r["doc_id"], r["n_hits"]) for r in out) \
                if count_occurrences else sorted(r["doc_id"] for r in out)
        req = grams_py(needle.lower() if self.tidx.case_insensitive
                       else needle)
        cand = self._candidates(req, max_grams)
        if cand is None:
            # all required grams hotter than the warm cap: fully
            # distributed query, nothing enters either cache
            out = substring_search(self.tidx, self.docs, needle,
                                   content_col=self.content_col,
                                   id_col=self.id_col,
                                   count_occurrences=count_occurrences,
                                   fold_case=fold_case).collect()
            return sorted((r["doc_id"], r["n_hits"]) for r in out) \
                if count_occurrences else sorted(r["doc_id"] for r in out)
        if cand.size == 0:
            return []
        if cand.size > self.max_docs_cached:
            return self._verify_distributed(
                cand, needle=needle, fold_case=fold_case,
                count_occurrences=count_occurrences)
        self._ensure_contents(cand.tolist())
        out = []
        for d in cand.tolist():
            hay = self._content.get(int(d), "")
            if fold_case:
                hay = hay.lower()
            n = hay.count(needle)
            if n:
                out.append((int(d), n) if count_occurrences else int(d))
        return out

    def regex(self, pattern: str,
              max_grams: int = DEFAULT_MAX_GRAMS) -> list[int]:
        """Sorted [doc_id] whose content matches ``pattern`` (Python
        `re` on the warm path — verify uses re.search, the same
        unanchored semantics as rlike for the supported syntax).
        Java-only syntax Python re cannot compile (possessive
        quantifiers, ``\\p{Lu}`` classes) verifies via rlike on the
        same candidates instead of raising; candidate sets past
        max_docs_cached verify distributed like :meth:`substring`.

        DIVERGENCE NOTE (r5 advisor): verification semantics flip
        between engines with candidate cardinality — warm (<=
        max_docs_cached candidates) verifies with Python ``re.search``,
        larger sets / hot grams with Java ``rlike``. For the shared
        regex core the two agree, but patterns where Python and Java
        regex differ (Unicode ``\\d``/``\\w`` class tables, mid-pattern
        inline flags like ``(?i:...)``, ``\\p{...}`` classes) can
        return different doc sets depending on how many candidates the
        gram probe yields. Callers needing ONE fixed semantics should
        use :func:`regex_search` directly (always Java rlike)."""
        req: list[str] = []
        for lit in required_literals(
                pattern, fold_case_index=self.tidx.case_insensitive):
            req.extend(grams_py(
                lit.lower() if self.tidx.case_insensitive else lit))
        req = list(dict.fromkeys(req))
        if not req:
            out = regex_search(self.tidx, self.docs, pattern,
                               content_col=self.content_col,
                               id_col=self.id_col).collect()
            return sorted(r["doc_id"] for r in out)
        cand = self._candidates(req, max_grams)
        if cand is None:
            out = regex_search(self.tidx, self.docs, pattern,
                               content_col=self.content_col,
                               id_col=self.id_col).collect()
            return sorted(r["doc_id"] for r in out)
        if cand.size == 0:
            return []
        if cand.size > self.max_docs_cached:
            return self._verify_distributed(cand, pattern=pattern)
        try:
            rx = re.compile(pattern)
        except re.error:
            return self._verify_distributed(cand, pattern=pattern)
        self._ensure_contents(cand.tolist())
        return [int(d) for d in cand.tolist()
                if rx.search(self._content.get(int(d), ""))]
