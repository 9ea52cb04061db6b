"""Search REPL + build CLI — the reference's user surface, Spark-native.

Reference parity: ``search-query.py:92-131`` (interactive ``> `` loop,
boolean AND over a built index, ``"No matches found."`` on empty);
``spark/inverted_index_search.py:463-545`` (build entry with
``--limit-mb`` / ``--format`` / output path).

Usage (spark-submit or plain python):

  python -m inverted_index_and_search_spark.cli build \
      --input /root/testdata/sf0.01/documents.parquet \
      --content-col text --output /tmp/idx [--limit-mb 8] \
      [--format parquet|text|json]
  python -m inverted_index_and_search_spark.cli search --index /tmp/idx \
      [--bm25 --topk 10] [--query "def return"]   # omit --query for REPL
"""

from __future__ import annotations

import argparse
import sys
import time
from typing import Callable, NamedTuple, NoReturn

from inverted_index_and_search_spark.operators import index_build as ib
from inverted_index_and_search_spark.operators import query as q
from inverted_index_and_search_spark.session import get_spark


def _fail(msg: str) -> NoReturn:
    """Report a usage error and exit 2 (``main`` stops its session)."""
    print(f"error: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _session(app_name: str):
    """(session, created): reuse an active session (e.g. under pytest or
    an interactive shell) and only own/stop one we created ourselves."""
    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    if existing is not None:
        return existing, False
    return get_spark(app_name=app_name), True


def _looks_like_parquet(path: str) -> bool:
    """Input auto-detection: a parquet file/dataset vs a directory of
    raw text files (the reference's primary input shape)."""
    import os

    if path.endswith(".parquet") or not os.path.isdir(path):
        return True
    for root, _dirs, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                return True
            if f.endswith(".txt"):
                return False
    return True


def _load_docs(spark, paths: list[str], *, glob: str,
               input_format: str = "auto", content_col: str = "content",
               id_col: str = "doc_id"):
    """(docs, content_col, id_col) for corpus-shaped inputs, auto-detected
    unless ``input_format`` says: directory tree(s) of plaintext files,
    basename = docID (safe_read, spark/inverted_index_search.py:72-100),
    or catalog tables — Iceberg table names on a real cluster, parquet
    paths in the sandbox. Multiple paths union like the reference's
    --input-folder/--input-texts; a table without ``id_col`` gets the
    engine's deterministic doc_id."""
    if input_format == "auto":
        input_format = ("parquet" if all(_looks_like_parquet(p) for p in paths)
                        else "text-dir")
    if input_format == "text-dir":
        from inverted_index_and_search_spark.sources.files import docs_from_files
        return docs_from_files(spark, paths, glob=glob), "content", "doc_id"
    from functools import reduce

    from inverted_index_and_search_spark.sources.catalog import load_documents
    dfs = [load_documents(spark, p) for p in paths]
    docs = reduce(lambda a, b: a.unionByName(b), dfs)
    if id_col not in docs.columns:
        from inverted_index_and_search_spark.corpus import with_doc_id
        docs, id_col = with_doc_id(docs), "doc_id"
    return docs, content_col, id_col


def _build(spark, args: argparse.Namespace) -> None:
    docs, args.content_col, args.id_col = _load_docs(
        spark, args.input, glob=args.glob, input_format=args.input_format,
        content_col=args.content_col, id_col=args.id_col)
    if args.limit_mb is not None:
        docs = ib.budget_input(docs, args.limit_mb,
                               content_col=args.content_col,
                               id_col=args.id_col)
    analyzer = None
    if args.stopwords or args.stem:
        from inverted_index_and_search_spark.analysis import Analyzer

        stop = []
        if args.stopwords:
            with open(args.stopwords, encoding="utf-8") as f:
                stop = [ln.strip() for ln in f
                        if ln.strip() and not ln.startswith("#")]
        analyzer = Analyzer.make(stop, args.stem)

    if (args.forward or args.inline_dl) and (
            args.format != "parquet" or args.field
            or (args.inline_dl and args.positional)):
        _fail("--forward/--inline-dl need the parquet format "
              "(non-fielded; --inline-dl also excludes --positional)")

    t0 = time.perf_counter()
    if args.field:
        from inverted_index_and_search_spark.operators.fielded import (
            build_fielded_index,
        )

        if args.format != "parquet" or args.positional:
            _fail("--field builds are parquet-layout only "
                  "(weighted tf is fractional — the text/json/segment "
                  "wire formats carry integer tf)")
        fields: dict[str, float] = {}
        for spec in args.field:
            col, sep, w = spec.rpartition(":")
            try:
                if not sep:
                    raise ValueError
                fields[col] = float(w)
            except ValueError:
                _fail(f"bad --field {spec!r} (want COL:WEIGHT)")
            if col not in docs.columns:
                _fail(f"--field column {col!r} not in input "
                      f"columns {docs.columns}")
        idx = build_fielded_index(docs, fields, id_col=args.id_col,
                                  n_buckets=args.num_output_partitions,
                                  salt_hot_terms=True,
                                  tokenizer=args.tokenizer,
                                  analyzer=analyzer)
        ib.write_index(idx, args.output)
        from inverted_index_and_search_spark.metrics import write_run_metrics
        write_run_metrics(spark, args.output,
                          wall_seconds=time.perf_counter() - t0,
                          extra={"input": args.input, "format": "parquet",
                                 "fields": fields})
        print(f"index written to {args.output} (parquet, BM25F fields "
              f"{fields})")
        return
    if args.format == "segments":
        # north-star layout: delta+varint compressed postings with
        # block-max metadata (positional iff --positional), queryable
        # warm via `search --index-format segments` (QueryServer)
        from inverted_index_and_search_spark.operators import positional as pos
        from inverted_index_and_search_spark.operators import segments as seg

        kernel = (pos.term_doc_positions_arrow if args.positional
                  else ib.term_doc_tf_arrow)
        tf = kernel(docs, content_col=args.content_col, id_col=args.id_col,
                    tokenizer=args.tokenizer, analyzer=analyzer)
        # persist BEFORE the stats collect: the avgdl sum and the
        # encode job otherwise each run the whole tokenize pipeline
        tf = tf.persist()
        n_docs, avgdl = ib.corpus_stats(docs, tf)
        sidx = seg.build_segment_index(
            tf, n_docs, avgdl,
            n_buckets=args.num_output_partitions,
            hot=ib.hot_terms_from_docs(docs, content_col=args.content_col,
                                       id_col=args.id_col,
                                       tokenizer=args.tokenizer,
                                       analyzer=analyzer),
            tokenizer=args.tokenizer, analyzer=analyzer)
        seg.write_segment_index(sidx, args.output)
        tf.unpersist()
        from inverted_index_and_search_spark.metrics import write_run_metrics
        write_run_metrics(spark, args.output,
                          wall_seconds=time.perf_counter() - t0,
                          extra={"input": args.input, "format": args.format})
        print(f"index written to {args.output} (segments)")
        return
    if args.positional:
        from inverted_index_and_search_spark.operators.positional import (
            build_positional_index,
        )
        idx = build_positional_index(docs, content_col=args.content_col,
                                     id_col=args.id_col,
                                     n_buckets=args.num_output_partitions,
                                     shard_hot_terms=True,
                                     tokenizer=args.tokenizer,
                                     analyzer=analyzer)
    else:
        idx = ib.build_index(docs, content_col=args.content_col,
                             id_col=args.id_col, salt_hot_terms=True,
                             n_buckets=args.num_output_partitions,
                             analyzer=analyzer,
                             tokenizer=args.tokenizer,
                             inline_dl=args.inline_dl)
    if args.format == "parquet":
        ib.write_index(idx, args.output, forward=args.forward)
    elif args.format == "text":
        # line sinks honor --num-output-partitions as the output FILE
        # count (reference coalesce/repartition of the rendered lines,
        # spark/inverted_index_search.py:223-231)
        ib.write_index_text(idx, args.output,
                            num_partitions=args.num_output_partitions)
    elif args.format in ("ref-parquet", "ref-parquet-nested"):
        # the reference's own two Parquet layouts (DF {word, docs} /
        # RDD {word, postings:[{doc,count}]}) — read back with
        # `search --index-format ref-parquet`
        ib.write_index_parquet_ref(idx, args.output,
                                   nested=args.format.endswith("nested"))
    else:
        ib.write_index_json(idx, args.output,
                            num_partitions=args.num_output_partitions)
    from inverted_index_and_search_spark.metrics import write_run_metrics
    # text/json sinks are flat line-file dirs a reader globs whole —
    # park the metrics artifact alongside, not inside, those
    mdir = args.output if args.format == "parquet" else f"{args.output}-metrics"
    write_run_metrics(spark, mdir,
                      wall_seconds=time.perf_counter() - t0,
                      extra={"input": args.input, "format": args.format})
    print(f"index written to {args.output} ({args.format})")


def _open_index(spark, fmt: str, path: str):
    """The index built at ``path``: a SegmentIndex for 'segments', else
    the DataFrame ``Index`` of a parquet, text (the reference-variant
    ``term\\tdoc:tf`` interchange from any builder, search-query.py:75-90),
    json or ref-parquet (either reference Parquet layout, auto-detected
    from the schema) build."""
    if fmt == "segments":
        from inverted_index_and_search_spark.operators import segments as seg

        return seg.read_segment_index(spark, path)
    read = {"text": ib.read_index_text, "json": ib.read_index_json,
            "ref-parquet": ib.read_index_parquet_ref}.get(fmt, ib.read_index)
    return read(spark, path)


def _resolve_keys(index, doc_ids: list[int]) -> dict[int, str] | None:
    """doc_id -> original docID (filename) for THIS RESULT's docs only,
    on indexes parsed from reference-variant text output; None when ids
    are native (always, on segments). Display-time broadcast join
    against doc_stats — bounded by the result size, never a full
    doc_stats collect (which at corpus scale would materialize every
    doc row on the driver)."""
    doc_stats = getattr(index, "doc_stats", None)
    if doc_stats is None or "doc_key" not in doc_stats.columns \
            or not doc_ids:
        return None
    from pyspark.sql import functions as F

    spark = doc_stats.sparkSession
    ids = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    rows = (doc_stats.join(F.broadcast(ids), "doc_id")
            .select("doc_id", "doc_key").collect())
    return {r["doc_id"]: r["doc_key"] for r in rows}


#: a backend's answer to one query line: (terms, line) -> rows
Run = Callable[[list, str], list]

_NO_MATCH = "No matches found."  # reference wording, search-query.py:62


class Mode(NamedTuple):
    """One query mode of ``search``."""

    flag: str
    selected: Callable[[argparse.Namespace], bool]
    #: printed when the result is empty
    empty: str = _NO_MATCH
    #: query terms pass the build analyzer; the raw-fragment modes
    #: match dictionary terms as typed
    analyzed: bool = True
    #: the first column is a doc id (``_resolve_keys`` maps it)
    doc_ids: bool = True


#: every query mode in precedence order: the first selected one answers
#: each query line. A backend serves the modes its table has a
#: callable for; selecting any other mode is a usage error.
MODES = (
    Mode("--mlt", lambda a: a.mlt is not None, doc_ids=False),
    Mode("--related", lambda a: a.related, "No related terms.", False, False),
    Mode("--complete", lambda a: a.complete, "No completions.", False, False),
    Mode("--suggest", lambda a: a.suggest is not None, "No suggestions.",
         False, False),
    Mode("--snippets", lambda a: a.snippets is not None, doc_ids=False),
    Mode("--prefix", lambda a: a.prefix, analyzed=False),
    Mode("--fuzzy", lambda a: a.fuzzy is not None, analyzed=False),
    # the query language parses the raw line itself
    Mode("--expr", lambda a: a.expr, analyzed=False),
    Mode("--phrase", lambda a: a.phrase),
    Mode("--synonyms", lambda a: a.synonyms is not None),
    Mode("--prf", lambda a: a.prf),
    Mode("--rank qld", lambda a: a.rank == "qld"),
    Mode("--rank tfidf", lambda a: a.rank == "tfidf"),
    Mode("--bm25", lambda a: a.bm25 or a.rank == "bm25"),
    Mode("boolean", lambda a: True),
)


def _pick_mode(args: argparse.Namespace, table: dict, layout: str) -> Mode:
    """The first selected mode; exit 2 if ``table`` lacks any selected one."""
    selected = [m for m in MODES if m.selected(args)]
    lacking = [m.flag for m in selected if m.flag not in table]
    if lacking:
        positional = "" if "--phrase" in table else "non-positional "
        _fail(f"{', '.join(lacking)} not served by a {positional}{layout}")
    return selected[0]


def _normalise(mode: Mode, idx, line: str) -> list[str]:
    """The query terms of ``line`` as ``idx`` (either layout) indexed
    them: split with the build tokenizer, then the build analyzer unless
    ``mode`` matches raw fragments (Lucene convention: one analyzer,
    both sides). An --expr line parses itself and stays as typed."""
    terms = line.split()
    if mode.flag == "--expr":
        return terms
    if idx.tokenizer == "code":
        # "getFileName" becomes the term sequence [get, file, name] —
        # under --phrase that is exactly Lucene WDF semantics: the
        # phrase matches getFileName AND get_file_name occurrences
        from inverted_index_and_search_spark.tokenizer import tokenizer_py
        tok = tokenizer_py("code")
        terms = [t for raw in terms for t in tok(raw)]
    if mode.analyzed and idx.analyzer is not None \
            and not idx.analyzer.is_identity:
        # positional builds renumber positions POST-analysis, so an
        # analyzed phrase matches across removed stopwords
        terms = idx.analyzer.analyze_terms(terms)
    return terms


def _print_rows(rows: list, empty: str | None = None,
                keys: dict | None = None) -> None:
    """One tab-separated line per row (floats ``%.6f``), ``keys`` mapping
    the leading doc id; ``empty`` when there are no rows."""
    if not rows and empty:
        print(empty)
    for row in rows:
        cells = [f"{v:.6f}" if isinstance(v, float) else str(v) for v in row]
        if keys:
            cells[0] = keys.get(row[0], cells[0])
        print("\t".join(cells))


def _collect(df, *cols: str) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in df.collect()]


def _dataframe_modes(spark, args: argparse.Namespace, index) -> dict[str, Run]:
    """Mode table of a DataFrame ``Index`` (every format but segments)."""
    from inverted_index_and_search_spark.operators import positional as pos
    from inverted_index_and_search_spark.operators import ranking as rk
    from inverted_index_and_search_spark.operators import search_expr as se

    # Warm only the SMALL side: doc_stats + collection stats. Caching
    # the postings table here (round-2 behavior) forced a full scan and
    # full-RAM materialization of the index before the first query —
    # an OOM/minutes-long startup at corpus scale that defeated the
    # engine's own bucket pruning. Per-query `_query_postings` prunes
    # the parquet scan to the query's terms' buckets uncached, and the
    # warm-latency path is QueryServer's per-term on-demand cache.
    index.doc_stats.cache()
    index.collection_stats()
    k, meta = args.topk, _load_meta(spark, args)
    syn = _load_synonyms(args.synonyms)

    def ranked(topk) -> Run:
        return lambda t, _: _collect(topk(index, t, k=k), "doc_id", "score")

    table: dict[str, Run] = {
        "--mlt": lambda t, _: _collect(q.more_like_this(
            index, args.mlt, k_terms=10, k=k), "doc_id", "score"),
        "--related": lambda t, _: _collect(q.related_terms(
            index, t[0], k=k), "term", "co_df", "pmi"),
        "--complete": lambda t, _: _collect(q.complete_terms(
            index, t[0], k=k), "term", "cf"),
        "--suggest": lambda t, _: _collect(q.suggest_terms(
            index, t[0], max_dist=args.suggest, k=k), "term", "dist", "cf"),
        "--prefix": lambda t, _: _collect(q.prefix_docs(index, t[0]),
                                          "doc_id"),
        "--fuzzy": lambda t, _: _collect(q.fuzzy_docs(index, t[0],
                                                      args.fuzzy), "doc_id"),
        "--expr": (lambda _, line: _collect(se.search_expr_ranked(
            index, line, k=k, meta=meta), "doc_id", "score"))
        if args.bm25 else (lambda _, line: _collect(
            se.search_expr(index, line, meta=meta), "doc_id")),
        "--synonyms": lambda t, _: _collect(rk.synonym_bm25_topk(
            index, t, syn, k=k), "doc_id", "score"),
        # RM3-shape pseudo-relevance feedback (BM25 base ranker)
        "--prf": ranked(rk.bm25_prf_topk),
        "--rank qld": ranked(rk.qld_topk),
        "--rank tfidf": ranked(rk.classic_tfidf_topk),
        "--bm25": ranked(q.bm25_topk),
        "boolean": lambda t, _: _collect(q.boolean_and(index, t), "doc_id"),
    }
    post_t = index.postings.schema["postings"].dataType.elementType
    if "positions" in post_t.fieldNames():
        table["--phrase"] = ranked(pos.phrase_bm25_topk) if args.bm25 else (
            lambda t, _: _collect(pos.phrase_match(index, t),
                                  "doc_id", "phrase_tf"))
    return table


def _segment_modes(spark, args: argparse.Namespace, idx) -> dict[str, Run]:
    """Mode table of a segments build, served by a warm QueryServer:
    repeat terms answer from its per-term cache without a Spark job.
    PRF, PMI association and more-like-this need a doc->terms profile
    scan the server has no layout for; synonym groups are DataFrame-path
    work for now."""
    from inverted_index_and_search_spark.operators import segments as seg

    server = seg.QueryServer(idx, meta=_load_meta(spark, args))
    k = args.topk

    def docs(ids: list[int]) -> list[tuple]:
        return [(d,) for d in ids]

    table: dict[str, Run] = {
        "--complete": lambda t, _: seg.complete_terms(idx, t[0], k=k),
        "--suggest": lambda t, _: server.suggest(
            t[0], max_dist=args.suggest, k=k),
        "--prefix": lambda t, _: docs(server.prefix_docs(t[0])),
        "--fuzzy": lambda t, _: docs(server.fuzzy_docs(t[0], args.fuzzy)),
        "--expr": (lambda _, line: server.search_expr_ranked(line, k=k))
        if args.bm25 else (lambda _, line: docs(server.search_expr(line))),
        "--rank qld": lambda t, _: server.model_topk(t, k=k, model="qld"),
        "--rank tfidf": lambda t, _: server.model_topk(t, k=k,
                                                       model="tfidf"),
        "--bm25": lambda t, _: server.bm25_topk(t, k=k),
        "boolean": lambda t, _: docs(server.boolean_and(t)),
    }
    if "positions_enc" in idx.segments.columns:
        table["--phrase"] = (lambda t, _: server.phrase_topk(t, k=k)) \
            if args.bm25 else (lambda t, _: server.phrase_match(t))
    return table


def _snippets(spark, args: argparse.Namespace, idx, bm25: Run) -> Run:
    """--snippets on either layout: rank with the backend's BM25, then
    cut each ranked doc's best window from --docs-parquet (the index
    holds no text; only the ranked ids are fetched from it)."""
    from inverted_index_and_search_spark.operators.snippets import (
        snippets_for_ranked,
    )

    if args.docs_parquet is None:
        _fail("--snippets needs --docs-parquet (the documents "
              "table holding the original text)")
    docs = spark.read.parquet(args.docs_parquet)

    def run(terms: list[str], line: str) -> list[tuple]:
        norm = sorted({t.lower() for t in terms})
        rows = snippets_for_ranked(
            docs, bm25(norm, line), norm, width=args.snippets,
            mark=("[", "]"), content_col=args.docs_content_col,
            id_col=args.docs_id_col, analyzer=idx.analyzer,
            tokenizer=idx.tokenizer)
        return _collect(rows, "doc_id", "score", "snippet")
    return run


def _answer(mode: Mode, run: Run, idx, line: str) -> None:
    """Evaluate one query line with ``mode`` and print the result."""
    if not line.split():
        return
    terms = _normalise(mode, idx, line)
    if not terms:
        print(_NO_MATCH)
        return
    rows = run(terms, line)
    _print_rows(rows, mode.empty,
                _resolve_keys(idx, [r[0] for r in rows]) if mode.doc_ids
                else None)


def _query_lines(query: str | None):
    """The one-shot --query, or the reference REPL loop's lines
    (search-query.py:120-131) until EOF."""
    if query is not None:
        yield query
        return
    try:
        while True:
            yield input("> ")
    except EOFError:
        return


def _run_batch(spark, args: argparse.Namespace) -> None:
    """Offline batch evaluation: one query per line in --queries-file,
    evaluated ON EXECUTORS via the distributed batch kernels (segments
    layout required); prints `query_id \\t rank \\t doc_id \\t score`
    lines. Lines are normalised like one-shot queries; query ids are
    0-based input line numbers; lines with no (present) terms print
    nothing (documented batch contract). Serves the conjunctive default,
    --bm25 and --phrase."""
    from inverted_index_and_search_spark.operators import segments as seg

    if args.index_format != "segments":
        _fail("--queries-file needs --index-format segments "
              "(build with --format segments)")
    idx = seg.read_segment_index(spark, args.index)
    k = args.topk
    table = {
        "boolean": lambda qs: seg.batch_topk(idx, qs, k=k, conjunctive=True),
        "--bm25": lambda qs: seg.batch_topk(idx, qs, k=k, conjunctive=False),
    }
    if "positions_enc" in idx.segments.columns:
        table["--phrase"] = lambda qs: seg.batch_phrase_topk(idx, qs, k=k)
    mode = _pick_mode(args, table,
                      "segments index in --queries-file batch mode")
    with open(args.queries_file, encoding="utf-8") as f:
        queries = [(i, terms) for i, ln in enumerate(f)
                   if (terms := _normalise(mode, idx, ln))]
    _print_rows(_collect(table[mode.flag](queries).orderBy("query_id", "rank"),
                         "query_id", "rank", "doc_id", "score"))


def _search(spark, args: argparse.Namespace) -> None:
    if args.queries_file is not None:
        _run_batch(spark, args)
        return
    idx = _open_index(spark, args.index_format, args.index)
    table = (_segment_modes if args.index_format == "segments"
             else _dataframe_modes)(spark, args, idx)
    if args.snippets is not None:
        table["--snippets"] = _snippets(spark, args, idx, table["--bm25"])
    mode = _pick_mode(args, table, f"{args.index_format} index")
    run = table[mode.flag]
    if mode.flag == "--mlt":  # ranks against a doc id, not a query line
        _print_rows(run([], ""), mode.empty)
        return
    from inverted_index_and_search_spark.operators.search_expr import (
        ExprError,
    )

    for line in _query_lines(args.query):
        try:
            _answer(mode, run, idx, line)
        except ExprError as e:
            if args.query is not None:
                # scripts must see a malformed one-shot expression fail
                _fail(str(e))
            print(f"error: {e}", file=sys.stderr)


def _load_synonyms(path: str | None) -> dict[str, list[str]] | None:
    """Parse a thesaurus file: one ``term: syn1, syn2`` (or ``term =
    syn1, syn2``) line per term; '#' comments and blank lines skipped."""
    if path is None:
        return None
    out: dict[str, list[str]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            head, sep, rest = line.replace("=", ":", 1).partition(":")
            if not sep:
                continue
            syns = [s.strip().lower() for s in rest.split(",") if s.strip()]
            if syns:
                out[head.strip().lower()] = syns
    return out


def _load_meta(spark, args: argparse.Namespace):
    """The --meta-parquet relation for --expr field atoms (or None)."""
    if getattr(args, "meta_parquet", None) is None:
        return None
    return spark.read.parquet(args.meta_parquet)


def _stats(spark, args: argparse.Namespace) -> None:
    """`stats` subcommand: corpus/index summary for any layout —
    n_docs, avgdl, term/posting/token counts and the top terms by
    collection frequency. Narrow scans only (no postings payloads)."""
    idx = _open_index(spark, args.index_format, args.index)
    if args.index_format == "segments":
        from inverted_index_and_search_spark.operators import segments as seg

        stats = seg.segment_stats(idx, top=args.top)
    else:
        stats = q.index_stats(idx, top=args.top)
    _print_rows([(key, stats[key]) for key in ("n_docs", "avgdl", "n_terms",
                                               "n_postings", "n_tokens")]
                + [("top", term, cf) for term, cf in stats["top_terms"]])


def _grep_build(spark, args: argparse.Namespace) -> None:
    """`grep-build`: persist the trigram substring/regex index."""
    from inverted_index_and_search_spark.operators import grep

    docs, content_col, id_col = _load_docs(
        spark, args.input, glob=args.glob, content_col=args.content_col,
        id_col=args.id_col)
    t0 = time.perf_counter()
    build = (grep.build_trigram_segments if args.compressed
             else grep.build_trigram_index)
    tidx = build(docs, content_col=content_col, id_col=id_col,
                 n_buckets=args.num_output_partitions,
                 case_insensitive=args.ignore_case)
    grep.write_trigram_index(tidx, args.output)
    print(f"trigram index written to {args.output} "
          f"({args.num_output_partitions} buckets, "
          f"case_insensitive={args.ignore_case}, "
          f"compressed={args.compressed}) "
          f"in {time.perf_counter() - t0:.2f}s")


def _grep(spark, args: argparse.Namespace) -> None:
    """`grep`: substring/regex search via the trigram index."""
    from inverted_index_and_search_spark.operators import grep

    tidx = grep.read_trigram_index(spark, args.index)
    if args.ignore_case and not tidx.case_insensitive:
        _fail("--ignore-case needs an index built with "
              "grep-build --ignore-case")
    docs, content_col, id_col = _load_docs(
        spark, args.docs, glob=args.glob, content_col=args.content_col,
        id_col=args.id_col)
    kw = dict(content_col=content_col, id_col=id_col,
              max_grams=args.max_grams)
    if args.pattern is None:
        # interactive REPL on the warm GrepServer: repeat needles run
        # prefilter + verification from the per-gram / per-doc caches
        # (milliseconds, no Spark job); `re:PATTERN` lines are regexes
        server = grep.GrepServer(tidx, docs, content_col=content_col,
                                 id_col=id_col)
        try:
            while True:
                line = input("grep> ")
                if not line.strip():
                    continue
                if line.startswith("re:"):
                    hits = server.regex(line[3:], max_grams=args.max_grams)
                elif args.count:
                    hits = [f"{d}\t{n}" for d, n in server.substring(
                        line, count_occurrences=True,
                        fold_case=args.ignore_case,
                        max_grams=args.max_grams)]
                else:
                    hits = server.substring(line,
                                            fold_case=args.ignore_case,
                                            max_grams=args.max_grams)
                for h in hits:
                    print(h)
                if not hits:
                    print("No matches found.")
        except EOFError:
            pass
        return
    if args.regex:
        # --ignore-case folds the match via an embedded (?i) flag; the
        # literal-gram prefilter stays sound because the CI index (the
        # flag is rejected above without one) stores folded grams and
        # regex_search folds required literals against it
        pat = f"(?i){args.pattern}" if args.ignore_case else args.pattern
        rows = grep.regex_search(tidx, docs, pat, **kw) \
            .orderBy("doc_id").collect()
        for r in rows:
            print(r["doc_id"])
    elif args.lines:
        rows = grep.matching_lines(tidx, docs, args.pattern,
                                   fold_case=args.ignore_case, **kw) \
            .orderBy("doc_id", "line_no").collect()
        for r in rows:
            print(f"{r['doc_id']}:{r['line_no']}:{r['line']}")
    else:
        rows = grep.substring_search(tidx, docs, args.pattern,
                                     count_occurrences=args.count,
                                     fold_case=args.ignore_case, **kw) \
            .orderBy("doc_id").collect()
        for r in rows:
            print(f"{r['doc_id']}\t{r['n_hits']}" if args.count
                  else r["doc_id"])
    if not rows:
        print("No matches found.")


def _symbols_build(spark, args: argparse.Namespace) -> None:
    """`symbols-build`: extract a ctags-style definition index."""
    from inverted_index_and_search_spark.operators import symbols as sy

    docs, content_col, id_col = _load_docs(
        spark, args.input, glob="*", content_col=args.content_col,
        id_col=args.id_col)
    if args.lang_col not in docs.columns:
        _fail(f"--lang-col {args.lang_col!r} not in input columns "
              f"{docs.columns} (symbol patterns are per-language)")
    syms = sy.extract_symbols(docs, content_col=content_col, id_col=id_col,
                              lang_col=args.lang_col)
    sy.write_symbol_index(syms, args.output,
                          n_buckets=args.num_output_partitions)
    print(f"symbol index written to {args.output}")


def _symbols(spark, args: argparse.Namespace) -> None:
    """`symbols`: definition lookup over a symbols-build index."""
    from inverted_index_and_search_spark.operators import symbols as sy

    back, nb = sy.read_symbol_index(spark, args.index)
    if args.prefix:
        rows = sy.symbol_search(back, args.name, kind=args.kind,
                                prefix=True) \
            .select("doc_id", "lang", "kind", "symbol", "line_no") \
            .orderBy("symbol", "doc_id", "line_no").collect()
    else:
        rows = sy.symbol_lookup(back, nb, args.name, kind=args.kind) \
            .orderBy("doc_id", "line_no").collect()
    for r in rows:
        print(f"{r['doc_id']}:{r['line_no']}\t{r['kind']}\t{r['symbol']}"
              f"\t{r['lang']}")
    if not rows:
        print("No definitions found.")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="inverted_index_and_search_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True, nargs="+",
                   help="parquet documents table(s) OR directories of raw "
                        "text files (auto-detected; see --input-format); "
                        "multiple paths union like the reference's "
                        "--input-folder/--input-texts")
    b.add_argument("--num-output-partitions", type=int,
                   default=ib.DEFAULT_BUCKETS,
                   help="term-hash bucket count of the index layout "
                        "(reference --num-output-partitions; persisted in "
                        "meta.json and used for query-time pruning)")
    b.add_argument("--input-format", choices=["auto", "parquet", "text-dir"],
                   default="auto")
    b.add_argument("--glob", default="*.txt",
                   help="filename glob for text-dir input (reference "
                        ".txt predicate); use '*' for all files")
    b.add_argument("--output", required=True)
    b.add_argument("--content-col", default="content")
    b.add_argument("--id-col", default="doc_id")
    b.add_argument("--limit-mb", type=float, default=None,
                   help="greedy largest-first input cap (reference --limit-mb)")
    b.add_argument("--format", choices=["parquet", "text", "json",
                                        "segments", "ref-parquet",
                                        "ref-parquet-nested"],
                   default="parquet",
                   help="'segments' writes the compressed delta+varint "
                        "block-max layout (query with --index-format "
                        "segments; positional iff --positional); "
                        "'ref-parquet[-nested]' writes the reference's "
                        "own Parquet layouts ({word, docs} / "
                        "{word, postings:[{doc,count}]})")
    b.add_argument("--stopwords", default=None, metavar="PATH",
                   help="index-time stopword list (one term per line); "
                        "works with every layout incl. --positional/"
                        "--field/segments (positions are POST-analysis, "
                        "Lucene renumbering); persisted in meta/stats"
                        ".json and auto-applied to query terms")
    b.add_argument("--tokenizer", choices=["standard", "code"],
                   default="standard",
                   help="term semantics: standard (reference parity) or "
                        "code (split camelCase/snake_case/digit "
                        "identifiers); works with every layout incl. "
                        "--positional/--field/segments; persisted in "
                        "meta/stats.json and applied to query terms "
                        "automatically")
    b.add_argument("--stem", action="store_true",
                   help="index-time S-stemming (Harman 1991 plural "
                        "stemmer); persisted and auto-applied to "
                        "query terms")
    b.add_argument("--positional", action="store_true",
                   help="store per-(term,doc) token positions — enables "
                        "`search --phrase`; all other queries work "
                        "unchanged on the positional layout")
    b.add_argument("--forward", action="store_true",
                   help="also persist the doc-bucketed FORWARD layout "
                        "(doc -> terms access path): more-like-this / "
                        "related-terms / PRF profile stages become "
                        "partition-pruned point lookups (parquet "
                        "format, non-fielded builds)")
    b.add_argument("--inline-dl", action="store_true",
                   help="carry each doc's length inside its posting "
                        "structs so BM25/QLD/TF-IDF scoring needs no "
                        "doc_stats broadcast (parquet format, "
                        "non-positional, non-fielded builds)")
    b.add_argument("--field", action="append", default=None,
                   metavar="COL:WEIGHT",
                   help="BM25F fielded build (repeatable): index the "
                        "weighted union of several document columns, "
                        "e.g. --field path:3 --field content:1 — "
                        "queries on the result score BM25F; parquet "
                        "layout only (weighted tf is fractional)")
    b.set_defaults(fn=_build)

    s = sub.add_parser("search", help="query a built index")
    s.add_argument("--index", required=True)
    s.add_argument("--index-format",
                   choices=["parquet", "text", "json", "segments",
                            "ref-parquet"],
                   default="parquet",
                   help="'text' consumes a reference-wire-format "
                        "term\\tdoc:tf index from any variant; 'json' "
                        "consumes the {word, docs:[...]} JSON sink; "
                        "'ref-parquet' consumes EITHER reference "
                        "Parquet layout (auto-detected); 'segments' "
                        "serves the compressed layout warm via the "
                        "per-term QueryServer cache")
    s.add_argument("--query", default=None,
                   help="one-shot query; omit for an interactive REPL")
    s.add_argument("--queries-file", default=None,
                   help="batch mode: one query per line, evaluated ON "
                        "EXECUTORS (needs --index-format segments); "
                        "prints query_id\\trank\\tdoc_id\\tscore with "
                        "0-based line-number ids; conjunctive ranked "
                        "by default, disjunctive BM25 with --bm25, "
                        "exact phrases with --phrase")
    s.add_argument("--synonyms", default=None, metavar="PATH",
                   help="query-time thesaurus file (one 'term: syn1, "
                        "syn2' line per term); ranked search scores "
                        "synonym groups with Lucene SynonymQuery "
                        "semantics (sum tf, max df)")
    s.add_argument("--related", action="store_true",
                   help="print the first query token's top related "
                        "terms by document-level PMI instead of "
                        "searching")
    s.add_argument("--mlt", type=int, default=None, metavar="DOC_ID",
                   help="more-like-this: rank documents similar to "
                        "DOC_ID (no query text needed; the profile "
                        "stage uses the forward layout when the index "
                        "carries one — build --forward)")
    s.add_argument("--rank", choices=["bm25", "qld", "tfidf"],
                   default=None,
                   help="ranking model for ranked search: BM25 "
                        "(default), Dirichlet query likelihood, or "
                        "Lucene-classic TF-IDF")
    s.add_argument("--prf", action="store_true",
                   help="pseudo-relevance feedback (RM3 shape): expand "
                        "the query with the top terms of the BM25 "
                        "feedback docs, then rescore")
    s.add_argument("--bm25", action="store_true",
                   help="ranked BM25 instead of boolean AND")
    s.add_argument("--phrase", action="store_true",
                   help="treat the query as an exact token phrase "
                        "(requires an index built with --positional); "
                        "prints doc\\tphrase_tf, or ranked with --bm25")
    s.add_argument("--expr", action="store_true",
                   help="boolean query language: AND/OR/NOT, parens, "
                        '"exact phrases" (phrases need --positional '
                        "indexes), a NEAR/3 b proximity, tab* prefix "
                        "and term~1 fuzzy atoms, lang:de metadata "
                        "field filters (need --meta-parquet); bare "
                        "term lists still mean AND")
    s.add_argument("--meta-parquet", default=None, metavar="PATH",
                   help="corpus/metadata parquet (doc_id + metadata "
                        "columns, one row per doc) that --expr field "
                        "atoms like lang:de filter against")
    s.add_argument("--prefix", action="store_true",
                   help="treat the query's first token as a term PREFIX "
                        "(Lucene PrefixQuery): print docs containing any "
                        "matching dictionary term")
    s.add_argument("--fuzzy", type=int, default=None, metavar="D",
                   help="treat the query's first token as a FUZZY term: "
                        "print docs containing any dictionary term "
                        "within Levenshtein distance D")
    s.add_argument("--complete", action="store_true",
                   help="autocomplete: print up to --topk dictionary "
                        "terms extending the query's first token as a "
                        "prefix, ranked by collection frequency "
                        "(term\\tcf lines)")
    s.add_argument("--suggest", type=int, default=None, metavar="D",
                   help='"did you mean" spell correction: print up to '
                        "--topk dictionary terms within Levenshtein "
                        "distance D of the query's first token, ranked "
                        "dist asc then collection frequency desc "
                        "(term\\tdist\\tcf lines)")
    s.add_argument("--snippets", type=int, default=None, metavar="W",
                   help="BM25-ranked results with a best-window snippet "
                        "of W tokens (matched terms bracketed); "
                        "requires --docs-parquet for the stored text")
    s.add_argument("--docs-parquet", default=None, metavar="PATH",
                   help="documents table with the original text "
                        "(--snippets fetches only the ranked ids from "
                        "it — pushed IN filter, no full scan)")
    s.add_argument("--docs-content-col", default="content")
    s.add_argument("--docs-id-col", default="doc_id")
    s.add_argument("--topk", type=int, default=10)
    s.set_defaults(fn=_search)

    gb = sub.add_parser(
        "grep-build",
        help="build the trigram substring/regex index (Cox/Zoekt design)")
    gb.add_argument("--input", required=True, nargs="+",
                    help="documents parquet table(s) or raw text dirs "
                         "(auto-detected, same rules as build)")
    gb.add_argument("--output", required=True)
    gb.add_argument("--glob", default="*.txt")
    gb.add_argument("--content-col", default="content")
    gb.add_argument("--id-col", default="doc_id")
    gb.add_argument("--num-output-partitions", type=int,
                    default=ib.DEFAULT_BUCKETS,
                    help="gram-hash bucket count (query-time pruning)")
    gb.add_argument("--ignore-case", action="store_true",
                    help="index lower(content) grams: enables "
                         "`grep --ignore-case` (persisted in meta.json)")
    gb.add_argument("--compressed", action="store_true",
                    help="delta+varint per-(gram,shard) doc-id lists "
                         "instead of flat rows (~an order of magnitude "
                         "smaller on disk; hot grams sharded); queries "
                         "work unchanged")
    gb.set_defaults(fn=_grep_build)

    g = sub.add_parser(
        "grep", help="exact-substring / regex search over raw content "
                     "via a grep-build index")
    g.add_argument("pattern", nargs="?", default=None,
                   help="substring needle (default) or, with --regex, "
                        "a Java regex; omit for an interactive REPL on "
                        "the warm GrepServer (per-gram + per-doc "
                        "caches; `re:PAT` lines are regexes)")
    g.add_argument("--index", required=True, help="grep-build output dir")
    g.add_argument("--docs", required=True, nargs="+",
                   help="the raw documents (parquet or text dirs) — "
                        "candidate verification reads only matching "
                        "docs' content from here")
    g.add_argument("--glob", default="*.txt")
    g.add_argument("--content-col", default="content")
    g.add_argument("--id-col", default="doc_id")
    g.add_argument("--regex", action="store_true",
                   help="treat PATTERN as a regex: required literal "
                        "runs prefilter via the gram index, candidates "
                        "verify with rlike")
    g.add_argument("--count", action="store_true",
                   help="print doc_id\\tn_occurrences instead of doc_id")
    g.add_argument("--lines", action="store_true",
                   help="print doc_id:line_no:line for matching lines "
                        "(grep output shape)")
    g.add_argument("--ignore-case", action="store_true",
                   help="case-insensitive substring match (needs a "
                        "grep-build --ignore-case index)")
    g.add_argument("--max-grams", type=int, default=8,
                   help="rarest-gram prefilter width (default 8)")
    g.set_defaults(fn=_grep)

    sb = sub.add_parser(
        "symbols-build",
        help="extract a ctags-style per-language definition index")
    sb.add_argument("--input", required=True, nargs="+",
                    help="documents parquet table(s) with a language "
                         "column (the north-star corpus shape)")
    sb.add_argument("--output", required=True)
    sb.add_argument("--content-col", default="content")
    sb.add_argument("--id-col", default="doc_id")
    sb.add_argument("--lang-col", default="lang")
    sb.add_argument("--num-output-partitions", type=int,
                    default=ib.DEFAULT_BUCKETS)
    sb.set_defaults(fn=_symbols_build)

    sy = sub.add_parser(
        "symbols", help="definition lookup (doc:line kind symbol lang)")
    sy.add_argument("name", help="symbol name (exact; see --prefix)")
    sy.add_argument("--index", required=True,
                    help="symbols-build output dir")
    sy.add_argument("--kind", default=None,
                    help="restrict to a definition kind "
                         "(function/class/struct/...)")
    sy.add_argument("--prefix", action="store_true",
                    help="treat NAME as a prefix")
    sy.set_defaults(fn=_symbols)

    st = sub.add_parser("stats", help="print index summary statistics")
    st.add_argument("--index", required=True)
    st.add_argument("--index-format",
                    choices=["parquet", "text", "json", "segments",
                             "ref-parquet"], default="parquet")
    st.add_argument("--top", type=int, default=10,
                    help="how many top-cf terms to print")
    st.set_defaults(fn=_stats)

    args = ap.parse_args(argv)
    spark, created = _session(f"iis-{args.cmd}")
    try:
        args.fn(spark, args)
    finally:
        if created:
            spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
