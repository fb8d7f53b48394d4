#!/usr/bin/env python
"""spark-submit entry point for querying a materialized graph.

The analog of the reference's user-facing query driver (QueryTester.java:
49-200): point it at a graph directory, feed it SPARQL — from a file (one
query per line), a --query string, or interactively — and it plans each
query over the permutation tables, times N reps, and reports result counts
and per-rep wall times. Mirrors the reference driver's behaviors:

- statistics are built on demand when missing (QueryTester.java:126-139
  falls back to SPARQLAnalyzer when histograms.json is absent);
- dictionary decode ("Use dictionary lookups for results?") is optional —
  --no-decode returns encoded ids only, like lookups=false;
- file mode ignores lines shorter than 30 characters (QueryTester.java:161
  "Lines with less than 30 characters will be ignored");
- the first query is run once untimed as warm-up (warmUpJVM analog) so the
  timed reps measure the plan, not JVM/session spin-up;
- reps default to 1 interactively and 11 in file mode, the reference's
  benchmark protocol (QueryTester.java:170, README.md:66).

Cluster usage:

    spark-submit --master <cluster> --py-files dist/parj_spark.zip \\
        scripts/submit_query.py /data/graph --file lubm_queries.txt --reps 11

Local smoke:

    python scripts/submit_query.py /tmp/kg --query \\
        "SELECT ?x WHERE { ?x <urn:rel:advisor> ?y }" --print-results

By default the full opt-in SPARQL surface (FILTER, UNION, OPTIONAL, paths,
aggregates, ...) is enabled — --strict restores reference parity, which
rejects everything beyond conjunctive BGP SELECT (DagCreator.java:170-171,
269-271).

Updates (beyond parity; the reference stores are read-only):

    python scripts/submit_query.py /tmp/kg --update \\
        'DELETE WHERE { <urn:x> ?p ?o }' [--compact]

apply as merge-on-read deltas under --stream-dir (default
<graph_dir>/_updates); later query invocations automatically serve the
live merged view until --compact folds the deltas into the base layout.

N-Quads mode (beyond parity; the reference is single-graph): point the
positional argument at an .nq file/dir and pass --nquads to query it
directly with GRAPH / FROM named-graph support — no materialize step:

    python scripts/submit_query.py /data/dataset.nq --nquads --query \\
        'SELECT ?g ?s WHERE { GRAPH ?g { ?s <urn:name> ?n } }'
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parj_spark.query.sparql import ALLOW_FLAGS, ENGINE_FLAGS  # noqa: E402

# every extension flag sparql() exposes; --strict turns them all off
EXTENSIONS = dict.fromkeys(ENGINE_FLAGS, True)

# allow-flag spelling of EXTENSIONS for the update path (parse/execute
# layer kwargs; ask/construct/describe are query forms, not update ones)
UPDATE_ALLOW = {
    ENGINE_FLAGS[k]: True for k in EXTENSIONS if k not in ("ask", "construct", "describe")
}

# the full allow set for --nquads mode: every query form plus the GRAPH /
# FROM named-graph surface (the whole mode is extension territory — the
# reference is single-graph, so --strict and --nquads are incompatible)
QUADS_ALLOW = dict.fromkeys((f for f in ALLOW_FLAGS if f != "allow_service"), True)


class QuadsEngine:
    """execute_on_quads adapter exposing the engine's ``sparql()`` surface,
    so the serve/timing loop runs unchanged over a raw N-Quads file —
    string-triples path, no dictionary (``decode`` is a no-op) and no
    statistics, but full GRAPH / FROM named-graph semantics."""

    bucketed_prefix = None

    def __init__(self, quads):
        self.quads = quads

    def sparql(self, text, decode=True, **_flags):
        from parj_spark.query.sparql import execute_on_quads

        return execute_on_quads(self.quads, text, **QUADS_ALLOW)

MIN_QUERY_CHARS = 30  # QueryTester.java:161 file-mode filter


def live_store(spark, graph_dir: str, stream_dir: str):
    """The graph's live view: the base GraphStore, or — when un-compacted
    update/stream deltas exist under ``stream_dir`` — a StreamedGraphStore
    merging them at read time, so queries issued after an update see it."""
    from parj_spark.construct.pipeline import GraphStore
    from parj_spark.streaming import StreamedGraphStore

    live = StreamedGraphStore(spark, graph_dir, stream_dir=stream_dir)
    return live if live._has_deltas() else GraphStore(spark, graph_dir)


def run_update(store, stream_dir: str, text: str, *, strict: bool,
               compact: bool) -> dict:
    """Apply a SPARQL 1.1 Update request as merge-on-read deltas (and
    optionally compact them into the base layout); returns a summary dict.
    Rejected under --strict: the reference stores are read-only (every
    vtab xUpdate slot is 0, parj.c:599, 1129)."""
    if strict:
        raise ValueError(
            "SPARQL update rejected in --strict mode: reference stores are "
            "read-only (parj.c:599, 1129)"
        )
    from parj_spark.query.update import apply_update
    from parj_spark.streaming import compact_stream

    t0 = time.monotonic()
    live = apply_update(store, stream_dir, text, **UPDATE_ALLOW)
    apply_ms = (time.monotonic() - t0) * 1000.0
    n_live = live.spo().count()
    summary = {
        "update": text,
        "live_triples": n_live,
        "ms_apply": round(apply_ms, 1),
        "compacted": False,
    }
    if compact:
        from parj_spark.construct.pipeline import GraphStore

        t1 = time.monotonic()
        # compact folds deltas over the BASE store (a merged view would
        # union the delta tail twice)
        compact_stream(GraphStore(store.spark, store.out_dir), stream_dir)
        summary["compacted"] = True
        summary["ms_compact"] = round((time.monotonic() - t1) * 1000.0, 1)
    return summary


def read_query_file(path: str) -> list[str]:
    with open(path) as f:
        return [ln.strip() for ln in f if len(ln.strip()) >= MIN_QUERY_CHARS]


def run_one(engine, text: str, *, decode: bool, strict: bool, reps: int,
            print_results: bool, limit: int, fmt: str = "table") -> dict:
    """Time one query for ``reps`` reps; returns a result-summary dict."""
    flags = {} if strict else EXTENSIONS
    times_ms: list[float] = []
    n_rows = None
    shown = None
    serialized = None
    for rep in range(reps):
        t0 = time.monotonic()
        df = engine.sparql(text, decode=decode, **flags)
        if print_results and rep == 0:
            if fmt == "table":
                shown = df.limit(limit).collect() if limit else df.collect()
                n_rows = len(shown) if not limit else df.count()
            else:
                # W3C result serializations (parj_spark.query.results);
                # the same URI-shape rule as export/FILTER types the terms
                from parj_spark.query import results as res

                ser = {"json": res.to_sparql_json, "csv": res.to_csv,
                       "tsv": res.to_tsv}[fmt]
                serialized = ser(df, limit or None)
                n_rows = df.count()
        else:
            n_rows = df.count()
        times_ms.append((time.monotonic() - t0) * 1000.0)
    if serialized is not None:
        print(serialized, end="" if serialized.endswith("\n") else "\n")
    if shown is not None:
        for row in shown:
            print("\t".join("" if v is None else str(v) for v in row))
        if limit and n_rows > limit:
            print(f"... ({n_rows - limit} more rows)")
    return {
        "rows": n_rows,
        "reps": reps,
        "ms_min": round(min(times_ms), 1),
        "ms_avg": round(sum(times_ms) / len(times_ms), 1),
        "ms_max": round(max(times_ms), 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Run SPARQL queries against a materialized graph dir."
    )
    ap.add_argument("graph_dir", help="graph directory (run_pipeline output)")
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--file", help="query file, one query per line "
                     f"(lines < {MIN_QUERY_CHARS} chars ignored)")
    src.add_argument("--query", help="a single SPARQL query string")
    src.add_argument("--update", help="apply a SPARQL 1.1 Update request "
                     "(INSERT/DELETE DATA, DELETE WHERE, DELETE..INSERT.."
                     "WHERE; ';'-separated) as merge-on-read deltas")
    ap.add_argument("--stream-dir", default=None,
                    help="delta directory for --update and the live query "
                    "view (default <graph_dir>/_updates)")
    ap.add_argument("--compact", action="store_true",
                    help="with --update: fold the deltas into the base "
                    "sorted/bucketed layout after applying")
    ap.add_argument("--reps", type=int, default=None,
                    help="timed reps per query (default 1; 11 in file mode, "
                    "the reference's protocol)")
    ap.add_argument("--no-decode", dest="decode", action="store_false",
                    default=True, help="skip dictionary lookups: return "
                    "encoded ids (reference lookups=false)")
    ap.add_argument("--print-results", action="store_true",
                    help="print result rows (first rep)")
    ap.add_argument("--limit", type=int, default=20,
                    help="max rows printed with --print-results (0 = all)")
    ap.add_argument("--format", dest="fmt", default="table",
                    choices=("table", "json", "csv", "tsv"),
                    help="result serialization with --print-results: plain "
                    "rows (default) or W3C SPARQL 1.1 results JSON/CSV/TSV")
    ap.add_argument("--strict", action="store_true",
                    help="reference parity mode: reject FILTER/UNION/... "
                    "like DagCreator.java:170-171")
    ap.add_argument("--nquads", action="store_true",
                    help="treat graph_dir as an N-Quads file/dir and query "
                    "it directly (string-triples path) with GRAPH / FROM "
                    "named-graph support — no materialize step needed")
    ap.add_argument("--explain", action="store_true",
                    help="print the planner's join-order/access-path report "
                    "for each query's core BGP before running it")
    ap.add_argument("--no-warmup", dest="warmup", action="store_false",
                    default=True)
    ap.add_argument("--no-analyze", dest="analyze", action="store_false",
                    default=True, help="skip on-demand statistics build")
    ap.add_argument("--json", dest="json_path",
                    help="also write per-query summaries to this JSON file")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from parj_spark.construct.pipeline import GraphStore, analyze_graph

    # under spark-submit the session config comes from the submit command;
    # getOrCreate() attaches to it (plain builder keeps cluster masters
    # intact; local smoke runs get defaults)
    spark = SparkSession.builder.appName("parj_spark_query").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    stream_dir = args.stream_dir or os.path.join(args.graph_dir, "_updates")

    if args.nquads and (args.update or args.strict or args.explain):
        print("  REJECTED: --nquads is direct extension-surface querying — "
              "it has no update path, no parity mode (GRAPH is itself an "
              "extension) and no stats-driven plan report", file=sys.stderr)
        sys.exit(2)

    if args.update:
        base = GraphStore(spark, args.graph_dir)
        try:
            s = run_update(base, stream_dir, args.update,
                           strict=args.strict, compact=args.compact)
        except ValueError as e:
            print(f"  REJECTED: {e}", file=sys.stderr)
            sys.exit(2)
        print(f"  {s['live_triples']} live triples | "
              f"apply {s['ms_apply']} ms"
              + (f" | compact {s['ms_compact']} ms" if s["compacted"] else
                 f" (deltas under {stream_dir}; --compact to fold)"))
        if args.json_path:
            with open(args.json_path, "w") as f:
                json.dump([s], f, indent=1)
        spark.stop()
        return

    if args.nquads:
        from parj_spark.construct.rdf_io import read_nquads

        quads = (
            read_nquads(spark, args.graph_dir)
            .withColumnsRenamed(
                {"s_uri": "s", "p_uri": "p", "o_uri": "o", "g_uri": "g"}
            )
            .cache()
        )
        print(f"{quads.count()} statements loaded from {args.graph_dir} "
              "(named-graph querying enabled)", file=sys.stderr)
        engine = QuadsEngine(quads)
    else:
        store = live_store(spark, args.graph_dir, stream_dir)
        if getattr(store, "stream_dir", None):
            print(f"serving the live merge-on-read view (un-compacted deltas "
                  f"under {stream_dir})", file=sys.stderr)
        if args.analyze and store.join_stats() is None:
            # reference behavior when histograms.json is absent
            # (QueryTester.java:126-139): analyze now, then serve queries
            print("Database statistics are missing. Analyzing graph "
                  "(this may take some time...)", file=sys.stderr)
            t0 = time.monotonic()
            analyze_graph(store)
            print(f"analyze done in {time.monotonic() - t0:.1f}s",
                  file=sys.stderr)

        from parj_spark.query.bgp import BGPEngine

        t0 = time.monotonic()
        engine = BGPEngine(store)
        print(f"engine ready in {(time.monotonic() - t0) * 1000:.0f} ms "
              f"(layout: "
              f"{'bucketed' if engine.bucketed_prefix else 'partitioned'})",
              file=sys.stderr)

    if args.file:
        queries = read_query_file(args.file)
        reps = args.reps or 11
    elif args.query:
        queries = [args.query]
        reps = args.reps or 1
    else:
        queries = None  # interactive
        reps = args.reps or 1

    summaries: list[dict] = []

    def serve(text: str, warm: bool) -> None:
        if warm:
            # warmUpJVM analog: one untimed run primes codegen + caches
            engine.sparql(text, decode=False,
                          **({} if args.strict else EXTENSIONS)).count()
        print(text)
        if args.explain:
            try:
                print(engine.explain_sparql(
                    text, **({} if args.strict else EXTENSIONS)))
            except ValueError as e:
                print(f"  REJECTED: {e}")
                summaries.append({"query": text, "error": str(e)})
                return
        try:
            s = run_one(engine, text, decode=args.decode, strict=args.strict,
                        reps=reps, print_results=args.print_results,
                        limit=args.limit, fmt=args.fmt)
        except ValueError as e:
            print(f"  REJECTED: {e}")
            summaries.append({"query": text, "error": str(e)})
            return
        print(f"  {s['rows']} rows | {reps} reps | "
              f"min {s['ms_min']} ms, avg {s['ms_avg']} ms, "
              f"max {s['ms_max']} ms")
        summaries.append({"query": text, **s})

    if queries is not None:
        for i, q in enumerate(queries):
            serve(q, warm=args.warmup and i == 0)
    else:
        print("Enter one SPARQL query per line (blank line or EOF to quit):",
              file=sys.stderr)
        first = True
        for line in sys.stdin:
            line = line.strip()
            if not line:
                break
            serve(line, warm=args.warmup and first)
            first = False

    if args.json_path:
        with open(args.json_path, "w") as f:
            json.dump(summaries, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
