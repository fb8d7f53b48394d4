"""The ``graph`` workload: build a KG, then serve one client's reads and
updates against it.

Set-up runs the construct pipeline over a seeded document corpus, the
statistics pass and the query engine's initialisation. The measured loop
repeats whole cycles until the run's time is up; one cycle is

1. one SPARQL SELECT per read template over the current graph;
2. one SPARQL Update request: a DELETE/INSERT WHERE moving a department's
   undergraduates, then an INSERT DATA of new students;
3. one read over the live view the update returned;
4. the library's compaction policy at its default ratio, after which the
   next cycle reads the compacted graph or the live view.

A cycle's update stays well under the policy's ratio, so a run of one or
two cycles does not compact: a compaction rewrites the whole layout and
re-analyzes it, which would double the run's length.

Every read is checked against DuckDB over the same triples, and the live
view's triple set is checked against the DuckDB state after every update
and every compaction. Checks run outside the timed requests.
"""

from __future__ import annotations

import os
import time

from inputs import GRAPH_DEPTS, Streams, corpus, gold_triples
from oracles import GraphOracle, rows_digest
from tracing import log, median, warm_python_workers

_PARSE_FLAGS = {"aggregates": "allow_aggregates", "paths": "allow_paths", "filters": "allow_filter"}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _plan_counts(df) -> dict[str, int]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return {
        "smj": plan.count("SortMergeJoin") // 2,
        "bhj": plan.count("BroadcastHashJoin") // 2,
        "exchanges": plan.count("Exchange hashpartitioning") // 2,
        "dict_scans": plan.count("dict_stage") // 2,
    }


class GraphWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.lat: dict[str, list[float]] = {k: [] for k in ("read", "readback", "update", "compact")}
        self.tpl_lat: dict[str, list[float]] = {}
        self.plans: dict[str, dict[str, int]] = {}
        self.rows_out: list[int] = []
        self.parse_s: list[float] = []
        self.compactions = 0
        self.delta_ratio_max = 0.0
        self.stream_bytes = 0
        self.changed = 0
        self.req = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> float:
        from parj_spark.construct.pipeline import analyze_graph, run_pipeline
        from parj_spark.fixtures.generator import DOCS_SCHEMA
        from parj_spark.query.bgp import BGPEngine

        spark, tr = self.ctx.spark, self.tr
        with tr.span("fixtures:corpus"):
            rows = corpus(GRAPH_DEPTS, self.ctx.seed)
            log(f"{len(rows)} documents generated")
            docs = spark.createDataFrame(rows, DOCS_SCHEMA).cache()
            docs.count()
            log("documents cached")
            warm_python_workers(spark)
            log("python workers up")
        self.out_dir = os.path.join(self.ctx.work, "graph")
        self.stream_dir = os.path.join(self.ctx.work, "stream")
        t0 = time.perf_counter()
        with tr.span("construct:run_pipeline"):
            self.base = run_pipeline(spark, docs, self.out_dir, resume=False, analyze=False)
        self.construct_s = time.perf_counter() - t0
        with tr.span("stats:analyze_graph"):
            analyze_graph(self.base, resume=False)
        self.analyze_s = time.perf_counter() - t0 - self.construct_s
        with tr.span("query.bgp:BGPEngine"):
            self.engine = BGPEngine(self.base)
        setup = time.perf_counter() - t0
        docs.unpersist()
        return setup

    def check_setup(self) -> list[str]:
        """Load the built graph into the oracle, and hold its triples to the
        construct gate: precision and recall against the fixture's gold
        triples at least 0.95."""
        got = {tuple(r) for r in self.base.decoded_triples().collect()}
        self.oracle = GraphOracle(got, self.ctx.tmp)
        gold = gold_triples(GRAPH_DEPTS)
        tp = len(got & gold)
        if tp < 0.95 * len(got) or tp < 0.95 * len(gold):
            return [f"construct P/R below 0.95: tp={tp} got={len(got)} gold={len(gold)}"]
        return []

    def warm_up(self) -> None:
        r = Streams(self.ctx.seed + 1_000_003).reads()[0]
        self.engine.sparql(r.sparql, **dict(r.flags)).collect()

    # -- requests -------------------------------------------------------------

    def _read(self, engine, r, layer: str):
        """One read: plan (the lazy ``sparql`` call, which parses), execute,
        and deliver the decoded rows to the driver."""
        with self.tr.span(f"{layer}:sparql", self.req):
            df = engine.sparql(r.sparql, **dict(r.flags))
        with self.tr.span(f"{layer}:collect", self.req):
            rows = df.collect()
        return df, [tuple(row[c] for c in r.cols) for row in rows]

    def _trace_read(self, r, df) -> None:
        """Traced runs only, after the request: the parse on its own (the
        plan span includes the same parse) and the plan's node counts."""
        from parj_spark.query.sparql import parse_sparql

        with self.tr.span("query.sparql:parse_sparql", self.req) as s:
            parse_sparql(r.sparql, **{_PARSE_FLAGS[k]: v for k, v in r.flags})
        self.parse_s.append(s["end"] - s["start"])
        if r.template not in self.plans:
            self.plans[r.template] = _plan_counts(df)

    def _check_rows(self, r, rows) -> list[str]:
        got, want = rows_digest(rows), self.oracle.expect(r)
        if got != want:
            return [f"{r.template}: rows {got} != oracle {want} for {r.sparql}"]
        return []

    def _check_graph(self, store, what: str) -> list[str]:
        got = {tuple(x) for x in store.decoded_triples().collect()}
        want = self.oracle.triples()
        if got != want:
            return [f"after {what}: {len(got - want)} extra, {len(want - got)} missing triples"]
        return []

    def cycle(self, n: int, outcome) -> None:
        from parj_spark.query.bgp import BGPEngine
        from parj_spark.query.update import apply_update
        from parj_spark.streaming import StreamedGraphStore, delta_ratio, maybe_compact

        tr = self.tr
        streams = self.streams
        if self.engine is None:
            view = StreamedGraphStore(self.ctx.spark, self.base.out_dir, stream_dir=self.stream_dir)
            with tr.span("query.bgp:BGPEngine"):
                self.engine = BGPEngine(view)
        for r in streams.reads():
            self.req += 1
            t0 = time.perf_counter()
            res = outcome.run(lambda r=r: self._read(self.engine, r, "query.bgp"))
            if res is None:
                continue
            dt = time.perf_counter() - t0
            df, rows = res
            if tr.enabled:
                self._trace_read(r, df)
            self.lat["read"].append(dt)
            self.tpl_lat.setdefault(r.template, []).append(dt)
            self.rows_out.append(len(rows))
            with outcome.untimed():
                outcome.check(self._check_rows(r, rows))
        log(f"reads done ({len(self.lat['read'])} so far)")

        u = streams.update(n)
        with outcome.untimed():
            before = _dir_bytes(self.stream_dir)
        self.req += 1
        t0 = time.perf_counter()

        def update():
            with tr.span("query.update:apply_update", self.req):
                return apply_update(self.base, self.stream_dir, u.sparql)

        view = outcome.run(update)
        if view is None:
            return
        self.lat["update"].append(time.perf_counter() - t0)
        log(f"update applied in {self.lat['update'][-1]:.1f}s")
        with outcome.untimed():
            self.stream_bytes += _dir_bytes(self.stream_dir) - before
            self.changed += self.oracle.apply(u)
            outcome.check(self._check_graph(view, "update"))
            self.delta_ratio_max = max(self.delta_ratio_max, delta_ratio(self.base, self.stream_dir))

        def readback():
            # a client reading after its update opens an engine on the view
            with tr.span("streaming:BGPEngine", self.req):
                eng = BGPEngine(view)
            return self._read(eng, u.readback, "streaming")

        self.req += 1
        t0 = time.perf_counter()
        res = outcome.run(readback)
        if res is not None:
            self.lat["readback"].append(time.perf_counter() - t0)
            df, rows = res
            if tr.enabled:
                self._trace_read(u.readback, df)
            with outcome.untimed():
                outcome.check(self._check_rows(u.readback, rows))

        t0 = time.perf_counter()

        def compact():
            with tr.span("streaming:maybe_compact"):
                store, done = maybe_compact(self.base, self.stream_dir)
            if done:
                with tr.span("query.bgp:BGPEngine"):
                    self.engine = BGPEngine(store)
            return store, done

        res = outcome.run(compact)
        if res is None:
            return
        store, done = res
        if done:
            self.lat["compact"].append(time.perf_counter() - t0)
            log(f"compacted in {self.lat['compact'][-1]:.1f}s")
            self.compactions += 1
            self.base = store
            with outcome.untimed():
                outcome.check(self._check_graph(store, "compaction"))
        else:
            self.engine = None  # the next cycle reads through the live view

    # -- results --------------------------------------------------------------

    def info(self) -> dict[str, tuple[float, str]]:
        lat = self.lat
        return {
            "construct_s": (self.construct_s, "s"),
            "analyze_s": (self.analyze_s, "s"),
            "query_p50_s": (median(lat["read"]), "s"),
            "query_samples": (len(lat["read"]), "count"),
            "update_p50_s": (median(lat["update"]), "s"),
            "read_after_update_p50_s": (median(lat["readback"]), "s"),
            "compact_s": (median(lat["compact"]), "s"),
            "compactions": (self.compactions, "count"),
            "update_bytes_per_triple": (self.stream_bytes / max(1, self.changed), "B"),
        }

    def per_layer(self) -> dict[str, float]:
        from parj_spark.construct.lineage import read_lineage

        tr = self.tr
        m: dict[str, float] = {}
        stages = {}
        for row in read_lineage(self.out_dir):
            stages.setdefault(row["stage"], row)
        cc = stages.get("canonicalize_iters", {})
        m["construct.mentions_s"] = stages.get("mentions", {}).get("wall_sec", 0.0)
        m["construct.canon_map_s"] = stages.get("canon_map", {}).get("wall_sec", 0.0)
        m["construct.cc_s"] = cc.get("cc_sec", 0.0)
        m["construct.cc_iters"] = cc.get("iters", 0)
        m["construct.cc_edges"] = cc.get("rows_in", 0)
        m["construct.triples_uri_s"] = stages.get("triples_uri", {}).get("wall_sec", 0.0)
        m["construct.dict_s"] = sum(
            r.get("wall_sec", 0.0) for k, r in stages.items() if k.startswith("dict")
        )
        m["construct.materialize_s"] = sum(
            r.get("wall_sec", 0.0)
            for k, r in stages.items()
            if k not in ("mentions", "canon_map", "canonicalize_iters", "triples_uri", "analyze")
            and not k.startswith("dict")
        )
        m["construct.rungs"] = sum(1 for k in stages if k not in ("canonicalize_iters", "analyze"))
        (c,) = tr.named("construct:run_pipeline")
        inc = c["spark_inclusive"]
        for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s"):
            m[f"construct.{k}"] = inc[k]
        (a,) = tr.named("stats:analyze_graph")
        m["stats.analyze_s"] = a["dur_s"]
        m["stats.analyze_jobs"] = a["spark_inclusive"]["jobs"]
        m["stats.analyze_shuffle_bytes"] = a["spark_inclusive"]["shuffle_bytes"]
        m["stats.analyze_gc_s"] = a["spark_inclusive"]["gc_s"]

        def per_req(name, key):
            return median([s["spark_inclusive"][key] for s in tr.named(name)])

        inits = tr.named("query.bgp:BGPEngine")
        m["query.engine_init_s"] = inits[0]["dur_s"]
        m["query.parse_s"] = median(self.parse_s)
        m["query.plan_s"] = median([s["dur_s"] for s in tr.named("query.bgp:sparql")])
        m["query.exec_s"] = median([s["dur_s"] for s in tr.named("query.bgp:collect")])
        m["query.jobs_per_query"] = per_req("query.bgp:collect", "jobs")
        m["query.tasks_per_query"] = per_req("query.bgp:collect", "tasks")
        m["query.shuffle_bytes_per_query"] = per_req("query.bgp:collect", "shuffle_bytes")
        m["query.p50_s"] = median(self.lat["read"])
        m["query.rows_out"] = sum(self.rows_out)
        for t, xs in self.tpl_lat.items():
            m[f"query.tpl.{t}.p50_s"] = median(xs)
        for t, counts in self.plans.items():
            for k, v in counts.items():
                m[f"query.tpl.{t}.{k}"] = v
        m["update.p50_s"] = median(self.lat["update"])
        m["update.jobs_per_request"] = per_req("query.update:apply_update", "jobs")
        m["update.stream_bytes"] = self.stream_bytes
        m["update.bytes_per_triple"] = self.stream_bytes / max(1, self.changed)
        m["streaming.delta_ratio_max"] = self.delta_ratio_max
        m["streaming.read_after_update_p50_s"] = median(self.lat["readback"])
        m["streaming.read_plan_s"] = median(
            [s["dur_s"] for s in tr.named("streaming:BGPEngine")]
        ) + median([s["dur_s"] for s in tr.named("streaming:sparql")])
        m["streaming.read_exec_s"] = median([s["dur_s"] for s in tr.named("streaming:collect")])
        m["streaming.read_jobs_per_query"] = per_req("streaming:collect", "jobs")
        m["streaming.compactions"] = self.compactions
        m["streaming.compact_s"] = median(self.lat["compact"])
        return m


def run(ctx, outcome) -> dict:
    w = GraphWorkload(ctx)
    setup = w.setup()
    log(f"graph built in {setup:.1f}s")
    outcome.verify(w.check_setup())
    log("construct checked")
    w.streams = Streams(ctx.seed)
    w.warm_up()
    log("warmed up")
    cycles = []
    t_start, u_start = time.perf_counter(), outcome.untimed_s
    n = 0
    while n == 0 or time.perf_counter() - t_start - (outcome.untimed_s - u_start) < ctx.seconds:
        t0, u0 = time.perf_counter(), outcome.untimed_s
        w.cycle(n, outcome)
        cycles.append(time.perf_counter() - t0 - (outcome.untimed_s - u0))
        n += 1
    log(f"graph: {n} cycle(s), {w.req} requests")
    w.oracle.close()
    return {
        "setup": setup,
        "cycle_s": median(cycles),
        "info": w.info(),
        "per_layer": w.per_layer if ctx.tracer.enabled else None,
    }
