"""Seeded, self-checking benchmark of the parj_spark KG engine.

    python3 kgbench/run.py --workload graph --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one Spark session in local mode
over every core the process may use, one closed-loop client. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, where the metrics are the ``end_to_end`` ones of
``BENCHMARK.json`` with ``--trace 0`` and the ``per_layer`` ones with
``--trace 1`` (a separate, traced run). The line before it names the
workload's own figures with their units.

Everything the run writes stays under ``.kgbench_work/`` (removed at exit)
and ``.kgbench_out/`` (the traced run's spans) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Outcome:
    """Operations attempted and failed; time spent outside the measurement."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.untimed_s = 0.0

    def run(self, fn):
        """One operation: its result, or None when it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, errors: list[str]) -> None:
        """The verdict on the last operation run."""
        if errors:
            self.failed += 1
            for e in errors:
                print(f"CHECK FAILED: {e}", file=sys.stderr)

    def verify(self, errors: list[str]) -> None:
        """A check that is an operation of its own."""
        self.attempted += 1
        self.check(errors)

    @contextmanager
    def untimed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0


class Context:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.spark = None
        self.tracer = None


def _pin_environment(work: str, tmp: str) -> int:
    """Fix every knob the engine reads from the environment."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)  # the engine's own default
    # local mode: the driver heap holds the executors too; a quarter of the
    # machine leaves room for the Python workers, capped at 4 GB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, mem_gb // 4))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return cpus


def _stop(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["graph", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "parj_spark")):
        print(f"kgbench: no parj_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    ctx = Context(args, work)
    os.makedirs(ctx.tmp, exist_ok=True)
    cpus = _pin_environment(work, ctx.tmp)
    sys.path[:0] = [ROOT, HERE]

    import curate
    import graph
    from tracing import Tracer, log

    outcome = Outcome()
    try:
        from parj_spark.session import get_spark

        t0 = time.perf_counter()
        ctx.spark = get_spark(
            app=f"kgbench-{args.workload}",
            cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # no hsperfdata file under /tmp: the run writes only here
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp} -XX:-UsePerfData",
                # keep every job and stage of a run for the traced read-out
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        session_s = time.perf_counter() - t0
        log(f"session up in {session_s:.1f}s")
        ctx.tracer = Tracer(ctx.spark.sparkContext, bool(args.trace))
        res = {"graph": graph.run, "curate": curate.run}[args.workload](ctx, outcome)
        e2e = {"setup_s": session_s + res["setup"], "cycle_s": res["cycle_s"]}
        if args.trace:
            out_dir = os.path.join(ROOT, ".kgbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.finish(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
            values = res["per_layer"]()
            values["session.start_s"] = session_s
            for layer, s in ctx.tracer.layer_self_s().items():
                if layer != "fixtures":  # input generation, not program work
                    values[f"layer.{layer}.self_s"] = s
            for k, v in e2e.items():
                values[f"traced.{k}"] = v
            wanted = spec["per_layer"]
        else:
            values = e2e
            wanted = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        }
        unknown = sorted(set(values) - set(metrics))
        if unknown:
            print(f"kgbench: metrics not in BENCHMARK.json: {unknown}", file=sys.stderr)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    info = {k: {"value": round(v, 6), "unit": u} for k, (v, u) in res["info"].items()}
    env = {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")}
    print(f"{args.workload} seed={args.seed} env={json.dumps(env)} " + json.dumps(info))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
