#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1.4): isolates the heavy
bench queries with the noop sink so computation is timed without the sink,
at an arbitrary data directory (including synthetic driver-scale copies).

NOT part of the frozen driver contract — bench.py stays the measured
artifact; this file exists so before/after numbers for individual operators
can be taken at the driver's escalated scale (sf1.0-like) without running
the whole suite.

Usage:
  python bench_extra.py [--dir DIR] [--reps N] [--only name1,name2]
  python bench_extra.py --explain name --out plans/r06/name_before.txt

Env: SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import time

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from parj_spark.session import get_spark  # noqa: E402
from parj_spark import contract  # noqa: E402
from bench import BENCH_EXTRA  # noqa: E402

# bench.py's BENCH_EXTRA + the heavy HEADLINE entries, by name
QUERIES = {
    **BENCH_EXTRA,
    "dedup_substring": lambda spark, d: contract.dedup_substring(spark, d),
    "dedup_simhash": lambda spark, d: contract.dedup_simhash(spark, d),
    "dedup_exact": lambda spark, d: contract.dedup_exact(spark, d),
    "kg_transitive_closure": lambda spark, d: contract.QUERIES[
        "kg_transitive_closure"
    ](spark, d),
    "kg_sparql_update": lambda spark, d: contract.QUERIES["kg_sparql_update"](spark, d),
    "kg_sparql_path": contract.QUERIES["kg_sparql_path"],
    "kg_sparql_path_star": contract.QUERIES["kg_sparql_path_star"],
    "q03_top_revenue_orders": lambda spark, d: contract.QUERIES[
        "q03_top_revenue_orders"
    ](spark, d),
    "q10_window_topk": lambda spark, d: contract.QUERIES["q10_window_topk"](spark, d),
    "sim_cosine_topk": lambda spark, d: contract.QUERIES["sim_cosine_topk"](spark, d),
    "text_repetition": lambda spark, d: contract.QUERIES["text_repetition"](spark, d),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--only", default=None)
    ap.add_argument("--explain", default=None, help="write formatted plan for one query")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app="bench_extra")
    if args.explain:
        df = QUERIES[args.explain](spark, args.dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if args.out:
            os.makedirs(os.path.dirname(args.out), exist_ok=True)
            with open(args.out, "w") as f:
                f.write(plan)
            print(f"wrote {args.out}")
        else:
            print(plan)
        return

    names = args.only.split(",") if args.only else list(QUERIES)
    results = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        runs = []
        for rep in range(args.reps):
            t0 = time.time()
            df = fn(spark, args.dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = {"runs": runs, "min": min(runs[1:] if len(runs) > 1 else runs)}
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({"dir": args.dir, "results": results}))


if __name__ == "__main__":
    main()
