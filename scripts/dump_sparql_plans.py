"""Dump the encoded engine's optimized logical plans for a fixed query set.

Builds the 8-department fixture graph (``gen_corpus(n_depts=8, seed=42)``,
the test suite's ``tiny_graph``), opens a ``BGPEngine`` on it and writes,
for every kgbench read template (department 1, entity index 1) and every
``SEED_QUERIES`` entry of ``tests/test_sparql_differential.py``, the
``optimizedPlan()`` text of ``engine.sparql(text, **flags)``; then the plan
of the programmatic entry ``engine.query(..., decode=False)`` on
``bench.py``'s ``BGP_QUERIES["bgp_chain_member"]``, as ``bench.py``'s plan
audit builds it. Only plans are built; no query runs.

Two checkouts compare byte-for-byte: expression ids (``#123``) are
renumbered per plan in order of first appearance, the graph and working
directories are replaced by ``<graph>`` / ``<cwd>``, and the bucketed
table prefix (a hash of the graph directory) by ``kg_<graph>``.

Usage, from the root of the checkout whose code should be planned:
    python scripts/dump_sparql_plans.py OUT.txt [--work DIR]
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def _normalize(plan: str, graph_dir: str) -> str:
    plan = plan.replace(graph_dir, "<graph>").replace(ROOT, "<cwd>")
    plan = re.sub(r"\bkg_[0-9a-f]{10}_", "kg_<graph>_", plan)
    ids: dict[str, str] = {}
    return re.sub(r"#\d+", lambda m: ids.setdefault(m.group(), f"#{len(ids)}"), plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--work", default=None, help="graph build dir (default: a temp dir)")
    args = ap.parse_args()

    from kgbench.inputs import READ_TEMPLATES, read_request
    from parj_spark.construct.pipeline import run_pipeline
    from parj_spark.fixtures import gen_corpus
    from parj_spark.query import BGPEngine, parse_bgp
    from parj_spark.session import get_spark
    from test_sparql_differential import SEED_QUERIES

    work = args.work or tempfile.mkdtemp(prefix="sparql-plans-")
    graph_dir = os.path.join(work, "graph")
    shutil.rmtree(graph_dir, ignore_errors=True)
    spark = get_spark(app="dump_sparql_plans", cpus=4, shuffle_partitions=4)
    # bench.py defaults the driver memory for its own runs at import time;
    # imported after the session starts, that default does not apply here
    from bench import BGP_QUERIES

    docs, _ = gen_corpus(spark, n_depts=8, seed=42)
    engine = BGPEngine(run_pipeline(spark, docs.cache(), graph_dir, resume=False))

    queries = []
    for t in READ_TEMPLATES:
        r = read_request(t, 1, 1)
        queries.append((f"kgbench {t}", r.sparql, dict(r.flags)))
    for i, (text, flags) in enumerate(SEED_QUERIES):
        queries.append((f"seed {i}", text, flags))
    queries.append(("query() bgp_chain_member", BGP_QUERIES["bgp_chain_member"], None))

    with open(args.out, "w") as fh:
        for name, text, flags in queries:
            if flags is None:  # the programmatic entry, as bench.py calls it
                df = engine.query(parse_bgp(text), decode=False)
                flags = {"decode": False}
            else:
                df = engine.sparql(text, **flags)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            fh.write(f"=== {name}\n{text}\nflags: {sorted(flags.items())}\n")
            fh.write(_normalize(plan, graph_dir) + "\n")
    spark.stop()
    if args.work is None:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
