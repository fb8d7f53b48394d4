#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline.

Cluster usage (north_rule: "runs via spark-submit --py-files"):

    python scripts/package.py                       # builds dist/parj_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/parj_spark.zip \\
        scripts/submit_pipeline.py \\
        --input  s3://bucket/docs/   \\
        --output s3://bucket/graph/  [--resume]

Local smoke (generates a synthetic corpus instead of reading one):

    python scripts/submit_pipeline.py --gen-depts 200 --output /tmp/kg
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of (doc_id, spans) documents")
    ap.add_argument("--output", required=True, help="graph output dir")
    ap.add_argument("--gen-depts", type=int, help="generate synthetic corpus instead")
    ap.add_argument("--resume", action="store_true", default=True)
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    ap.add_argument(
        "--join-buckets", type=int, default=None,
        help="cap on the bucket count of the bucketed permutation tables; "
        "a graph gets one bucket per 100k triples up to this cap (default "
        "32). Size the cap to ~cluster cores at deploy scale: a "
        "1000-executor run wants O(executor cores), e.g. 2048 — buckets "
        "bound the scan/join parallelism of every shuffle-free BGP join",
    )
    ap.add_argument(
        "--sameas", default=None, metavar="PRED",
        help="fold owl:sameAs-style entity clusters onto one representative "
        "before entailment/encoding (pass the sameAs predicate URI, e.g. "
        "owl:sameAs)",
    )
    ap.add_argument(
        "--validate", default=None, metavar="JSON",
        help="persist a SHACL-lite violation report as the 'violations' "
        "table (JSON of validation_report keywords, e.g. "
        '\'{"func_preds": ["urn:hasHead"], "uri_prefix": "urn:"}\'); '
        "report-only — the triple stream is unchanged",
    )
    ap.add_argument(
        "--entail", choices=["off", "prefixed", "w3c"], default="off",
        help="materialize the RDFS closure (rdfs2/3/5/7/9/11) before "
        "encoding: 'prefixed' = rdf:/rdfs: vocabulary (the fixture "
        "corpus), 'w3c' = full-URI vocabulary (imported RDF)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from parj_spark.construct import run_pipeline
    from parj_spark.construct.lineage import read_lineage

    # under spark-submit the session config comes from the submit command;
    # builder.getOrCreate() attaches to it (local fallback for smoke runs)
    spark = SparkSession.builder.appName("parj_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.gen_depts:
        from parj_spark.fixtures import gen_corpus

        docs, _ = gen_corpus(spark, n_depts=args.gen_depts, seed=42)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --gen-depts is required")

    from parj_spark.construct import materialize as _mat

    if args.entail == "w3c":
        from parj_spark.construct import reason

        entail = reason.W3C_VOCAB
    else:
        entail = args.entail == "prefixed"

    store = run_pipeline(
        spark, docs, args.output, resume=args.resume,
        n_buckets=args.join_buckets or _mat.DEFAULT_JOIN_BUCKETS,
        entail=entail,
        sameas=args.sameas,
        validate=json.loads(args.validate) if args.validate else None,
    )
    n = store.spo().count()
    print(f"graph materialized at {args.output}: {n} triples")
    for rec in read_lineage(args.output):
        print("  lineage:", rec)


if __name__ == "__main__":
    main()
