"""spark-submit entry point for the KG pipeline.

Cluster usage (north_rule: spark-submit --py-files on multi-executor):

    python -c "from cdrc_semantic_search_spark.session import package_zip; print(package_zip())"
    spark-submit --py-files /tmp/cdrc_semantic_search_spark_pkg_<pid>.zip \\
        scripts/run_pipeline.py \\
        --transcripts s3://bucket/transcripts/ \\
        --entities s3://bucket/entity_catalogue.parquet \\
        --output s3://bucket/kg/ \\
        [--partitioned]  [--resume]  [--with-graph]

Local smoke (no cluster): plain `python scripts/run_pipeline.py ...` —
the session factory ships the package zip to executors itself.

``--partitioned`` runs bucket-by-bucket with per-partition ledger commits
(idempotent resume via ``--resume``); default is a single materialize.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True, help="parquet dir (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--entities", required=True, help="entity catalogue parquet")
    ap.add_argument("--output", required=True, help="catalog root for kg tables")
    ap.add_argument("--partitioned", action="store_true", help="per-bucket commits")
    ap.add_argument("--resume", action="store_true", help="skip committed buckets")
    ap.add_argument(
        "--with-graph", action="store_true",
        help="also commit per-bucket edge/node deltas (log-structured "
        "graph maintenance; read via compacted_edges/compacted_nodes)",
    )
    ap.add_argument("--cores", type=int, help="local slots (default: SPARK_GRAFT_CPUS or all CPUs)")
    args = ap.parse_args()
    if args.with_graph and not args.partitioned:
        ap.error("--with-graph requires --partitioned (delta commits are "
                 "per-bucket; plain materialize already writes the full "
                 "kg_edges/kg_nodes tables)")

    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
    from cdrc_semantic_search_spark.session import get_spark
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

    spark = get_spark(app_name="kg-pipeline", parallelism=args.cores)
    transcripts = spark.read.parquet(args.transcripts)
    entities = spark.read.parquet(args.entities).toPandas()
    pipe = KGPipeline(spark, entities, Settings())
    catalog = ParquetTableCatalog(args.output)

    t0 = time.time()
    if args.partitioned:
        ran = pipe.run_partitioned(
            transcripts, catalog,
            source_snapshot=args.transcripts, resume=args.resume,
            with_graph=args.with_graph,
        )
        out = {"mode": "partitioned", "buckets_run": ran}
    else:
        out = {"mode": "materialize", "counts": pipe.materialize(transcripts, catalog)}
    out["sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
