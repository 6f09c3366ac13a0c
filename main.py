#!/usr/bin/env python
"""spark-submit entrypoint for the dedup pipeline.

Cluster:
  spark-submit --py-files co_deduplicate_spark.zip main.py \\
      --input /data/pages_iceberg_or_parquet --workdir /data/dedup_work \\
      --engines minhash,simhash,substring

Local smoke:
  python main.py --input synth:100000 --workdir /tmp/dedup_work

The job is idempotently resumable: re-running with the same config skips
completed stages (config-hash manifests); pass --no-resume to force
recompute. LSH buckets larger than DedupConfig.band_bucket_cap are
star-reduced (operators/lsh.py); exact cliques for every bucket take a
cap at least as large as the largest bucket, through the API. Prints one
JSON line of run stats.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description="co_deduplicate_spark batch dedup pipeline")
    p.add_argument("--input", required=True,
                   help="pages table: parquet/iceberg path, or synth:N for the synthetic corpus")
    p.add_argument("--workdir", required=True, help="stage-table directory (checkpoint/resume root)")
    p.add_argument("--engines", default="minhash",
                   help="comma list of minhash,simhash,substring,rules,window "
                        "(default minhash; rules uses the built-in page "
                        "scenario spec unless run_pipeline is called with "
                        "a custom RuleEngineSpec; the ann engine needs an "
                        "embeddings DataFrame and is API-only)")
    p.add_argument("--no-resume", action="store_true", help="ignore existing stage manifests")
    p.add_argument("--enriched", action="store_true",
                   help="also write the per-record enriched table (business view "
                        "stored as the stage table <workdir>/enriched)")
    p.add_argument("--session-name", default=None, help="crawl-session stamp for edge provenance")
    p.add_argument("--cores", type=int, default=None, help="local-mode cores (ignored under spark-submit)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from co_deduplicate_spark.config import DedupConfig
    from co_deduplicate_spark.plans.pipeline import run_pipeline

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active  # spark-submit / existing session owns the config
    else:
        from co_deduplicate_spark.session import build_session

        spark = build_session("co_deduplicate_pipeline", cores=args.cores)

    cfg = DedupConfig(session_name=args.session_name) if args.session_name else DedupConfig()

    if args.input.startswith("synth:"):
        from co_deduplicate_spark.sources.pages import synth_pages

        pages = synth_pages(spark, int(args.input.split(":", 1)[1]))
    elif args.input.startswith("iceberg:"):
        pages = spark.read.format("iceberg").load(args.input.split(":", 1)[1])
    else:
        pages = spark.read.parquet(args.input)

    engines = tuple(e.strip() for e in args.engines.split(",") if e.strip())
    t0 = time.time()
    out = run_pipeline(
        spark, pages, args.workdir, cfg,
        resume=not args.no_resume,
        engines=engines, enriched=args.enriched,
    )
    from pyspark.sql import functions as F

    stats = out["clusters"].select(
        F.count(F.lit(1)).alias("clusters"),
        F.sum(F.col("is_duplicate").cast("long")).alias("duplicate_clusters"),
        F.sum(F.when(F.col("is_duplicate"), F.col("size")).otherwise(0)).alias("duplicate_docs"),
        F.max("size").alias("largest_cluster"),
    ).collect()[0]
    wall = time.time() - t0
    n_docs = out["corpus"].count()
    print(json.dumps({
        "docs": n_docs,
        "engines": list(engines),
        "clusters": stats["clusters"],
        "duplicate_clusters": int(stats["duplicate_clusters"]),
        "duplicate_docs": int(stats["duplicate_docs"]),
        "largest_cluster": stats["largest_cluster"],
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "config_hash": cfg.config_hash(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
