"""spark-submit entry point for the frontier crawler.

    spark-submit --py-files xidel_spark.zip tools/run_crawl.py \
        --links  s3://bucket/links.parquet \
        --seeds  s3://bucket/seeds.parquet \
        --store  s3://bucket/crawl-state \
        --max-depth 8 --wait-ms 200 --bloom

Builds the package zip on the fly when run locally (python tools/run_crawl.py
--demo runs the sf0.001 synthetic corpus end-to-end).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--links", help="parquet of (src, idx, dst)")
    ap.add_argument("--seeds", help="parquet of (url, seed_idx)")
    ap.add_argument("--store", help="checkpoint root (resume if manifests exist)")
    ap.add_argument("--max-depth", type=int, default=1 << 30)
    ap.add_argument("--wait-ms", type=int, default=0)
    ap.add_argument("--bloom", action="store_true", help="Bloom pre-filter on from wave 1 (default: auto)")
    ap.add_argument("--robots", help="parquet of (host, prefix, allow)")
    ap.add_argument("--demo", action="store_true", help="run the sf0.001 synthetic corpus")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from xidel_spark.crawl.checkpoint import CrawlStateStore
    from xidel_spark.crawl.crawler import FrontierCrawler

    spark = SparkSession.builder.appName("xidel_spark_crawl").getOrCreate()

    if args.demo:
        from xidel_spark import corpus
        from xidel_spark.extract.links import extract_links

        docs = corpus.synth_docs(spark, "/root/testdata/sf0.001")
        links = extract_links(docs, "//a")
        seeds = corpus.synth_seeds(spark, "/root/testdata/sf0.001")
    else:
        if not (args.links and args.seeds):
            ap.error("--links and --seeds required (or --demo)")
        links = spark.read.parquet(args.links)
        seeds = spark.read.parquet(args.seeds)

    crawler = FrontierCrawler(
        spark,
        links,
        store=CrawlStateStore(args.store) if args.store else None,
        robots_rules=spark.read.parquet(args.robots) if args.robots else None,
        wait_ms=args.wait_ms,
        max_depth=args.max_depth,
        use_bloom=True if args.bloom else "auto",
    )
    run = crawler.run(seeds)
    print(json.dumps({"waves": run.waves, "seen": run.seen.count(), "metrics": run.metrics}))


if __name__ == "__main__":
    main()
