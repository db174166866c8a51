"""Scaling-efficiency evidence for the north rule.

Runs the SAME job on the SAME input at two parallelism levels (N and 4N
cores, separate JVMs) and reports throughput at both plus

    efficiency = (throughput_4N / throughput_N) / 4

Two workloads:
- "canonicalize": the extraction/canonicalization stage (vectorized Arrow
  UDF over 24M dirty URLs) — compute-bound, the stage that scales.
- "crawl": the full frontier wave loop (expansion join + dedup anti-join,
  8M-node graph, depth 6) — shuffle-bound; on a single box this saturates
  DRAM bandwidth (see BASELINE.md analysis), so its single-box efficiency
  understates a real multi-host cluster.

Usage: python tools/scaling.py [--workload canonicalize|crawl|both] [--n 2]
Results are recorded in BASELINE.md §Scaling evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CRAWL_RUNNER = """
import sys, time, json
sys.path.insert(0, {repo!r})
from xidel_spark.session import get_spark
import bench as B
from xidel_spark.crawl.crawler import FrontierCrawler
cpus = {cpus}
spark = get_spark("scaling", master=f"local[{{cpus}}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
n = {n_nodes}
links = B.bench_corpus_links(spark, n).localCheckpoint(eager=True)
seeds = B.bench_seeds(spark, n)
t0 = time.time()
run = FrontierCrawler(spark, links, max_depth=6).run(seeds)
el = time.time() - t0
sched = sum(m["candidates"] for m in run.metrics) + run.seen.count()
print(json.dumps({{"cpus": cpus, "elapsed_sec": round(el, 2),
                   "throughput": round(sched / el, 1), "unit": "urls/s"}}))
spark.stop()
"""

CANON_RUNNER = """
import sys, time, json
sys.path.insert(0, {repo!r})
from xidel_spark.session import get_spark
from pyspark.sql import functions as F
cpus = {cpus}
spark = get_spark("scaling", master=f"local[{{cpus}}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
from xidel_spark.urlnorm import canonicalize
n = {n_nodes}
base = spark.range(n).select(
    F.format_string("HTTP://H%03d.Example.COM:80/a/./x/../p/%d?b=2&a=1",
                    ((F.col("id")*F.col("id")) % 997).cast("long"), F.col("id")).alias("raw")
).repartition(cpus * 4).localCheckpoint(eager=True)
def run(): base.select(canonicalize(F.col("raw")).alias("c")).where(F.col("c").isNotNull()).count()
run()  # warm: JIT + python workers
t0 = time.time(); run(); el = time.time() - t0
print(json.dumps({{"cpus": cpus, "elapsed_sec": round(el, 2),
                   "throughput": round(n / el, 1), "unit": "urls/s"}}))
spark.stop()
"""

RUNNERS = {"crawl": (CRAWL_RUNNER, 8_000_000), "canonicalize": (CANON_RUNNER, 24_000_000)}


def run_at(runner: str, cpus: int, n_nodes: int) -> dict:
    code = runner.format(repo=str(REPO), cpus=cpus, n_nodes=n_nodes)
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=1800, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_SHUFFLE": str(cpus)},
    )
    for line in out.stdout.splitlines():
        if line.strip().startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no result; stderr tail: {out.stderr[-1500:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="both", choices=["canonicalize", "crawl", "both"])
    ap.add_argument("--n", type=int, default=2, help="low parallelism (high = 4n)")
    args = ap.parse_args()
    names = ["canonicalize", "crawl"] if args.workload == "both" else [args.workload]
    results = {}
    for name in names:
        runner, n_nodes = RUNNERS[name]
        lo = run_at(runner, args.n, n_nodes)
        hi = run_at(runner, args.n * 4, n_nodes)
        eff = round((hi["throughput"] / lo["throughput"]) / 4, 3)
        results[name] = {"input_rows": n_nodes, "low": lo, "high": hi, "scaling_efficiency": eff}
    print(json.dumps(results))


if __name__ == "__main__":
    main()
