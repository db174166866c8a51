"""Crawl-pipeline benchmark: one seeded workload per run, closed loop.

    python3 crawlbench/run.py --workload frontier_waves --seed 1 --seconds 10 --trace 0
    python3 crawlbench/run.py --workload all --seed 1

Run from the repository root. One driver process runs one job at a time;
the next job starts when the previous one has finished and been checked,
until --seconds have passed since the first job started. With --trace 0 the
last stdout
line carries the end-to-end metrics; with --trace 1 it carries the
per-layer metrics of a separate traced run. Everything the run writes
(Spark scratch, state stores, trace files) stays under .crawlbench_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".crawlbench_work"

# pages for frontier_waves and follow_extract, seen URLs at resume for
# mature_resume
SIZES = {
    "frontier_waves": 120_000,
    "follow_extract": 40_000,
    "mature_resume": 100_000,
}
# setup_s is the median of this many set-ups in one run. The first runs in
# a cold JVM and costs 2-4x the next; each costs 3-25 s, and a run has to
# stay near 45 s for the full sweep to fit, so two it is.
SETUPS = 2

LAYERS = (
    "crawl.crawler", "crawl.engine", "extract.links", "urlnorm", "util",
    "crawl.bloom", "crawl.robots", "crawl.politeness", "crawl.checkpoint",
)
# per-layer time and Spark stage metrics, summed over the layer's spans
LAYER_FIELDS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "executor_run_s": "s", "gc_s": "s", "spill_bytes": "B",
}
# per-layer counts and ratios, measured where the work happens
LAYER_COUNTS = {
    "crawl.crawler.waves": "count", "crawl.crawler.candidates": "count",
    "crawl.crawler.enqueued": "count", "crawl.crawler.robots_blocked": "count",
    "crawl.crawler.fresh_ratio": "share", "crawl.crawler.wave_p50_s": "s",
    "crawl.crawler.wave_max_s": "s", "crawl.crawler.tail_wave_s": "s",
    "crawl.engine.iterations": "count", "crawl.engine.visited": "count",
    "extract.links.docs_in": "count", "extract.links.links_out": "count",
    "urlnorm.urls_in": "count", "urlnorm.rewritten": "count", "urlnorm.null_out": "count",
    "crawl.bloom.probed": "count", "crawl.bloom.maybe": "count",
    "crawl.bloom.false_positives": "count", "crawl.bloom.fpr": "share",
    "crawl.bloom.words": "count",
    "crawl.robots.checked": "count", "crawl.robots.blocked": "count",
    "crawl.politeness.hosts": "count", "crawl.politeness.max_host_queue": "count",
    "crawl.checkpoint.commits": "count", "crawl.checkpoint.bytes_written": "B",
    "crawl.checkpoint.increments_loaded": "count", "crawl.checkpoint.load_s": "s",
    "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.residual_s": "s", "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(LAYER_COUNTS)
    return units


class Session:
    """The run's local Spark session; `close` stops Spark and waits for the
    JVM to exit."""

    def __init__(self, scratch: Path):
        self.scratch = scratch
        self.spark = None
        self.start_s = 0.0

    def start(self):
        from xidel_spark.session import get_spark

        if self.spark is not None:
            return self.spark
        t0 = time.perf_counter()
        tmp = self.scratch / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        self.spark = get_spark(
            "crawlbench",
            master=f"local[{os.cpu_count()}]",
            shuffle_partitions=32,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: with a growable one, peak RSS follows
                # when G1 decides to expand, not what the job needs
                "spark.driver.memory": "2g",
                "spark.local.dir": str(self.scratch / "spark"),
                "spark.sql.warehouse.dir": str(self.scratch / "warehouse"),
                # no hsperfdata file: the JVM would write it to /tmp
                "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                # the traced run attributes every job and stage of a run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def set_up(spark, wl) -> tuple[dict, list[float]]:
    """Input generation + a warm-up run + restoring pristine state, SETUPS
    times; the inputs of the last set-up are the ones measured.

    The warm-up is the workload's own job stopped after `wl.warm_limit`
    waves or relaxation iterations. The first job in a fresh JVM is 20-70%
    slower than later ones, and a truncated run passes through the same
    code. Wave cost is mostly fixed, so a smaller input would not make the
    warm-up cheaper."""
    times = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        inputs = wl.generate(spark)
        wl.release(wl.job(spark, inputs, limit=wl.warm_limit))
        wl.restore()
        times.append(time.perf_counter() - t0)
    return inputs, times


def closed_loop(session, spark, wl, inputs, ref, seconds, perturb) -> dict:
    """Jobs back to back, each checked before the next starts, until
    `seconds` have passed since the first started and at least `wl.jobs`
    jobs ran. A job that raises or fails its check is timed and counted as
    failed; the loop goes on."""
    from tracing import RssSampler

    times, peaks, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    while len(times) < wl.jobs or time.perf_counter() < t_end:
        if times:
            wl.restore()
        out, problems = None, []
        with RssSampler(session.jvm_pid()) as rss:
            t0 = time.perf_counter()
            try:
                out = wl.job(spark, inputs)
            except Exception:  # the program failed: count it, keep measuring
                traceback.print_exc()
                problems = ["job raised"]
            times.append(time.perf_counter() - t0)
        peaks.append(rss.peak_mb)
        if out is not None:
            try:
                problems = wl.check(spark, inputs, out, ref, perturb)
            except Exception:  # an output the check cannot read is a wrong output
                traceback.print_exc()
                problems = ["check raised"]
            wl.release(out)
        if problems:
            failed += 1
            print(f"# {wl.name}: output check failed: {problems}", file=sys.stderr)
    return {"times": times, "peaks": peaks, "attempted": len(times), "failed": failed}


def traced_run(spark, wl, inputs, ref, untraced: list[float], out_path: Path) -> tuple[dict, list[str]]:
    from tracing import STAGE_FIELDS, Tracer

    tracer = Tracer(spark)
    wl.restore()
    with tracer.span("job") as job_span:
        out, count = wl.trace_job(spark, inputs, tracer)
    # the layer counts cost Spark jobs of their own: taken after the span
    counts = count()
    problems = wl.check(spark, inputs, out, ref)
    wl.release(out)
    with tracer.span("probe"):
        counts.update(wl.probe(spark, inputs, tracer))
    tracer.attach_stage_metrics()
    tracer.write(out_path)

    metrics = dict.fromkeys(per_layer_units(), 0.0)
    for rec in tracer.spans:
        if rec["name"] not in LAYERS:
            continue
        key = rec["name"]
        metrics[f"{key}.wall_s"] += rec["end"] - rec["start"]
        metrics[f"{key}.self_s"] += tracer.self_time(rec)
        for f in STAGE_FIELDS:
            metrics[f"{key}.{f}"] += rec["stages"][f]
    metrics.update(counts)
    job_s = job_span["end"] - job_span["start"]
    metrics["trace.job_s"] = job_s
    metrics["trace.untraced_job_s"] = statistics.median(untraced)
    metrics["trace.residual_s"] = tracer.self_time(job_span)
    metrics["trace.overhead_s"] = job_s - metrics["trace.untraced_job_s"]
    return metrics, problems


def run_workload(session: Session, name: str, seed: int, seconds: float, trace: bool, perturb: bool) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[name](seed, SIZES[name], session.scratch)
    spark = session.start()
    inputs, setup_times = set_up(spark, wl)
    ref = wl.reference()
    print(f"# {name} seed={seed} inputs: {json.dumps(ref['props'])}")

    loop = closed_loop(session, spark, wl, inputs, ref, seconds, perturb)
    attempted, failed = loop["attempted"], loop["failed"]
    job_s = statistics.median(loop["times"])
    e2e = {
        "setup_s": (statistics.median(setup_times), "s"),
        "job_s": (job_s, "s"),
        "urls_per_s": (ref["result_urls"] / job_s, "URL/s"),
        "error_rate": (failed / attempted, "share"),
        "peak_rss_mb": (statistics.median(loop["peaks"]), "MB"),
    }
    print(
        f"# {name}: " + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in e2e.items())
        + f" (jobs={len(loop['times'])}, job_s samples={[round(t, 3) for t in loop['times']]},"
        f" setup_s samples={[round(t, 3) for t in setup_times]},"
        f" session start {session.start_s:.3g} s, not in setup_s)"
    )
    if not trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k != "error_rate"}
    else:
        trace_path = WORK / "traces" / f"{name}-seed{seed}-{os.getpid()}.json"
        layer, problems = traced_run(spark, wl, inputs, ref, loop["times"], trace_path)
        attempted += 1
        if problems:
            failed += 1
            print(f"# {name}: traced output check failed: {problems}", file=sys.stderr)
        units = per_layer_units()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
        print(f"# {name}: spans written to {trace_path.relative_to(ROOT)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=["all", "frontier_waves", "follow_extract", "mature_resume"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--perturb", action="store_true",
        help="corrupt each job's output before checking it (shows the checks fail)",
    )
    args = ap.parse_args()

    if not (ROOT / "xidel_spark" / "crawl" / "crawler.py").is_file():
        print("crawlbench: run from the repository root (xidel_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    scratch = WORK / f"run-{os.getpid()}"
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark")
    os.environ["TMPDIR"] = str(scratch / "tmp")
    names = list(SIZES) if args.workload == "all" else [args.workload]
    session = Session(scratch)
    results = {}
    try:
        for name in names:
            results[name] = run_workload(session, name, args.seed, args.seconds, bool(args.trace), args.perturb)
    finally:
        session.close()
        shutil.rmtree(scratch, ignore_errors=True)

    if len(names) == 1:
        out = results[names[0]]
    else:
        out = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
