"""Measurement plumbing for the crawl benchmark: spans, stage metrics, RSS.

Everything here observes the program from outside. Spans are recorded by
the benchmark around its own calls into a layer's public functions; Spark
work issued inside a span is attributed to it through a job group, and the
per-stage task metrics are read back from Spark's status store (which is
populated with ``spark.ui.enabled=false`` too).
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

# per-layer stage metrics, summed over every stage of every job the layer's
# spans issued (names match BENCHMARK.json's per_layer entries)
STAGE_FIELDS = (
    "jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "executor_run_s", "gc_s", "spill_bytes",
)


class Tracer:
    """In-memory span recorder. A span carries a name, start, end, its
    parent span and the run id shared by every span of one traced run.

    While a span is open its job group is set on the calling thread, so
    Spark jobs it triggers are attributed to it alone: a child span sets its
    own group and restores the parent's on exit, which makes the per-span
    stage metrics self metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id,
            "span_id": sid,
            "parent": parent["span_id"] if parent else None,
            "name": name,
            "group": f"{self.run_id}-{sid}",
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["span_id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def attach_stage_metrics(self) -> None:
        """Fill each span's `stages` with its job group's summed metrics."""
        by_stage = read_stage_metrics(self.spark)
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stage_ids: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            agg = dict.fromkeys(STAGE_FIELDS, 0.0)
            agg["jobs"] = float(len(jobs))
            for sid in stage_ids:
                for k, v in by_stage.get(sid, {}).items():
                    agg[k] += v
            rec["stages"] = agg

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        out = [
            {k: v for k, v in s.items() if k != "group"}
            | {"self_s": self.self_time(s)}
            for s in self.spans
        ]
        path.write_text(json.dumps({"run_id": self.run_id, "spans": out}, indent=1))


def read_stage_metrics(spark) -> dict[int, dict[str, float]]:
    """stage id → summed task metrics over all attempts, from the status
    store. ``stageList`` takes five arguments on Spark 4.1:
    (java.util.List statuses, boolean details, boolean withSummaries,
    double[] unsortedQuantiles, java.util.List taskStatus)."""
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict[str, float]] = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        m = out.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS[1:], 0.0))
        m["tasks"] += s.numCompleteTasks()
        m["shuffle_read_bytes"] += s.shuffleReadBytes()
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["executor_run_s"] += s.executorRunTime() / 1000.0
        m["gc_s"] += s.jvmGcTime() / 1000.0
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


def _children(pid: int, tid: int | None = None) -> list[int]:
    """Children forked by thread `tid` of `pid` (every thread if None)."""
    try:
        tids = [tid] if tid is not None else [int(t) for t in os.listdir(f"/proc/{pid}/task")]
        kids: list[int] = []
        for t in tids:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        return kids
    except (FileNotFoundError, ProcessLookupError):
        return []


class RssSampler:
    """High-water RSS of the driver JVM plus the Python workers it forks,
    sampled every `interval` seconds while a job runs.

    The JVM has ~150 threads, so its children are listed once at start;
    below them (the single-threaded PySpark daemon and its forked workers)
    the tree is re-read on every sample."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._jvm_kids: list[int] = []

    def _tree_rss_kb(self) -> int:
        total, todo = _rss_kb(self.jvm_pid), list(self._jvm_kids)
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(_children(pid, pid))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def __enter__(self) -> "RssSampler":
        self._jvm_kids = _children(self.jvm_pid)
        self.peak_kb = self._tree_rss_kb()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
