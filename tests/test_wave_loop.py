"""FrontierCrawler wave loop: per-wave counts against a Python BFS, the
Spark jobs a resumed wave runs, the wave plan's exchanges, and resume over
a store written without a politeness wait."""

import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

import xidel_spark.crawl.crawler as crawler_mod
from xidel_spark.crawl.checkpoint import CrawlStateStore
from xidel_spark.crawl.crawler import FrontierCrawler

N = 120
SEEDS = ["http://h0.test/p/0", "http://h1.test/p/1"]
# h1 disallows /p/1*; h2 disallows /p/ but re-allows /p/2* (longer prefix
# wins); h3 disallows /p/3 with an equal-length allow, and allow wins ties
RULES = [
    ("h1.test", "/p/1", False),
    ("h2.test", "/p/", False),
    ("h2.test", "/p/2", True),
    ("h3.test", "/p/3", False),
    ("h3.test", "/p/3", True),
]


def url(i: int) -> str:
    return f"http://h{i % 5}.test/p/{i}"


EDGES = [(url(i), k, url((3 * i + k + 1) % N)) for i in range(N) for k in range(2)]


def allowed(u: str) -> bool:
    host, _, rest = u[len("http://"):].partition("/")
    best = None
    for h, prefix, allow in RULES:
        if h == host and ("/" + rest).startswith(prefix):
            best = max(best or (-1, False), (len(prefix), allow))
    return True if best is None else best[1]


def bfs(frontier: set, seen: set) -> list[tuple[int, int, int]]:
    """(candidates, robots_blocked, enqueued) per wave: the distinct link
    targets of the frontier, minus the blocked ones, minus seen."""
    out = defaultdict(list)
    for src, _, dst in EDGES:
        out[src].append(dst)
    levels = []
    while True:
        targets = {t for u in frontier for t in out[u]}
        blocked = {t for t in targets if not allowed(t)}
        fresh = targets - blocked - seen
        levels.append((len(targets - blocked), len(blocked), len(fresh)))
        if not fresh:
            return levels
        seen |= fresh
        frontier = fresh


def counts(metrics: list[dict]) -> list[tuple[int, int, int]]:
    return [(m["candidates"], m["robots_blocked"], m["enqueued"]) for m in metrics]


@pytest.fixture(scope="module")
def links(spark):
    return spark.createDataFrame(EDGES, "src string, idx int, dst string").cache()


@pytest.fixture(scope="module")
def rules(spark):
    return spark.createDataFrame(RULES, "host string, prefix string, allow boolean")


@pytest.mark.parametrize("use_bloom", [False, True])
def test_wave_counts_match_bfs_fresh(spark, links, rules, use_bloom):
    """a fresh crawl from a dup list that holds blocked urls (one of them a
    seed): wave 0 and every later wave count like the BFS"""
    prior = {url(1), url(7), url(3), url(12)}
    assert not allowed(url(1)) and not allowed(url(7)) and allowed(url(3))
    run = FrontierCrawler(spark, links, robots_rules=rules, use_bloom=use_bloom).run(
        SEEDS, seen=spark.createDataFrame([(u,) for u in sorted(prior)], "url string")
    )
    blocked0 = {s for s in SEEDS if not allowed(s)}
    fresh0 = set(SEEDS) - blocked0 - prior
    want = [(0, len(blocked0), len(fresh0))] + bfs(fresh0, prior | fresh0)
    assert counts(run.metrics) == want
    seen = [r.url for r in run.seen.collect()]
    assert len(seen) == len(set(seen)) == len(prior) + sum(e for _, _, e in want)


@pytest.mark.parametrize("use_bloom", [False, True])
def test_wave_counts_match_bfs_resumed(spark, links, rules, use_bloom, tmp_path):
    """waves committed without robots, resumed with rules that block urls
    both new and already in the store"""
    store = CrawlStateStore(str(tmp_path / "store"))
    partial = FrontierCrawler(spark, links, store=store).run(SEEDS, max_waves=3)
    stored = {r.url for r in partial.seen.collect()}
    frontier = {r.url for r in partial.frontier.collect()}
    assert any(not allowed(u) for u in stored)
    resumed = FrontierCrawler(
        spark, links, store=store, robots_rules=rules, use_bloom=use_bloom
    ).run(SEEDS)
    want = bfs(frontier, set(stored))
    assert counts(resumed.metrics[3:]) == want
    assert any(b for _, b, _ in want) and len(want) > 1
    seen = [r.url for r in resumed.seen.collect()]
    assert len(seen) == len(set(seen)) == len(stored) + sum(e for _, _, e in want)


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = "test-wave-jobs"
    sc.setJobGroup(group, "resumed wave")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resumed_wave_job_count(spark, links, rules, tmp_path):
    """the load, the watermark rebuild and one resumed robots + Bloom +
    politeness wave with its commit: at most 12 Spark jobs (the wave loop
    that filtered robots in its own checkpoints and read the store once per
    increment ran 26 here)"""
    store = CrawlStateStore(str(tmp_path / "store"))
    FrontierCrawler(spark, links, store=store, wait_ms=50).run(SEEDS, max_waves=3)
    crawler = FrontierCrawler(
        spark, links, store=store, robots_rules=rules, wait_ms=50, use_bloom=True
    )
    runs = []
    n_jobs = _jobs(spark, lambda: runs.append(crawler.run(SEEDS, max_waves=4)))
    (m,) = runs[0].metrics[3:]
    assert m["enqueued"] > 0 and store.latest() == 3
    assert n_jobs <= 12, n_jobs


def _wave_plans(spark, monkeypatch, **kw) -> list[str]:
    """executed plan of every wave's checkpointed frontier"""
    plans = []
    real = crawler_mod.checkpoint_reset_stats

    def capture(df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(crawler_mod, "checkpoint_reset_stats", capture)
        FrontierCrawler(spark, **kw).run(SEEDS)
    return plans


def test_robots_adds_no_exchange(spark, links, rules, monkeypatch):
    """the robots flag reuses the expansion's url partitioning: every wave
    plan has as many shuffle exchanges with robots_rules as without"""
    def shuffles(plans):
        return [len(re.findall(r"(?<![A-Za-z])Exchange ", p)) for p in plans]

    for bloom in (False, True):
        plain = _wave_plans(spark, monkeypatch, links=links, use_bloom=bloom)
        robots = _wave_plans(spark, monkeypatch, links=links, use_bloom=bloom, robots_rules=rules)
        n = min(len(plain), len(robots))
        assert n > 2
        assert shuffles(robots[:n]) == shuffles(plain[:n])


def test_resume_without_scheduled_ms(spark, links, tmp_path):
    """waves committed with wait_ms=0 carry no scheduled_ms; a resume with a
    wait reads them as NULL: per-host spacing holds over the resumed waves
    and seen equals an uninterrupted crawl's"""
    store = CrawlStateStore(str(tmp_path / "store"))
    FrontierCrawler(spark, links, store=store).run(SEEDS, max_waves=2)
    resumed = FrontierCrawler(spark, links, store=store, wait_ms=250).run(SEEDS)
    full = FrontierCrawler(spark, links).run(SEEDS)
    seen = [r.url for r in resumed.seen.collect()]
    assert len(seen) == len(set(seen))
    assert set(seen) == {r.url for r in full.seen.collect()}
    times = defaultdict(list)
    for inc in store.increments(spark)[2:]:
        for r in inc.select("host", "scheduled_ms").collect():
            times[r.host].append(r.scheduled_ms)
    assert times and all(t is not None for ts in times.values() for t in ts)
    for host, ts in times.items():
        ts.sort()
        assert all(b - a >= 250 for a, b in zip(ts, ts[1:])), host
    early = store.increments(spark)[0]
    assert early.where(F.col("scheduled_ms").isNotNull()).count() == 0
