"""The three benchmark workloads.

Each workload is built from its seed and a size. It generates its inputs
as DataFrames (`generate`), runs the job through the program's public
entry points (`job`), computes an independent reference in plain Python
(`reference`) and checks a job's output against it (`check`). `trace_job`
runs the same job under a Tracer with a span around each layer call and
returns its output with a function that takes the layer counts afterwards;
`probe` (mature_resume only) calls the wave-loop layers directly on the
workload's own state.

Why each workload exists, and which layers it drives, is in README.md.
"""

from __future__ import annotations

import shutil
import statistics
from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xidel_spark.crawl.checkpoint import CrawlStateStore
from xidel_spark.crawl.crawler import FrontierCrawler
from xidel_spark.crawl.engine import crawl_exact
from xidel_spark.crawl.politeness import assert_spacing, politeness_schedule
from xidel_spark.extract.links import extract_kind_text, extract_links
from xidel_spark.urlnorm import canonicalize, canonicalize_one, host_of, resolve_one, resolve_url

from graphs import (
    HOSTS, SEED_STRIDE, LinkGraph, Region, SiteGraph, bfs_levels,
)


def _materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _host_stats(hosts: list) -> dict:
    counts = Counter(hosts)
    top = sorted(counts.values(), reverse=True)
    k = max(1, len(top) // 100)
    return {
        "hosts": len(counts),
        "top1pct_host_url_share": round(sum(top[:k]) / max(1, len(hosts)), 4),
    }


def _wave_problems(got: list[dict], want: list[dict], keys: tuple[str, ...]) -> list[str]:
    if len(got) != len(want):
        return [f"{len(got)} waves, reference has {len(want)}"]
    return [
        f"wave {i} {k}: {g[k]} != {w[k]}"
        for i, (g, w) in enumerate(zip(got, want))
        for k in keys
        if g[k] != w[k]
    ]


def _set_problems(got: list[str], want: set[str], what: str) -> list[str]:
    out = []
    if len(got) != len(set(got)):
        out.append(f"{len(got) - len(set(got))} {what} URLs seen twice")
    missing, extra = want - set(got), set(got) - want
    if missing or extra:
        out.append(
            f"{what}: {len(missing)} missing (e.g. {sorted(missing)[:2]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:2]})"
        )
    return out


class Workload:
    """Defaults for the parts of the interface a workload may not need."""

    name = ""
    # waves or relaxation iterations of the warm-up run (None: the full job)
    warm_limit: int | None = 1
    jobs = 1  # a run measures at least this many jobs

    def restore(self) -> None:
        """Reset state the job mutates (mature_resume's store)."""

    def release(self, out) -> None:
        """Free what the job's output pins in Spark."""

    def probe(self, spark, inp: dict, tracer) -> dict:
        """Direct per-layer calls on the workload's state (traced run)."""
        return {}


class FrontierWaves(Workload):
    """FrontierCrawler with its defaults over a cyclic graph; seen grows
    from a seed set to the whole reachable graph, wave by wave."""

    name = "frontier_waves"
    warm_limit = 4

    def __init__(self, seed: int, n: int, work: Path):
        region = Region(0, n, 0, 10)
        self.graph = LinkGraph("frontier_waves", seed, [region], region, new_start=n)

    def generate(self, spark) -> dict:
        g = self.graph
        links = _materialize(g.links_df(spark))
        seeds = _materialize(g.seeds_df(spark, SEED_STRIDE))
        return {"links": links, "seeds": seeds}

    def job(self, spark, inp: dict, limit: int | None = None):
        run = FrontierCrawler(spark, inp["links"]).run(inp["seeds"], max_waves=limit or 10_000)
        run.seen.count()
        return run

    def reference(self) -> dict:
        g = self.graph
        seeds = set(range(0, g.n, SEED_STRIDE))
        seen = set(seeds)
        levels = [{"candidates": 0, "blocked": 0, "enqueued": len(seeds)}]
        levels += bfs_levels(g, seeds, seen)
        cand = sum(lv["candidates"] for lv in levels)
        return {
            "seen": {g.url(i) for i in seen},
            "levels": levels,
            "result_urls": len(seen),
            "props": {
                "urls": g.n,
                "links": sum(len(g.out_links(i)) for i in range(g.n)),
                **_host_stats([g.host(i) for i in range(g.n)]),
                "host_space": HOSTS,
                "waves": len(levels),
                "seen": len(seen),
                "duplicate_share_of_candidates": round(
                    1 - sum(lv["enqueued"] for lv in levels[1:]) / max(1, cand), 4
                ),
                "seen_over_largest_wave": round(
                    len(seen) / max(lv["candidates"] for lv in levels), 3
                ),
            },
        }

    def check(self, spark, inp: dict, run, ref: dict, perturb: bool = False) -> list[str]:
        seen = [r.url for r in run.seen.collect()]
        waves = [
            {"candidates": m["candidates"], "enqueued": m["enqueued"]} for m in run.metrics
        ]
        if perturb:
            seen = seen[1:]
        return _set_problems(seen, ref["seen"], "seen") + _wave_problems(
            waves, ref["levels"], ("candidates", "enqueued")
        )

    def trace_job(self, spark, inp: dict, tracer):
        with tracer.span("crawl.crawler"):
            run = self.job(spark, inp)
        return run, lambda: crawler_counts(run.metrics)


def crawler_counts(metrics: list[dict]) -> dict:
    """crawl.crawler counts; the wave timings are program-reported
    (CrawlRun.metrics `wall_s`)."""
    waves = [m for m in metrics if "wall_s" in m]
    cand = sum(m["candidates"] for m in waves)
    enq = sum(m["enqueued"] for m in waves)
    walls = sorted(m["wall_s"] for m in waves)
    return {
        "crawl.crawler.waves": len(waves),
        "crawl.crawler.candidates": cand,
        "crawl.crawler.enqueued": enq,
        "crawl.crawler.robots_blocked": sum(m["robots_blocked"] for m in waves),
        "crawl.crawler.fresh_ratio": enq / cand if cand else 0.0,
        "crawl.crawler.wave_p50_s": statistics.median(walls) if walls else 0.0,
        "crawl.crawler.wave_max_s": walls[-1] if walls else 0.0,
        "crawl.crawler.tail_wave_s": waves[-1]["wall_s"] if waves else 0.0,
    }


class FollowExtract(Workload):
    """`--follow //a --extract //title` over a layered site: extraction,
    URL normalization, the exact DFS rank relaxation and total_order."""

    name = "follow_extract"
    warm_limit = None  # a truncated run costs nearly a full one here
    # its jobs vary most from run to run (16-20% between quartiles at one
    # job per run, 13.6% at three; later jobs in a run vary least) and they
    # are the cheapest
    jobs = 5

    def __init__(self, seed: int, n: int, work: Path):
        self.site = SiteGraph(seed, n)

    def generate(self, spark) -> dict:
        return {
            "docs": _materialize(self.site.docs_df(spark)),
            "seeds": _materialize(self.site.seeds_df(spark)),
        }

    @staticmethod
    def _normalize(docs: DataFrame, raw: DataFrame) -> DataFrame:
        base = docs.select(F.col("doc_id").alias("src"), "base_uri")
        return raw.join(base, "src").select(
            "src", "idx", canonicalize(resolve_url(F.col("dst"), F.col("base_uri"))).alias("dst")
        )

    @staticmethod
    def _sink(docs: DataFrame, visited: DataFrame) -> DataFrame:
        titles = extract_kind_text(docs, "//title").where("idx = 0")
        out = (
            visited.join(titles.select("url", F.col("value").alias("title")), "url", "left")
            .select("ord", "url", "title")
            .persist()
        )
        out.write.format("noop").mode("overwrite").save()
        return out

    def job(self, spark, inp: dict, limit: int | None = None):
        docs = inp["docs"]
        links = self._normalize(docs, extract_links(docs, "//a"))
        res = crawl_exact(spark, links, inp["seeds"], max_iter=limit or 200)
        return self._sink(docs, res.visited)

    def release(self, out) -> None:
        out.unpersist()

    def reference(self) -> dict:
        from xidel_spark.crawl.simulator import simulate_crawl

        s = self.site
        seeds = s.seed_ids()
        # only reachable pages are ever visited (dedup on, unlimited depth),
        # so only their hrefs need normalizing
        reach, todo = set(seeds), list(seeds)
        while todo:
            for t in s.out_links(todo.pop()):
                if t not in reach:
                    reach.add(t)
                    todo.append(t)
        link_map, bad, n_links, dirty = {}, 0, 0, 0
        for d in reach:
            base = s.url(d)
            targets = []
            for k, t in enumerate(s.out_links(d)):
                form = s.form(d, k)
                canon = canonicalize_one(resolve_one(s.href(t, form), base))
                bad += canon != s.url(t)
                dirty += form >= 2
                targets.append(canon)
            n_links += len(targets)
            link_map[base] = targets
        if bad:
            raise RuntimeError(f"generator: {bad} hrefs do not normalize to their target")
        sim = simulate_crawl(link_map, [s.url(d) for d in seeds])
        return {
            "order": sim.visit_order,
            "titles": {s.url(d): s.title(d) for d in reach},
            "result_urls": len(sim.visit_order),
            "props": {
                "pages": s.n,
                "links": sum(len(s.out_links(d)) for d in range(s.n)),
                "hosts": len({s.host(d) for d in range(s.n)}),
                "visited": len(sim.visit_order),
                "links_from_visited": n_links,
                "dirty_href_share": round(dirty / max(1, n_links), 4),
                "duplicate_share_of_candidates": round(
                    1 - (len(sim.visit_order) - len(seeds)) / max(1, n_links), 4
                ),
            },
        }

    def check(self, spark, inp: dict, out, ref: dict, perturb: bool = False) -> list[str]:
        rows = sorted(out.collect(), key=lambda r: r.ord)
        urls = [r.url for r in rows]
        if perturb and len(urls) > 2:
            urls[1], urls[2] = urls[2], urls[1]
        problems = []
        if [r.ord for r in rows] != list(range(1, len(rows) + 1)):
            problems.append("ord is not 1..n")
        if urls != ref["order"]:
            first = next(
                (i for i, (a, b) in enumerate(zip(urls, ref["order"])) if a != b),
                min(len(urls), len(ref["order"])),
            )
            problems.append(
                f"visit order differs from the simulator at position {first} "
                f"({len(urls)} visits, reference {len(ref['order'])})"
            )
        wrong = sum(1 for r in rows if ref["titles"].get(r.url) != r.title)
        if wrong:
            problems.append(f"{wrong} titles do not match their page")
        return problems

    def trace_job(self, spark, inp: dict, tracer):
        import xidel_spark.util as util

        docs = inp["docs"]
        total_order = util.total_order

        def traced_total_order(*a, **kw):
            with tracer.span("util"):
                return _materialize(total_order(*a, **kw))

        with tracer.span("extract.links"):
            raw = _materialize(extract_links(docs, "//a"))
        with tracer.span("urlnorm"):
            links = _materialize(self._normalize(docs, raw))
        util.total_order = traced_total_order
        try:
            with tracer.span("crawl.engine"):
                res = crawl_exact(spark, links, inp["seeds"])
        finally:
            util.total_order = total_order
        out = self._sink(docs, res.visited)

        def counts() -> dict:
            j = raw.join(links.withColumnRenamed("dst", "canon"), ["src", "idx"])
            return {
                "extract.links.docs_in": docs.count(),
                "extract.links.links_out": raw.count(),
                "urlnorm.urls_in": j.count(),
                "urlnorm.rewritten": j.where("canon IS NULL OR canon != dst").count(),
                "urlnorm.null_out": j.where("canon IS NULL").count(),
                "crawl.engine.iterations": res.waves,
                "crawl.engine.visited": res.visited.count(),
            }

        return out, counts


class MatureResume(Workload):
    """Resume a mature crawl state: |seen| far above the per-wave
    candidates, with robots, politeness, the Bloom pre-filter and
    checkpoint commits all on (the `run_crawl.py --bloom` configuration)."""

    name = "mature_resume"
    warm_limit = 1  # the first resumed wave already runs every layer
    INCREMENTS = 5
    WAIT_MS = 50

    def __init__(self, seed: int, n: int, work: Path):
        # n = seen URLs at resume. The last increment (the resume frontier)
        # is n/20 pages; 40% of their links lead into an unseen region of
        # n/25 pages, the rest hit seen pages, as do all links out of the
        # new region. The resumed crawl therefore runs two waves: one that
        # enqueues the new region and one that finds nothing new. Every
        # resumed wave pays the robots, Bloom, politeness and commit steps,
        # which is why the region is one layer deep.
        f = n // 20
        self.n_seen, self.n_front = n, f
        regions = [Region(0, n - f), Region(n - f, f, 2, 4), Region(n, n // 25)]
        self.graph = LinkGraph("mature_resume", seed, regions, Region(0, n), new_start=n)
        self.rules = self._robots_rules()
        self.rules_by_host: dict = {}
        for rule in self.rules:
            self.rules_by_host.setdefault(rule[0], []).append(rule)
        self.pristine = work / f"{self.name}-{n}-pristine"
        self.store_dir = work / f"{self.name}-{n}-store"

    def _robots_rules(self) -> list[tuple[str, str, bool]]:
        """(host, prefix, allow): even hosts disallow new-page buckets 3 and
        5, every fourth host re-allows the bucket-3 pages whose number
        starts with 1 through a longer prefix, and every fifth host
        disallows the (already seen) /p/ tree."""
        rules = []
        for h in range(HOSTS):
            host = f"h{h:03d}.example.com"
            rules.append((host, "", True))
            if h % 2 == 0:
                rules += [(host, "/n/3/", False), (host, "/n/5/", False)]
            if h % 4 == 0:
                rules.append((host, "/n/3/1", True))
            if h % 5 == 0:
                rules.append((host, "/p/", False))
        return rules

    def allowed(self, i: int) -> bool:
        """Longest matching prefix wins; on equal length allow wins."""
        url = self.graph.url(i)
        host, _, rest = url[len("http://"):].partition("/")
        path = "/" + rest
        best = None
        for _, prefix, allow in self.rules_by_host.get(host, []):
            if path.startswith(prefix):
                key = (len(prefix), allow)
                best = key if best is None or key > best else best
        return True if best is None else best[1]

    def _bounds(self) -> list[tuple[int, int]]:
        old = self.n_seen - self.n_front
        q = old // (self.INCREMENTS - 1)
        cuts = [i * q for i in range(self.INCREMENTS - 1)] + [old, self.n_seen]
        return list(zip(cuts[:-1], cuts[1:]))

    def generate(self, spark) -> dict:
        g = self.graph
        links = _materialize(g.links_df(spark))
        rules = _materialize(
            spark.createDataFrame(self.rules, "host string, prefix string, allow boolean")
        )
        # the committed waves as the crawler writes them with wait_ms > 0:
        # each host's fetches are WAIT_MS apart across all increments, in
        # (wave, rank) order, and host_seq restarts every wave
        wave = " ".join(f"WHEN i < {hi} THEN {w}" for w, (_, hi) in enumerate(self._bounds()))
        state = _materialize(
            g.urls_df(spark, 0, self.n_seen)
            .selectExpr("url", "format_string('%08x', i) AS rank", f"CASE {wave} END AS depth")
            .withColumn("host", host_of(F.col("url")))
            .withColumn("host_seq", F.row_number().over(Window.partitionBy("host", "depth").orderBy("rank")))
            .withColumn(
                "scheduled_ms",
                ((F.row_number().over(Window.partitionBy("host").orderBy("depth", "rank")) - 1)
                 * self.WAIT_MS).cast("long"),
            )
        )
        shutil.rmtree(self.pristine, ignore_errors=True)
        store = CrawlStateStore(str(self.pristine))
        for w, (lo, hi) in enumerate(self._bounds()):
            store.commit(w, state.where(F.col("depth") == w), {
                "wave": w, "candidates": 2 * (hi - lo), "deduped": 0,
                "robots_blocked": 0, "enqueued": hi - lo,
            })
        self.restore()
        return {"links": links, "rules": rules}

    def restore(self) -> None:
        shutil.rmtree(self.store_dir, ignore_errors=True)
        shutil.copytree(self.pristine, self.store_dir)

    def _crawler(self, spark, inp: dict, store_dir: Path) -> FrontierCrawler:
        return FrontierCrawler(
            spark, inp["links"], store=CrawlStateStore(str(store_dir)),
            robots_rules=inp["rules"], wait_ms=self.WAIT_MS, use_bloom=True,
        )

    def job(self, spark, inp: dict, limit: int | None = None):
        run = self._crawler(spark, inp, self.store_dir).run(
            [], max_waves=self.INCREMENTS + limit if limit else 10_000
        )
        run.seen.count()
        return run

    def reference(self) -> dict:
        g = self.graph
        seen = set(range(self.n_seen))
        frontier = set(range(self.n_seen - self.n_front, self.n_seen))
        levels = bfs_levels(g, frontier, seen, self.allowed)
        new = [i for i in seen if i >= self.n_seen]
        # every frontier and new page is expanded once; the new targets it
        # finds are either enqueued (seen) or refused by robots
        blocked_new = {
            t for i in [*frontier, *new] for t in g.out_links(i)
            if t >= self.n_seen and not self.allowed(t)
        }
        return {
            "seen": {g.url(i) for i in seen},
            "levels": levels,
            "result_urls": len(seen),
            "props": {
                "urls": g.n,
                "seen_at_resume": self.n_seen,
                "increments": self.INCREMENTS,
                "resume_frontier": self.n_front,
                "new_region": g.n - self.n_seen,
                "links": sum(len(g.out_links(i)) for i in range(g.n)),
                **_host_stats([g.host(i) for i in range(g.n)]),
                "host_space": HOSTS,
                "new_urls_seen": len(new),
                "duplicate_share_of_candidates": round(
                    1 - sum(lv["enqueued"] for lv in levels)
                    / max(1, sum(lv["candidates"] for lv in levels)), 4
                ),
                "seen_over_largest_wave": round(
                    self.n_seen / max(lv["candidates"] for lv in levels), 2
                ),
                "robots_blocked_share_of_new": round(
                    len(blocked_new) / max(1, len(blocked_new) + len(new)), 4
                ),
            },
        }

    def check(self, spark, inp: dict, run, ref: dict, perturb: bool = False) -> list[str]:
        seen = [r.url for r in run.seen.collect()]
        if perturb:
            seen.append(seen[0])
        resumed = run.metrics[self.INCREMENTS:]
        waves = [
            {"candidates": m["candidates"], "blocked": m["robots_blocked"], "enqueued": m["enqueued"]}
            for m in resumed
        ]
        problems = _set_problems(seen, ref["seen"], "seen") + _wave_problems(
            waves, ref["levels"], ("candidates", "blocked", "enqueued")
        )
        return problems + self._spacing_problems(spark)

    def _spacing_problems(self, spark) -> list[str]:
        """Within each resumed increment politeness.assert_spacing holds,
        and across increments every host's fetches stay >= WAIT_MS apart."""
        store = CrawlStateStore(str(self.store_dir))
        incs = store.increments(spark)
        problems = [
            f"increment {w}: per-host spacing below {self.WAIT_MS} ms"
            for w, inc in enumerate(incs)
            if w >= self.INCREMENTS and not assert_spacing(inc, self.WAIT_MS)
        ]
        old = incs[0]
        for inc in incs[1:self.INCREMENTS]:
            old = old.unionByName(inc)
        last = {r.host: r.m for r in old.groupBy("host").agg(F.max("scheduled_ms").alias("m")).collect()}
        times: dict = {}
        for inc in incs[self.INCREMENTS:]:
            for r in inc.select("host", "scheduled_ms").collect():
                times.setdefault(r.host, []).append(r.scheduled_ms)
        close = 0
        for host, ts in times.items():
            ts = sorted(ts)
            prev = last.get(host)
            for t in ts:
                close += prev is not None and t - prev < self.WAIT_MS
                prev = t
        if close:
            problems.append(f"{close} fetches closer than {self.WAIT_MS} ms to the host's previous one")
        return problems

    def trace_job(self, spark, inp: dict, tracer):
        commits = []
        commit = CrawlStateStore.commit

        def counting_commit(store, *a, **kw):
            commits.append(1)
            return commit(store, *a, **kw)

        before = _dir_bytes(self.store_dir)
        CrawlStateStore.commit = counting_commit
        try:
            with tracer.span("crawl.crawler"):
                run = self.job(spark, inp)
        finally:
            CrawlStateStore.commit = commit
        written = _dir_bytes(self.store_dir) - before

        def counts() -> dict:
            return crawler_counts(run.metrics[self.INCREMENTS:]) | {
                "crawl.checkpoint.commits": len(commits),
                "crawl.checkpoint.bytes_written": written,
            }

        return run, counts

    def probe(self, spark, inp: dict, tracer) -> dict:
        """Each wave-loop layer called once on the state the job resumes
        from: the first resumed wave's candidates against the full seen
        set. Writes go to a throwaway copy of the pristine store."""
        from xidel_spark.crawl.bloom import build_bloom, split_candidates
        from xidel_spark.crawl.robots import apply_robots

        probe_dir = self.store_dir.with_name(self.store_dir.name + "-probe")
        shutil.rmtree(probe_dir, ignore_errors=True)
        shutil.copytree(self.pristine, probe_dir)
        store = CrawlStateStore(str(probe_dir))
        try:
            with tracer.span("crawl.checkpoint", op="load") as load_span:
                snap = store.load(spark)
                seen = _materialize(snap.seen)
                n_seen = seen.count()
                frontier = _materialize(snap.frontier)
            links = inp["links"]
            cand = _materialize(
                frontier.join(links, frontier.url == links.src)
                .groupBy(links.dst.alias("url"))
                .agg(F.min(F.concat(frontier.rank, F.format_string("%08x", links.idx))).alias("rank"))
            )
            with tracer.span("crawl.bloom"):
                bloom = build_bloom(seen, capacity=max(1_000_000, 4 * n_seen), approx_rows=n_seen)
                new, maybe = split_candidates(cand, bloom)
                new, maybe = _materialize(new), _materialize(maybe)
            with tracer.span("crawl.robots"):
                flags = _materialize(apply_robots(cand.select("url"), inp["rules"]))
            fresh = _materialize(
                cand.join(seen, "url", "left_anti").join(flags.where("allowed").select("url"), "url")
            )
            with tracer.span("crawl.politeness"):
                sched = _materialize(politeness_schedule(fresh, self.WAIT_MS))
            with tracer.span("crawl.checkpoint", op="commit"):
                store.commit(snap.wave + 1, sched, {"wave": snap.wave + 1})
            probed, n_maybe = cand.count(), maybe.count()
            truly_seen = cand.join(seen, "url", "left_semi").count()
            fp = maybe.join(seen, "url", "left_anti").count()
            hosts = sched.agg(
                F.countDistinct("host").alias("h"), F.max("host_seq").alias("q")
            ).first()
            counts = {
                "crawl.bloom.probed": probed,
                "crawl.bloom.maybe": n_maybe,
                "crawl.bloom.false_positives": fp,
                "crawl.bloom.fpr": fp / max(1, probed - truly_seen),
                "crawl.bloom.words": bloom.df.count(),
                "crawl.robots.checked": flags.count(),
                "crawl.robots.blocked": flags.where("NOT allowed").count(),
                "crawl.politeness.hosts": hosts.h or 0,
                "crawl.politeness.max_host_queue": hosts.q or 0,
                "crawl.checkpoint.increments_loaded": snap.wave + 1,
                "crawl.checkpoint.load_s": load_span["end"] - load_span["start"],
            }
            bloom.unpersist()
            return counts
        finally:
            shutil.rmtree(probe_dir, ignore_errors=True)


def _dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in Path(root).rglob("*") if p.is_file())


WORKLOADS = {w.name: w for w in (FrontierWaves, FollowExtract, MatureResume)}
