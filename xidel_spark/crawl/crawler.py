"""FrontierCrawler — the dedup-ON BFS wave loop with all scale components.

One object wires together what the reference does in its recursive loop
(xidelbase.pas:1996-2137) plus the north rule's scale transplants:

frontier wave → link expansion (engine.expand: frontier ⋈ links, then
within-wave first-enqueuer resolution) → robots flag (broadcast rule
join) → Bloom flag → exact left-join vs seen (maybe-seen rows only) →
politeness-scheduled new frontier → checkpoint (frontier increment +
lineage metrics) → next wave.

One Spark job per wave does the row work: robots, Bloom, dedup and
politeness are one plan, materialized once, and every wave count
(candidates, robots-blocked, duplicates) rides that job as an
Observation. What a wave still runs besides it is small and fixed: the
broadcast builds (frontier, robots rules, Bloom filter, watermark), the
Bloom build or incremental merge, the per-host watermark fold and, with a
store, the commit (parquet write + row count). The seed wave takes the
same path.

Ranks give a total, deterministic crawl order (BFS-flavored); the seen SET
equals the exact engine's whenever depth is unlimited, since both are
reachability.

Partitioning: with politeness on, the frontier is hash-partitioned by host
(politeness bucket == shuffle partition); candidates shuffle once on url
for the dedup aggregate, and the dedup join's seen side is partitioned the
same way.

Resume: constructing a crawler over a store with committed waves continues
from the latest snapshot; a crawl killed mid-wave re-runs only that wave
(snapshot isolation via atomic manifests). The store is read once: seen,
the latest frontier and the politeness watermark come from one read.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..urlnorm import host_of
from ..util import checkpoint_reset_stats
from .bloom import ShardedBloom, build_bloom, flag_candidates
from .checkpoint import CrawlStateStore
from .engine import BROADCAST_MAX_ROWS, FANOUT_GUESS, UNLIMITED, _seeds_df, _sized_loop, expand
from .politeness import host_watermark, politeness_schedule
from .robots import apply_robots

# use_bloom='auto' flips the Bloom pre-filter on once the crawl matures past
# the measured break-even and keeps it on (build cost amortized by
# incremental merges). Break-even re-derived from min-of-3 warm legs (r4):
# probe+amortized-adjudication LOSES below ~20M seen (0.53x at 5M/100k,
# 0.80x at 1M/100k) and wins 1.5-3.2x at 20M seen / 50k candidates (ratio
# 400) — the probe cost is ~flat in |seen| while the exact anti-join
# reshuffles the whole seen side, so the advantage GROWS with crawl
# maturity (the 10^10-URL design point). Both sit at the measured crossover.
BLOOM_AUTO_MIN_SEEN = 20_000_000
BLOOM_AUTO_MIN_RATIO = 200  # seen / frontier
# the dedup join hints SHUFFLE_HASH only while one task's hash build holds
# at most this many seen urls (~12 MiB at ~90 bytes a row, near the 10 MiB
# per partition Spark accepts for one); above it sort-merge runs, which
# spills
HASH_BUILD_MAX_ROWS = 1 << 17


@dataclass
class CrawlRun:
    seen: DataFrame
    frontier: DataFrame
    waves: int
    metrics: list[dict] = field(default_factory=list)
    increments: Callable[[], list[DataFrame]] = list

    @property
    def visited(self) -> DataFrame:
        """(url, rank, depth) of every enqueued url, one row each: the union
        of the checkpointed frontier increments (the store's on resume)."""
        return reduce(DataFrame.unionByName, [i.select("url", "rank", "depth") for i in self.increments()])


def _seen_side(seen: DataFrame, static: bool, rows: int) -> DataFrame:
    """seen (`__seen` = url) prepared for the per-wave dedup left-join. On
    statically-planned waves (AQE off) the planner would pick a sort-merge
    join — sorting the whole seen side every wave — so the join is hinted
    SHUFFLE_HASH while the `rows` expected seen urls per shuffle partition
    stay under HASH_BUILD_MAX_ROWS. Big AQE waves are left to the runtime
    SMJ→SHJ conversion, which checks actual sizes."""
    side = seen.select(F.col("url").alias("__seen"))
    parts = int(seen.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return side.hint("SHUFFLE_HASH") if static and rows <= HASH_BUILD_MAX_ROWS * parts else side


def _expected_rows(metrics: list[dict], seen_base: int) -> int:
    """The wave's sizing input. metrics[-1] is always the PREVIOUS wave: its
    enqueued count is the live frontier size and candidates/enqueued its
    observed fanout. The dedup join's BIG side is the seen table (its whole
    right side shuffles every wave), so partitions are sized by
    max(expected candidates, |seen|) — sizing by candidates alone funnelled
    the 1M-row seen sort through one task at the tail."""
    fan, fresh = FANOUT_GUESS, 1
    if metrics:
        fresh = metrics[-1].get("enqueued") or 1
        if metrics[-1].get("candidates"):
            fan = max(1.0, metrics[-1]["candidates"] / fresh)
    seen_now = seen_base + sum(m["enqueued"] for m in metrics)
    return int(max(1, fresh * fan, seen_now))


class FrontierCrawler:
    """The wave loop. `run()` owns the session while it runs: every wave
    sets `spark.sql.shuffle.partitions` and `spark.sql.adaptive.enabled`
    from the wave's expected rows (engine._sized_loop), and both are
    restored to the caller's values when the run ends or raises. A query
    planned concurrently on the same session sees the wave's values."""

    def __init__(
        self,
        spark: SparkSession,
        links: DataFrame,
        *,
        store: CrawlStateStore | None = None,
        robots_rules: DataFrame | None = None,
        wait_ms: int = 0,
        max_depth: int = UNLIMITED,
        use_bloom: bool | str = "auto",
    ):
        if not (isinstance(use_bloom, bool) or use_bloom == "auto"):
            raise ValueError(f"use_bloom must be True, False or 'auto', not {use_bloom!r}")
        self.spark = spark
        self.links = links.select("src", F.col("idx").cast("int").alias("idx"), "dst")
        self.store = store
        self.robots_rules = robots_rules
        self.wait_ms = wait_ms
        self.max_depth = max_depth
        self.use_bloom = use_bloom
        self._bloom_active = use_bloom is True

    def _bloom_this_wave(self, seen_count: int, frontier_size: int | None) -> bool:
        if self.use_bloom != "auto":
            return self.use_bloom
        frontier_rows = max(frontier_size or 1, 1)
        if seen_count >= BLOOM_AUTO_MIN_SEEN and seen_count >= BLOOM_AUTO_MIN_RATIO * frontier_rows:
            self._bloom_active = True
        return self._bloom_active

    def _next_frontier(
        self, cand: DataFrame, seen_side: DataFrame | None, watermark: DataFrame | None,
        wave: int, bloom: ShardedBloom | None = None,
    ) -> tuple[DataFrame, dict]:
        """The wave's one job: candidates (url, rank, depth) → robots flag →
        Bloom flag → left-join vs seen → politeness schedule → checkpoint.
        `seen_side` is _seen_side's frame, or None without a dup list.
        Returns the new frontier and the wave's counts (n_blocked, n_cand
        = allowed candidates, n_dup = allowed ones already seen), which
        ride the checkpoint as an Observation — no extra count jobs."""
        if self.robots_rules is None:
            cand = cand.withColumn("allowed", F.lit(True))
        else:
            # keeps the candidate columns; its longest-prefix window reuses
            # the url partitioning of the expansion's aggregate
            cand = apply_robots(cand, self.robots_rules)
        if seen_side is None:
            joined = cand.withColumn("__seen", F.lit(None).cast("string"))
        else:
            on = F.col("url") == F.col("__seen")
            if bloom is not None:
                # one pass: definitely-new rows never match the seen side,
                # maybe-seen ones get the exact check (no false drops)
                cand = flag_candidates(cand, bloom)
                on = on & F.col("__maybe")
            joined = cand.join(seen_side, on, "left")
        allowed, dup = F.col("allowed"), F.col("__seen").isNotNull()
        obs = Observation(f"crawl_w{wave}")
        fresh = joined.observe(
            obs,
            F.sum((~allowed).cast("long")).alias("n_blocked"),
            F.sum(allowed.cast("long")).alias("n_cand"),
            F.sum((allowed & dup).cast("long")).alias("n_dup"),
        ).where(allowed & ~dup).select("url", "rank", "depth")
        # slim dedicated checkpoint: what stays alive across waves is only
        # the increment — the seen union reads these. Stats are RESET here:
        # the wave's joins (expansion, robots, Bloom probe, seen) would
        # compound sizeInBytes estimates every wave (see util)
        frontier = checkpoint_reset_stats(self._schedule(fresh, watermark))
        return frontier, {k: int(v or 0) for k, v in obs.get.items()}

    def _schedule(self, frontier: DataFrame, watermark: DataFrame | None) -> DataFrame:
        """Adds the host bucket. With politeness on: the earliest allowed
        fetch time per host (the watermark offsets each host past its
        previous wave's last fetch, so spacing holds across the wave
        boundary too), hash-partitioned by host. With wait_ms=0 nothing
        consumes that layout, and the extra exchange of the whole frontier
        would be pure cost (guide §2.4 — measured 0.12 s/wave at 1M
        nodes)."""
        if self.wait_ms <= 0:
            return frontier.withColumn("host", host_of(F.col("url")))
        return politeness_schedule(frontier, self.wait_ms, watermark=watermark).repartition("host")

    def _watermark(self, frontier: DataFrame, prev: DataFrame | None) -> DataFrame | None:
        """Per-host last scheduled fetch, carried ACROSS waves."""
        if self.wait_ms <= 0:
            return None
        wm = host_watermark(frontier.select("host", "scheduled_ms"), prev).localCheckpoint(eager=True)
        if prev is not None:
            prev.unpersist()
        return wm

    def _grow_bloom(
        self, bloom: ShardedBloom | None, seen: DataFrame, frontier: DataFrame,
        seen_count: int, last_fresh: int,
    ) -> ShardedBloom:
        """Sized from the OBSERVED seen count (exact, from wave metrics);
        rebuilt at 4x when the count outgrows capacity, otherwise extended
        INCREMENTALLY: only the previous wave's fresh urls are hashed and
        OR-merged — O(increment + filter), never O(seen)."""
        if bloom is None or seen_count > 0.7 * bloom.capacity:
            grown = build_bloom(seen, capacity=max(1_000_000, 4 * seen_count), approx_rows=seen_count)
        else:
            grown = bloom.merge(build_bloom(
                frontier.select("url"), capacity=bloom.capacity, eager=False, approx_rows=last_fresh
            ))
        if bloom is not None:
            bloom.unpersist()
        return grown

    def _seed_wave(self, seeds, prior_seen: DataFrame | None):
        # seeds are fetches too: they take the wave path, so wave 0 is
        # robots-checked, deduped against the prior dup list and scheduled
        # (the cross-wave watermark starts at the seeds' last per-host fetch)
        side = None if prior_seen is None else _seen_side(prior_seen, False, 0)
        frontier, n = self._next_frontier(_seeds_df(self.spark, seeds, dedup=True), side, None, 0)
        m = {"wave": 0, "candidates": 0, "deduped": 0, "robots_blocked": n["n_blocked"],
             "enqueued": n["n_cand"] - n["n_dup"]}
        watermark = self._watermark(frontier, None)
        if self.store:
            self.store.commit(0, frontier, m)
        seen = frontier.select("url")
        if prior_seen is not None:
            seen = prior_seen.unionByName(seen)
        return frontier, seen, [m], watermark

    def _resume(self, snap):
        metrics = [m["metrics"] for m in self.store.manifests()]
        watermark = None
        if self.wait_ms > 0 and "scheduled_ms" in snap.rows.columns:
            # the politeness watermark rebuilt from the committed waves, so
            # the >= wait spacing survives a kill/resume boundary: one
            # aggregate over the snapshot's read (waves committed without a
            # wait read NULL scheduled_ms, which max ignores)
            watermark = host_watermark(snap.rows.select("host", "scheduled_ms")).localCheckpoint(eager=True)
        # seen = union of committed increments (never rewritten)
        return snap.frontier, snap.seen, metrics, watermark

    def run(
        self,
        seeds: list[str] | DataFrame,
        *,
        max_waves: int = 10_000,
        seen: DataFrame | None = None,
    ) -> CrawlRun:
        """Crawl from `seeds` (or resume the store's latest snapshot) until
        a wave enqueues nothing, `max_depth` is reached or `max_waves`
        waves have run. `seen` (url) is the dup list this crawl starts
        from — e.g. an earlier stream batch's seen set: seeds in it are
        dropped and every wave dedups against it. Ignored on resume."""
        spark = self.spark
        snap = self.store.load(spark) if self.store else None
        seen_base = 0
        if snap is None:
            if seen is not None:
                seen_base = seen.count()
            frontier, seen, metrics, watermark = self._seed_wave(seeds, seen)
            wave = 1
        else:
            frontier, seen, metrics, watermark = self._resume(snap)
            wave = snap.wave + 1

        parts = [frontier]
        bloom = None
        last_fresh = metrics[-1]["enqueued"]
        with _sized_loop(spark, _expected_rows(metrics, seen_base)) as sizing:
            while wave < max_waves and wave <= self.max_depth:
                wave_t0 = time.time()
                sizing.resize(_expected_rows(metrics, seen_base))
                # only the columns the expansion needs are broadcast
                # (url/rank/depth — not host/scheduled_ms; guide §2.3)
                cand = expand(
                    frontier.select("url", "rank", "depth"), self.links,
                    broadcast=last_fresh <= BROADCAST_MAX_ROWS,
                )
                seen_count = seen_base + sum(m["enqueued"] for m in metrics)
                if self._bloom_this_wave(seen_count, last_fresh):
                    bloom = self._grow_bloom(bloom, seen, frontier, seen_count, last_fresh)
                next_frontier, n = self._next_frontier(
                    cand, _seen_side(seen, sizing.static, seen_count), watermark, wave, bloom
                )
                n_fresh = n["n_cand"] - n["n_dup"]
                m = {
                    "wave": wave,
                    "candidates": n["n_cand"],
                    "deduped": n["n_dup"],
                    "robots_blocked": n["n_blocked"],
                    "enqueued": n_fresh,
                    "wall_s": round(time.time() - wave_t0, 3),
                }
                metrics.append(m)
                last_fresh = n_fresh
                if n_fresh == 0:
                    next_frontier.unpersist()
                    break
                frontier = next_frontier
                watermark = self._watermark(frontier, watermark)
                # append-only seen: the new increment is unioned, prior
                # increments are already stored — nothing is rewritten
                seen = seen.unionByName(frontier.select("url"))
                parts.append(frontier)
                if self.store:
                    self.store.commit(wave, frontier, m)
                wave += 1
        # a resumed run holds only its own increments; the store has all
        increments = (lambda: parts) if snap is None else (lambda: self.store.increments(spark))
        return CrawlRun(seen=seen, frontier=frontier, waves=wave, metrics=metrics,
                        increments=increments)
