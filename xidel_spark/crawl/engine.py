"""The distributed crawl engine: frontier closure + exact DFS crawl order.

Reference semantics being reproduced (see SURVEY.md §2.2 and
xidel_spark/crawl/simulator.py for the sequential oracle):

- **DFS visit order** (xidelbase.pas:2007-2020): children of a document are
  enqueued all at once at the parent's visit, in link-document order, and
  each child is fully processed before its later siblings.
- **Enqueue-time dedup** (xidelbase.pas:1484-1491): a URL is dropped iff an
  equal request was *ever enqueued* before — where "before" is the parent's
  visit time, not the child's. Consequence (pinned by golden
  tests/output/tef): a URL enqueued by an early-visited shallow parent
  shadows links from later-visited parents, and the URL is visited at the
  *enqueueing* parent's position.

Spark-first formulation
-----------------------
DFS order is encoded as a rank string (order.py). The final crawl tree
satisfies a fixpoint: a node's first enqueuer is the *visited* in-neighbor
with the smallest rank, and ``rank(v) = rank(first_enqueuer) || seg(link_idx)``.

With dedup ON and unlimited depth (the reference's default: followMaxLevel
99999 ≈ ∞), "visited" = "reachable", so the fixpoint is a *monotone*
lexicographic-min path problem — solved by Bellman-Ford-style DataFrame
relaxation (`crawl_exact`): each iteration is one join + one aggregation,
ranks only decrease, convergence in O(tree height) iterations. This is the
same shape as distributed SSSP / connected components, and parallelizes to
arbitrarily many executors: no sequential pop loop.

With dedup OFF (``--allow-repetitions``) the crawl is pure tree expansion
(`expand_nodedup`) — embarrassingly parallel per wave.

With dedup ON **and** a finite depth limit, the reference's behavior is
genuinely sequential (an over-depth enqueue still poisons the seen set:
xidelbase.pas add() registers before processFollowTo's depth check), and
lexicographically-first DFS is P-complete — `crawl_exact_depth_limited`
replays it with a per-pop Spark loop (exact; used at fixture scale). The
scalable path for bounded-depth production crawls is the BFS wave loop,
`FrontierCrawler(max_depth=...)` (crawler.py).

All loops share one expansion step (`expand`: join → per-dst min over
(parent rank, link idx, depth)) and one sizing policy (`_sized_loop`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .order import seg, seg_py

UNLIMITED = 1 << 30


# Physical sizing policy of every crawl loop (r6, guide §2). Each loop
# knows its bounded work, so shuffle partitions come from the expected rows
# instead of a session-wide constant, and AQE, whose per-query stage
# re-planning measured ~0.5 s of driver latency per tiny iteration, stays
# on only above AQE_MIN_ROWS. Results are unaffected: only partition counts
# and re-planning change.
ROWS_PER_PARTITION = 50_000
AQE_MIN_ROWS = 5_000_000
# a frontier (or relaxation state) of at most this many rows is broadcast
# into the expansion join, so the link table needs no exchange or sort
BROADCAST_MAX_ROWS = 2_000_000
# the crawler's fanout estimate before the first wave has been observed
FANOUT_GUESS = 4.0


def _partitions(base: int, rows: int) -> int:
    return min(base, max(1, -(-rows // ROWS_PER_PARTITION)))


class _sized_loop:
    """Sizes the session for a loop expecting `expected` rows and restores
    `spark.sql.shuffle.partitions` / `spark.sql.adaptive.enabled` on exit.
    `resize(expected)` re-sizes between iterations; `static` tells callers
    whether the plan is statically sized (they then hint SHUFFLE_HASH
    where the planner would otherwise pick a sort-merge join on
    default-stat checkpointed inputs)."""

    def __init__(self, spark: SparkSession, expected: int):
        self.spark = spark
        self.expected = expected

    def __enter__(self) -> _sized_loop:
        conf = self.spark.conf
        self._parts0 = conf.get("spark.sql.shuffle.partitions")
        self._aqe0 = conf.get("spark.sql.adaptive.enabled", "true")
        self.resize(self.expected)
        return self

    def resize(self, expected: int) -> None:
        expected = max(1, int(expected))
        self.static = expected <= AQE_MIN_ROWS
        conf = self.spark.conf
        conf.set("spark.sql.shuffle.partitions", str(_partitions(int(self._parts0), expected)))
        conf.set("spark.sql.adaptive.enabled", "false" if self.static else "true")

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self._parts0)
        self.spark.conf.set("spark.sql.adaptive.enabled", self._aqe0)


@dataclass
class CrawlResult:
    visited: DataFrame   # (url, rank, depth) — one row per visit (repeats possible if dedup off)
    seen: DataFrame      # (url) — every enqueued url (the duplication list)
    waves: int = 0


def _seeds_df(spark: SparkSession, seeds: list[str] | DataFrame, dedup: bool) -> DataFrame:
    """Seed frontier with FIFO ranks; dedup-at-enqueue applies to seeds too
    (golden tests/output/repetitionoff: the same seed twice fetches once)."""
    if isinstance(seeds, DataFrame):
        df = seeds.select("url", "seed_idx")
    else:
        df = spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)], "url string, seed_idx long"
        )
    if dedup:
        df = (
            df.groupBy("url")
            .agg(F.min("seed_idx").alias("seed_idx"))
        )
    return df.select("url", seg(F.col("seed_idx").cast("int")).alias("rank"), F.lit(0).alias("depth"))


def _with_order(visited: DataFrame, approx_rows: int | None = None) -> DataFrame:
    """ord = global crawl-order position. Range-partitioned two-pass
    numbering (util.total_order) — the rank string already IS the total
    order, so no single-partition sort is ever needed. Callers that track
    the visited size pass approx_rows so the range partitioning is sized
    by data instead of the session constant (guide §2)."""
    from ..util import total_order

    n = None
    if approx_rows is not None:
        base = int(visited.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n = _partitions(base, int(approx_rows))
    return total_order(visited, ["rank"], out_col="ord", num_partitions=n)


def _pin_links(links: DataFrame) -> tuple[DataFrame, int]:
    """The link table materialized ONCE, hash-partitioned on the join key.

    Without this every iteration re-runs the whole upstream plan (corpus
    synthesis / span extraction — scan + groupBy + join + explode per
    iteration, guide §2.4) and re-shuffles links for the join. The
    persisted InMemoryRelation keeps hashpartitioning(src), so only the
    (small) frontier side exchanges per step. Standard iterative-algorithm
    shape; MEMORY_AND_DISK spills at scale. Callers unpersist it."""
    links = (
        links.select(F.col("src"), F.col("idx").cast("int").alias("idx"), F.col("dst"))
        .repartition(F.col("src"))
        .persist()
    )
    return links, links.count()


def expand(frontier: DataFrame, links: DataFrame, broadcast: bool) -> DataFrame:
    """One first-enqueuer step: frontier (url, rank, depth) ⋈ links, then
    per dst the smallest (parent rank, link idx) wins — the earliest
    visited parent and its first link to dst (xidelbase.pas:2007-2020).
    Returns (url, rank || seg(idx), depth + 1). `broadcast` ships the
    frontier into the join so the link side needs neither exchange nor
    sort."""
    side = F.broadcast(frontier) if broadcast else frontier
    return (
        side.join(links, frontier.url == links.src)
        .groupBy(links.dst)
        .agg(F.min(F.struct("rank", "idx", "depth")).alias("m"))
        .select(
            F.col("dst").alias("url"),
            F.concat(F.col("m.rank"), seg(F.col("m.idx"))).alias("rank"),
            (F.col("m.depth") + 1).alias("depth"),
        )
    )


def crawl_exact(
    spark: SparkSession,
    links: DataFrame,
    seeds: list[str] | DataFrame,
    *,
    max_iter: int = 200,
) -> CrawlResult:
    """Exact xidel crawl (dedup ON, unlimited depth) via rank relaxation.

    `links`: (src: string, idx: int|long, dst: string) — link-document order
    per src given by idx. Returns visit order identical to the reference's
    recursive loop (golden tests/output/tef).
    """
    from pyspark.sql import Observation

    links, n_links = _pin_links(links)
    waves = 0
    try:
        with _sized_loop(spark, n_links) as sizing:
            # seed prep (a dedup groupBy + checkpoint) runs under the loop
            # sizing too — at fixture/gate scale it is a 1-partition job
            seed_urls = _seeds_df(spark, seeds, dedup=True).localCheckpoint(eager=True)
            best = seed_urls
            # |best| ≤ |seeds| + Σ changed, tracked exactly from the
            # Observation: best is broadcast while provably small
            best_rows_ub = seed_urls.count()
            lnk = links.hint("SHUFFLE_HASH") if sizing.static else links
            for it in range(max_iter):
                waves += 1
                # Seeds are excluded: all data sources are enqueued into
                # the dup list before any visit (xidelbase.pas:2099-2100),
                # so a seed's rank is fixed and links back to a seed are
                # always dedup-dropped.
                cand = expand(best, lnk, broadcast=best_rows_ub <= BROADCAST_MAX_ROWS).join(
                    seed_urls.select("url"), "url", "left_anti"
                )
                # convergence detection FUSED into the relaxation aggregate:
                # carry the previous rank on the best side; a url changed iff
                # it is new (no old rank) or relaxed below it. The count
                # rides the checkpoint job as an Observation — no separate
                # anti-join probe per iteration.
                merged = best.withColumn("old_rank", F.col("rank")).unionByName(
                    cand.withColumn("old_rank", F.lit(None).cast("string"))
                )
                obs = Observation(f"relax_{it}")
                new_best = (
                    merged.groupBy("url")
                    .agg(
                        F.min(F.struct("rank", "depth")).alias("m"),
                        F.min("old_rank").alias("old_rank"),
                    )
                    .withColumn(
                        "__changed",
                        (F.col("old_rank").isNull() | (F.col("m.rank") < F.col("old_rank"))).cast("int"),
                    )
                    .observe(obs, F.sum("__changed").alias("ch"))
                    .select("url", F.col("m.rank").alias("rank"), F.col("m.depth").alias("depth"))
                    .localCheckpoint(eager=True)
                )
                changed = int(obs.get["ch"] or 0)
                if best is not seed_urls:
                    best.unpersist()  # superseded relaxation state
                best = new_best
                best_rows_ub += changed  # every new url counts as changed
                if changed == 0:
                    break
    finally:
        # best/visited derive from checkpointed RDDs only — links is free
        links.unpersist()
    visited = _with_order(best, approx_rows=best_rows_ub)
    seen = best.select("url")
    return CrawlResult(visited=visited, seen=seen, waves=waves)


def expand_nodedup(
    spark: SparkSession,
    links: DataFrame,
    seeds: list[str] | DataFrame,
    *,
    max_depth: int,
) -> CrawlResult:
    """Crawl with ``--allow-repetitions`` (dedup OFF) and a depth limit.

    Pure tree expansion: every link spawns a visit instance (goldens
    tests/output/maxlevel0..3, repetitionon). One wave per depth level.
    """
    links, n_links = _pin_links(links)
    enqueued_only = None
    try:
        with _sized_loop(spark, n_links) as sizing:
            level = _seeds_df(spark, seeds, dedup=False).localCheckpoint(eager=True)
            layers = [level]
            lnk = links.hint("SHUFFLE_HASH") if sizing.static else links
            for d in range(max_depth + 1):
                children = (
                    level.join(lnk, level.url == links.src)
                    .select(
                        F.col("dst").alias("url"),
                        F.concat("rank", seg(F.col("idx"))).alias("rank"),
                        F.lit(d + 1).alias("depth"),
                    )
                )
                if d < max_depth:
                    level = children.localCheckpoint(eager=True)
                    if level.limit(1).count() == 0:
                        break
                    layers.append(level)
                else:
                    # children of depth-max_depth visits are enqueued
                    # (registered) but never fetched (xidelbase.pas:2012
                    # depth check at fetch time) — materialized so the
                    # returned seen set does not re-reference links after
                    # unpersist
                    enqueued_only = children.select("url").localCheckpoint(eager=True)
    finally:
        links.unpersist()
    visited = layers[0]
    for extra in layers[1:]:
        visited = visited.unionByName(extra)
    seen = visited.select("url")
    if enqueued_only is not None:
        seen = seen.unionByName(enqueued_only)
    return CrawlResult(visited=_with_order(visited), seen=seen.distinct(), waves=len(layers))


def crawl_exact_depth_limited(
    spark: SparkSession,
    links: dict[str, list[str]] | DataFrame,
    seeds: list[str],
    *,
    max_depth: int,
) -> CrawlResult:
    """Exact semantics for dedup ON + finite depth limit.

    This combination is inherently sequential in the reference (the seen set
    is mutated in visit order and over-depth enqueues still poison it), so we
    replay it with the sequential oracle and parallelize the result. Only
    used at fixture scale; production bounded-depth crawls use
    FrontierCrawler(max_depth=...).

    Guarded: a link table above `max_replay_links` rows raises instead of
    OOM-ing the driver — this path is P-complete (dedup ON + finite depth
    serializes on the visit-order-mutated seen set), so there is no
    distributed exact form to fall back to; callers at scale must accept
    FrontierCrawler's BFS order or lift the depth limit (crawl_exact).
    """
    from .simulator import simulate_crawl

    max_replay_links = int(
        spark.conf.get("xidel.crawl.maxReplayLinks", "5000000")
    )
    if isinstance(links, DataFrame):
        n_links = links.count()
        if n_links > max_replay_links:
            raise ValueError(
                f"crawl_exact_depth_limited replays the crawl on the driver "
                f"(P-complete: dedup ON + finite depth is inherently "
                f"sequential) and the link table has {n_links} rows "
                f"(> xidel.crawl.maxReplayLinks={max_replay_links}). "
                f"Use FrontierCrawler(max_depth=...) for scalable BFS-order "
                f"bounded crawls, or crawl_exact for unlimited depth."
            )
        rows = links.select("src", "idx", "dst").collect()
        adj: dict[str, list[tuple[int, str]]] = {}
        for r in rows:
            adj.setdefault(r["src"], []).append((r["idx"], r["dst"]))
        link_map = {k: [d for _, d in sorted(v)] for k, v in adj.items()}
    else:
        link_map = links
    sim = simulate_crawl(link_map, seeds, max_depth=max_depth, dedup=True)
    visited = spark.createDataFrame(
        [(u, seg_py(i), d, i + 1) for i, (u, d) in enumerate(zip(sim.visit_order, sim.visit_depths))],
        "url string, rank string, depth int, ord int",
    )
    seen = spark.createDataFrame([(u,) for u in sorted(sim.seen)], "url string")
    return CrawlResult(visited=visited, seen=seen, waves=len(sim.visit_order))
