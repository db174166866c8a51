"""Named queries for the driver contract (__spark_entry__.queries()).

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names/types match the DuckDB oracle in oracle.py exactly (the driver's
compare hashes values under name-sorted columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import corpus
from .crawl import politeness, requests as req
from .crawl.crawler import FrontierCrawler
from .crawl.engine import crawl_exact, expand_nodedup
from .crawl.robots import apply_robots
from .extract.links import extract_links
from .urlnorm import canonicalize


def _tune_iterative(spark: SparkSession) -> None:
    """The driver's session may default to 200 shuffle partitions; the
    iterative crawl fixpoints run many small jobs and need sane sizing
    (results are unaffected — this is pure physical tuning)."""
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def _layered(spark: SparkSession, sf_dir: str):
    _tune_iterative(spark)
    docs = corpus.synth_docs(spark, sf_dir)
    links = extract_links(docs, "//a")  # through the spans path, not the raw arithmetic
    seeds = corpus.synth_seeds(spark, sf_dir)
    return docs, links, seeds


def q_crawl_dfs_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact xidel DFS crawl order + seen set on the layered corpus
    (dedup ON, unlimited depth) — the north-rule headline query."""
    _, links, seeds = _layered(spark, sf_dir)
    res = crawl_exact(spark, links, seeds)
    return res.visited.select("url", "rank", "depth", "ord")


def q_crawl_nodedup_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--allow-repetitions --follow-level 2 (maxlevel2-style expansion)."""
    _, links, seeds = _layered(spark, sf_dir)
    res = expand_nodedup(spark, links, seeds, max_depth=2)
    return res.visited.select("url", "rank", "depth", "ord")


def q_crawl_seen_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen set + BFS depth on the cyclic corpus — exercises the cross-wave
    anti-join dedup (the production wave loop)."""
    _tune_iterative(spark)
    # materialized once: every wave joins it, and the synthetic plan would
    # otherwise be re-derived per wave
    links = corpus.synth_links_cyclic(spark, sf_dir).localCheckpoint(eager=True)
    seeds = corpus.synth_seeds(spark, sf_dir)
    run = FrontierCrawler(spark, links).run(seeds)
    return run.visited.select("url", "depth")


def q_link_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-based link extraction (//a → media_ref) over the interleaved
    documents table."""
    docs = corpus.synth_docs(spark, sf_dir)
    return extract_links(docs, "//a")


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization UDF vs closed-form expected values."""
    dirty = corpus.dirty_urls(spark, sf_dir)
    return dirty.select(
        "doc_id", "raw_url", canonicalize(F.col("raw_url")).alias("canonical")
    )


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness pacing (wait=500ms) over the DFS crawl order."""
    _, links, seeds = _layered(spark, sf_dir)
    res = crawl_exact(spark, links, seeds)
    sched = politeness.politeness_schedule(res.visited, wait_ms=500)
    return sched.select("url", "host", "host_seq", "scheduled_ms")


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix robots rules over all candidate URLs: hosts with
    h % 3 == 0 disallow the /p/1 prefix."""
    docs = corpus.base_docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("d"))
    cands = docs.select(corpus.url_of(F.col("d")).alias("url"))
    hosts = spark.range(13).select(
        F.format_string("h%02d.example.com", F.col("id")).alias("host"), F.col("id").alias("h")
    )
    allow_all = hosts.select("host", F.lit("/").alias("prefix"), F.lit(True).alias("allow"))
    deny = hosts.where(F.col("h") % 3 == 0).select(
        "host", F.lit("/p/1").alias("prefix"), F.lit(False).alias("allow")
    )
    rules = allow_all.unionByName(deny)
    return apply_robots(cands, rules)


def q_frontier_dedup_request_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request-tuple identity dedup (url, method, body, headers) — same
    (url, body) once, same url different method kept (tests.sh post4b/c)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    reqs = o.select(
        F.format_string(
            "http://h%02d.example.com/api/%d",
            (F.col("o_custkey") % 13).cast("long"),
            (F.col("o_custkey") % 50).cast("long"),
        ).alias("url"),
        F.when(F.col("o_orderkey") % 3 == 0, "GET")
        .when(F.col("o_orderkey") % 3 == 1, "POST")
        .otherwise("PUT")
        .alias("method"),
        F.when(
            F.col("o_orderkey") % 3 == 1,
            F.format_string("q=%d", (F.col("o_orderkey") % 5).cast("long")),
        )
        .otherwise("")
        .alias("body"),
        F.lit("").alias("headers"),
        F.col("o_orderkey").cast("long").alias("arrival"),
    )
    w = Window.partitionBy("url", "method", "body", "headers")
    annotated = reqs.withColumn("n_requests", F.count(F.lit(1)).over(w))
    kept = req.dedup_requests(annotated, arrival_col="arrival")
    return kept.select(
        "url", "method", "body", F.col("arrival").alias("first_arrival"), "n_requests"
    )


def q_crawl_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`--allow-repetitions --follow-level 2` expansion AND the cyclic-graph
    BFS seen set in one multi-mode gate (the driver records at most 50
    query rows; both semantics stay value-hashed under one row)."""
    a = q_crawl_nodedup_depth2(spark, sf_dir).select(
        F.lit("nodedup").alias("mode"), "url", "rank", "depth", "ord"
    )
    b = q_crawl_seen_bfs(spark, sf_dir).select(
        F.lit("bfs").alias("mode"),
        "url",
        F.lit(None).cast("string").alias("rank"),
        "depth",
        F.lit(None).cast("long").alias("ord"),
    )
    return a.unionByName(b)


CRAWL_QUERIES = {
    "crawl_dfs_order": q_crawl_dfs_order,
    "crawl_modes": q_crawl_modes,
    "link_extraction": q_link_extraction,
    "url_canonicalize": q_url_canonicalize,
    "politeness_schedule": q_politeness_schedule,
    "robots_filter": q_robots_filter,
    "frontier_dedup_request_tuple": q_frontier_dedup_request_tuple,
}
