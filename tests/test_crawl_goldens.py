"""Crawl-order golden tests, ported from the reference's test corpus.

Each case mirrors a golden file under /root/reference/tests/output/ produced
by tests/tests.sh over the a.xml..c2.xml fixture graph (FIXTURES.md §1a):

- tef         : `a.xml -e //title -f //a` (dedup ON, unlimited depth)
- tfe         : `a.xml -f //a -e //title` (extract only on followed pages)
- maxlevel0-3 : `--follow-level N --allow-repetitions`
- repetitionoff/on : same seed twice with dedup on/off
"""

import pytest
from pyspark.sql import functions as F

from xidel_spark.corpus import fixture_graph, fixture_link_map
from xidel_spark.crawl.crawler import FrontierCrawler
from xidel_spark.crawl.engine import (
    crawl_exact,
    crawl_exact_depth_limited,
    expand_nodedup,
)
from xidel_spark.extract.links import extract_kind_text, extract_links


@pytest.fixture(scope="module")
def docs(spark):
    return fixture_graph(spark).cache()


@pytest.fixture(scope="module")
def links(docs):
    return extract_links(docs, "//a").cache()


def titles_in_order(docs, visited):
    t = extract_kind_text(docs, "//title")
    rows = (
        visited.join(t, visited.url == t.url)
        .orderBy("ord")
        .select("value")
        .collect()
    )
    return [r["value"] for r in rows]


def test_extract_links_skips_non_anchor(links):
    # <ad href="d.xml"> in a.xml must not match '//a'
    dsts = {r["dst"] for r in links.where("src = 'a.xml'").collect()}
    assert dsts == {"b.xml", "c.xml"}


def test_tef_dfs_order_with_dedup(spark, docs, links):
    res = crawl_exact(spark, links, ["a.xml"])
    assert titles_in_order(docs, res.visited) == ["AAA", "BBB", "B1", "B2", "CCC", "C1", "C2"]
    seen = {r["url"] for r in res.seen.collect()}
    assert seen == {"a.xml", "b.xml", "b1.xml", "b2.xml", "c.xml", "c1.xml", "c2.xml"}


def test_tfe_extract_on_followed_only(spark, docs, links):
    res = crawl_exact_depth_limited(spark, links, ["a.xml"], max_depth=1)
    followed = res.visited.where(F.col("depth") >= 1)
    assert titles_in_order(docs, followed) == ["BBB", "CCC"]


MAXLEVEL_GOLDENS = {
    0: ["AAA"],
    1: ["AAA", "BBB", "CCC"],
    2: ["AAA", "BBB", "CCC", "B1", "B2", "CCC", "C1", "C2"],
    3: ["AAA", "BBB", "CCC", "C1", "C2", "B1", "B2", "CCC", "C1", "C2"],
}


@pytest.mark.parametrize("level", [0, 1, 2, 3])
def test_maxlevel_nodedup(spark, docs, links, level):
    res = expand_nodedup(spark, links, ["a.xml"], max_depth=level)
    assert titles_in_order(docs, res.visited) == MAXLEVEL_GOLDENS[level]


def test_repetition_off(spark, docs, links):
    res = crawl_exact(spark, links.limit(0), ["a.xml", "a.xml"])
    assert titles_in_order(docs, res.visited) == ["AAA"]


def test_repetition_on(spark, docs, links):
    res = expand_nodedup(spark, links.limit(0), ["a.xml", "a.xml"], max_depth=0)
    assert titles_in_order(docs, res.visited) == ["AAA", "AAA"]


def test_waves_seen_set_matches_exact(spark, links):
    exact = crawl_exact(spark, links, ["a.xml"])
    waves = FrontierCrawler(spark, links).run(["a.xml"])
    assert {r["url"] for r in exact.seen.collect()} == {r["url"] for r in waves.seen.collect()}
    # per-wave dedup lineage metrics recorded
    assert waves.metrics and all("enqueued" in m for m in waves.metrics)


def test_simulator_matches_goldens():
    from xidel_spark.crawl.simulator import simulate_crawl

    lm = fixture_link_map()
    sim = simulate_crawl(lm, ["a.xml"], dedup=True)
    assert sim.visit_order == ["a.xml", "b.xml", "b1.xml", "b2.xml", "c.xml", "c1.xml", "c2.xml"]
    sim3 = simulate_crawl(lm, ["a.xml"], max_depth=3, dedup=False)
    assert [u.split(".")[0] for u in sim3.visit_order] == [
        "a", "b", "c", "c1", "c2", "b1", "b2", "c", "c1", "c2"
    ]  # golden maxlevel3


def test_depth_limited_replay_guard(spark):
    """crawl_exact_depth_limited must refuse link tables above the replay
    threshold instead of collecting them to the driver (VERDICT r2 #3)."""
    import pytest
    from pyspark.sql import functions as F

    from xidel_spark.crawl.engine import crawl_exact_depth_limited

    links = spark.range(1000).select(
        F.concat(F.lit("u"), F.col("id")).alias("src"),
        F.lit(0).alias("idx"),
        F.concat(F.lit("u"), F.col("id") + 1).alias("dst"),
    )
    spark.conf.set("xidel.crawl.maxReplayLinks", "100")
    try:
        with pytest.raises(ValueError, match="FrontierCrawler"):
            crawl_exact_depth_limited(spark, links, ["u0"], max_depth=2)
    finally:
        spark.conf.set("xidel.crawl.maxReplayLinks", "5000000")
    # fixture scale still works under the default guard
    res = crawl_exact_depth_limited(spark, links.limit(50), ["u0"], max_depth=3)
    assert res.visited.count() == 4
