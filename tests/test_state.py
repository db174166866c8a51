"""Bloom filter, checkpoint/resume, and crawler integration tests."""

import pytest
from pyspark.sql import functions as F

from xidel_spark.crawl.bloom import build_bloom, split_candidates
from xidel_spark.crawl.checkpoint import CrawlStateStore
from xidel_spark.crawl.crawler import FrontierCrawler
from xidel_spark.crawl.engine import crawl_exact
from xidel_spark.corpus import fixture_graph
from xidel_spark.extract.links import extract_links


@pytest.fixture(scope="module")
def cyclic_links(spark):
    # small cyclic graph: dst = (3*i + k + 1) % 40
    rows = [
        (f"http://h{i % 5}.test/p/{i}", k, f"http://h{(3 * i + k + 1) % 40 % 5}.test/p/{(3 * i + k + 1) % 40}")
        for i in range(40)
        for k in range(2)
    ]
    return spark.createDataFrame(rows, "src string, idx int, dst string").cache()


SEEDS = ["http://h0.test/p/0", "http://h1.test/p/1"]


def test_bloom_no_false_negatives(spark):
    seen = spark.createDataFrame([(f"u{i}",) for i in range(500)], "url string")
    bloom = build_bloom(seen, n_shards=4, capacity=4000)
    cands = spark.createDataFrame(
        [(f"u{i}",) for i in range(400, 900)], "url string"
    )  # 100 seen + 400 new
    definitely_new, maybe = split_candidates(cands, bloom)
    new_urls = {r["url"] for r in definitely_new.collect()}
    # no seen url may be classified definitely-new
    assert not any(int(u[1:]) < 500 for u in new_urls)
    # the pre-filter must actually pass most genuinely-new urls
    assert len(new_urls) > 300
    # split is a partition of the candidates
    assert definitely_new.count() + maybe.count() == 500


def test_bloom_blocked_layout_and_fpr(spark):
    """all k bits of a url land in ONE 512-bit block row; the blocked
    layout's false-positive rate stays near the unblocked design point (≤2%
    at n = capacity, ≤0.2% at half load) with zero false negatives."""
    one = build_bloom(spark.createDataFrame([("http://x/1",)], "url string"), capacity=1000)
    (row,) = one.df.collect()
    assert sum(bin(row[f"w{j}"] % (1 << 64)).count("1") for j in range(8)) == one.k

    def urls(n, tag):
        url = F.format_string(f"http://h%d.test/{tag}/%d", F.col("id") % 97, "id")
        return spark.range(n).select(url.alias("url"))

    n = 20_000
    seen, fresh = urls(n, "seen"), urls(n, "fresh")
    for capacity, max_fpr in ((n, 0.02), (2 * n, 0.002)):
        bloom = build_bloom(seen, capacity=capacity, n_shards=4)
        new_seen, _ = split_candidates(seen, bloom)
        assert new_seen.count() == 0  # no false negatives
        _, maybe_fresh = split_candidates(fresh, bloom)
        assert maybe_fresh.count() / n <= max_fpr


def test_bloom_merge_and_distributed_probe(spark):
    """incremental OR-merge keeps the no-false-drop guarantee, and the
    DISTRIBUTED (non-broadcast) probe path gives identical verdicts."""
    import xidel_spark.crawl.bloom as bl

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "url string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "url string")
    bloom = build_bloom(a, n_shards=4, capacity=4000).merge(
        build_bloom(b, n_shards=4, capacity=4000, eager=False)
    )
    cands = spark.createDataFrame(
        [(f"a{i}",) for i in range(0, 300, 3)]
        + [(f"b{i}",) for i in range(0, 300, 3)]
        + [(f"c{i}",) for i in range(200)],
        "url string",
    )
    new_b, maybe_b = split_candidates(cands, bloom)
    seen_new_b = {r["url"] for r in new_b.collect()}
    assert not any(u[0] in "ab" for u in seen_new_b)
    # force the shuffle-join probe path and compare verdicts exactly
    old = bl.BROADCAST_MAX_BITS
    bl.BROADCAST_MAX_BITS = 0
    try:
        new_d, maybe_d = split_candidates(cands, bloom)
        assert seen_new_b == {r["url"] for r in new_d.collect()}
        assert {r["url"] for r in maybe_b.collect()} == {r["url"] for r in maybe_d.collect()}
    finally:
        bl.BROADCAST_MAX_BITS = old


def test_bloom_never_driver_resident(spark):
    """the word table must stay a DataFrame (the 10^10 shape): building a
    filter over many urls must not collect anything to the driver."""
    seen = spark.range(0, 50_000).select(F.format_string("http://x/%d", "id").alias("url"))
    bloom = build_bloom(seen, capacity=200_000, n_shards=8)
    # word rows live in the cluster; only the tiny row count comes back
    assert bloom.df.count() > 0
    assert not hasattr(bloom, "blocks")


def test_crawler_matches_engine_seen(spark, cyclic_links):
    run = FrontierCrawler(spark, cyclic_links).run(SEEDS)
    ref = crawl_exact(spark, cyclic_links, SEEDS)
    assert {r["url"] for r in run.seen.collect()} == {r["url"] for r in ref.seen.collect()}


def test_crawler_bloom_path_equal(spark, cyclic_links):
    plain = FrontierCrawler(spark, cyclic_links).run(SEEDS)
    bloomed = FrontierCrawler(spark, cyclic_links, use_bloom=True).run(SEEDS)
    assert {r["url"] for r in plain.seen.collect()} == {r["url"] for r in bloomed.seen.collect()}
    assert [m["enqueued"] for m in plain.metrics] == [m["enqueued"] for m in bloomed.metrics]


def test_checkpoint_resume_exact(spark, cyclic_links, tmp_path):
    full = FrontierCrawler(spark, cyclic_links).run(SEEDS)

    store = CrawlStateStore(str(tmp_path / "ckpt"))
    # run only 3 waves, "crash"
    partial = FrontierCrawler(spark, cyclic_links, store=store).run(SEEDS, max_waves=3)
    assert partial.waves == 3
    assert store.latest() is not None

    # resume in a "new" crawler over the same store
    resumed = FrontierCrawler(spark, cyclic_links, store=store).run(SEEDS)
    assert {r["url"] for r in resumed.seen.collect()} == {
        r["url"] for r in full.seen.collect()
    }
    # lineage: manifests cover every wave with metrics
    manifests = store.manifests()
    assert [m["wave"] for m in manifests] == list(range(len(manifests)))
    assert all("lineage" in m and m["lineage"]["frontier_files"] for m in manifests)


def test_robots_blocks_host(spark, cyclic_links):
    hosts = [f"h{i}.test" for i in range(5)]
    rules = spark.createDataFrame(
        [(h, "/", True) for h in hosts] + [("h1.test", "/p/", False)],
        "host string, prefix string, allow boolean",
    )
    unfiltered = FrontierCrawler(spark, cyclic_links).run(SEEDS)
    filtered = FrontierCrawler(spark, cyclic_links, robots_rules=rules).run(SEEDS)
    seen_unf = {r["url"] for r in unfiltered.seen.collect()}
    seen_flt = {r["url"] for r in filtered.seen.collect()}
    assert any("h1.test" in u for u in seen_unf)          # would have crawled h1
    assert not any("h1.test" in u for u in seen_flt)      # robots blocked it
    assert any(m["robots_blocked"] > 0 for m in filtered.metrics)
    assert seen_flt <= seen_unf


def test_parse_robots_txt():
    from xidel_spark.crawl.robots import parse_robots_txt

    txt = """
# comment
User-agent: googlebot
Disallow: /private/

User-agent: *
Disallow: /tmp/
Allow: /tmp/ok/
Disallow:
"""
    rules = parse_robots_txt("h.test", txt)
    # default-allow rule has the EMPTY prefix so explicit rules outrank it
    assert ("h.test", "", True) in rules
    assert ("h.test", "/tmp/", False) in rules
    assert ("h.test", "/tmp/ok/", True) in rules
    assert all(p != "/private/" for _, p, _ in rules)  # wrong agent group
    gb = parse_robots_txt("h.test", txt, agent="googlebot")
    assert ("h.test", "/private/", False) in gb


def test_robots_disallow_all_is_deterministic(spark):
    """'Disallow: /' must always beat the injected default-allow — the old
    same-length tie was resolved by partition luck."""
    from xidel_spark.crawl.robots import apply_robots, parse_robots_txt

    rules = spark.createDataFrame(
        parse_robots_txt("h.test", "User-agent: *\nDisallow: /\n"),
        "host string, prefix string, allow boolean",
    )
    cand = spark.createDataFrame(
        [(f"http://h.test/p{i}",) for i in range(200)], "url string"
    ).repartition(8)
    out = apply_robots(cand, rules)
    assert out.where("allowed").count() == 0


def test_robots_urls_without_path(spark):
    """the authority ends at '/', '?' or '#' and an empty path is '/'
    (RFC 9309 §2.2.2): 'Disallow: /' blocks http://h.test and
    http://h.test?q=1, and 'Disallow: /x' does not block http://h.test?q=/x"""
    from xidel_spark.crawl.robots import apply_robots

    rules = spark.createDataFrame(
        [("h.test", "/", False), ("g.test", "/x", False)],
        "host string, prefix string, allow boolean",
    )
    cand = spark.createDataFrame(
        [("http://h.test",), ("http://h.test?q=1",), ("http://g.test?q=/x",), ("http://g.test/x/1",)],
        "url string",
    )
    got = {r.url: r.allowed for r in apply_robots(cand, rules).collect()}
    assert got == {
        "http://h.test": False,
        "http://h.test?q=1": False,
        "http://g.test?q=/x": True,
        "http://g.test/x/1": False,
    }


def test_torn_wave_is_invisible(spark, cyclic_links, tmp_path):
    """snapshot isolation: a crash AFTER data files land but BEFORE the
    manifest commit must leave the store at the previous wave."""
    store = CrawlStateStore(str(tmp_path / "torn"))
    FrontierCrawler(spark, cyclic_links, store=store).run(SEEDS, max_waves=3)
    last = store.latest()
    # simulate a torn wave: data directory exists, no manifest
    torn_dir = tmp_path / "torn" / f"wave={last + 1}" / "frontier"
    torn_dir.mkdir(parents=True)
    (torn_dir / "part-00000.parquet").write_bytes(b"GARBAGE")
    assert store.latest() == last
    snap = store.load(spark)
    assert snap.wave == last
    # resume proceeds correctly from the last committed wave
    resumed = FrontierCrawler(spark, cyclic_links, store=store).run(SEEDS)
    full = FrontierCrawler(spark, cyclic_links).run(SEEDS)
    assert {r["url"] for r in resumed.seen.collect()} == {r["url"] for r in full.seen.collect()}


def test_bloom_null_url_candidate_not_lost(spark):
    """regression: a NULL-url candidate must land in exactly one split (the
    maybe/exact-check side) in BOTH probe regimes, never vanish."""
    import xidel_spark.crawl.bloom as bl
    from xidel_spark.crawl.bloom import build_bloom, split_candidates

    seen = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string")
    bloom = build_bloom(seen, n_shards=2, capacity=1000)
    cands = spark.createDataFrame([("u1",), (None,), ("x9",)], "url string")
    for max_bits in (None, 0):  # broadcast regime, then distributed regime
        old = bl.BROADCAST_MAX_BITS
        if max_bits is not None:
            bl.BROADCAST_MAX_BITS = max_bits
        try:
            new, maybe = split_candidates(cands, bloom)
            assert new.count() + maybe.count() == 3
            assert maybe.where(F.col("url").isNull()).count() == 1
        finally:
            bl.BROADCAST_MAX_BITS = old


def test_bloom_auto_mode(spark, monkeypatch):
    """use_bloom='auto' (the default) stays OFF below the break-even and
    flips ON (sticky) once seen/frontier crosses the thresholds; results
    match the exact-join crawler exactly. Any other use_bloom is an error."""
    import xidel_spark.crawl.crawler as crawler_mod

    links = fixture_graph(spark)
    ltab = extract_links(links, "//a")
    crawler_exact = FrontierCrawler(spark, ltab, use_bloom=False)
    run_exact = crawler_exact.run(SEEDS)

    # tiny thresholds so the fixture crawl crosses break-even at wave 1
    with monkeypatch.context() as mp:
        mp.setattr(crawler_mod, "BLOOM_AUTO_MIN_SEEN", 1)
        mp.setattr(crawler_mod, "BLOOM_AUTO_MIN_RATIO", 1)
        crawler_auto = FrontierCrawler(spark, ltab, use_bloom="auto")
        run_auto = crawler_auto.run(SEEDS)
        assert crawler_auto._bloom_active  # flipped on
        assert {r["url"] for r in run_auto.seen.collect()} == {
            r["url"] for r in run_exact.seen.collect()
        }
        assert [m["enqueued"] for m in run_auto.metrics] == [
            m["enqueued"] for m in run_exact.metrics
        ]
    with pytest.raises(ValueError, match="use_bloom"):
        FrontierCrawler(spark, ltab, use_bloom="on")
    # default thresholds: fixture-scale crawls never activate the filter
    crawler_def = FrontierCrawler(spark, ltab)
    run_def = crawler_def.run(SEEDS)
    assert not crawler_def._bloom_active
    assert {r["url"] for r in run_def.seen.collect()} == {
        r["url"] for r in run_exact.seen.collect()
    }
