"""Focused tests for the round-6 optimization internals.

Each optimization claims BIT-IDENTICAL results through a different
physical plan; these pin that claim at unit scale (the DuckDB gates pin
it at corpus scale).
"""

import pytest
from pyspark.sql import functions as F


def test_minhash_barrier_signatures_match_unshared_form(spark):
    """the shuffle-barrier signature pass must equal the naive unshared
    per-column formula, including NULL signatures for shingle-less docs."""
    from xidel_spark.ops.dedup_text import minhash_signature, shingles_col

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "too short"),            # < 3 tokens -> empty shingles -> NULLs
         (3, ""),
         (4, "one two three four five six seven")],
        "doc_id long, text string",
    )
    got = minhash_signature(docs, k=4)
    sh = shingles_col(F.col("text"), 3)
    ref = docs.select(
        "doc_id",
        *[F.array_min(
            F.transform(sh, (lambda p: (lambda s: F.md5(F.concat(F.lit(p), s))))(f"{j}|"))
          ).alias(f"sig_{j}") for j in range(4)],
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    nulls = got.where(F.col("doc_id").isin(2, 3)).collect()
    assert all(r[f"sig_{j}"] is None for r in nulls for j in range(4))


def test_sized_loop_restores_confs_on_exception(spark, monkeypatch):
    from xidel_spark.crawl.engine import _sized_loop

    parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        with _sized_loop(spark, 10):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0

    # the crawler sizes every wave through the same context: a layer that
    # raises mid-crawl (robots, on its 2nd call = wave 1) must still leave
    # the caller's confs behind
    import xidel_spark.crawl.crawler as crawler

    links = spark.createDataFrame(
        [(f"http://h.test/p{i}", 0, f"http://h.test/p{i + 1}") for i in range(5)],
        "src string, idx int, dst string",
    )
    rules = spark.createDataFrame([("h.test", "/", True)], "host string, prefix string, allow boolean")
    calls = []
    apply_robots = crawler.apply_robots

    def failing_robots(*a, **kw):
        calls.append(1)
        if len(calls) == 2:
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            raise RuntimeError("robots down")
        return apply_robots(*a, **kw)

    monkeypatch.setattr(crawler, "apply_robots", failing_robots)
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        with pytest.raises(RuntimeError, match="robots down"):
            crawler.FrontierCrawler(spark, links, robots_rules=rules).run(["http://h.test/p0"])
        assert len(calls) == 2
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts0)


def test_link_extraction_filter_before_sort_unsorted_spans(spark):
    """the flat fast path sorts AFTER filtering now; feed deliberately
    UNSORTED spans to pin that document order still comes out right."""
    from xidel_spark.extract.links import extract_links
    from xidel_spark.schemas import DOCUMENTS

    rows = [(
        "d1",
        [("link", "b", "b.html", 5), ("title", "T", None, 0), ("link", "a", "a.html", 1)],
        "d1", "text/html", {}, "html",
    )]
    docs = spark.createDataFrame(rows, DOCUMENTS)
    got = [(r["idx"], r["dst"]) for r in extract_links(docs, "//a").orderBy("idx").collect()]
    assert got == [(0, "a.html"), (1, "b.html")]
