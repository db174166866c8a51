"""Change-log condensing, output formats, streaming crawl, media plumbing."""

import json

import pytest
from pyspark.sql import functions as F

from xidel_spark.extract.changelog import condense, condensed_json
from xidel_spark.io import output as out
from xidel_spark.ops.media import media_features, synth_media


def test_changelog_multi_assignment_collapse(spark):
    # readme.txt:500-502: (a:=1, b:=2, a:=3, c:=4) → {"a": [1,3], "b": 2, "c": 4}
    log = spark.createDataFrame(
        [("d1", "a", 0, "1"), ("d1", "b", 1, "2"), ("d1", "a", 2, "3"), ("d1", "c", 3, "4")],
        "doc_id string, var_name string, seq_index long, value string",
    )
    j = condensed_json(log).collect()[0]["json"]
    assert json.loads(j) == {"a": [1, 3], "b": 2, "c": 4}
    c = {r["var_name"]: r["values"] for r in condense(log).collect()}
    assert c == {"a": ["1", "3"], "b": ["2"], "c": ["4"]}


def test_changelog_string_values_quoted(spark):
    log = spark.createDataFrame(
        [("d1", "t", 0, 'say "hi"'), ("d1", "t", 1, "x")],
        "doc_id string, var_name string, seq_index long, value string",
    )
    j = condensed_json(log).collect()[0]["json"]
    assert json.loads(j) == {"t": ['say "hi"', "x"]}


def test_output_formats(spark):
    vals = spark.createDataFrame([("v<1>",), ("v2",)], "value string")
    assert {r["line"] for r in out.adhoc(vals).collect()} == {"v<1>", "v2"}
    assert {r["line"] for r in out.xml_wrapped(vals).collect()} == {
        "<e>v&lt;1&gt;</e>", "<e>v2</e>"
    }
    line = out.json_wrapped(vals.orderBy("value")).collect()[0]["line"]
    assert json.loads(line) == ["v<1>", "v2"] or json.loads(line) == ["v2", "v<1>"]
    log = spark.createDataFrame(
        [("d", "name", 0, "it's")], "doc_id string, var_name string, seq_index long, value string"
    )
    assert out.bash_vars(log).collect()[0]["line"] == "name='it'\\''s'"


def test_streaming_continuous_crawl_matches_batch(spark, tmp_path):
    from xidel_spark.crawl.crawler import FrontierCrawler
    from xidel_spark.streaming.continuous import ContinuousCrawl

    rows = [(f"u{i}", k, f"u{(3 * i + k + 1) % 20}") for i in range(20) for k in range(2)]
    links = spark.createDataFrame(rows, "src string, idx int, dst string").cache()
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    (seeds_dir / "b1.json").write_text('{"url": "u0", "seed_idx": 0}\n')
    (seeds_dir / "b2.json").write_text('{"url": "u1", "seed_idx": 1}\n{"url": "u0", "seed_idx": 2}\n')
    cc = ContinuousCrawl(spark, links)
    cc.run_from_files(str(seeds_dir))
    stream_seen = {r["url"] for r in cc.seen.collect()}
    batch = FrontierCrawler(spark, links).run(["u0", "u1"])
    assert stream_seen == {r["url"] for r in batch.seen.collect()}


def test_streaming_cross_batch_dedup(spark):
    """a later micro-batch must not re-enqueue what earlier batches saw:
    seeded at x with x→b after a→b→c→d, it enqueues x alone."""
    from xidel_spark.streaming.continuous import ContinuousCrawl

    links = spark.createDataFrame(
        [("a", 0, "b"), ("b", 0, "c"), ("c", 0, "d"), ("x", 0, "b")],
        "src string, idx int, dst string",
    )
    cc = ContinuousCrawl(spark, links)
    cc._process_batch(spark.createDataFrame([("a", 0)], "url string, seed_idx long"), 0)
    cc._process_batch(spark.createDataFrame([("x", 0)], "url string, seed_idx long"), 1)
    first, second = cc.batches
    assert first["enqueued"] == 4
    assert second["enqueued"] == 1 and second["waves"] == 1
    assert second["seen_total"] == 5
    assert sorted(r["url"] for r in cc.seen.collect()) == ["a", "b", "c", "d", "x"]


def test_streaming_file_batches_never_reenqueue(spark, tmp_path):
    """two seed files read one per trigger (maxFilesPerTrigger=1) are two
    real micro-batches: the second, seeded at x with x→b, enqueues x alone,
    and no url is enqueued twice across the batches"""
    import os

    from xidel_spark.streaming.continuous import SEED_SCHEMA, ContinuousCrawl

    links = spark.createDataFrame(
        [("a", 0, "b"), ("b", 0, "c"), ("c", 0, "d"), ("x", 0, "b")],
        "src string, idx int, dst string",
    )
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    for i, seed in enumerate(["a", "x"]):
        f = seeds_dir / f"b{i}.json"
        f.write_text(f'{{"url": "{seed}", "seed_idx": 0}}\n')
        os.utime(f, (1_000_000 + i, 1_000_000 + i))  # the file source reads oldest first
    cc = ContinuousCrawl(spark, links)
    stream = spark.readStream.schema(SEED_SCHEMA).option("maxFilesPerTrigger", 1).json(str(seeds_dir))
    q = stream.writeStream.foreachBatch(cc._process_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    assert [b["enqueued"] for b in cc.batches] == [4, 1]
    seen = [r.url for r in cc.seen.collect()]
    assert sorted(seen) == ["a", "b", "c", "d", "x"]


def test_media_plumbing(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    feats = media_features(synth_media(docs))
    rows = feats.limit(5).collect()
    assert all(r["blob_len"] == 16 for r in rows)
    assert all(0 <= r["first_byte"] <= 255 for r in rows)
    assert all(len(r["feat"]) == 3 for r in rows)


def test_media_decode_real_hook_raises_without_libs():
    from xidel_spark.ops.media import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG", decoder="real")
    # the deterministic fake decoder is the sandbox default
    assert decode_image(b"\x89PNG\x01\x02").shape[1] >= 8


def test_stateful_rate_limiter_spans_microbatches(spark, tmp_path):
    """applyInPandasWithState politeness: the per-host clock must carry
    ACROSS micro-batches (batch 2's first fetch on a host is >= wait after
    batch 1's last), matching the batch engine's cross-wave watermark."""
    import json
    import time

    from xidel_spark.streaming.stateful import (
        REQUEST_SCHEMA, politeness_rate_limiter,
    )

    src = tmp_path / "reqs"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, rows):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [
        {"host": "h1", "url": "u1", "rank": "a"},
        {"host": "h1", "url": "u2", "rank": "b"},
        {"host": "h2", "url": "v1", "rank": "a"},
    ])
    stream = (
        spark.readStream.schema(REQUEST_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sched = politeness_rate_limiter(stream, wait_ms=250)
    q = (
        sched.writeStream.format("json")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2.json", [
            {"host": "h1", "url": "u3", "rank": "a"},
            {"host": "h3", "url": "w1", "rank": "a"},
        ])
        time.sleep(0.2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.json(str(sink)).collect()
    got = {r["url"]: (r["host"], r["scheduled_ms"]) for r in rows}
    assert got["u1"] == ("h1", 0) and got["u2"] == ("h1", 250)
    assert got["v1"] == ("h2", 0)
    # the cross-batch invariant: u3 continues h1's clock, w1 starts fresh
    assert got["u3"] == ("h1", 500)
    assert got["w1"] == ("h3", 0)


def test_streaming_expression_extraction(spark, tmp_path):
    """the expression compiler composes with Structured Streaming: a
    compiled -e expression evaluates per micro-batch over parsed node
    arrays (pure Catalyst columns stream without modification)."""
    import json as _json

    from xidel_spark.exprlang import compile_expr
    from xidel_spark.extract.nodes import parse_auto_nodes

    src_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ck"
    src_dir.mkdir()
    rows = [{"doc_id": f"d{i}", "markup": f"<a>{i}</a>"} for i in range(5)]
    (src_dir / "batch0.json").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("doc_id string, markup string")
        .json(str(src_dir))
        .select(
            "doc_id",
            parse_auto_nodes(F.col("markup")).alias("nodes"),
        )
        .select(
            "doc_id",
            compile_expr(" . + 1 ").string(nodes=F.col("nodes")).alias("v"),
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r["v"] for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == {f"d{i}": str(i + 1) for i in range(5)}
