"""Continuous crawl via Structured Streaming.

The reference is a batch CLI; its crawl loop is an iterative drain
(SURVEY.md §2.5). The streaming transplant: seeds arrive as a stream
(file source here; Kafka on a cluster), and every micro-batch runs the
SAME wave-loop logic via foreachBatch against the shared link/seen state —
so batch and streaming share one engine (the Structured Streaming design
point: incremental execution of the batch plan).

Watermark analogue: per-host frontier progress is monotone in
(depth, discovery rank); a host bucket is 'closed' for a wave once its
rank high-water-mark passes — tracked in the store's wave manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..crawl.crawler import FrontierCrawler

SEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("seed_idx", T.LongType()),
    ]
)


class ContinuousCrawl:
    """Drain seed batches from a stream; each batch crawls to convergence
    against the shared seen set (cumulative across batches)."""

    def __init__(self, spark: SparkSession, links: DataFrame, **crawler_kw):
        self.spark = spark
        self.links = links
        self.crawler_kw = crawler_kw
        self.seen: DataFrame | None = None
        self.batches: list[dict] = []

    def _process_batch(self, seeds_df: DataFrame, batch_id: int) -> None:
        if seeds_df.isEmpty():
            return
        crawler = FrontierCrawler(self.spark, self.links, **self.crawler_kw)
        # everything earlier batches saw is the crawler's initial dup list:
        # cross-batch enqueue-time dedup, same rule as in-batch
        run = crawler.run(seeds_df.select("url", "seed_idx"), seen=self.seen)
        self.seen = run.seen
        self.batches.append({
            "batch_id": batch_id,
            "waves": run.waves,
            "enqueued": sum(m["enqueued"] for m in run.metrics),
            "seen_total": self.seen.count(),
        })

    def run_from_files(self, seed_dir: str, *, available_now: bool = True):
        stream = (
            self.spark.readStream.schema(SEED_SCHEMA)
            .json(seed_dir)
        )
        writer = stream.writeStream.foreachBatch(self._process_batch).outputMode("append")
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.start()
