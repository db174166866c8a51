"""Snapshot checkpoint store: frontier increments + lineage per wave.

North-rule requirement: checkpoint frontier and seen-filter state each wave
so a killed crawl resumes exactly, with per-partition lineage and
fetch/dedup metrics.

This is an Iceberg-snapshot-shaped store implemented on plain parquet +
atomic JSON manifests (the sandbox has no Iceberg runtime jar). The layout
and commit protocol mirror Iceberg's semantics so the backend swaps for a
real catalog on a cluster (`CrawlStateStore` is the only seam):

    root/
      manifests/wave-<n>.json    -- atomic rename commit; highest n wins
      wave=<n>/frontier/*.parquet   -- the wave's NEW urls (seen increment)

Commits are APPEND-ONLY: each wave writes only its frontier increment; the
seen set is the union of all committed increments (what Iceberg appends +
snapshot manifests give for free). A manifest records row counts,
per-partition file lineage and the wave's dedup metrics. An interrupted
wave (data written, manifest missing) is invisible on load — snapshot
isolation.

A resume reads the store ONCE: one multi-path parquet read of every
committed increment (one schema-inference job), `wave` recovered from the
directory names. `mergeSchema` unions the increments' columns, so a wave
committed without a politeness wait reads NULL `scheduled_ms`. Seen, the
latest frontier and the resume watermark all come from that read.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Snapshot:
    wave: int
    frontier: DataFrame  # latest wave's increment
    seen: DataFrame      # union of all committed increments
    manifest: dict
    rows: DataFrame      # every committed increment's rows, plus `wave`


class CrawlStateStore:
    def __init__(self, root: str):
        self.root = Path(root)
        (self.root / "manifests").mkdir(parents=True, exist_ok=True)

    def _wave_dir(self, wave: int) -> Path:
        return self.root / f"wave={wave}"

    def commit(self, wave: int, frontier: DataFrame, metrics: dict) -> dict:
        wd = self._wave_dir(wave)
        frontier.write.mode("overwrite").parquet(str(wd / "frontier"))
        lineage = {"frontier_files": sorted(p.name for p in (wd / "frontier").glob("*.parquet"))}
        manifest = {"wave": wave, "metrics": metrics, "lineage": lineage,
                    "frontier_rows": frontier.count()}
        # atomic commit: write-then-rename; readers never see a partial wave
        fd, tmp = tempfile.mkstemp(dir=self.root / "manifests", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.root / "manifests" / f"wave-{wave}.json")
        return manifest

    def latest(self) -> int | None:
        waves = [int(p.stem.split("-")[1]) for p in (self.root / "manifests").glob("wave-*.json")]
        return max(waves) if waves else None

    def _read(self, spark: SparkSession, wave: int) -> DataFrame:
        """Increments 0..wave in one read, tagged with their `wave`."""
        paths = [str(self._wave_dir(w) / "frontier") for w in range(wave + 1)]
        return spark.read.options(basePath=str(self.root), mergeSchema="true").parquet(*paths)

    def load(self, spark: SparkSession, wave: int | None = None) -> Snapshot | None:
        wave = self.latest() if wave is None else wave
        if wave is None:
            return None
        with open(self.root / "manifests" / f"wave-{wave}.json") as f:
            manifest = json.load(f)
        rows = self._read(spark, wave)
        frontier = rows.where(F.col("wave") == wave).drop("wave")
        return Snapshot(wave=wave, frontier=frontier, seen=rows.select("url"),
                        manifest=manifest, rows=rows)

    def increments(self, spark: SparkSession, wave: int | None = None) -> list[DataFrame]:
        """Full-column frontier increments for every committed wave, from
        one read (so all share the merged columns)."""
        wave = self.latest() if wave is None else wave
        if wave is None:
            return []
        rows = self._read(spark, wave)
        return [rows.where(F.col("wave") == w).drop("wave") for w in range(wave + 1)]

    def manifests(self) -> list[dict]:
        out = [json.loads(p.read_text()) for p in (self.root / "manifests").glob("wave-*.json")]
        return sorted(out, key=lambda m: m["wave"])
