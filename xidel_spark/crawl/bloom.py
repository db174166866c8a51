"""Partitioned blocked-Bloom URL-seen filter — DataFrame-native.

The reference's seen set is an O(n)-scan list (containsEqual,
xidelbase.pas:1537-1544), hopeless at 10^10 URLs. The north rule puts a
sharded Bloom filter in front of the exact seen table, which stays ground
truth: definitely-new candidates skip the expensive anti-join and only
"maybe seen" ones are exactly checked, so there are no false drops.

Layout: blocked (Putze, Sanders, Singler, WEA 2007). A url maps to ONE
(shard, block) address and ONE 512-bit mask holding all k of its bits:
the build is one narrow row per url, and a probe touches one bucket (the
layout *Analyzing Vectorized Hash Tables Across CPU Architectures*, VLDB
2023, finds fastest). The price is a higher false-positive rate than an
unblocked filter of the same size (~1.3% vs ~1.0% at design load, k=7).
The filter is a DataFrame of (shard, block, w0..w7) rows, NEVER collected
to the driver (round 1 re-broadcast a driver-side copy per wave: ~15 GiB
through one process at 10^10 urls).

Sizing: callers pass the OBSERVED seen count; bits = -n·ln(fpp)/ln²2
rounded up to whole blocks, k = m/n·ln2. Hashing is JVM-side, with h1/h2
independent-seed xxhash64 columns: shard = xxhash64(url) mod n_shards,
block = h1 mod blocks_per_shard, bits (a + i·b) mod 512 for i < k with
a, b from h2 and b odd — invertible mod 512, so the k bits are distinct.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import checkpoint_reset_stats
from .engine import ROWS_PER_PARTITION, _partitions

_H1_SEED = 0x9E3779B9
_H2_SEED = 0x85EBCA6B
BLOCK_BITS = 512
WORDS = [f"w{j}" for j in range(BLOCK_BITS // 64)]

# filters up to this many total bits take the broadcast probe path
BROADCAST_MAX_BITS = 1 << 28  # 32 MiB of mask words
# the distributed probe hints SHUFFLE_HASH only while one task's hash build
# holds at most this many ~90-byte block rows (~12 MiB, near the 10 MiB per
# partition Spark accepts for one); above it sort-merge runs, which spills
HASH_BUILD_MAX_BLOCKS = 1 << 17


def _params(capacity: int, fpp: float) -> tuple[int, int]:
    """(blocks, k) for `capacity` urls at false-positive rate `fpp`."""
    m_bits = max(BLOCK_BITS, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m_bits / capacity * math.log(2)))
    return -(-m_bits // BLOCK_BITS), min(k, 12)


def _address(url: Column, n_shards: int, blocks: int, prefix: str = "") -> list[Column]:
    """A url's (shard, block, h2) columns, names prefixed; h2 picks its bits."""
    shard = F.pmod(F.xxhash64(url), F.lit(n_shards)).cast("int")
    block = F.pmod(F.xxhash64(url, F.lit(_H1_SEED)), F.lit(blocks))
    h2 = F.xxhash64(url, F.lit(_H2_SEED))
    return [shard.alias(f"{prefix}shard"), block.alias(f"{prefix}block"), h2.alias(f"{prefix}h2")]


def _mask(h2: str, k: int) -> list[str]:
    """SQL for the mask's eight words, given the url's h2 column (a = its
    low 9 bits, b = the next 8, made odd). SQL text because the same tree
    built through the Column API costs one py4j round trip per node (~1 s
    per build or probe, measured); branch-free because the words as CASE
    WHENs make a stage too large for the JIT (~15x slower per row)."""
    bits = [f"((({h2} & 511) + {i} * ((shiftright({h2}, 9) & 511) | 1)) & 511)" for i in range(k)]
    # a bit's single-bit word, kept only in word j = bit / 64
    one = "(shiftleft(1L, CAST({p} & 63 AS INT)) * CAST(shiftright({p}, 6) = {j} AS BIGINT))"
    return [" | ".join(one.format(p=p, j=j) for p in bits) for j in range(len(WORDS))]


def _or_blocks(rows: DataFrame) -> DataFrame:
    return rows.groupBy("shard", "block").agg(*[F.bit_or(w).alias(w) for w in WORDS])


@dataclass
class ShardedBloom:
    """(shard, block, w0..w7) DataFrame + hash parameters."""

    df: DataFrame
    n_shards: int
    blocks_per_shard: int
    k: int
    capacity: int
    partitions: int = 0  # of the hash-partitioned cache; 0 when checkpointed

    def merge(self, other: "ShardedBloom", *, eager: bool = True) -> "ShardedBloom":
        """OR-merge block tables (incremental build: per wave only the NEW
        urls are hashed; cost is bounded by filter size, not |seen|)."""
        assert (self.n_shards, self.blocks_per_shard, self.k) == (
            other.n_shards, other.blocks_per_shard, other.k,
        ), "bloom parameter mismatch"
        merged = checkpoint_reset_stats(_or_blocks(self.df.unionByName(other.df)), eager=eager)
        return ShardedBloom(merged, self.n_shards, self.blocks_per_shard, self.k, self.capacity)

    def unpersist(self) -> None:
        self.df.unpersist()


def build_bloom(
    seen: DataFrame,
    url_col: str = "url",
    *,
    capacity: int = 1_000_000,
    fpp: float = 0.01,
    n_shards: int = 16,
    eager: bool = True,
    partitioned_cache: bool = False,
    approx_rows: int | None = None,
) -> ShardedBloom:
    """seen urls → block table. Narrow (shard, block, h2) rows are
    REPARTITIONED BY SHARD, sized by `approx_rows` when given, before the
    masks are derived: url strings never shuffle, and the bit_or groupBy
    needs no second exchange and combines well map-side (guide §2.3/§2.5).
    partitioned_cache=True persists the table hash-partitioned on (shard,
    block), so a distributed probe reshuffles only the candidates — the
    resident form for a long-lived filter; the checkpoint form suits the
    incremental merges."""
    blocks, k = _params(max(1, capacity) // n_shards + 1, fpp)
    base = int(seen.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # hashing on shard leaves every partition past n_shards empty
    parts = min(n_shards, base if approx_rows is None else _partitions(base, approx_rows))
    df = _or_blocks(
        seen.select(*_address(F.col(url_col), n_shards, blocks))
        .repartition(parts, "shard")
        .select("shard", "block", *[F.expr(m).alias(w) for w, m in zip(WORDS, _mask("h2", k))])
    )
    if not partitioned_cache:
        return ShardedBloom(checkpoint_reset_stats(df, eager=eager), n_shards, blocks, k, capacity)
    # at least the session's shuffle partitions, or the probe join would
    # reshuffle the filter to match the candidates' exchange
    n_parts = max(base, -(-n_shards * blocks // ROWS_PER_PARTITION))
    df = df.repartition(n_parts, "shard", "block").persist()
    df.count()
    return ShardedBloom(df, n_shards, blocks, k, capacity, n_parts)


def flag_candidates(
    candidates: DataFrame, bloom: ShardedBloom, url_col: str = "url"
) -> DataFrame:
    """candidates + a `__maybe` boolean from ONE left equi-join on (shard,
    block): maybe iff every bit of the url's mask is set in its block (a
    missing row reads as all zeros). The regimes differ only by the join's
    hint: a filter of at most BROADCAST_MAX_BITS is broadcast, so the
    candidates never shuffle; a larger one is shuffle-joined."""
    url = F.col(url_col)
    probe = candidates.select("*", *_address(url, bloom.n_shards, bloom.blocks_per_shard, "__"))
    filt = bloom.df.toDF(*[f"__{c}" for c in bloom.df.columns])
    n_blocks = bloom.n_shards * bloom.blocks_per_shard
    conf = candidates.sparkSession.conf
    parts = max(bloom.partitions, int(conf.get("spark.sql.shuffle.partitions")))
    if n_blocks * BLOCK_BITS <= BROADCAST_MAX_BITS:
        filt = F.broadcast(filt)
    elif n_blocks / parts <= HASH_BUILD_MAX_BLOCKS:
        # the default sort-merge join re-SORTS the cached block table on
        # every probe (the partitioned cache is stored unsorted)
        filt = filt.hint("SHUFFLE_HASH")
    joined = probe.join(filt, ["__shard", "__block"], "left")
    # all of the mask's bits are set iff no mask bit is missing from the block
    hit = F.expr("(" + " | ".join(
        f"(({m}) & ~coalesce(__{w}, 0L))" for w, m in zip(WORDS, _mask("__h2", bloom.k))
    ) + ") = 0")
    # a NULL url was never added: route it to the maybe/exact-check side
    return joined.withColumn("__maybe", url.isNull() | hit).drop("__h2", *filt.columns)


def split_candidates(
    candidates: DataFrame, bloom: ShardedBloom, url_col: str = "url"
) -> tuple[DataFrame, DataFrame]:
    """(definitely_new, maybe_seen): definitely_new skips the exact
    anti-join entirely; maybe_seen still gets the exact check."""
    flagged = flag_candidates(candidates, bloom, url_col)
    definitely_new = flagged.where(~F.col("__maybe")).drop("__maybe")
    maybe_seen = flagged.where(F.col("__maybe")).drop("__maybe")
    return definitely_new, maybe_seen
