"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def total_order(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "ord",
    num_partitions: int | None = None,
) -> DataFrame:
    """Materialize a global 1-based ordinal WITHOUT a single-partition sort.

    ``Window.orderBy(...)`` with no partitionBy plans Exchange
    SinglePartition — the whole dataset through one task, the classic
    100×-scale killer. Instead: range-partition on the order columns (the
    only data-wide exchange), number rows within each partition, and add
    each partition's exclusive prefix-sum offset. Partition sizes are
    collected to the driver — one row per PARTITION, not per data row —
    and rebroadcast as a tiny join table, so the sort itself stays fully
    parallel at any executor count.

    The input is lazily localCheckpoint-ed first: both passes (sizes +
    numbering) must see identical range boundaries, and RangePartitioner
    samples are not guaranteed stable across separate executions.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .localCheckpoint(eager=False)
    )
    # within-partition index WITHOUT a window: monotonically_increasing_id
    # over the checkpointed sorted partitions is (pid << 33) + row-index —
    # a narrow projection, so the consumer plan has zero data exchanges
    tmp = part.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    stats = tmp.groupBy("__pid").agg(
        F.min("__mid").alias("__mn"), F.count(F.lit(1)).alias("__n")
    ).collect()
    bases, acc = [], 0
    for r in sorted(stats, key=lambda r: r["__pid"]):
        # ord = acc + (mid - min_mid_of_partition) + 1 = mid + base
        bases.append((r["__pid"], acc - r["__mn"] + 1))
        acc += r["__n"]
    if not bases:
        return df.withColumn(out_col, F.lit(1).cast("long")).where(F.lit(False))
    base_df = spark.createDataFrame(bases, "__pid int, __base long")
    # the ordinal stays long: casting to int would CAST_OVERFLOW under ANSI
    # beyond 2^31 rows — on the helper that exists to survive 100x scale
    return (
        tmp.join(F.broadcast(base_df), "__pid")
        .withColumn(out_col, F.col("__mid") + F.col("__base"))
        .drop("__pid", "__mid", "__base")
    )


def checkpoint_reset_stats(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint that does NOT carry the origin plan's statistics.

    Spark's LogicalRDD preserves the originating plan's sizeInBytes, and
    join size estimates are PRODUCTS — in an iterative loop the estimate's
    BigInteger doubles its bit-length per join, so a wave loop whose plan
    chains several joins (a crawler wave joins for expansion, robots, the
    Bloom probe and the seen check) grows a joins^waves-bit number and
    Catalyst ends up burning minutes in BigInteger.multiply
    (Karatsuba/ToomCook frames on the py4j thread; measured wave times
    1.5s → 8s → 135s). Rebuilding the DataFrame from the checkpointed
    internal RDD resets stats to the session default and keeps every wave's
    estimate bounded. Trade-off: the reset side loses auto-broadcast
    eligibility — all loop joins here use explicit broadcast hints anyway.
    """
    spark = df.sparkSession
    ck = df.localCheckpoint(eager=eager)
    jdf = ck._jdf
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(new_jdf, spark)


def qround(col: Column, digits: int = 4) -> Column:
    """Deterministic cross-engine quantization: floor(x*10^d + 0.5)/10^d.

    Spark's round() is HALF_UP, DuckDB's is banker's — they disagree on
    .5 boundaries, which breaks value-hash comparison. This formula is the
    same arithmetic on both engines (mirror in SQL as
    floor(x * 10^d + 0.5) / 10^d)."""
    scale = 10**digits
    return F.floor(col * scale + F.lit(0.5)) / scale
