"""Scale-out physical-layout helpers: bucketed co-located joins.

The reference runs joins with Flink keyed state co-partitioning (its
Kafka topics are hash-partitioned by key, so a rebalance is implicit
in the topic layout). The Spark-native equivalent for the 100 TB
batch/lakehouse side is BUCKETING: persist both fact tables bucketed
by the join key, and every subsequent equi-join on that key is
exchange-free — the scan itself delivers co-partitioned splits
(``tests/test_scale.py`` asserts the join plan contains NO Exchange).

At 100 TB this is the difference between re-shuffling multi-TB fact
tables on every join and shuffling them exactly once at write time:

- bucket count should target ~128-512 MB per bucket file; it must
  match on both sides (Spark joins bucketed tables exchange-free when
  bucket counts are equal or integer multiples).
- bucketed tables also accelerate ``groupBy`` on the bucket key
  (no exchange before the aggregate) and window functions partitioned
  by it.
- writes go through ``saveAsTable`` (bucket metadata lives in the
  catalog); ``spark.sql.sources.bucketing.enabled`` is on by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.session import scoped_conf


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Sorting within buckets additionally removes the Sort below a
    SortMergeJoin, leaving a pure zip-merge of pre-sorted splits.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog,
    so joins/aggregates on the bucket key skip their exchange)."""
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hive-partitioned by ``partition_cols`` (the
    standard lakehouse date/source layout). A filter on a partition
    column then prunes whole directories at PLANNING time — at 100 TB
    a one-day query against a date-partitioned table reads 1/365th of
    the files, before any row is touched
    (``tests/test_scale.py::test_partition_pruned_scan`` pins this).
    Partition columns should be low-cardinality (date, source, lang);
    high-cardinality keys belong in bucketing instead (small-files
    explosion otherwise)."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    big_key: str,
    dim_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for two LARGE tables with hot keys.

    A plain shuffle join sends every row of a hot key to ONE reducer
    task — at 100 TB a single skewed key (the null user, the default
    category, the crawler domain) straggles or OOMs the whole stage.
    Salting splits each hot key across ``salt`` sub-partitions:

    - big side: a deterministic per-row salt in [0, salt) derived by
      hashing the whole row (xxhash64 — no rand(), so replays and
      retries assign identically);
    - dim side: replicated ``salt`` ways via posexplode of a literal
      range (a ``salt``× blow-up of the SMALLER big table, the price
      of the rebalance);
    - join on (key, salt), then drop the salt.

    The result is row-identical to the unsalted join; only the
    shuffle distribution changes (each hot key now occupies ``salt``
    reducers). The ``merge`` hint pins SortMergeJoin so the salted
    exchange shape is what actually executes even when a test-scale
    dim would be broadcast. Prefer AQE's skew-join handling
    (``spark.sql.adaptive.skewJoin``) when it fires — salting is the
    explicit fallback for aggregation-free plans AQE can't split or
    when the skew is in the PARTITION KEY of a window function.
    """
    b = big.withColumn(
        "__salt_l", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)).cast("int")
    )
    d = dim.withColumn(
        "__salt_r", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = b.join(
        d.hint("merge"),
        (b[big_key] == d[dim_key]) & (b["__salt_l"] == d["__salt_r"]),
        how,
    )
    return out.drop("__salt_l", "__salt_r")


def morton_key(col_a: str, col_b: str, bits: int = 16):
    """Z-order (Morton) interleave of two pre-quantized non-negative
    integer columns (each < 2^bits): bit i of ``col_a`` lands at
    position 2i, bit i of ``col_b`` at 2i+1. Pure integer JVM
    expression — deterministic, codegen'd, no UDF."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({col_a}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({col_b}, {i}) & 1, {2 * i + 1})")
    return F.expr(" | ".join(terms)).cast("bigint")


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` Z-ordered on two dimensions (the Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` layout, expressed with vanilla Spark).

    Linear sort layouts cluster ONE dimension: a file range prunes
    predicates on the sort key and nothing else. Interleaving the
    bits of two dimensions makes every file cover a compact 2-D tile,
    so parquet min/max stats prune 2-D box predicates on EITHER (or
    both) dimensions — at 100 TB this is the difference between
    scanning 1/√N and 1/N of the files for a selective box.
    ``repartitionByRange`` on the Morton key splits the curve into
    ``n_files`` contiguous segments (one range shuffle at write
    time, the X16 trade); ``sortWithinPartitions`` tightens each
    file's stats further. tests/test_scale.py measures the pruning:
    the fraction of files whose (a, b) bounding box intersects a 2-D
    query box must be far below a 1-D-sorted layout's."""
    keyed = df.withColumn("__z", morton_key(col_a, col_b, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def overwrite_day_partition(
    df: DataFrame, path: str, day_col: str = "dt"
) -> None:
    """Backfill/repair write: replace ONLY the day partitions present
    in ``df``, leaving every other partition untouched — Spark's
    dynamic partition-overwrite mode, the batch repair path every
    streaming warehouse needs (a late-data reprocess or a bug fix
    recomputes one day and swaps it atomically per partition; the
    reference's ClickHouse ReplacingMergeTree absorbs re-writes the
    same way). Static overwrite mode would TRUNCATE the whole table —
    the conf scoping here is the difference between repairing a day
    and deleting a year."""
    with scoped_conf(
        df.sparkSession, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        df.write.mode("overwrite").partitionBy(day_col).parquet(path)
