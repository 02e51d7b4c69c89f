"""Key-based deduplication operators.

The reference resolves duplicate/changelog rows with keyed state +
timers:

- first-one-wins w/ 5 s TTL (DwsTradePaymentSucWindow.java:74-102,
  DwsTradeTrademarkCategoryUserRefundWindow.java:71-99)
- last-one-wins w/ 2 s processing timer, resolving the upsert-kafka
  changelog to one row per order_detail_id
  (app/func/OrderDetailFilterFunction.java:42-81)

Spark-first: min_by/max_by on an ordering struct compiles to a HASH
AGGREGATE — one shuffle with map-side partial aggregation, no sort.
At 100 TB that combiner is the whole game: each mapper ships at most
one row per (key, mapper) instead of every duplicate, and AQE handles
skewed keys. (A window row_number() would shuffle every row AND sort
each partition — measurably slower at sf0.1 already: 3.7s -> 2.5s on
the 750k-row cart changelog.) For streaming, `dropDuplicates` +
watermark gives first-one-wins with bounded state (see streaming/).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _one_per_key(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str],
    agg_fn,
) -> DataFrame:
    """min_by/max_by the full row by the (ts, *tiebreak) ordering struct.

    Struct comparison is lexicographic, so this picks exactly the row a
    row_number() over (ORDER BY ts, *tiebreak) would rank first/last;
    ``tiebreak`` must make the ordering unique for a deterministic pick.
    """
    ord_col = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak])
    payload = [c for c in df.columns if c not in keys]
    picked = df.groupBy(*keys).agg(
        agg_fn(F.struct(*[F.col(c) for c in payload]), ord_col).alias("__row")
    )
    return picked.select(*keys, *[F.col(f"__row.{c}").alias(c) for c in payload])


def dedup_first(
    df: DataFrame, keys: Sequence[str], ts_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Keep the earliest row per key (first-one-wins).

    ``tiebreak`` columns make the pick deterministic when ``ts_col``
    ties (the reference relies on arrival order; a distributed engine
    must not).
    """
    return _one_per_key(df, keys, ts_col, tiebreak, F.min_by)


def dedup_last(
    df: DataFrame, keys: Sequence[str], ts_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Keep the latest row per key (last-one-wins / changelog resolve)."""
    return _one_per_key(df, keys, ts_col, tiebreak, F.max_by)


def latest_by_key(
    df: DataFrame, keys: Sequence[str], ts_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Changelog -> current-state view: latest row per primary key.

    Replaces the reference's upsert-kafka PK tables
    (utils/MyKafkaUtil.java:80-89) consumed downstream as deduplicated
    (SURVEY S4/T4): Kafka log compaction's "latest value per key"
    becomes an explicit operator.
    """
    return dedup_last(df, keys, ts_col, tiebreak)


def scd2_history(
    df: DataFrame, keys: Sequence[str], ts_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Changelog -> type-2 slowly-changing-dimension history: every
    version row gains ``valid_to`` (the NEXT version's ts, exclusive;
    NULL while current) and ``is_current``. The latest-state view
    (:func:`latest_by_key`) is ``WHERE is_current``; as-of dim
    lookups join ``valid_from <= t < valid_to``. One shuffle (key)
    + sort; the lead() is a single window pass."""
    w = Window.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    nxt = F.lead(ts_col).over(w)
    return df.withColumn("valid_to", nxt).withColumn(
        "is_current", nxt.isNull()
    )


def dedup_first_ttl(
    df: DataFrame, keys: Sequence[str], ts_col: str, ttl: int
) -> DataFrame:
    """Batch twin of the reference's OnReadAndWrite-TTL first-one-wins
    dedup (DwsTradePaymentSucWindow.java:84-90): with a
    read-REFRESHING ttl, every event restarts the key's TTL clock, so
    a row survives iff it is the key's first or arrives >= ttl after
    the key's PREVIOUS event (any event, kept or dropped). That makes
    the semantics lag-expressible: one window over (key, ts). Units of
    ``ttl`` are whatever ``ts_col`` uses.

    Authoritative oracle for streaming.stateful.streaming_dedup_ttl
    (refresh_on_read=True); the create-only variant is NOT
    lag-expressible (its clock only resets on emitted rows).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(ts_col)
    return (
        df.withColumn("__prev", F.lag(ts_col).over(w))
        .filter(
            F.col("__prev").isNull() | (F.col(ts_col) - F.col("__prev") >= ttl)
        )
        .drop("__prev")
    )


