"""Structured Streaming wrappers (the "streaming shell").

The reference runs 27 always-on Flink jobs; here every pipeline is a
pure batch function (plans/*) and this module turns one into a
streaming job:

- file/kafka source -> the same DataFrame transforms -> sink
- native streaming aggregation for the windowed DWS jobs
  (withWatermark + window groupBy: incremental, state-store backed —
  the Spark analog of Flink's incremental window reduce, SURVEY A1/W1)
- ``foreachBatch`` for pipelines that join or write to batch stores
  (the Spark analog of the reference's per-record JDBC sinks S8/S10 —
  but batched: one write per micro-batch, not per row)

Kafka specifics (S1-S4): ``format("kafka")`` with the option dicts
below and ``from_json`` on ``value`` (:func:`parse_kafka_value`)
replaces MyKafkaUtil (utils/MyKafkaUtil.java:24-100); the
upsert-kafka PK table (S4) maps to a keyed write
(:func:`kafka_payload`) + downstream ``latest_by_key`` dedup. Kafka
brokers aren't present in the test container, so the pipelines run
on file sources, which share the same code path after the source
node.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from gmall_spark.functions.datetime import to_datetime_str


def stream_from_parquet(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """File-source stream (stand-in for the Kafka topic in tests)."""
    return spark.readStream.schema(schema).parquet(path)


def kafka_source_options(
    brokers: str, topic: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    """The Kafka consumer option dict (ref MyKafkaUtil.java:24-56:
    bootstrap servers + topic + offset reset; group.id has no Spark
    analog — Structured Streaming tracks offsets in the checkpoint).
    Exposed as data so the contract is unit-testable without a broker
    (tests/test_kafka_contract.py pins the exact keys: a typo'd option
    key is silently ignored by the connector and would otherwise only
    surface as wrong runtime behavior on a real cluster)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # the reference's consumer keeps reading after log compaction /
        # retention kicks in; failOnDataLoss=true would kill the query
        "failOnDataLoss": "false",
    }


def kafka_sink_options(brokers: str, topic: str, checkpoint: str) -> dict[str, str]:
    """The Kafka producer option dict (ref MyKafkaUtil.java:58-89)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def parse_kafka_value(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """The source's record-parse stage, split out so it is testable on
    a batch DataFrame shaped like the Kafka wire schema (key/value
    binary + timestamp): JSON-decode ``value`` against ``schema``.

    Null-tolerant like the reference's custom deserializer: bad JSON
    yields a null struct which callers filter (P1 side-output split).
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j"), "timestamp"
    ).select("j.*", "timestamp")


def kafka_payload(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """The record shaping of the Kafka sink (S2/S4), as a pure
    transformation so it is testable without a broker: JSON-encode the
    full row as ``value``; with ``key_col``, key the record like the
    reference's upsert-kafka PK sink (S4) so compaction/consumers can
    reconstruct latest-per-key. Round-trips through
    :func:`parse_kafka_value`."""
    return df.select(
        *(
            [F.col(key_col).cast("string").alias("key")]
            if key_col
            else []
        ),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def socket_json_source(
    spark: SparkSession, host: str, port: int, schema: T.StructType
) -> DataFrame:
    """Socket line source (SURVEY S13, ref DataStreamJoinTest.java:21
    ``env.socketTextStream``): the dev/demo source the reference uses
    in tests. Lines parse against ``schema`` exactly like the Kafka
    value path (shared :func:`parse_kafka_value` shape); dev-only —
    no offsets, no replay, not for production."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return raw.select(
        F.from_json(F.col("value"), schema).alias("j"),
        F.current_timestamp().alias("timestamp"),
    ).select("j.*", "timestamp")


def windowed_agg_stream(
    df: DataFrame,
    ts_col: str,
    watermark: str | None,
    window_seconds: int,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Streaming twin of operators.windows.tumble_agg.

    ``withWatermark`` bounds state exactly like the reference's
    2 s / 13 s bounded out-of-orderness (SURVEY T1); rows later than
    the watermark are dropped, matching Flink's no-allowed-lateness
    configuration. Append mode emits each window once, on watermark
    passage — the analog of the window-fire in every Dws* job.

    Pass ``watermark=None`` when ``df`` already carries a watermark
    (chained stateful operators, e.g. dedup -> window agg): Spark
    forbids redefining it downstream.
    """
    win = F.window(F.col(ts_col), f"{window_seconds} seconds")
    wdf = df if watermark is None else df.withWatermark(ts_col, watermark)
    grouped = wdf.groupBy(win.alias("w"), *keys).agg(*aggs)
    return grouped.select(
        to_datetime_str(F.col("w.start")).alias("stt"),
        to_datetime_str(F.col("w.end")).alias("edt"),
        *keys,
        *[c for c in grouped.columns if c not in ("w", *keys)],
    )


def session_window_stream(
    df: DataFrame,
    ts_col: str,
    gap: str,
    watermark: str | None,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Streaming twin of the batch ``events_session_window`` query
    (queries.q_events_session_window): gap sessionization with
    Spark's native session_window. Sessions merge while events keep
    arriving within ``gap``; append mode emits a session once the
    watermark passes its end (last event + gap) — the streaming
    analog of the reference's CEP timeout sessions (SURVEY T5).
    State per open session is one (start, end, partial-agg) tuple per
    key: bounded by active keys, not event volume."""
    wdf = df if watermark is None else df.withWatermark(ts_col, watermark)
    grouped = wdf.groupBy(
        *keys, F.session_window(F.col(ts_col), gap).alias("sw")
    ).agg(*aggs)
    return grouped.select(
        *keys,
        F.unix_micros("sw.start").alias("stt_us"),
        F.unix_micros("sw.end").alias("edt_us"),
        *[c for c in grouped.columns if c not in ("sw", *keys)],
    )


def streaming_dedup(df: DataFrame, keys: Sequence[str], ts_col: str, watermark: str) -> DataFrame:
    """First-one-wins streaming dedup (SURVEY T3).

    ``dropDuplicatesWithinWatermark`` replaces the reference's
    ValueState + 5 s TTL (DwsTradePaymentSucWindow.java:74-102): a
    key's state is evicted once the watermark passes its event time
    plus the delay, so memory stays bounded. Plain ``dropDuplicates``
    would NOT give that guarantee here — it only evicts state when
    the watermarked event-time column is part of the dedup key
    subset, and these pipelines dedup on business keys.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame], DataFrame],
    write_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a batch-core pipeline inside foreachBatch.

    This is the micro-batch deployment mode for pipelines with
    broadcast dim joins (J3/J6: the dim is re-read per batch, giving
    the lookup join's FOR SYSTEM_TIME AS OF processing-time snapshot
    semantics) and for exactly-once writes to batch stores (S8/S10).
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        write_fn(batch_fn(batch_df), epoch_id)

    writer = stream_df.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    watermark: str,
    how: str,
) -> DataFrame:
    """Stream-stream interval join (SURVEY J7), inner or left outer.

    Ref src/test/.../DataStreamJoinTest.java:48-56 — DataStream
    ``intervalJoin .between(-5s, +5s)``. Spark supports this natively:
    an equi-join plus a time-range condition, with watermarks on BOTH
    sides so each side's join state is evicted once the other side's
    watermark passes the range bound (Flink's interval-join state
    cleanup, for free).

    ``how="leftOuter"`` is the streaming form of J2 (ref
    DwdTradeOrderDetail.java's double LEFT join: an order-detail row
    must emit even when its activity/coupon record never arrives): the
    same condition, with outer-NULL rows emitted once the watermark
    passes the upper bound, i.e. once the match window provably
    closed. State eviction is the same as for ``how="inner"``.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] + F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    return lw.join(rw, cond, how)


def idempotent_parquet_write(out_dir: str) -> Callable[[DataFrame, int], None]:
    """A ``write_fn`` for :func:`run_foreach_batch` with REPLAY-SAFE
    semantics: each epoch lands in its own ``epoch=<id>`` partition
    directory in overwrite mode. foreachBatch only guarantees
    AT-LEAST-ONCE invocation (after a failure the last epoch replays
    from the checkpoint) — rewriting the same partition makes the
    replay idempotent, so at-least-once delivery + idempotent write =
    exactly-once OUTPUT (the Phoenix/ClickHouse upsert-sink analog,
    S8/S10, for plain parquet). Readers see the union of epoch
    partitions via ordinary partition discovery."""

    def _write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return _write
