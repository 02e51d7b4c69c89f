"""Streaming-equals-batch tests (SURVEY §5: incremental-equals-batch).

Each test materializes a small input to parquet, runs the streaming
formulation with an availableNow trigger into a memory sink, and
asserts equality with the batch-core formulation on the same rows.
"""

from __future__ import annotations

import pathlib
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from gmall_spark.operators.dedup import dedup_first
from gmall_spark.operators.uv import first_of_day_flag
from gmall_spark.operators.windows import tumble_agg
from gmall_spark.sources import log_gen
from gmall_spark.streaming import runner, stateful


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="gmall_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events(spark, sf_dir):
    from gmall_spark.queries import _events as q_events

    return q_events(spark, sf_dir)


def _page_log_parquet(spark, sf_dir, tmpdir):
    path = f"{tmpdir}/page_log"
    pl = log_gen.page_log(_events(spark, sf_dir))
    pl.drop("displays").write.mode("overwrite").parquet(path)
    return path, spark.read.parquet(path)


def _run_to_memory(stream_df, name, checkpoint, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_window_agg_equals_batch(spark, sf_dir, tmpdir):
    path, batch_df = _page_log_parquet(spark, sf_dir, tmpdir)
    stream = runner.stream_from_parquet(spark, path, batch_df.schema).withColumn(
        "rt", F.timestamp_micros(F.col("ts_us"))
    )
    agg = runner.windowed_agg_stream(
        stream, "rt", "2 seconds", 10, ["ch"], [F.count(F.lit(1)).alias("pv_ct")]
    )
    _run_to_memory(agg, "win_out", f"{tmpdir}/ckpt_win")
    got = {
        (r.stt, r.ch): r.pv_ct for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected_df = tumble_agg(
        batch_df.withColumn("rt", F.timestamp_micros(F.col("ts_us"))),
        "rt",
        10,
        ["ch"],
        [F.count(F.lit(1)).alias("pv_ct")],
    )
    expected = {(r.stt, r.ch): r.pv_ct for r in expected_df.collect()}
    # append mode only emits windows the final watermark passed; all
    # emitted windows must match the batch result exactly
    assert got, "streaming produced no windows"
    for k, v in got.items():
        assert expected.get(k) == v, f"window {k}: stream {v} != batch {expected.get(k)}"
    missing = set(expected) - set(got)
    # only the tail windows (within watermark of max ts) may be unemitted
    assert len(missing) < 5, f"{len(missing)} windows missing from append output"
    # under the session's checkpoint manager each state version is still
    # <n>.delta with Spark's own <n>.delta.crc beside it
    names = {p.name for p in pathlib.Path(tmpdir, "ckpt_win", "state").rglob("*.delta*")}
    deltas = {n for n in names if n.endswith(".delta") and not n.startswith(".")}
    assert deltas, names
    assert {f"{n}.crc" for n in deltas} <= names, names


def test_streaming_dedup_equals_batch(spark, sf_dir, tmpdir):
    path, batch_df = _page_log_parquet(spark, sf_dir, tmpdir)
    stream = runner.stream_from_parquet(spark, path, batch_df.schema).withColumn(
        "rt", F.timestamp_micros(F.col("ts_us"))
    )
    dd = runner.streaming_dedup(stream, ["mid", "dt"], "rt", "2 seconds")
    _run_to_memory(dd, "dedup_out", f"{tmpdir}/ckpt_dedup")
    got = spark.sql("SELECT mid, dt FROM dedup_out").collect()
    got_keys = {(r.mid, r.dt) for r in got}
    expected_keys = {
        (r.mid, r.dt)
        for r in dedup_first(batch_df, ["mid", "dt"], "ts_us").select("mid", "dt").collect()
    }
    # dropDuplicates keeps an arbitrary first-seen row, but the KEY SET
    # must match the batch dedup exactly, with no duplicates emitted
    assert len(got) == len(got_keys), "streaming dedup emitted duplicate keys"
    assert got_keys == expected_keys


def test_stateful_uv_equals_batch(spark, sf_dir, tmpdir):
    path, batch_df = _page_log_parquet(spark, sf_dir, tmpdir)
    stream = runner.stream_from_parquet(spark, path, batch_df.schema)
    uv = stateful.streaming_unique_visitor(stream)
    _run_to_memory(uv, "uv_out", f"{tmpdir}/ckpt_uv")
    got = {(r.mid, r.dt) for r in spark.sql("SELECT * FROM uv_out").collect()}
    expected = {
        (r.mid, r.dt)
        for r in first_of_day_flag(batch_df, "mid", "dt", ["ts_us", "event_id"], "f")
        .filter(F.col("f") == 1)
        .select("mid", "dt")
        .collect()
    }
    assert got == expected


def test_streaming_interval_join_equals_batch(spark, sf_dir, tmpdir):
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.col("ts").alias("rt")
    )
    a_path, b_path = f"{tmpdir}/ij_a", f"{tmpdir}/ij_b"
    a = ev.filter(F.col("event_type") == "view")
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("rt").alias("b_rt"),
    )
    a.write.mode("overwrite").parquet(a_path)
    b.write.mode("overwrite").parquet(b_path)
    sa = runner.stream_from_parquet(spark, a_path, a.schema)
    sb = runner.stream_from_parquet(spark, b_path, b.schema)
    joined = runner.streaming_interval_join(
        sa,
        sb.withColumn("user_id", F.col("b_user_id")),
        "user_id",
        "rt",
        "b_rt",
        -3600,
        3600,
        "2 seconds",
        "inner",
    )
    out = joined.select("event_id", "b_event_id")
    _run_to_memory(out, "ij_out", f"{tmpdir}/ckpt_ij")
    got = {(r.event_id, r.b_event_id) for r in spark.sql("SELECT * FROM ij_out").collect()}
    ba = spark.read.parquet(a_path)
    bb = spark.read.parquet(b_path)
    cond = (
        (ba.user_id == bb.b_user_id)
        & (bb.b_rt >= ba.rt - F.expr("INTERVAL 3600 SECONDS"))
        & (bb.b_rt <= ba.rt + F.expr("INTERVAL 3600 SECONDS"))
    )
    expected = {
        (r.event_id, r.b_event_id)
        for r in ba.join(bb, cond).select("event_id", "b_event_id").collect()
    }
    assert got == expected and got, f"interval join mismatch ({len(got)} vs {len(expected)})"


def test_streaming_left_outer_join_equals_batch(spark, sf_dir, tmpdir):
    """J2's streaming form: the watermarked left-outer stream-stream
    join must emit the matched pairs exactly AND the outer-NULL rows
    for left events whose match window closed under the watermark —
    the batch left join is the ground truth, minus only the
    tail-window left rows the final watermark could not yet prove
    unmatched."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.col("ts").alias("rt")
    )
    a_path, b_path = f"{tmpdir}/loj_a", f"{tmpdir}/loj_b"
    a = ev.filter(F.col("event_type") == "view")
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("b_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("rt").alias("b_rt"),
    )
    a.write.mode("overwrite").parquet(a_path)
    b.write.mode("overwrite").parquet(b_path)
    sa = runner.stream_from_parquet(spark, a_path, a.schema)
    sb = runner.stream_from_parquet(spark, b_path, b.schema)
    joined = runner.streaming_interval_join(
        sa,
        sb.withColumn("user_id", F.col("b_user_id")),
        "user_id",
        "rt",
        "b_rt",
        -3600,
        3600,
        "2 seconds",
        "leftOuter",
    )
    out = joined.select("event_id", "b_event_id")
    _run_to_memory(out, "loj_out", f"{tmpdir}/ckpt_loj")
    got = {
        (r.event_id, r.b_event_id)
        for r in spark.sql("SELECT * FROM loj_out").collect()
    }
    ba = spark.read.parquet(a_path)
    bb = spark.read.parquet(b_path)
    cond = (
        (ba.user_id == bb.b_user_id)
        & (bb.b_rt >= ba.rt - F.expr("INTERVAL 3600 SECONDS"))
        & (bb.b_rt <= ba.rt + F.expr("INTERVAL 3600 SECONDS"))
    )
    expected = {
        (r.event_id, r.b_event_id)
        for r in ba.join(bb, cond, "left_outer")
        .select("event_id", "b_event_id")
        .collect()
    }
    # every matched pair must be present and exact
    got_matched = {p for p in got if p[1] is not None}
    exp_matched = {p for p in expected if p[1] is not None}
    assert got_matched == exp_matched and got_matched
    # outer-NULL rows: all emitted ones must be true non-matches, and
    # nearly all true non-matches must have been emitted (only left
    # rows within watermark+upper of the final max ts may be held)
    got_null = {p[0] for p in got if p[1] is None}
    exp_null = {p[0] for p in expected if p[1] is None}
    assert got_null <= exp_null
    assert exp_null, "fixture should contain unmatched left rows"
    missing = exp_null - got_null
    assert len(missing) <= max(5, len(exp_null) // 100), (
        f"{len(missing)} of {len(exp_null)} outer rows never emitted"
    )
    # and no left event may appear BOTH matched and as outer-NULL
    assert not (got_null & {p[0] for p in got_matched})


def test_streaming_jump_equals_batch(spark, sf_dir, tmpdir):
    _, batch_df = _page_log_parquet(spark, sf_dir, tmpdir)
    base = batch_df.select("mid", "ts_us", "is_session_start")
    max_ts = base.agg(F.max("ts_us")).collect()[0][0]
    # sentinel non-start event per mid far after everything: decides
    # every still-pending candidate through the event path (the
    # timeout path is unit-tested separately)
    sentinels = (
        base.select("mid").distinct()
        .withColumn("ts_us", F.lit(max_ts + 60_000_000))
        .withColumn("is_session_start", F.lit(0))
    )
    full = base.unionByName(sentinels)
    path = f"{tmpdir}/jump_in"
    full.write.mode("overwrite").parquet(path)
    stream = runner.stream_from_parquet(spark, path, full.schema).withColumn(
        "rt", F.timestamp_micros(F.col("ts_us"))
    )
    jumps = stateful.streaming_user_jump(stream)
    _run_to_memory(jumps, "jump_out", f"{tmpdir}/ckpt_jump")
    got = {(r.mid, r.ts_us) for r in spark.sql("SELECT * FROM jump_out").collect()}

    from pyspark.sql import Window

    w = Window.partitionBy("mid").orderBy("ts_us")
    led = full.withColumn("nxt_ts", F.lead("ts_us").over(w)).withColumn(
        "nxt_start", F.lead("is_session_start").over(w)
    )
    expected = {
        (r.mid, r.ts_us)
        for r in led.filter(
            (F.col("is_session_start") == 1)
            & (
                F.col("nxt_ts").isNull()
                | (F.col("nxt_ts") - F.col("ts_us") > stateful.JUMP_GAP_US)
                | (F.col("nxt_start") == 1)
            )
        ).collect()
    }
    assert got == expected and got


def test_jump_fn_timeout_path():
    """The event-time timeout confirms a pending candidate as a jump."""

    class FakeState:
        exists = True
        hasTimedOut = True
        get = (1_000_000, 1)

        def remove(self):
            self.removed = True

        def update(self, v):
            raise AssertionError("timeout path must not update state")

    out = list(stateful._jump_fn(("mid_1",), iter([]), FakeState()))
    assert len(out) == 1 and out[0]["ts_us"].tolist() == [1_000_000]


def test_dirty_side_output_counts(spark, sf_dir):
    """P1: the dirty side output must contain exactly the planted
    corrupt lines (event_id % DIRTY_MOD == 0) and the clean side the
    rest — one from_json pass, two filters (BaseLogApp.java:41-62)."""
    events = _events(spark, sf_dir)
    raw = log_gen.raw_topic_log(events)
    clean, dirty = log_gen.parse_topic_log(raw)
    total = events.count()
    planted = events.filter(F.col("event_id") % log_gen.DIRTY_MOD == 0).count()
    assert planted > 0, "fixture should plant corrupt lines"
    assert dirty.count() == planted
    assert clean.count() == total - planted
    # every dirty line is the deliberately broken JSON prefix
    assert dirty.filter(~F.col("value").startswith("{broken")).count() == 0


@pytest.mark.slow
def test_streaming_dws_pipeline_end_to_end(spark, sf_dir, tmpdir):
    """Full reference job shape in streaming mode (SURVEY §2.11):
    CDC topic stream -> foreachBatch DWD (order detail wide fact) ->
    dwd store -> streaming dedup + 10 s province window -> sink,
    asserting the emitted windows equal the batch DWS result.

    The exact distinct-order count is streamed as
    dropDuplicatesWithinWatermark((order_id, window, province)) ->
    count — the composition that replaces the reference's per-window
    Set state (DwsTradeProvinceOrderWindow.java:84-134)."""
    from gmall_spark.operators.windows import tumble_agg
    from gmall_spark.plans import dwd
    from gmall_spark.sources import cdc_gen, dims

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    tdb_path = f"{tmpdir}/topic_db"
    cdc_gen.topic_db(orders, lineitem).coalesce(1).write.mode("overwrite").parquet(tdb_path)
    tdb_batch = spark.read.parquet(tdb_path)

    # stage 1: topic stream -> DWD wide fact via foreachBatch (the
    # dict join is broadcast; the dwd parquet dir is the Kafka
    # dwd_trade_order_detail topic analog)
    dwd_path = f"{tmpdir}/e2e_dwd_order_detail"
    q1 = runner.run_foreach_batch(
        runner.stream_from_parquet(spark, tdb_path, tdb_batch.schema),
        lambda b: dwd.dwd_trade_order_detail(b, dims.base_dic(spark)),
        lambda df, _eid: df.write.mode("append").parquet(dwd_path),
        checkpoint=f"{tmpdir}/ckpt_e2e_dwd",
    )
    q1.awaitTermination(180)
    dwd_batch = spark.read.parquet(dwd_path)
    assert dwd_batch.count() > 0

    # stage 2: DWD stream -> exact-distinct province order counts
    dstream = (
        runner.stream_from_parquet(spark, dwd_path, dwd_batch.schema)
        .withColumn("rt", F.timestamp_micros(F.col("ts") * 1_000_000))
        .withColumn("wstart", F.expr("ts div 10 * 10"))
    )
    dd = dstream.withWatermark("rt", "2 seconds").dropDuplicatesWithinWatermark(
        ["order_id", "wstart", "province_id"]
    )
    agg = runner.windowed_agg_stream(
        dd,
        "rt",
        None,  # the dedup stage upstream already set the watermark
        10,
        ["province_id"],
        [F.count(F.lit(1)).cast("bigint").alias("order_count")],
    )
    _run_to_memory(agg, "e2e_out", f"{tmpdir}/ckpt_e2e_dws")
    got = {
        (r.stt, r.province_id): r.order_count
        for r in spark.sql("SELECT * FROM e2e_out").collect()
    }
    expected_df = tumble_agg(
        dwd_batch.withColumn("rt", F.timestamp_micros(F.col("ts") * 1_000_000)),
        "rt",
        10,
        ["province_id"],
        [F.count_distinct("order_id").cast("bigint").alias("order_count")],
    )
    expected = {(r.stt, r.province_id): r.order_count for r in expected_df.collect()}
    assert got, "streaming DWS emitted no windows"
    for k, v in got.items():
        assert expected.get(k) == v, f"{k}: stream {v} != batch {expected.get(k)}"
    missing = set(expected) - set(got)
    assert len(missing) < 25, f"{len(missing)} windows missing from append output"


@pytest.mark.slow
def test_streaming_login_window_end_to_end_two_batches(spark, sf_dir, tmpdir):
    """Streaming == batch for the stateful global-window login DWS
    job (VERDICT r5 item 6): the 8-day returning-user rule (A6,
    DwsUserUserLoginWindow.java:83-163) whose per-user last-visit
    state must SURVIVE a micro-batch boundary. Input is the real
    login feed plus planted returning users whose 8-day gaps
    straddle a two-batch chronological split; the stream runs
    applyInPandasWithState login flags -> watermark -> 10 s global
    window, and every emitted window must equal the batch operator's
    row, including back_ct > 0 windows fed by cross-batch state."""
    from gmall_spark.plans import user as user_plans

    pl = log_gen.page_log(_events(spark, sf_dir))
    logins = (
        pl.filter((F.col("is_session_start") == 1) & F.col("user_id").isNotNull())
        .select("user_id", "dt", "ts_us", "event_id")
    )

    def _day_us(day: str, offset_s: int) -> int:
        import datetime as _dt

        epoch = _dt.datetime.fromisoformat(day + "T00:00:00+00:00").timestamp()
        return int((epoch + offset_s) * 1_000_000)

    planted_rows = [
        # (user, day, offset) — 900001 returns across the split
        (900001, "2024-01-05", 41), (900001, "2024-01-17", 42),   # gap 12: back
        # 900002 returns within batch A (gap exactly 8)
        (900002, "2024-01-02", 43), (900002, "2024-01-10", 44),   # gap 8: back
        # 900003: short gap (no flag), then a cross-split return
        (900003, "2024-01-05", 45), (900003, "2024-01-10", 46),   # gap 5: no
        (900003, "2024-01-20", 47),                               # gap 10: back
    ]
    planted = spark.createDataFrame(
        [
            (u, d, _day_us(d, off), 10_000_000 + i)
            for i, (u, d, off) in enumerate(planted_rows)
        ],
        "user_id long, dt string, ts_us long, event_id long",
    )
    feed = logins.unionByName(planted).withColumn(
        "is_session_start", F.lit(1)
    )

    # two chronological files => two micro-batches (oldest mtime first)
    path = f"{tmpdir}/login_feed"
    import time as _time

    feed.filter(F.col("dt") < "2024-01-16").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    _time.sleep(1.1)
    feed.filter(F.col("dt") >= "2024-01-16").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    batch_feed = spark.read.parquet(path)

    stream = (
        spark.readStream.schema(batch_feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    flags = stateful.streaming_login_flags(stream).withColumn(
        "rt", F.timestamp_micros(F.col("ts_us"))
    )
    agg = runner.windowed_agg_stream(
        flags,
        "rt",
        "2 seconds",
        10,
        [],
        [
            F.count(F.lit(1)).cast("bigint").alias("uu_ct"),
            F.sum("back_flag").cast("bigint").alias("back_ct"),
        ],
    )
    _run_to_memory(agg, "login_out", f"{tmpdir}/ckpt_login")
    got = {
        r.stt: (r.uu_ct, r.back_ct)
        for r in spark.sql("SELECT * FROM login_out").collect()
    }
    expected = {
        r.stt: (r.uu_ct, r.back_ct)
        for r in user_plans.dws_user_user_login_window(batch_feed).collect()
    }
    assert got, "no windows emitted"
    for k, v in got.items():
        assert expected.get(k) == v, f"{k}: stream {v} != batch {expected.get(k)}"
    # the planted cross-batch returns MUST appear as back_ct windows
    back_windows = {k for k, (_, b) in got.items() if b > 0}
    assert any(k.startswith("2024-01-17") for k in back_windows), back_windows
    assert any(k.startswith("2024-01-20") for k in back_windows), back_windows
    assert any(k.startswith("2024-01-10") for k in back_windows), back_windows
    missing = set(expected) - set(got)
    assert len(missing) < 25, f"{len(missing)} windows missing from append output"


def test_foreach_batch_dim_router(spark, sf_dir, tmpdir):
    from gmall_spark.plans import dim
    from gmall_spark.sources import cdc_gen

    tdb = cdc_gen.topic_db(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
    )
    src = f"{tmpdir}/topic_db"
    tdb.write.mode("overwrite").parquet(src)
    stream = runner.stream_from_parquet(spark, src, tdb.schema)
    writer = dim.foreach_batch_dim_writer(f"{tmpdir}/dims")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", f"{tmpdir}/ckpt_dim")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    batch = dim.route_all(tdb)
    for cfg in dim.DEFAULT_CONFIG:
        got = {
            tuple(r) for r in dim.read_dim(spark, f"{tmpdir}/dims", cfg).collect()
        }
        expected = {tuple(r) for r in batch[cfg.sink_table].collect()}
        assert got == expected and got, cfg.sink_table


def test_kafka_payload_round_trips(spark, sf_dir):
    """S2/S4 sink record shape: value = full-row JSON, key = PK string;
    parsing the value with the source's schema recovers every column."""
    from pyspark.sql import functions as F
    from gmall_spark.streaming.runner import kafka_payload

    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(100)
    )
    payload = kafka_payload(df, key_col="o_orderkey")
    assert payload.columns == ["key", "value"]
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    back = payload.select(
        F.col("key"), F.from_json("value", schema).alias("j")
    ).select("key", "j.*")
    orig = {r["o_orderkey"]: r for r in df.collect()}
    for r in back.collect():
        assert r["key"] == str(r["o_orderkey"])
        o = orig[r["o_orderkey"]]
        assert r["o_orderstatus"] == o["o_orderstatus"]
        assert abs(r["o_totalprice"] - o["o_totalprice"]) < 1e-9


def test_sink_projection_drops_transient_cols(spark, sf_dir):
    """S10 @TransientSink analog: transient columns are excluded from
    the sink row, everything else passes through unchanged."""
    from gmall_spark.sources.jdbc import sink_projection

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = sink_projection(df, ["o_totalprice"])
    assert out.columns == ["o_orderkey", "o_orderstatus"]
    assert sink_projection(df).columns == df.columns
    assert out.count() == df.count()


def test_incremental_span_clean_equals_batch(spark, sf_dir, tmpdir):
    """Incremental C4 span clean (X104's streaming twin): after a
    two-batch doc_id-ordered split, the union of emitted per-doc rows
    must be row-identical to the batch operator over the whole corpus
    — keep-first state (the claimed-hash store) crossing the batch
    boundary is exactly what makes a later batch's duplicate of an
    EARLIER batch's span drop."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.streaming import incremental_span_clean as isc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    store = f"{tmpdir}/span_store"
    mid = 250
    isc.process_batch(spark, docs.filter(F.col("doc_id") < mid), store, 0)
    isc.process_batch(spark, docs.filter(F.col("doc_id") >= mid), store, 1)
    got = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in isc.emitted_docs(spark, store).collect()
    }
    expected = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in llm_dedup.span_dedup_clean(docs).collect()
    }
    assert got == expected
    # cross-batch state mattered: a batch-2 span whose hash was
    # claimed by BATCH 1 exists (not merely a within-batch-2 dup),
    # and its document records a removal
    b1 = spark.read.parquet(f"{store}/hashes/epoch=0").select("h")
    cross = (
        llm_dedup.span_rows(docs.filter(F.col("doc_id") >= mid))
        .join(b1, "h")
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert cross, "fixture has no cross-batch duplicate spans"
    assert all(got[r.doc_id][1] > 0 for r in cross)
    # foreachBatch replay: re-running batch 1 (same batch_id) must not
    # change the emitted set — the retry reads only earlier hash epochs
    # and overwrites its own doc and hash epochs
    isc.process_batch(spark, docs.filter(F.col("doc_id") >= mid), store, 1)
    got2 = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in isc.emitted_docs(spark, store).collect()
    }
    assert got2 == expected


@pytest.mark.slow
def test_incremental_dedup_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of MinHash+LSH dedup (SURVEY X4 extension): the
    documents table split into two micro-batches, each signed and
    banded against the persisted signature store via foreachBatch,
    must emit exactly the pairs the single-batch operator finds on
    the full corpus — regardless of which batch a pair's members
    arrive in."""
    from gmall_spark.streaming import incremental_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/dedup_store"
    src = f"{tmpdir}/dedup_src"
    # two source files -> maxFilesPerTrigger=1 forces two micro-batches
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: incremental_dedup.process_batch(
            spark, b, store, eid, 0.8
        ),
        # NOT ckpt_dedup: the module-scoped tmpdir is shared with
        # test_streaming_dedup_equals_batch, and reusing its checkpoint
        # trips STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA
        checkpoint=f"{tmpdir}/ckpt_incr_dedup",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    incremental_dedup.process_batch(
        spark, docs.filter(F.col("doc_id") > mid), store, 1, 0.8
    )

    from gmall_spark.operators import llm_dedup

    got = {
        (r.doc_a, r.doc_b, r.inter, r.jaccard)
        for r in incremental_dedup.emitted_pairs(spark, store).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.inter, r.jaccard)
        for r in llm_dedup.minhash_lsh_dedup(docs, 0.8).collect()
    }
    assert got == want and len(want) > 0
    # the replay left no duplicate rows (the sets above would hide them)
    assert incremental_dedup.emitted_pairs(spark, store).count() == len(got)


@pytest.mark.slow
def test_streaming_dedup_ttl_read_refresh_equals_batch(spark, tmpdir):
    """OnReadAndWrite TTL parity (VERDICT r3 #6, ref
    DwsTradePaymentSucWindow.java:84-90): the read-refreshing 5 s TTL
    dedup run over two micro-batches must equal the batch lag oracle
    (dedup_first_ttl), and must DIVERGE from the create-only mode on
    the planted refresh chain — the distinction dropDuplicates-style
    dedup cannot express."""
    from gmall_spark.operators.dedup import dedup_first_ttl

    S = 1_000_000  # 1 s in us
    B = 1000 * S  # base offset: an epoch-0 event time sits exactly on
    # the initial watermark and is filtered as late
    rows = [
        # key A: refresh chain 0,3,7 then silence; OnReadAndWrite
        # emits {0, 20}; OnCreateAndWrite would emit {0, 7, 20}
        ("A", B + 0 * S), ("A", B + 3 * S), ("A", B + 7 * S), ("A", B + 20 * S),
        # key B: an isolated event then one past the TTL
        ("B", B + 1 * S), ("B", B + 9 * S),
        # key C: duplicates inside one TTL window -> one survivor
        ("C", B + 2 * S), ("C", B + 4 * S), ("C", B + 5 * S),
    ]
    # split mid-chain so A's refresh state crosses the batch boundary
    first = [(k, t) for k, t in rows if t <= B + 4 * S]
    second = [(k, t) for k, t in rows if t > B + 4 * S]
    src = f"{tmpdir}/ttl_src"
    schema = "k string, ts_us long"
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(f"{src}/b1")

    def run(refresh_on_read, name):
        stream = (
            spark.readStream.schema("k string, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
            .withColumn("rt", F.timestamp_micros(F.col("ts_us")))
        )
        out = stateful.streaming_dedup_ttl(
            stream, "k", "ts_us", 5.0, "rt", refresh_on_read=refresh_on_read
        )
        _run_to_memory(out, name, f"{tmpdir}/ckpt_{name}")
        return {(r.k, r.ts_us) for r in spark.sql(f"SELECT * FROM {name}").collect()}

    got_refresh = run(True, "ttl_refresh_out")
    batch = spark.createDataFrame(rows, schema)
    want = {
        (r.k, r.ts_us)
        for r in dedup_first_ttl(batch, ["k"], "ts_us", 5 * S).collect()
    }
    assert got_refresh == want
    assert got_refresh == {
        ("A", B), ("A", B + 20 * S), ("B", B + 1 * S), ("B", B + 9 * S),
        ("C", B + 2 * S),
    }

    got_create = run(False, "ttl_create_out")
    # create-only re-emits A at t=7 (its clock ignored the t=3 read)
    assert got_create == got_refresh | {("A", B + 7 * S)}


def test_socket_json_source_end_to_end(spark, tmpdir):
    """S13 socket source against a real local TCP server: lines stream
    in, parse against the CDC schema, and land in the sink (dev/demo
    parity with the reference's socketTextStream tests)."""
    import json
    import socket
    import threading
    import time

    from gmall_spark import schemas
    from gmall_spark.streaming.runner import socket_json_source

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    lines = [
        {"database": "gmall", "table": "t1", "type": "insert",
         "data": {"id": str(i)}, "old": None, "ts": 1654000000 + i}
        for i in range(5)
    ]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            payload = "".join(json.dumps(x) + "\n" for x in lines)
            conn.sendall(payload.encode())
            stop.wait(30)  # keep the connection open until the test ends

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    stream = socket_json_source(spark, "127.0.0.1", port, schemas.CDC_ENVELOPE)
    q = (
        stream.writeStream.format("memory")
        .queryName("sock_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_sock")
        .start()
    )
    try:
        deadline = time.time() + 90
        got = set()
        while time.time() < deadline and len(got) < len(lines):
            got = {
                r["data"]["id"]
                for r in spark.sql("SELECT * FROM sock_out").collect()
                if r["data"]
            }
            time.sleep(0.5)
        assert got == {str(i) for i in range(5)}, got
    finally:
        stop.set()
        q.stop()
        server.close()


@pytest.mark.slow
def test_windowed_sum_with_fallback_trigger_paths(spark, tmpdir):
    """W4/F3 custom-trigger twin (ref bean/MyTrigger.java): a window
    whose end the watermark passes fires as an on-time ('watermark')
    result; windows the watermark never reaches are rescued by the
    wall-clock fallback ('timeout') instead of hanging forever."""
    import time

    S = 1_000_000
    B = 1000 * S  # epoch-0 watermark edge (see TTL test)
    b0 = [("A", B + 1 * S, 1), ("A", B + 3 * S, 2)]          # window [B, B+5s)
    b1 = [("A", B + 12 * S, 5), ("B", B + 11 * S, 7),
          ("B", B + 12 * S, 9)]                               # window [B+10s, B+15s)
    src = f"{tmpdir}/fbw_src"
    schema = "k string, ts_us long, v long"
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1")
    # ONE data batch (no maxFilesPerTrigger): the watermark advances to
    # B+10s right after it, so the timed-out groups' labels are
    # deterministic — no race between file batches and wall-clock
    # timers (the immediate-fire-on-late-data branch is unit-tested in
    # test_fallback_window_fn_immediate_fire)
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{src}/b*")
        .withColumn("rt", F.timestamp_micros(F.col("ts_us")))
    )
    out = stateful.windowed_sum_with_fallback(
        stream, "k", "ts_us", "v", "rt", window_seconds=5, fallback_seconds=2.0
    )
    q = (
        out.writeStream.format("memory")
        .queryName("fbw_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_fbw")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline and len(got) < 3:
            got = {
                (r.k, r.wstart_us): (r.sum_v, r.fired_by)
                for r in spark.sql("SELECT * FROM fbw_out").collect()
            }
            time.sleep(0.5)
        # A's first window: watermark (B+12s - 2s = B+10s) passed its
        # end (B+5s) -> on-time fire; the two [B+10s) windows never see
        # the watermark reach B+15s -> wall-clock fallback rescues them
        assert got == {
            ("A", B): (3, "watermark"),
            ("A", B + 10 * S): (5, "timeout"),
            ("B", B + 10 * S): (16, "timeout"),
        }, got
    finally:
        q.stop()


def test_fallback_window_fn_immediate_fire():
    """MyTrigger's onElement first branch: data arriving for a window
    whose end the watermark already passed fires immediately."""
    import pandas as pd

    class FakeState:
        exists = False
        hasTimedOut = False

        def getCurrentWatermarkMs(self):
            return 20_000  # 20 s — far past the window end

        def remove(self):
            self.removed = True

        def update(self, v):
            raise AssertionError("immediate fire must not keep state")

    fn = stateful._fallback_window_fn(5_000_000, 2000)
    out = list(
        fn(
            ("A", 1_000_000),
            iter([pd.DataFrame({"v": [3, 4]})]),
            FakeState(),
        )
    )
    assert len(out) == 1
    r = out[0].iloc[0]
    assert (r["k"], r["wstart_us"], r["sum_v"], r["fired_by"]) == (
        "A", 1_000_000, 7, "watermark",
    )


def test_streaming_session_window_equals_batch(spark, sf_dir, tmpdir):
    """The streaming session_window twin must emit exactly the batch
    query's sessions (for sessions whose end the final watermark
    passed; the tail may be unemitted in append mode)."""
    from gmall_spark import queries as q

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    path = f"{tmpdir}/sess_events"
    ev.write.mode("overwrite").parquet(path)
    batch_df = spark.read.parquet(path)

    stream = runner.stream_from_parquet(spark, path, batch_df.schema)
    agg = runner.session_window_stream(
        stream,
        "ts",
        "30 minutes",
        "1 hour",
        ["user_id"],
        [
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        ],
    )
    _run_to_memory(agg, "sess_out", f"{tmpdir}/ckpt_sess")
    got = {
        (r.user_id, r.stt_us): (r.edt_us, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    expected = {
        (r.user_id, r.stt_us): (r.edt_us, r.n_events, r.total_value)
        for r in q.QUERIES["events_session_window"](spark, sf_dir).collect()
    }
    assert got, "streaming produced no sessions"
    for k, v in got.items():
        assert expected.get(k) == v, f"session {k}: stream {v} != batch {expected.get(k)}"
    missing = set(expected) - set(got)
    assert len(missing) < 10, f"{len(missing)} sessions missing from append output"


def test_streaming_temporal_join_equals_batch(spark, sf_dir, tmpdir):
    """The incremental as-of (temporal) join must equal the batch
    asof_join_backward on the full data when batches arrive in
    event-time order (a probe's candidate versions are then always in
    its own or an earlier batch)."""
    from gmall_spark import queries as q
    from gmall_spark.streaming import temporal_join as tj
    from pyspark.sql import types as T

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("view_event_id"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("purchase_event_id"))

    split = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("view_event_id", T.LongType()),
    ])
    store = tj.VersionStore(f"{tmpdir}/tjoin_store", schema)
    emitted = {}
    # batch 1 runs twice: the second run is a foreachBatch replay,
    # whose rows replace the first attempt's
    for batch_id, lo, hi in ((0, None, split), (1, split, None), (1, split, None)):
        def cut(df):
            c = df
            if lo is not None:
                c = c.filter(F.col("ts_us") > lo)
            if hi is not None:
                c = c.filter(F.col("ts_us") <= hi)
            return c
        out = tj.process_batch(
            spark, cut(purchases), cut(views), store, "user_id", "ts_us", batch_id)
        emitted[batch_id] = out.collect()

    got = {
        (r.purchase_event_id): (r.user_id, r.ts_us, r.view_event_id, r.ts_us_right)
        for rows in emitted.values()
        for r in rows
    }
    from gmall_spark.operators.relational import asof_join_backward
    expected = {
        (r.purchase_event_id): (r.user_id, r.ts_us, r.view_event_id, r.ts_us_right)
        for r in asof_join_backward(purchases, views, "user_id", "ts_us").collect()
    }
    assert got == expected
    # the replayed batch stored its versions once
    assert store.read(spark).count() == views.count()


def test_incremental_bloom_equals_batch(spark, sf_dir, tmpdir):
    """bit_or is associative+commutative, so after ANY batch split the
    persisted filter must equal bloom_build over the union — word for
    word — and probing the incrementally-built filter must answer
    exactly like the batch one (SURVEY X71 streaming extension)."""
    from gmall_spark.operators import bloom, llm_dedup
    from gmall_spark.streaming import incremental_bloom as ib

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = d.select(
        "doc_id",
        F.explode(llm_dedup.shingle_array("text", 8)).alias("gram"),
    )
    ref = grams.filter(F.col("doc_id") % 10 == 7).select("gram").distinct()
    store = f"{tmpdir}/bloom_store"
    # three uneven batches
    for batch_id, (lo, hi) in enumerate(((0, 60), (60, 61), (61, 10_000_000))):
        batch = ref.filter(
            (F.crc32("gram") % 100 >= lo) & (F.crc32("gram") % 100 < hi)
        )
        ib.process_batch(spark, batch, "gram", store, batch_id)
    # foreachBatch replay of the last batch: overwrites its own delta
    ib.process_batch(spark, batch, "gram", store, batch_id)
    got = {
        (r.word_idx, r.word) for r in ib.current_filter(spark, store).collect()
    }
    want = {(r.word_idx, r.word) for r in bloom.bloom_build(ref, "gram").collect()}
    assert got == want
    probes = grams.filter(F.col("doc_id") % 10 != 7).limit(500)
    a = {
        tuple(r)
        for r in bloom.bloom_probe(
            ib.current_filter(spark, store), probes, "gram", ["doc_id", "gram"]
        ).collect()
    }
    b = {
        tuple(r)
        for r in bloom.bloom_probe(
            bloom.bloom_build(ref, "gram"), probes, "gram", ["doc_id", "gram"]
        ).collect()
    }
    assert a == b


def test_foreach_batch_replay_is_idempotent(spark, tmpdir):
    """The exactly-once-output contract: replaying an epoch (the
    at-least-once failure mode of foreachBatch) must NOT duplicate
    rows, because the epoch partition is overwritten, not appended."""
    from gmall_spark.streaming.runner import idempotent_parquet_write

    out = f"{tmpdir}/idem_sink"
    write = idempotent_parquet_write(out)
    b0 = spark.range(0, 10).withColumnRenamed("id", "k")
    b1 = spark.range(10, 15).withColumnRenamed("id", "k")
    write(b0, 0)
    write(b0, 0)  # replay of epoch 0 after a simulated failure
    write(b1, 1)
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == list(range(15))


def test_incremental_cms_equals_batch(spark, sf_dir, tmpdir):
    """Sum-merge associativity: after three uneven batch splits the
    persisted CMS cells equal cms_build over the union cell-for-cell,
    and estimates probed against it match the batch sketch exactly."""
    from gmall_spark.operators.ranking import _toks
    from gmall_spark.operators.sketches import cms_build, cms_estimate
    from gmall_spark.streaming import incremental_cms as ic

    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(_toks(F.col("text"))).alias("tok"))
    )
    store = f"{tmpdir}/cms_store"
    for batch_id, (lo, hi) in enumerate(((0, 40), (40, 41), (41, 100))):
        batch = toks.filter(
            (F.crc32("tok") % 100 >= lo) & (F.crc32("tok") % 100 < hi)
        )
        ic.process_batch(spark, batch, "tok", store, batch_id)
    # foreachBatch replay of the last batch: overwrites its own delta
    ic.process_batch(spark, batch, "tok", store, batch_id)
    got = {
        (r.lane, r.col): r.cell_ct
        for r in ic.current_sketch(spark, store).collect()
    }
    want = {(r.lane, r.col): r.cell_ct for r in cms_build(toks, "tok").collect()}
    assert got == want
    cand = toks.limit(300)
    a = {
        r.tok: r.est_ct
        for r in cms_estimate(ic.current_sketch(spark, store), cand, "tok").collect()
    }
    b = {r.tok: r.est_ct for r in cms_estimate(cms_build(toks, "tok"), cand, "tok").collect()}
    assert a == b


def test_incremental_ivf_index_equals_batch_and_prunes(spark, sf_dir, tmpdir):
    """Fixed-centroid assignment is pure per-row: the union of
    per-batch index appends equals the batch-built index row for row,
    top-k from the store equals ivf_topk on the full corpus with the
    same centroids, and the probed list_ids prune the partitioned
    store scan."""
    from gmall_spark.operators import ivf
    from gmall_spark.streaming import incremental_ivf as ii

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = ivf.train_centroids(emb)
    store = f"{tmpdir}/ivf_store"
    for batch_id, (lo, hi) in enumerate(((0, 200), (200, 350), (350, 10_000_000))):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        ii.process_batch(batch, centroids, store, batch_id)
    ii.process_batch(batch, centroids, store, batch_id)  # foreachBatch replay
    got = {
        (r.vec_id, r.list_id) for r in ii.read_index(spark, store).collect()
    }
    want = {
        (r.vec_id, r.list_id)
        for r in ivf.build_index(emb, centroids).collect()
    }
    assert got == want
    queries = emb.filter(F.col("vec_id") < 5)
    a = ii.topk_from_store(spark, store, queries, centroids)
    b = ivf.ivf_topk(emb, queries, k=10, centroids=centroids)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(list_id" in plan, plan[:2000]


def test_checkpoint_restart_resumes_without_reprocessing(spark, tmpdir):
    """T10 beyond setting the option: a SECOND streaming query started
    on the SAME checkpoint must resume from the recorded file-source
    offsets — batch-1 files are not reprocessed (append-mode sink
    would show duplicates if they were), batch-2 files are picked up."""
    from gmall_spark.streaming import runner

    import os

    src = f"{tmpdir}/restart_src"
    os.makedirs(src, exist_ok=True)
    sink = f"{tmpdir}/restart_sink"
    ckpt = f"{tmpdir}/restart_ckpt"
    b1 = spark.range(0, 10).withColumnRenamed("id", "k")
    b1.coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")

    def run_once():
        stream = spark.readStream.schema("k bigint").option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(r.k for r in spark.read.parquet(sink).collect()) == list(range(10))
    b2 = spark.range(10, 15).withColumnRenamed("id", "k")
    b2.coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")
    run_once()  # restart from the same checkpoint
    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == list(range(15)), got  # no b1 duplicates, b2 present


@pytest.mark.slow
def test_purge_doc_ids_removes_from_every_store(spark, sf_dir, tmpdir):
    """Takedown propagation: after purging a doc involved in verified
    pairs, NO store row references it (bands, shingles, or either
    side of a pair), every other row survives, and re-probing the
    purged store finds no pair with the deleted doc."""
    from gmall_spark.streaming import incremental_dedup as idd
    from gmall_spark.streaming.retention import purge_doc_ids
    from gmall_spark.streaming.store import read_epochs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store_dir = f"{tmpdir}/purge_store"
    idd.process_batch(spark, docs, store_dir, 0, 0.8)

    def read(sub):
        return read_epochs(spark, f"{store_dir}/{sub}")

    pairs = read("pairs").collect()
    assert pairs, "fixture corpus must contain near-dup pairs"
    victim = int(pairs[0].doc_a)
    before = {
        "bands": read("bands").count(),
        "shingles": read("shingles").count(),
        "pairs": read("pairs").count(),
    }
    removed = purge_doc_ids(
        spark,
        [victim],
        {
            f"{store_dir}/bands": ["doc_id"],
            f"{store_dir}/shingles": ["doc_id"],
            f"{store_dir}/pairs": ["doc_a", "doc_b"],
        },
    )
    assert read("bands").filter(F.col("doc_id") == victim).count() == 0
    assert read("shingles").filter(F.col("doc_id") == victim).count() == 0
    assert (
        read("pairs")
        .filter((F.col("doc_a") == victim) | (F.col("doc_b") == victim))
        .count()
        == 0
    )
    # only the victim's rows were removed
    assert read("bands").count() == before["bands"] - removed[f"{store_dir}/bands"]
    assert removed[f"{store_dir}/bands"] > 0
    assert removed[f"{store_dir}/pairs"] >= 1
    assert read("pairs").count() == before["pairs"] - removed[f"{store_dir}/pairs"]


@pytest.mark.slow
def test_incremental_boilerplate_retroactive_repair(spark, tmpdir):
    """X106's streaming twin on a planted fixture where the
    doc-frequency threshold (K=3) is crossed only in batch 2: the
    batch-1 document that contains the span must be RE-EMITTED
    without it (max-batch row wins), and the final state must equal
    the batch operator over all docs."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.streaming import incremental_boilerplate as ib

    boiler = " ".join(f"b{i}" for i in range(10))
    uniq = {k: " ".join(f"{k}{i}" for i in range(10)) for k in "xyz"}
    b1 = spark.createDataFrame(
        [(1, boiler + " " + uniq["x"]), (2, uniq["y"])],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, boiler + " " + uniq["z"]), (4, boiler)],
        "doc_id long, text string",
    )
    store = f"{tmpdir}/boiler_store"
    ib.process_batch(spark, b1, store, 0)
    after1 = {
        r.doc_id: r.removed_spans for r in ib.emitted_docs(spark, store).collect()
    }
    assert after1 == {1: 0, 2: 0}  # df=1 < 3: nothing boilerplate yet
    ib.process_batch(spark, b2, store, 1)
    got = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in ib.emitted_docs(spark, store).collect()
    }
    expected = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in llm_dedup.boilerplate_span_clean(
            b1.unionByName(b2), 10, 3
        ).collect()
    }
    assert got == expected
    assert got[1][1] == 1  # batch-1 doc retroactively lost the span
    # the repair row really is a second, later emission of doc 1
    raw = spark.read.parquet(f"{store}/docs/epoch=0", f"{store}/docs/epoch=1")
    doc1_batches = sorted(
        r.batch for r in raw.filter("doc_id = 1").select("batch").collect()
    )
    assert doc1_batches == [0, 1]
    # foreachBatch replay: re-running batch 1 changes nothing
    ib.process_batch(spark, b2, store, 1)
    got2 = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in ib.emitted_docs(spark, store).collect()
    }
    assert got2 == got


def test_incremental_boilerplate_equals_batch_on_corpus(spark, sf_dir, tmpdir):
    """Two-batch doc_id split over the real corpus: emitted state is
    row-identical to the batch operator over all documents."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.streaming import incremental_boilerplate as ib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    store = f"{tmpdir}/boiler_corpus_store"
    mid = 250
    ib.process_batch(spark, docs.filter(F.col("doc_id") < mid), store, 0)
    ib.process_batch(spark, docs.filter(F.col("doc_id") >= mid), store, 1)
    # foreachBatch replay of batch 1: a no-op
    ib.process_batch(spark, docs.filter(F.col("doc_id") >= mid), store, 1)
    got = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in ib.emitted_docs(spark, store).collect()
    }
    expected = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in llm_dedup.boilerplate_span_clean(docs).collect()
    }
    assert got == expected


@pytest.mark.slow
def test_incremental_boilerplate_foreach_batch_e2e(spark, sf_dir, tmpdir):
    """End-to-end streaming form of the boilerplate twin: a real
    readStream file source (maxFilesPerTrigger=1 -> two micro-batches)
    wired through runner.run_foreach_batch with the epoch id as the
    batch id; the emitted state must equal the batch operator."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.streaming import incremental_boilerplate as ib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mid = 250
    store = f"{tmpdir}/boiler_e2e_store"
    src = f"{tmpdir}/boiler_e2e_src"
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ib.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_boiler",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ib.process_batch(spark, docs.filter(F.col("doc_id") >= mid), store, 1)

    got = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in ib.emitted_docs(spark, store).collect()
    }
    want = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in llm_dedup.boilerplate_span_clean(docs).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_purge_boilerplate_store_removes_orphaned_span_text(spark, tmpdir):
    """VERDICT r6 gap 2: the content-addressed spans store holds
    VERBATIM text keyed only by hash — purging a doc's postings must
    also garbage-collect span text no remaining posting references,
    or the deleted doc's words survive the takedown. Plants a doc
    whose span is UNIQUE to it (must vanish everywhere) alongside a
    boilerplate span shared with surviving docs (must stay — it is
    the survivors' content too)."""
    from gmall_spark.streaming import incremental_boilerplate as ib
    from gmall_spark.streaming.retention import purge_boilerplate_store
    from gmall_spark.streaming.store import read_epochs

    boiler = " ".join(f"b{i}" for i in range(10))
    secret = " ".join(f"secret{i}" for i in range(10))
    other = {k: " ".join(f"{k}{i}" for i in range(10)) for k in "xy"}
    b1 = spark.createDataFrame(
        [(1, boiler + " " + secret), (2, other["x"])],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, boiler + " " + other["y"]), (4, boiler)],
        "doc_id long, text string",
    )
    store = f"{tmpdir}/boiler_purge_store"
    ib.process_batch(spark, b1, store, 0)
    ib.process_batch(spark, b2, store, 1)
    spans_before = {
        r.span
        for r in read_epochs(spark, f"{store}/spans", ib._SPAN_SCHEMA).collect()
    }
    assert any("secret0" in s for s in spans_before), "fixture lost its span"

    removed = purge_boilerplate_store(spark, [1], store)
    assert removed["postings"] > 0 and removed["docs"] > 0
    assert removed["spans"] > 0, "orphaned span content not GC'd"

    # 1. no store FILE contains the purged doc's unique text
    import pathlib

    for f in pathlib.Path(store).rglob("*.parquet"):
        assert b"secret0" not in f.read_bytes(), f"purged text survives in {f}"
    # 2. no posting/doc row references doc 1
    posts = read_epochs(spark, f"{store}/postings", ib._POST_SCHEMA)
    assert posts.filter(F.col("doc_id") == 1).count() == 0
    assert ib.emitted_docs(spark, store).filter(F.col("doc_id") == 1).count() == 0
    # 3. shared boilerplate span text SURVIVES (it belongs to docs
    # 3/4 too) and surviving docs' state is untouched
    spans_after = {
        r.span
        for r in read_epochs(spark, f"{store}/spans", ib._SPAN_SCHEMA).collect()
    }
    assert any("b0" in s and "b9" in s for s in spans_after)
    got = {
        r.doc_id: (r.n_spans, r.removed_spans)
        for r in ib.emitted_docs(spark, store).collect()
    }
    assert set(got) == {2, 3, 4}
    # 4. purge is idempotent
    removed2 = purge_boilerplate_store(spark, [1], store)
    assert removed2 == {"postings": 0, "docs": 0, "spans": 0}


@pytest.mark.slow
def test_incremental_ppl_buckets_equal_batch_and_rebucket(spark, tmpdir):
    """X108's streaming twin (VERDICT r6 item 5): scores are frozen
    at ingest (model trained once, CCNet-style) but bucket CUTS move
    as the distribution fills in — after any batch split the
    assignment equals the batch operator over all docs seen so far,
    and a planted batch-1 doc's bucket flips when batch 2 shifts the
    distribution."""
    from gmall_spark.operators import lm
    from gmall_spark.streaming import incremental_ppl as ip

    # reference corpus trains the frozen model
    train = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog", "en")
         for i in range(4)],
        "doc_id long, text string, lang string",
    )
    model = lm.bigram_model(train).localCheckpoint()
    # batch 1: one ordinary doc + one mojibake doc (scores: high, low)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog", "en"),
         (2, "zq xv qj wz vx jq zx qq vv xx zj", "en")],
        "doc_id long, text string, lang string",
    )
    # batch 2: four docs WORSE than doc 1 but better than doc 2
    b2 = spark.createDataFrame(
        [(3, "quick brown zq fox", "en"), (4, "lazy xv dog jumps", "en"),
         (5, "over qj the brown", "en"), (6, "fox wz dog quick", "en")],
        "doc_id long, text string, lang string",
    )
    store = f"{tmpdir}/ppl_store"
    ip.process_batch(spark, b1, model, store, 0)
    after1 = {r.doc_id: r.bucket for r in ip.bucketed_docs(spark, store).collect()}
    # two docs, three tiers: best is head; the worst sits at
    # cum_prev=1 of 2 -> bucket 1 + (3*1 div 2) = 2, i.e. MIDDLE (it
    # flips to tail only once the distribution fills in below it)
    assert after1[1] == "head" and after1[2] == "middle"

    ip.process_batch(spark, b2, model, store, 1)
    got = {
        r.doc_id: (r.bucket_id, r.bucket, r.bigram_logprob)
        for r in ip.bucketed_docs(spark, store).collect()
    }
    # streaming == batch: one-shot scoring+bucketing of all six docs
    all_docs = b1.unionByName(b2)
    want = {
        r.doc_id: (r.bucket_id, r.bucket, r.bigram_logprob)
        for r in lm.perplexity_buckets(
            None, scored=lm.score_with_model(all_docs, model)
        ).collect()
    }
    assert got == want and len(got) == 6
    # retroactive re-bucketing: doc 2 FLIPPED middle -> tail when
    # batch 2 filled the distribution in above it (the cuts moved);
    # doc 1 stays head; the mid-quality batch-2 docs hold the middle
    assert got[1][1] == "head" and got[2][1] == "tail"
    assert {got[d][1] for d in (3, 4, 5, 6)} <= {"head", "middle", "tail"}
    assert sum(1 for v in got.values() if v[1] == "middle") == 2
    # foreachBatch replay: re-running batch 1 changes nothing
    ip.process_batch(spark, b2, model, store, 1)
    got2 = {
        r.doc_id: (r.bucket_id, r.bucket, r.bigram_logprob)
        for r in ip.bucketed_docs(spark, store).collect()
    }
    assert got2 == got


@pytest.mark.slow
def test_incremental_dsir_selection_equals_batch_and_moves_cut(spark, tmpdir):
    """X114's streaming twin (incremental_dsir): weights frozen at
    ingest under the frozen (target, raw-sample) models, the
    keep-top-quarter CUT re-derived from everything seen — two
    batches must equal the one-shot batch selection, and a batch-1
    doc selected early must be RETROACTIVELY dropped when batch 2
    delivers more target-like documents."""
    from gmall_spark.operators import dsir
    from gmall_spark.streaming import incremental_dsir as idsir

    med = "patient doctor dose trial symptom clinical therapy"
    web = "click buy cheap deal offer shop discount free"
    mid = "patient doctor click buy cheap deal offer shop"
    target = spark.createDataFrame(
        [(100 + i, med) for i in range(3)], "doc_id long, text string"
    ).localCheckpoint()
    raw_sample = spark.createDataFrame(
        [(200, web), (201, med), (202, mid)], "doc_id long, text string"
    ).localCheckpoint()
    # batch 1: the half-target doc is the best of a weak field
    b1 = spark.createDataFrame(
        [(1, mid), (2, web), (3, web), (4, web)], "doc_id long, text string"
    )
    # batch 2: four fully-target docs push the cut past doc 1
    b2 = spark.createDataFrame(
        [(5, med), (6, med), (7, med), (8, med)], "doc_id long, text string"
    )
    store = f"{tmpdir}/dsir_store"
    idsir.process_batch(spark, b1, target, raw_sample, store, 0)
    sel1 = {r.doc_id for r in idsir.selected_docs(spark, store).collect()}
    assert sel1 == {1}, sel1  # top quarter of 4 = the half-target doc

    idsir.process_batch(spark, b2, target, raw_sample, store, 1)
    sel2 = {r.doc_id for r in idsir.selected_docs(spark, store).collect()}
    # streaming == batch over all 8 docs
    want = {
        r.doc_id
        for r in dsir.resample_top_fraction(
            dsir.importance_weights_under(
                b1.unionByName(b2), target, raw_sample
            )
        ).collect()
    }
    assert sel2 == want
    # retroactive: doc 1 lost its slot to the med docs (ties among
    # identical med texts share the tier -> all four qualify)
    assert 1 not in sel2 and sel2 == {5, 6, 7, 8}, sel2
    # foreachBatch replay changes nothing
    idsir.process_batch(spark, b2, target, raw_sample, store, 1)
    assert {r.doc_id for r in idsir.selected_docs(spark, store).collect()} == sel2


def test_incremental_ppl_foreach_batch_e2e(spark, sf_dir, tmpdir):
    """End-to-end streaming form of the CCNet bucket twin (X113): a
    real readStream file source (maxFilesPerTrigger=1 -> two
    micro-batches) through runner.run_foreach_batch, frozen model
    trained on the even-doc half; the final assignment must equal the
    one-shot batch operator over all streamed docs."""
    from gmall_spark.operators import lm
    from gmall_spark.streaming import incremental_ppl as ip
    from gmall_spark.streaming import runner

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    model = lm.bigram_model(
        docs.filter(F.col("doc_id") % 2 == 0)
    ).localCheckpoint()
    streamed = docs.filter(F.col("doc_id") % 2 == 1)
    mid = 250
    store = f"{tmpdir}/ppl_e2e_store"
    src = f"{tmpdir}/ppl_e2e_src"
    streamed.filter(F.col("doc_id") < mid).coalesce(1).write.parquet(f"{src}/b0")
    streamed.filter(F.col("doc_id") >= mid).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(streamed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ip.process_batch(spark, b, model, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_ppl",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ip.process_batch(
        spark, streamed.filter(F.col("doc_id") >= mid), model, store, 1
    )

    got = {
        (r.doc_id, r.bucket_id, r.bucket, r.bigram_logprob)
        for r in ip.bucketed_docs(spark, store).collect()
    }
    want = {
        (r.doc_id, r.bucket_id, r.bucket, r.bigram_logprob)
        for r in lm.perplexity_buckets(
            None, scored=lm.score_with_model(streamed, model)
        ).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_incremental_containment_equals_batch_and_retroactive(spark, tmpdir):
    """X107's streaming twin (incremental_containment): the pair set
    re-derives from the append-only postings store through the exact
    batch core, so two-batch == one-batch; retroactivity is
    TWO-SIDED — a pair appears when a rare shingle gains its second
    doc, and a pair caught only by one shingle DISAPPEARS when that
    shingle's corpus df crosses max_df (the fanout guard is global,
    not per-batch)."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.streaming import incremental_containment as ic

    b1 = spark.createDataFrame(
        [(1, "a1 a2 a3 a4"), (2, "b1 b2 b3 b4")], "doc_id long, text string"
    )
    # doc 3 quotes doc 1 whole (containment 1.0, the asymmetric case);
    # docs 4/5 pair through their ONLY shared shingle "c1 c2"
    b2 = spark.createDataFrame(
        [(3, "a1 a2 a3 a4 a5"), (4, "c1 c2"), (5, "c1 c2 c3")],
        "doc_id long, text string",
    )
    # four more "c1 c2 ..." docs push df("c1 c2") to 6 > max_df=5
    b3 = spark.createDataFrame(
        [(6, "c1 c2 z6"), (7, "c1 c2 z7"), (8, "c1 c2 z8"), (9, "c1 c2 z9")],
        "doc_id long, text string",
    )
    store = f"{tmpdir}/contain_store"
    ic.process_batch(spark, b1, store, 0, n=2)
    assert ic.current_pairs(spark, store).count() == 0  # no shingle has df>=2

    ic.process_batch(spark, b2, store, 1, n=2)
    got2 = {(r.doc_a, r.doc_b) for r in ic.current_pairs(spark, store).collect()}
    assert got2 == {(1, 3), (4, 5)}

    ic.process_batch(spark, b3, store, 2, n=2)
    rows = ic.current_pairs(spark, store).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 3)}  # (4,5) un-caught
    # streaming == batch over all nine docs, FULL rows (sizes, ratios)
    all_docs = b1.unionByName(b2).unionByName(b3)
    want = {
        tuple(r)
        for r in llm_dedup.containment_pairs_rare_blocking(all_docs, n=2).collect()
    }
    assert {tuple(r) for r in rows} == want
    # foreachBatch replay: re-running batch 3 changes nothing
    ic.process_batch(spark, b3, store, 2, n=2)
    assert {
        (r.doc_a, r.doc_b) for r in ic.current_pairs(spark, store).collect()
    } == {(1, 3)}


@pytest.mark.slow
def test_incremental_containment_foreach_batch_e2e(spark, sf_dir, tmpdir):
    """End-to-end streaming form of the containment twin: a real
    readStream file source (maxFilesPerTrigger=1 -> two micro-batches)
    through runner.run_foreach_batch; the final pair set must equal
    the one-shot batch operator over all streamed docs, full rows."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.streaming import incremental_containment as ic
    from gmall_spark.streaming import runner

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mid = 250
    store = f"{tmpdir}/contain_e2e_store"
    src = f"{tmpdir}/contain_e2e_src"
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ic.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_contain",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ic.process_batch(spark, docs.filter(F.col("doc_id") >= mid), store, 1)

    got = {tuple(r) for r in ic.current_pairs(spark, store).collect()}
    want = {
        tuple(r)
        for r in llm_dedup.containment_pairs_rare_blocking(docs).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_incremental_image_dedup_equals_batch_and_retroactive(spark, tmpdir):
    """X136's streaming twin (incremental_image_dedup): fingerprints
    freeze at ingest (dHash is deterministic through the codec), the
    group structure re-derives from the merged store via the exact
    batch operator — two-batch == one-batch — and representatives are
    retroactive: a later arrival with a smaller doc_id re-labels every
    earlier member of its group."""
    from gmall_spark.operators import multimodal as M
    from gmall_spark.streaming import incremental_image_dedup as ii

    def blobs(ids):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        return M.synth_bmp_blobs(docs, mode="seeded")

    store = f"{tmpdir}/img_store"
    # seeds: 10 -> {10, 107}; 59 -> {156, 253}
    ii.process_batch(spark, blobs([10, 107, 156, 253]), store, 0)
    after1 = {r.doc_id: (r.rep_id, r.group_size)
              for r in ii.current_groups(spark, store).collect()}
    assert after1 == {10: (10, 2), 107: (10, 2),
                      156: (156, 2), 253: (156, 2)}

    # batch 2: 204 joins seed class 10; 59 UNDERCUTS class 59's rep
    ii.process_batch(spark, blobs([204, 59]), store, 1)
    after2 = {r.doc_id: (r.rep_id, r.group_size)
              for r in ii.current_groups(spark, store).collect()}
    assert after2[10] == (10, 3) and after2[204] == (10, 3)  # size grew
    # retroactive re-labeling: 156 and 253 now answer to rep 59
    assert after2[156] == (59, 3) and after2[253] == (59, 3)
    assert after2[59] == (59, 3)

    # streaming == batch: one-shot over all six docs
    want = {r.doc_id: (r.rep_id, r.group_size)
            for r in M.image_near_dup_groups(
                M.image_hashes(blobs([10, 107, 156, 253, 204, 59]))
            ).collect()}
    assert after2 == want

    # foreachBatch replay: re-processing batch 1 changes nothing
    ii.process_batch(spark, blobs([204, 59]), store, 1)
    again = {r.doc_id: (r.rep_id, r.group_size)
             for r in ii.current_groups(spark, store).collect()}
    assert again == after2


@pytest.mark.slow
def test_incremental_image_dedup_foreach_batch_e2e(spark, tmpdir):
    """End-to-end streaming form of the image near-dup twin: a real
    readStream file source (maxFilesPerTrigger=1 -> two micro-batches)
    of (doc_id, blob) rows through runner.run_foreach_batch; the final
    assignment must equal the one-shot batch operator over all
    streamed images."""
    from gmall_spark.operators import multimodal as M
    from gmall_spark.streaming import incremental_image_dedup as ii
    from gmall_spark.streaming import runner

    docs = spark.createDataFrame([(i,) for i in range(240)], "doc_id bigint")
    blobs = M.synth_bmp_blobs(docs, mode="seeded")
    store = f"{tmpdir}/img_e2e_store"
    src = f"{tmpdir}/img_e2e_src"
    blobs.filter(F.col("doc_id") < 120).coalesce(1).write.parquet(f"{src}/b0")
    blobs.filter(F.col("doc_id") >= 120).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema("doc_id bigint, blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ii.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_img",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ii.process_batch(spark, blobs.filter(F.col("doc_id") >= 120), store, 1)

    got = {(r.doc_id, r.rep_id, r.group_size)
           for r in ii.current_groups(spark, store).collect()}
    want = {(r.doc_id, r.rep_id, r.group_size)
            for r in M.image_near_dup_groups(M.image_hashes(blobs)).collect()}
    assert got == want and len(want) == 240


def test_incremental_kmv_exactly_equals_batch_and_replay(spark, tmpdir):
    """KMV streaming twin (X145's pipeline form): min-union merging
    makes streaming == batch EXACT (row-identical sketch, bit-equal
    estimate) after any split, and a foreachBatch replay overwrites
    its own epoch delta."""
    from gmall_spark.operators import sketches
    from gmall_spark.streaming import incremental_kmv as ik

    store = f"{tmpdir}/kmv_store"
    b1 = spark.range(0, 400).selectExpr("id AS k")
    b2 = spark.range(300, 900).selectExpr("id AS k")  # overlaps b1
    ik.process_batch(spark, b1, "k", store, 0)
    ik.process_batch(spark, b2, "k", store, 1)

    got_sketch = sorted(r.h for r in ik.current_sketch(spark, store).collect())
    want_sketch = sorted(
        r.h
        for r in sketches.kmv_sketch(
            sketches.kmv_hashes(b1.unionByName(b2), "k")
        ).collect()
    )
    assert got_sketch == want_sketch and len(got_sketch) == sketches.KMV_K

    got_est = ik.distinct_estimate(spark, store).collect()[0]
    want_est = sketches.kmv_distinct_estimate(
        sketches.kmv_sketch(sketches.kmv_hashes(b1.unionByName(b2), "k"))
    ).collect()[0]
    assert (got_est.n_sketch, got_est.est) == (want_est.n_sketch, want_est.est)
    # 900 true distinct; K=256 estimator should land close
    assert abs(got_est.est - 900) / 900 < 0.2

    # replay of batch 2: overwrites its own epoch, a no-op
    ik.process_batch(spark, b2, "k", store, 1)
    again = sorted(r.h for r in ik.current_sketch(spark, store).collect())
    assert again == got_sketch

    # sub-K corpus: sketch holds everything, estimate EXACT
    store2 = f"{tmpdir}/kmv_small"
    ik.process_batch(spark, spark.range(0, 100).selectExpr("id AS k"), "k", store2, 0)
    e = ik.distinct_estimate(spark, store2).collect()[0]
    assert (e.n_sketch, e.est) == (100, 100.0)


def test_incremental_copurchase_split_basket_and_replay(spark, tmpdir):
    """X151's streaming twin: pair deltas are NOT sum-mergeable (an
    order's lines span batches), so state is the (order, part)
    membership postings and pairs re-derive through the exact batch
    core — a pair APPEARS when a later batch completes its basket,
    lift marginals move with it, and replays are no-ops."""
    from gmall_spark.operators.relational import copurchase_pairs
    from gmall_spark.streaming import incremental_copurchase as ic

    store = f"{tmpdir}/cop_store"
    # batch 1: order 1 gets part 7 only; order 2 completes {7, 8}
    b1 = spark.createDataFrame([(1, 7), (2, 7), (2, 8)], "o long, p long")
    # batch 2: order 1's second line arrives -> pair (7, 8) doubles
    b2 = spark.createDataFrame([(1, 8), (3, 9)], "o long, p long")
    ic.process_batch(spark, b1, store, 0)
    after1 = {(r.part_a, r.part_b): r.n_ab
              for r in ic.current_pairs(spark, store).collect()}
    assert after1 == {(7, 8): 1}

    ic.process_batch(spark, b2, store, 1)
    after2 = {(r.part_a, r.part_b): (r.n_ab, r.lift)
              for r in ic.current_pairs(spark, store).collect()}
    # order 1's basket completed retroactively: support 2; N=3 orders,
    # n_7 = n_8 = 2 -> lift = 2*3/(2*2)
    assert after2 == {(7, 8): (2, round(2 * 3 / 4, 6))}

    # streaming == batch over the union, including the split basket
    want = {(r.part_a, r.part_b): (r.n_ab, r.lift)
            for r in copurchase_pairs(b1.unionByName(b2)).collect()}
    assert after2 == want

    # replay of batch 2 changes nothing
    ic.process_batch(spark, b2, store, 1)
    assert after2 == {(r.part_a, r.part_b): (r.n_ab, r.lift)
                      for r in ic.current_pairs(spark, store).collect()}


def test_incremental_kmv_foreach_batch_e2e(spark, tmpdir):
    """End-to-end streaming form of the KMV store: a real readStream
    file source (maxFilesPerTrigger=1 -> two micro-batches) of key
    rows through runner.run_foreach_batch; the merged sketch and the
    estimate must equal the one-shot batch sketch over all streamed
    keys — exactly, by min-union mergeability."""
    from gmall_spark.operators import sketches
    from gmall_spark.streaming import incremental_kmv as ik
    from gmall_spark.streaming import runner

    keys = spark.range(0, 1200).selectExpr("id AS k")
    store = f"{tmpdir}/kmv_e2e_store"
    src = f"{tmpdir}/kmv_e2e_src"
    keys.filter("k < 600").coalesce(1).write.parquet(f"{src}/b0")
    keys.filter("k >= 600").coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ik.process_batch(spark, b, "k", store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_kmv",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last batch: overwrites its own epoch
    ik.process_batch(spark, keys.filter("k >= 600"), "k", store, 1)

    got = sorted(r.h for r in ik.current_sketch(spark, store).collect())
    want = sorted(
        r.h for r in sketches.kmv_sketch(sketches.kmv_hashes(keys, "k")).collect()
    )
    assert got == want and len(got) == sketches.KMV_K
    ge = ik.distinct_estimate(spark, store).collect()[0]
    we = sketches.kmv_distinct_estimate(
        sketches.kmv_sketch(sketches.kmv_hashes(keys, "k"))
    ).collect()[0]
    assert (ge.n_sketch, ge.est) == (we.n_sketch, we.est)


@pytest.mark.slow
def test_incremental_transitions_cross_batch_pairs_and_replay(spark, tmpdir):
    """X163's streaming twin — the family's ORDER-SENSITIVE member: a
    transition pair spans micro-batches when the user's previous event
    arrived earlier, so each batch bridges from the stored per-user
    FRONTIER; reading batch k-1's frontier (never a live one) makes a
    foreachBatch replay byte-exact. Two-batch == one-shot including a
    user stream split mid-way."""
    from gmall_spark.operators.relational import transition_counts
    from gmall_spark.streaming import incremental_transitions as it

    store = f"{tmpdir}/trans_store"
    cols = "user_id long, ts_us long, event_id long, event_type string"
    # user 1 splits across batches (view->click bridge is CROSS-batch);
    # user 2 is batch-1 only; user 3 appears first in batch 2
    b1 = spark.createDataFrame(
        [(1, 10, 1, "view"), (1, 20, 2, "click"),
         (2, 10, 3, "view"), (2, 30, 4, "purchase")], cols)
    b2 = spark.createDataFrame(
        [(1, 40, 5, "purchase"), (3, 5, 6, "signup"), (3, 9, 7, "view")],
        cols)
    it.process_batch(spark, b1, store, 0)
    after1 = {(r.from_type, r.to_type): r.n
              for r in it.current_matrix(spark, store).collect()}
    assert after1 == {("view", "click"): 1, ("view", "purchase"): 1}

    it.process_batch(spark, b2, store, 1)
    got = {(r.from_type, r.to_type): r.n
           for r in it.current_matrix(spark, store).collect()}
    # the click->purchase pair exists ONLY via the cross-batch bridge
    want = {(r.from_type, r.to_type): r.n
            for r in transition_counts(b1.unionByName(b2)).collect()}
    assert got == want
    assert got[("click", "purchase")] == 1

    # replay batch 2: reads frontier b0 again -> identical outputs
    it.process_batch(spark, b2, store, 1)
    again = {(r.from_type, r.to_type): r.n
             for r in it.current_matrix(spark, store).collect()}
    assert again == got


def test_incremental_ewma_equals_batch_and_retroactive_smoothing(spark, tmpdir):
    """X161's streaming twin: the fold is order-sensitive and not
    mergeable, but the day grid underneath IS — so streaming == batch
    exactly after any split, and a LATE event landing on an old day
    retroactively re-smooths every later day (a stored running-s
    design could never correct that)."""
    from gmall_spark.streaming import incremental_ewma as ie

    store = f"{tmpdir}/ewma_store"
    cols = "event_id long, ts string, event_type string"

    def df(rows):
        return spark.createDataFrame(rows, cols)

    # day counts for 'click': d1=4, d2=2 -> fold: (4+2)/2 = 3
    b1 = df([(i, "2024-01-01 10:00:00", "click") for i in range(4)]
            + [(10 + i, "2024-01-02 10:00:00", "click") for i in range(2)])
    ie.process_batch(spark, b1, store, 0)
    f1 = {r.event_type: r for r in ie.current_forecast(spark, store).collect()}
    assert f1["click"].n_days == 2 and f1["click"].ewma_forecast == 3.0

    # batch 2: d3=6 AND a LATE event for d1 (4 -> 5)
    b2 = df([(20 + i, "2024-01-03 10:00:00", "click") for i in range(6)]
            + [(30, "2024-01-01 23:00:00", "click")])
    ie.process_batch(spark, b2, store, 1)
    f2 = {r.event_type: r for r in ie.current_forecast(spark, store).collect()}
    # retroactive: ((5+2)/2 + 6)/2 = 4.75 — the late d1 event changed
    # every later smoothed value
    assert f2["click"].n_days == 3 and f2["click"].ewma_forecast == 4.75
    assert f2["click"].last_count == 6

    # streaming == one-shot batch over the union
    store2 = f"{tmpdir}/ewma_one"
    ie.process_batch(spark, b1.unionByName(b2), store2, 0)
    f3 = {r.event_type: r for r in ie.current_forecast(spark, store2).collect()}
    assert f3["click"].ewma_forecast == f2["click"].ewma_forecast

    # replay batch 2: identical delta overwrite -> unchanged
    ie.process_batch(spark, b2, store, 1)
    f4 = {r.event_type: r for r in ie.current_forecast(spark, store).collect()}
    assert f4["click"].ewma_forecast == 4.75


@pytest.mark.slow
def test_incremental_image_phash_equals_batch_and_retroactive(spark, tmpdir):
    """X177's streaming twin (incremental_image_phash, the X140
    shape): fingerprints freeze at ingest, groups re-derive from the
    merged store via the exact batch operator — two-batch ==
    one-batch — and a later smaller doc_id retroactively re-labels
    its class's earlier members."""
    from gmall_spark.operators import multimodal as M
    from gmall_spark.streaming import incremental_image_phash as ip

    def blobs(ids):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        return M.synth_phash_bmp_blobs(docs)

    store = f"{tmpdir}/phash_store"
    # batch 1: class 3 as {32 (v1), 61 (v2)}; class 7 as {7, 36}
    ip.process_batch(spark, blobs([32, 61, 7, 36]), store, 0)
    after1 = {r.doc_id: (r.rep_id, r.group_size)
              for r in ip.current_groups(spark, store).collect()}
    assert after1 == {32: (32, 2), 61: (32, 2), 7: (7, 2), 36: (7, 2)}

    # batch 2: 3 UNDERCUTS class 3's rep; 65 (class 7, v2) grows it
    ip.process_batch(spark, blobs([3, 65]), store, 1)
    after2 = {r.doc_id: (r.rep_id, r.group_size)
              for r in ip.current_groups(spark, store).collect()}
    assert after2[32] == (3, 3) and after2[61] == (3, 3) and after2[3] == (3, 3)
    assert after2[7] == (7, 3) and after2[65] == (7, 3)

    # streaming == batch, and replay is idempotent
    want = {r.doc_id: (r.rep_id, r.group_size)
            for r in M.image_phash_near_dup_groups(
                M.image_phash(blobs([32, 61, 7, 36, 3, 65]))
            ).collect()}
    assert after2 == want
    ip.process_batch(spark, blobs([3, 65]), store, 1)
    again = {r.doc_id: (r.rep_id, r.group_size)
             for r in ip.current_groups(spark, store).collect()}
    assert again == after2


def test_incremental_value_hist_exactly_equals_batch(spark, tmpdir):
    """X179's streaming twin: bucket counts are SUM-mergeable, so
    after any batch split the stored sketch — and every quantile read
    from it — is EXACTLY the batch operator over the union; replay of
    a batch subdir is idempotent."""
    from gmall_spark.operators import sketches
    from gmall_spark.streaming import incremental_value_hist as ih

    store = f"{tmpdir}/hist_store"
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    b1 = e.filter(F.col("event_id") % 2 == 0)
    b2 = e.filter(F.col("event_id") % 2 == 1)
    ih.process_batch(spark, b1, store, 0)
    ih.process_batch(spark, b2, store, 1)

    got_hist = {(r.bucket, r.cnt) for r in ih.stored_hist(spark, store).collect()}
    want_hist = {(r.bucket, r.cnt) for r in sketches.value_hist(e).collect()}
    assert got_hist == want_hist and want_hist

    got_q = {(r.q_pct, r.bucket, r.est_upper, r.n)
             for r in ih.current_quantiles(spark, store).collect()}
    want_q = {(r.q_pct, r.bucket, r.est_upper, r.n)
              for r in sketches.hist_quantiles(sketches.value_hist(e)).collect()}
    assert got_q == want_q

    ih.process_batch(spark, b2, store, 1)  # replay: idempotent
    again = {(r.bucket, r.cnt) for r in ih.stored_hist(spark, store).collect()}
    assert again == want_hist


def test_incremental_packing_rederives_exactly_and_retroactively(spark, tmpdir):
    """X175's streaming twin (the X156 re-derive class): lengths
    freeze at ingest, the packed table re-derives from the merged
    store via the exact batch packer — two-batch == one-batch — and a
    late arrival can retroactively RE-PACK its bucket (a bucket's
    slot-vs-chop choice depends on its global census)."""
    from gmall_spark.queries_llm.packing_release import pack_rows
    from gmall_spark.streaming import incremental_packing as ipk

    store = f"{tmpdir}/pack_store"
    b1 = spark.createDataFrame(
        [(i, 1000 + (i % 3)) for i in range(6)], "doc_id long, n_tok long"
    )
    ipk.process_batch(spark, b1, store, 0)
    after1 = {r.doc_id: r.pack_id
              for r in ipk.current_packs(spark, store).collect()}
    want1 = {r.doc_id: r.pack_id for r in pack_rows(b1).collect()}
    assert after1 == want1

    # batch 2: short docs land in a different bucket AND LONGER docs
    # arrive in the 1024 bucket — they rank above every batch-1 doc
    # (n desc order), shifting batch-1 ranks and pack membership
    b2 = spark.createDataFrame(
        [(i, 40 + i % 5) for i in range(100, 130)]
        + [(i, 1010) for i in range(200, 205)],
        "doc_id long, n_tok long",
    )
    ipk.process_batch(spark, b2, store, 1)
    after2 = {r.doc_id: r.pack_id
              for r in ipk.current_packs(spark, store).collect()}
    want2 = {r.doc_id: r.pack_id
             for r in pack_rows(b1.unionByName(b2)).collect()}
    assert after2 == want2 and len(after2) == 41
    # retroactive: batch-1 docs re-packed when the bucket census grew
    assert any(after2[i] != after1[i] for i in range(6)), (after1, after2)

    ipk.process_batch(spark, b2, store, 1)  # replay idempotent
    again = {r.doc_id: r.pack_id
             for r in ipk.current_packs(spark, store).collect()}
    assert again == after2


def test_incremental_drift_rederives_and_resplits(spark, tmpdir, plant):
    """X183's streaming twin: the (day, bucket) grid is SUM-mergeable
    so streaming == batch exactly after any split, and a late batch
    that EXTENDS the day span retroactively moves the ref/current
    midpoint — the re-derive class, asserted by comparing against the
    batch operator over the union at every step."""
    from gmall_spark.queries_llm import distribution_stats
    from gmall_spark.streaming import incremental_drift as idr

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    store = f"{tmpdir}/drift_store"
    b1 = e.filter(F.dayofmonth("ts") <= 15)
    b2 = e.filter(F.dayofmonth("ts") > 15)

    def batch_report(events):
        return {(r.bucket): (r.ref_cnt, r.cur_cnt, r.chi_term)
                for r in distribution_stats.q_events_value_drift_chisq(
                    spark, plant(events=events)).collect()}

    idr.process_batch(spark, b1, store, 0)
    got1 = {r.bucket: (r.ref_cnt, r.cur_cnt, r.chi_term)
            for r in idr.current_drift(spark, store).collect()}
    assert got1 == batch_report(b1)

    idr.process_batch(spark, b2, store, 1)
    got2 = {r.bucket: (r.ref_cnt, r.cur_cnt, r.chi_term)
            for r in idr.current_drift(spark, store).collect()}
    assert got2 == batch_report(e)
    # the span grew: at least one bucket's ref/cur split moved
    moved = any(b in got1 and got1[b][:2] != got2[b][:2] for b in got2)
    assert moved, (got1, got2)

    idr.process_batch(spark, b2, store, 1)  # replay idempotent
    again = {r.bucket: (r.ref_cnt, r.cur_cnt, r.chi_term)
             for r in idr.current_drift(spark, store).collect()}
    assert again == got2


def test_incremental_fingerprint_exactly_equals_batch(spark, tmpdir):
    """X191's streaming twin: all four statistics are integer sums,
    so streaming == batch EXACTLY after any split, and replay of a
    batch subdir is idempotent."""
    from gmall_spark.queries_llm import packing_release
    from gmall_spark.streaming import incremental_fingerprint as ifp

    store = f"{tmpdir}/fp_store"
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ifp.process_batch(spark, d.filter("doc_id % 2 = 0"), store, 0)
    ifp.process_batch(spark, d.filter("doc_id % 2 = 1"), store, 1)

    got = ifp.current_fingerprint(spark, store).collect()[0]
    want = packing_release.q_llm_corpus_fingerprint(
        spark, "/root/testdata/sf0.001").collect()[0]
    assert (got.n_docs, got.n_chars, got.content_sum, got.id_sum) == (
        want.n_docs, want.n_chars, want.content_sum, want.id_sum)

    ifp.process_batch(spark, d.filter("doc_id % 2 = 1"), store, 1)  # replay
    again = ifp.current_fingerprint(spark, store).collect()[0]
    assert again == got


def test_incremental_value_hist_foreach_batch_e2e(spark, tmpdir):
    """End-to-end streaming form of the X179 twin: a real readStream
    file source (maxFilesPerTrigger=1 -> two micro-batches) of events
    through runner.run_foreach_batch; the final quantile table must
    equal the one-shot batch operator over all streamed rows."""
    from gmall_spark.operators import sketches
    from gmall_spark.streaming import incremental_value_hist as ih
    from gmall_spark.streaming import runner

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "value"
    )
    store = f"{tmpdir}/hist_e2e_store"
    src = f"{tmpdir}/hist_e2e_src"
    e.filter("event_id % 2 = 0").coalesce(1).write.parquet(f"{src}/b0")
    e.filter("event_id % 2 = 1").coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema("event_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ih.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_hist",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ih.process_batch(spark, e.filter("event_id % 2 = 1"), store, 1)

    got = {(r.q_pct, r.bucket, r.est_upper, r.n)
           for r in ih.current_quantiles(spark, store).collect()}
    want = {(r.q_pct, r.bucket, r.est_upper, r.n)
            for r in sketches.hist_quantiles(sketches.value_hist(e)).collect()}
    assert got == want and len(want) == 4


@pytest.mark.slow
def test_incremental_audio_fp_equals_batch_and_retroactive(spark, tmpdir):
    """X197's streaming twin (incremental_audio_fp, the X177/X140
    shape): landmark fingerprints freeze at ingest, groups re-derive
    from the merged store via the exact batch operator — two-batch ==
    one-batch — and a later smaller doc_id retroactively re-labels
    its melody class's earlier members."""
    from gmall_spark.operators import multimodal as M
    from gmall_spark.streaming import incremental_audio_fp as af

    def blobs(ids):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        return M.synth_melody_wav_blobs(docs)

    store = f"{tmpdir}/audio_store"
    # batch 1: class 3 as {44, 85}; class 7 as {7, 48}
    af.process_batch(spark, blobs([44, 85, 7, 48]), store, 0)
    after1 = {r.doc_id: (r.rep_id, r.group_size)
              for r in af.current_groups(spark, store).collect()}
    assert after1 == {44: (44, 2), 85: (44, 2), 7: (7, 2), 48: (7, 2)}

    # batch 2: 3 UNDERCUTS class 3's rep; 89 (class 7) grows it
    af.process_batch(spark, blobs([3, 89]), store, 1)
    after2 = {r.doc_id: (r.rep_id, r.group_size)
              for r in af.current_groups(spark, store).collect()}
    assert after2[44] == (3, 3) and after2[85] == (3, 3) and after2[3] == (3, 3)
    assert after2[7] == (7, 3) and after2[89] == (7, 3)

    # streaming == batch, and replay is idempotent
    want = {r.doc_id: (r.rep_id, r.group_size)
            for r in M.audio_near_dup_groups(
                M.wav_peak_pair_fingerprints(blobs([44, 85, 7, 48, 3, 89]))
            ).collect()}
    assert after2 == want
    af.process_batch(spark, blobs([3, 89]), store, 1)
    again = {r.doc_id: (r.rep_id, r.group_size)
             for r in af.current_groups(spark, store).collect()}
    assert again == after2


@pytest.mark.slow
def test_incremental_skipgram_exactly_equals_batch(spark, tmpdir, plant):
    """X184's streaming twin: raw pair/unigram counts are
    SUM-mergeable (documents are atomic within a batch), the
    min-count filter applies to the MERGED counts, and N is the sum
    of the unigram counts — so streaming == batch bit-exactly,
    including a pair that clears the threshold only in the union."""
    from gmall_spark.queries_llm import distribution_stats
    from gmall_spark.streaming import incremental_skipgram as sg

    texts1 = [(1, "en", "red fox red fox red fox", 0),
              (2, "en", "red fox jumps", 0)]
    texts2 = [(3, "en", "red fox red fox", 0),
              (4, "en", "blue cat blue cat blue cat blue cat blue cat", 0)]

    def df(rows):
        return spark.createDataFrame(
            rows, "doc_id long, lang string, text string, source int"
        )

    store = f"{tmpdir}/sg_store"
    sg.process_batch(spark, df(texts1), store, 0)
    sg.process_batch(spark, df(texts2), store, 1)
    got = {(r.w_a, r.w_b): (r.pair_cnt, r.cnt_a, r.cnt_b, r.lift)
           for r in sg.current_lift(spark, store).collect()}

    planted = plant(documents=df(texts1 + texts2))
    want = {(r.w_a, r.w_b): (r.pair_cnt, r.cnt_a, r.cnt_b, r.lift)
            for r in distribution_stats.q_text_skipgram_cooccurrence(
                spark, planted).collect()}
    assert got == want
    # (red, fox) clears min-count ONLY via the cross-batch sum
    # (3+2 forward-window hits at dist 1 plus the wraparound dist-2s)
    assert ("red", "fox") in got
    # replay idempotence
    sg.process_batch(spark, df(texts2), store, 1)
    again = {(r.w_a, r.w_b): (r.pair_cnt, r.cnt_a, r.cnt_b, r.lift)
             for r in sg.current_lift(spark, store).collect()}
    assert again == got


def test_incremental_embedding_health_exactly_equals_batch(spark, tmpdir, plant):
    """X186's streaming twin: min/max envelopes and integer counters
    merge exactly (the audit's order-independent-stats-only design is
    WHY the twin is exact); n_widths merges because state is keyed by
    width. Poisoned vectors in different batches all surface."""
    from gmall_spark.queries_llm import packing_release
    from gmall_spark.streaming import incremental_embedding_health as eh

    b1 = [(1, [1.0, -2.0, 0.0]), (2, [0.5, 4.0, 1.0]),
          (3, [0.0, 0.0, 0.0])]                       # all-zero vector
    b2 = [(4, [float("nan"), 1.0, 2.0]),              # NaN vector
          (5, [9.0, -7.0]),                           # mixed width
          (6, [2.0, 2.0, 2.0])]

    def df(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def norm(rows):
        # NaN != NaN would fail a dict compare even on identical
        # output (dim 1's max IS NaN here — Spark's max sorts NaN
        # greatest in both arms); stringify floats NaN-safely
        return {
            r.dim: {k: repr(v) for k, v in r.asDict().items()}
            for r in rows
        }

    store = f"{tmpdir}/eh_store"
    eh.process_batch(spark, df(b1), store, 0)
    eh.process_batch(spark, df(b2), store, 1)
    got = norm(eh.current_health(spark, store).collect())

    planted = plant(embeddings=df(b1 + b2))
    want = norm(packing_release.q_embedding_health_audit(spark, planted).collect())
    assert got == want
    assert got[1]["n_widths"] == "2" and got[1]["nan_vectors"] == "1"
    assert got[1]["zero_vectors"] == "1"
    assert got[3]["zeros"] == "2"  # dim 3 zero in batch 1's vecs 1 and 3
    # replay idempotence
    eh.process_batch(spark, df(b2), store, 1)
    again = norm(eh.current_health(spark, store).collect())
    assert again == got


@pytest.mark.slow
def test_incremental_range_plan_replans_exactly_once(spark, tmpdir):
    """X198's streaming twin (the X185 re-derive class): a balanced
    ingest freezes a plan that stays in band; a planted skewed batch
    pushes partitions out of [1/2, 2] and triggers EXACTLY one
    re-plan (the re-derived boundaries differ once — re-auditing the
    new plan is in band, so the next call does nothing); and the
    audit right after a freeze equals the batch operator on the
    merged data."""
    from gmall_spark.operators import sketches
    from gmall_spark.streaming import incremental_range_plan as rp

    P = 8

    def df(bucket_rows):
        # bucket_rows: {bucket: n} -> values spread inside each bucket
        rows = [(float(b * 25 + (j % 25)),)
                for b, n in bucket_rows.items() for j in range(n)]
        return spark.createDataFrame(rows, "value double")

    store = f"{tmpdir}/rp_store"
    # batch 1: uniform — 40 rows in each of buckets 0..19
    rp.process_batch(spark, df({b: 40 for b in range(20)}), store, 0)
    v1 = rp.freeze_plan(spark, store, P)
    assert v1 == 1
    a1 = {r.part_no: r for r in rp.audit(spark, store, P).collect()}
    assert all(a1[p].in_band for p in range(P))
    assert rp.maybe_replan(spark, store, P) == (False, 1)

    # batch 2: skewed — 200 extra rows in each of buckets 0..7
    rp.process_batch(spark, df({b: 200 for b in range(8)}), store, 1)
    # foreachBatch replay of batch 1: a no-op
    rp.process_batch(spark, df({b: 200 for b in range(8)}), store, 1)
    a2 = rp.audit(spark, store, P).collect()
    assert any(not r.in_band for r in a2)  # drift detected under v1
    replanned, v2 = rp.maybe_replan(spark, store, P)
    assert replanned and v2 == 2
    # the new plan is balanced at this granularity -> no further replan
    a3 = {r.part_no: r for r in rp.audit(spark, store, P).collect()}
    assert all(a3[p].in_band for p in range(P))
    assert rp.maybe_replan(spark, store, P) == (False, 2)

    # audit-after-freeze == the batch operator on the merged data
    union = df({b: 240 if b < 8 else 40 for b in range(20)})
    hist = sketches.value_hist(union)
    want = {r.part_no: (r.n_rows, r.fill_ratio, r.in_band)
            for r in sketches.hist_range_audit(
                hist, sketches.hist_range_plan(hist, P), P
            ).collect()}
    got = {p: (a3[p].n_rows, a3[p].fill_ratio, a3[p].in_band) for p in a3}
    assert got == want


def test_incremental_capped_sample_retroactive_displacement(spark, tmpdir):
    """X199's streaming twin: assignments freeze at ingest (frozen
    centroids), the selection re-derives from the merged store — and
    BOTH retroactive effects fire: a later arrival with a smaller md5
    displaces an earlier pick at the cap boundary, and the moving cap
    reshapes the selection as n grows. Streaming == batch exactly."""
    import hashlib

    from gmall_spark.operators import semdedup as S
    from gmall_spark.streaming import incremental_capped_sample as cs

    # 1-D embeddings: centroid 0 at 1.0, centroid 1 at -1.0
    cents = [[1.0], [-1.0]]

    def emb(ids_signs):
        return spark.createDataFrame(
            [(i, [float(s)]) for i, s in ids_signs],
            "vec_id long, embedding array<double>",
        )

    store = f"{tmpdir}/cs_store"
    # batch 1: 8 vecs in cluster 0, 2 in cluster 1
    b1 = [(i, 1) for i in range(8)] + [(100, -1), (101, -1)]
    cs.process_batch(spark, emb(b1), store, 0, cents)
    # n=10, pct=50 -> budget 5 -> cap ceil(5/2)=3
    s1 = {r.vec_id for r in cs.current_sample(spark, store, 2, 50).collect()}
    picked1 = sorted(
        range(8),
        key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v),
    )[:3]
    assert s1 == set(picked1) | {100, 101}

    # batch 2: 6 more cluster-0 vecs — some with smaller md5s
    b2 = [(i, 1) for i in range(200, 206)]
    cs.process_batch(spark, emb(b2), store, 1, cents)
    # n=16 -> budget 8 -> cap 4
    s2 = {r.vec_id: r.rnk for r in
          cs.current_sample(spark, store, 2, 50).collect()}
    pool = list(range(8)) + list(range(200, 206))
    picked2 = sorted(
        pool, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:4]
    assert set(s2) == set(picked2) | {100, 101}
    # displacement actually happened: at least one batch-2 arrival
    # made the merged cluster-0 selection, so a batch-1 pick's slot
    # was taken by a later, smaller-md5 vector (not just cap growth)
    assert any(v >= 200 for v in picked2)

    # streaming == batch on the union
    assign = spark.createDataFrame(
        [(i, 0) for i in pool] + [(100, 1), (101, 1)],
        "vec_id long, list_id int",
    )
    want = {(r.vec_id, r.rnk) for r in
            S.cluster_capped_sample(assign, n_lists=2, pct=50).collect()}
    got = {(v, r) for v, r in s2.items()}
    assert got == want

    # replay idempotence
    cs.process_batch(spark, emb(b2), store, 1, cents)
    again = {r.vec_id: r.rnk for r in
             cs.current_sample(spark, store, 2, 50).collect()}
    assert again == s2


@pytest.mark.slow
def test_incremental_edit_verify_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X207 edit-distance verify tier: the
    documents table split into two micro-batches, each banded
    against the persisted store and its candidates verified with
    levenshtein against the stored raw text, must emit exactly the
    rows the batch query computes on the full corpus — flags
    included, true AND false branches (levenshtein is a pure
    function of the two stored texts, so no batch split can move a
    verdict)."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_edit_verify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/edit_store"
    src = f"{tmpdir}/edit_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: incremental_edit_verify.process_batch(
            spark, b, store, eid
        ),
        checkpoint=f"{tmpdir}/ckpt_incr_edit",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    incremental_edit_verify.process_batch(
        spark, docs.filter(F.col("doc_id") > mid), store, 1
    )

    key = lambda r: (r.doc_a, r.doc_b, r.lev, r.max_len, r.edit_sim, r.is_near_dup)
    got = {
        key(r)
        for r in incremental_edit_verify.emitted_rows(spark, store).collect()
    }
    want = {
        key(r)
        for r in QUERIES["dedup_edit_distance_verify"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # the replay left no duplicate rows (the sets above would hide them)
    assert incremental_edit_verify.emitted_rows(spark, store).count() == len(got)


@pytest.mark.slow
def test_incremental_group_split_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X210 group-aware split: after ingesting
    the corpus in two batches (pairs via the proven incremental X4
    store, groups re-closed per batch, splits re-derived with the
    identical md5 expression), the FINAL snapshot equals the batch
    query on the full corpus — the re-derive converges to the batch
    answer regardless of the split."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_group_split as igs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/group_split_store"
    igs.process_batch(spark, docs.filter(F.col("doc_id") <= mid), store, 1)
    igs.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 2)
    # foreachBatch replay of batch 2: a no-op
    igs.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 2)

    got = {
        (r.doc_id, r.group_key, r.split)
        for r in igs.current_assignment(spark, store).collect()
    }
    want = {
        (r.doc_id, r.group_key, r.split)
        for r in QUERIES["llm_split_by_group"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # the replay left no duplicate rows (the sets above would hide them)
    assert igs.current_assignment(spark, store).count() == len(got)


@pytest.mark.slow
def test_incremental_group_split_retroactive_move(spark, tmpdir):
    """The operational hazard the twin exists to surface: a later
    arrival BRIDGES two previously-separate docs (transitive chain —
    near-dup of both, while they are not near-dups of each other),
    the merged group takes a new representative, and a doc that was
    serving in train retroactively moves to val. Planted: C shares
    92 of 100 words with A and with B, but A and B differ at both
    ends (pairwise jaccard ~0.71 < 0.8); ids are searched so the
    group rep's split differs from the moving doc's own-hash split.
    Exactly one move row is emitted, for exactly that doc."""
    import hashlib

    from gmall_spark.queries_llm.packing_release import SPLIT_TEST_HI, SPLIT_VAL_HI
    from gmall_spark.streaming import incremental_group_split as igs

    def bucket(i: int) -> str:
        v = int(hashlib.md5(str(i).encode()).hexdigest()[:3], 16)
        return "val" if v < SPLIT_VAL_HI else (
            "test" if v < SPLIT_TEST_HI else "train"
        )

    b = next(i for i in range(1, 100000) if bucket(i) == "val")
    a = next(i for i in range(b + 1, 100000) if bucket(i) == "train")
    c = next(i for i in range(a + 1, 100000) if bucket(i) == "train")

    base = [f"w{i}" for i in range(100)]
    ta = " ".join([f"x{i}" for i in range(8)] + base[8:])
    tb = " ".join(base[:92] + [f"y{i}" for i in range(8)])
    tc = " ".join(base)

    store = f"{tmpdir}/group_split_chain"
    m1 = igs.process_batch(
        spark,
        spark.createDataFrame([(a, ta), (b, tb)], "doc_id long, text string"),
        store,
        1,
    )
    assert m1.count() == 0  # two singletons, nothing to move
    snap1 = {r.doc_id: r for r in igs.current_assignment(spark, store).collect()}
    assert snap1[a].split == "train" and snap1[b].split == "val"
    assert snap1[a].group_key == a  # A and B did NOT group pairwise

    for _ in range(2):  # the second run is a foreachBatch replay
        m2 = igs.process_batch(
            spark,
            spark.createDataFrame([(c, tc)], "doc_id long, text string"),
            store,
            2,
        ).collect()
    assert len(m2) == 1 and m2[0].doc_id == a
    assert m2[0].old_split == "train" and m2[0].new_split == "val"
    assert m2[0].old_group_key == a and m2[0].new_group_key == b
    snap2 = {r.doc_id: r for r in igs.current_assignment(spark, store).collect()}
    assert {r.group_key for r in snap2.values()} == {b}
    assert {r.split for r in snap2.values()} == {"val"}


def test_incremental_canary_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X213 canary scan (the X179 SUM-merge
    equality class): per-canary counts merge by integer addition, so
    the corpus-so-far view after a two-batch readStream ingest is
    bit-equal to the batch query on the full corpus — and the
    per-batch return is the alarm view (a canary that first appears
    in a batch reports nonzero in THAT batch)."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_canary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/canary_store"
    src = f"{tmpdir}/canary_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: incremental_canary.process_batch(
            spark, b, store, eid
        ),
        checkpoint=f"{tmpdir}/ckpt_incr_canary",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    incremental_canary.process_batch(
        spark, docs.filter(F.col("doc_id") > mid), store, 1
    )

    got = {
        r.canary: (r.docs_hit, r.total_hits)
        for r in incremental_canary.current_counts(spark, store).collect()
    }
    want = {
        r.canary: (r.docs_hit, r.total_hits)
        for r in QUERIES["llm_canary_scan"](spark, sf_dir).collect()
    }
    assert got == want and any(h[1] > 0 for h in want.values())


def test_incremental_html_rollup_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X216 extraction rollup (SUM-merge class
    with a min/max envelope): after a two-batch readStream ingest the
    merged view is column-identical to the batch rollup on the full
    corpus."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_html_extract as ihe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/html_store"
    src = f"{tmpdir}/html_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ihe.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_html",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ihe.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 1)
    got = ihe.current_rollup(spark, store).collect()[0].asDict()
    want = (
        QUERIES["text_html_extract_rollup"](spark, sf_dir).collect()[0].asDict()
    )
    assert got == want and want["n_docs"] > 0


def test_incremental_domain_rollup_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X226 domain rollup (agg-table-as-state
    class): distinct-counts are kept exact by maintaining state one
    grain finer — (domain, host, url, lang) with additive counters —
    so the re-grouped view after a two-batch readStream ingest is
    row-identical to the batch query on the full corpus."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_domain_rollup as idr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/domain_store"
    src = f"{tmpdir}/domain_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: idr.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_domain",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    idr.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 1)
    key = lambda r: r["registered_domain"]  # noqa: E731
    got = sorted(
        (r.asDict() for r in idr.current_rollup(spark, store).collect()),
        key=key,
    )
    want = sorted(
        (
            r.asDict()
            for r in QUERIES["web_domain_rollup"](spark, sf_dir).collect()
        ),
        key=key,
    )
    assert got == want and len(want) > 1


def test_incremental_mojibake_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X230 mojibake census (SUM-merge class):
    corrupted text arrives on the wire (the synth corruption is
    applied before writing the source files), per-pattern counts
    merge by addition, and the merged view after a two-batch
    readStream ingest is bit-equal to the batch query on the full
    corpus."""
    from gmall_spark.operators import mojibake as M
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_mojibake as imj

    docs = M.synth_mojibake(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/moji_store"
    src = f"{tmpdir}/moji_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: imj.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_moji",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    imj.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 1)
    got = {
        r.pattern: (r.docs_hit, r.total_hits)
        for r in imj.current_counts(spark, store).collect()
    }
    want = {
        r.pattern: (r.docs_hit, r.total_hits)
        for r in QUERIES["text_mojibake_rollup"](spark, sf_dir).collect()
    }
    assert got == want and all(h[1] > 0 for h in want.values())


def test_incremental_sft_keeper_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X233 prompt dedup (MAX-merge class):
    the candidate state appends, the keeper re-derives as an argmax
    — after a two-batch readStream ingest the keeper view (filtered
    to collided prompts) is row-identical to the batch query on the
    full corpus."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_sft_keeper as isk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/sft_store"
    src = f"{tmpdir}/sft_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: isk.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_sft",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    isk.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 1)
    got = {
        r.prompt: (r.doc_id, r.asst_len, r.n_convs)
        for r in isk.current_keepers(spark, store)
        .filter(F.col("n_convs") >= 2)
        .collect()
    }
    want = {}
    for r in QUERIES["sft_prompt_dedup"](spark, sf_dir).collect():
        want[r.prompt_md5] = (
            r.keeper_doc_id,
            r.keeper_assistant_chars,
            r.n_convs,
        )
    import hashlib

    got_hashed = {
        hashlib.md5(p.encode()).hexdigest(): v for p, v in got.items()
    }
    assert got_hashed == want and len(want) > 0


@pytest.mark.slow
def test_incremental_pagerank_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X237 page centrality (RE-DERIVE class):
    pages-seen state appends; ranks re-derive over the merged edge
    set with the identical integer fixed-point operator — after a
    two-batch readStream ingest the rank view is bit-equal to the
    batch query's rank columns on the full corpus."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_pagerank as ipr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/pr_store"
    src = f"{tmpdir}/pr_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: ipr.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_pr",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    ipr.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 1)
    got = {
        r.node_id: r.rank_micro
        for r in ipr.current_ranks(spark, store).collect()
    }
    want = {
        r.node_id: r.rank_micro
        for r in QUERIES["web_host_pagerank"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_incremental_pagerank_rank_change_log(spark, tmpdir):
    """Planted retroactivity: batch 1 ranks a 2-page subgraph; batch
    2 adds a page linking INTO it — mass flows, previously-ranked
    nodes move, and the change log names them with old and new
    values."""
    from gmall_spark.streaming import incremental_pagerank as ipr

    store = f"{tmpdir}/pr_change"
    b1 = spark.createDataFrame([(0, "x"), (3, "x")], "doc_id long, text string")
    m1 = {r.node_id: r for r in ipr.process_batch(spark, b1, store, 0).collect()}
    assert m1 and all(r.old_rank_micro is None for r in m1.values())
    before = {
        r.node_id: r.rank_micro
        for r in ipr.current_ranks(spark, store).collect()
    }
    # page 11 links to (7*11+3)%40 = 0 and (11*11+5)%40 = 6: an edge
    # INTO the existing node 0
    b2 = spark.createDataFrame([(11, "x")], "doc_id long, text string")
    for _ in range(2):  # the second run is a foreachBatch replay
        m2 = {r.node_id: r for r in ipr.process_batch(spark, b2, store, 1).collect()}
    assert 0 in m2 and m2[0].old_rank_micro == before[0]
    assert m2[0].new_rank_micro != m2[0].old_rank_micro
    after = {
        r.node_id: r.rank_micro
        for r in ipr.current_ranks(spark, store).collect()
    }
    assert after[0] == m2[0].new_rank_micro


@pytest.mark.slow
def test_incremental_sft_keeper_displacement(spark, tmpdir):
    """Planted retroactivity: batch 1 establishes a keeper; batch 2
    ships a RICHER response to the same prompt — the displacement log
    names the old and new keeper, and the view reflects the move."""
    from gmall_spark.streaming import incremental_sft_keeper as isk

    store = f"{tmpdir}/sft_disp"
    b1 = spark.createDataFrame(
        [(100, "ask me this and tersely done x y")],
        "doc_id long, text string",
    )
    m1 = isk.process_batch(spark, b1, store, 0).collect()
    assert m1 == []  # first keeper is an arrival, not a displacement
    b2 = spark.createDataFrame(
        [(102, "ask me this and verbose answer here zz")],
        "doc_id long, text string",
    )
    for _ in range(2):  # the second run is a foreachBatch replay
        m2 = isk.process_batch(spark, b2, store, 1).collect()
    assert len(m2) == 1
    assert m2[0].old_keeper == 100 and m2[0].new_keeper == 102
    assert m2[0].new_asst_len > m2[0].old_asst_len
    snap = {
        r.prompt: r.doc_id
        for r in isk.current_keepers(spark, store).collect()
    }
    assert snap == {"ask me this and": 102}


@pytest.mark.slow
def test_incremental_kn_rescore_equals_batch_and_is_retroactive(spark, tmpdir):
    """Streaming twin of X218 in the RE-DERIVE class: the training
    count table SUM-merges, but a training arrival retroactively
    re-scores already-ingested eval docs (a new continuation char
    shifts every bigram's smoothing scale). Planted: eval doc 1
    scored in batch 0 changes score after batch 1's training doc
    arrives; the final view equals the batch algebra on everything
    ingested."""
    import math

    from gmall_spark.operators import lm
    from gmall_spark.streaming import incremental_kn as ikn

    store = f"{tmpdir}/kn_store"
    b0 = spark.createDataFrame(
        [(0, "en", "abab"), (1, "en", "ab")],
        "doc_id long, lang string, text string",
    )
    first = {
        r.doc_id: r.kn_logprob
        for r in ikn.process_batch(spark, b0, store, 0).collect()
    }
    s0 = ikn.current_scores(spark, store).collect()
    assert len(s0) == 1 and math.isclose(
        s0[0].kn_logprob, first[1], abs_tol=1e-9
    )
    # batch 1: training doc with a NEW continuation char 'c' — nt/vc
    # shift, so doc 1's already-published score must CHANGE
    b1 = spark.createDataFrame(
        [(2, "en", "ac")], "doc_id long, lang string, text string"
    )
    ikn.process_batch(spark, b1, store, 1)
    ikn.process_batch(spark, b1, store, 1)  # foreachBatch replay: a no-op
    s1 = {r.doc_id: r.kn_logprob for r in ikn.current_scores(spark, store).collect()}
    assert not math.isclose(s1[1], first[1], abs_tol=1e-9)  # retroactive
    # equality with the batch algebra on (train ∪ eval) so far
    all_train = spark.createDataFrame(
        [(0, "en", "abab"), (2, "en", "ac")],
        "doc_id long, lang string, text string",
    )
    evals = spark.createDataFrame(
        [(1, "en", "ab")], "doc_id long, lang string, text string"
    )
    want = {
        r.doc_id: r.kn_logprob
        for r in lm.kn_score_with_model(evals, lm.kn_model(all_train)).collect()
    }
    assert math.isclose(s1[1], want[1], abs_tol=2e-6)


def test_incremental_decontam_equals_batch(spark, tmpdir):
    """Streaming twin of X220 (frozen-reference, embarrassingly
    incremental): two direct batches over the corpus embeddings
    produce exactly the batch query's flag rows, and each flagged doc
    appears in the batch where it ARRIVED. Runs at sf0.01 — the
    smallest SF whose flag set is non-empty (sf0.001's is honestly
    empty, which would make the equality vacuous)."""
    from gmall_spark.queries_llm import extraction_tiers, prelude
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_decontam as idc

    sf_dir = "/root/testdata/sf0.01"
    store = f"{tmpdir}/decontam_store"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = prelude._trained_centroids(spark, sf_dir)
    ref = emb.filter(F.col("vec_id") % 20 == 0)
    ridx = idc.reference_index(ref, cents)
    corp = emb.filter(F.col("vec_id") % 20 != 0)
    mid = corp.approxQuantile("vec_id", [0.5], 0.0)[0]
    arrived = set()
    for batch_id, part in enumerate(
        (corp.filter(F.col("vec_id") <= mid), corp.filter(F.col("vec_id") > mid))
    ):
        batch = idc.process_batch(
            spark, part, ref, ridx, cents,
            extraction_tiers.SEM_DECONTAM_THRESHOLD, store, batch_id,
        ).collect()
        ids = {r.doc_id for r in batch}
        assert ids.isdisjoint(arrived)  # alarm fires on arrival, once
        arrived |= ids
    # foreachBatch replay of the last batch: a no-op
    idc.process_batch(
        spark, part, ref, ridx, cents,
        extraction_tiers.SEM_DECONTAM_THRESHOLD, store, batch_id,
    )
    got = {
        (r.doc_id, r.ref_id, r.cos_sim, r.n_ref_hits)
        for r in idc.current_flags(spark, store).collect()
    }
    want = {
        (r.doc_id, r.ref_id, r.cos_sim, r.n_ref_hits)
        for r in QUERIES["llm_semantic_decontam"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # the replay left no duplicate rows (the sets above would hide them)
    assert idc.current_flags(spark, store).count() == len(got)


@pytest.mark.slow
def test_incremental_kn_buckets_equal_batch(spark, tmpdir):
    """X243 twin equality: after two micro-batches the incremental
    bucket view (incremental_kn.bucketed_docs — re-derived KN scores
    + the histogram cut) is row-identical to the batch
    text_perplexity_buckets_kn algebra on the ingested union, and the
    cut is retroactive: a batch-2 eval arrival moves the
    equal-population cut and flips a batch-1 doc's tier."""
    from gmall_spark.operators import lm
    from gmall_spark.streaming import incremental_kn as ikn

    store = f"{tmpdir}/knb_store"
    # one lang; training mass in batch 0, eval docs split across both
    b0 = spark.createDataFrame(
        [(0, "en", "abababab"), (2, "en", "abcabc"),
         (1, "en", "abab"), (3, "en", "zzzz")],
        "doc_id long, lang string, text string",
    )
    ikn.process_batch(spark, b0, store, 0)
    first = {r.doc_id: r.bucket_id
             for r in ikn.bucketed_docs(spark, store).collect()}
    assert set(first) == {1, 3}
    # batch 1: four more eval docs, all scoring better than doc 3's
    # all-unseen 'zzzz' — the equal-population cut moves and doc 3
    # (middle with 2 docs) retroactively lands in the tail third
    b1 = spark.createDataFrame(
        [(5, "en", "abab"), (7, "en", "abba"), (9, "en", "baba"),
         (11, "en", "aabb")],
        "doc_id long, lang string, text string",
    )
    ikn.process_batch(spark, b1, store, 1)
    ikn.process_batch(spark, b1, store, 1)  # foreachBatch replay: a no-op
    cur = {r.doc_id: r.bucket_id
           for r in ikn.bucketed_docs(spark, store).collect()}
    assert set(cur) == {1, 3, 5, 7, 9, 11}
    assert first[3] == 2 and cur[3] == 3  # retroactive tier flip
    # batch equality: identical scores + identical cut on the union
    evals = spark.createDataFrame(
        [(1, "en", "abab"), (3, "en", "zzzz"), (5, "en", "abab"),
         (7, "en", "abba"), (9, "en", "baba"), (11, "en", "aabb")],
        "doc_id long, lang string, text string",
    )
    train = spark.createDataFrame(
        [(0, "en", "abababab"), (2, "en", "abcabc")],
        "doc_id long, lang string, text string",
    )
    scored = lm.kn_score_with_model(evals, lm.kn_model(train)).withColumnRenamed(
        "kn_logprob", "bigram_logprob"
    )
    want = {r.doc_id: r.bucket_id
            for r in lm.perplexity_buckets(scored, scored=scored).collect()}
    assert cur == want
    # the replay left no duplicate rows (the dict above would hide them)
    assert ikn.bucketed_docs(spark, store).count() == len(cur)


def test_incremental_optout_equals_batch_and_is_final(spark, sf_dir, tmpdir):
    """X241/X242 twin (embarrassingly incremental, frozen lists):
    after two micro-batches the merged audit and release delta equal
    the batch queries on the ingested union, and a doc's verdict is
    FINAL at arrival — batch 2 changes no batch-1 verdict (the X220
    frozen-reference property, opposite of the KN re-derive class)."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_optout as ioo

    store = f"{tmpdir}/optout_store"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    v0 = {r.doc_id: (r.on_blocklist, r.opted_out, r.kept)
          for r in ioo.process_batch(spark, b0, store, 0).collect()}
    ioo.process_batch(spark, b1, store, 1)
    ioo.process_batch(spark, b1, store, 1)  # foreachBatch replay: a no-op
    # verdict finality: the batch query on the union agrees with every
    # batch-0 arrival verdict
    want_gate = {r.doc_id: (r.on_blocklist, r.opted_out, r.kept)
                 for r in QUERIES["web_domain_optout_gate"](
                     spark, sf_dir).collect()}
    for d, v in v0.items():
        assert want_gate[d] == v, d
    # audit equality on the union
    got = {r.registered_domain: (r.gate, r.n_docs, r.n_kept, r.n_dropped,
                                 r.total_chars)
           for r in ioo.current_audit(spark, store).collect()}
    want = {r.registered_domain: (r.gate, r.n_docs, r.n_kept, r.n_dropped,
                                  r.total_chars)
            for r in QUERIES["web_domain_optout_audit"](
                spark, sf_dir).collect()}
    assert got == want
    # delta equality
    gd = ioo.current_delta(spark, store).collect()[0].asDict()
    wd = QUERIES["web_optout_release_delta"](spark, sf_dir).collect()[0].asDict()
    assert gd == wd


@pytest.mark.slow
def test_incremental_sem_pack_equality_and_locality(spark, sf_dir, tmpdir):
    """X244 twin (re-derive class, cluster-scoped churn): after two
    micro-batches the re-derived chain table equals the batch query
    on the union; the churn report between consecutive views is
    well-formed and non-vacuous; and the locality theorem holds — a
    cluster whose membership AND member out-edge sets are identical
    across views is row-identical (chain_pack is pure in those
    inputs), which is what lets a scheduler re-pack only dirty
    clusters at scale."""
    from gmall_spark.operators import similarity
    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm.ann_topk import PR_KNN_K
    from gmall_spark.streaming import incremental_sem_pack as isp

    store = f"{tmpdir}/sp_store"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0d, b1d = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(
        F.col("doc_id") % 2 == 1
    )
    b0e, b1e = emb.filter(F.col("vec_id") % 2 == 0), emb.filter(
        F.col("vec_id") % 2 == 1
    )
    isp.process_batch(spark, b0d, b0e, store, 0)
    v1 = isp.current_packing(spark, store).localCheckpoint(eager=True)
    isp.process_batch(spark, b1d, b1e, store, 1)
    isp.process_batch(spark, b1d, b1e, store, 1)  # foreachBatch replay: a no-op
    v2 = isp.current_packing(spark, store).localCheckpoint(eager=True)
    # equality with the batch query on the union
    got = {
        (r.list_id, r.chain_pos, r.doc_id, r.n_tok, r.pack_row,
         r.tok_start, r.tok_end)
        for r in v2.filter(F.col("ordering") == "semantic").collect()
    }
    want = {
        (r.list_id, r.chain_pos, r.doc_id, r.n_tok, r.pack_row,
         r.tok_start, r.tok_end)
        for r in QUERIES["llm_semantic_packing"](spark, sf_dir).collect()
    }
    assert got == want
    # churn report: well-formed and non-vacuous
    churn = {r.list_id: r.status
             for r in isp.chain_churn(v1, v2).collect()}
    assert set(churn.values()) <= {"new", "changed", "stable", "dropped"}
    assert any(s in ("new", "changed") for s in churn.values())
    # locality theorem: identical (membership, member out-edges) =>
    # identical chain rows
    def members(v):
        out = {}
        for r in v.filter(F.col("ordering") == "semantic").collect():
            out.setdefault(r.list_id, set()).add(r.doc_id)
        return out

    def edges(e):
        knn = similarity.gemm_allpairs_topk(e, k=PR_KNN_K).collect()
        out = {}
        for r in knn:
            out.setdefault(r.query_id, set()).add(
                (r.neighbor_id, r.cos_sim)
            )
        return out

    m1, m2 = members(v1), members(v2)
    e1, e2 = edges(b0e), edges(emb)
    rows1 = {}
    for r in v1.filter(F.col("ordering") == "semantic").collect():
        rows1.setdefault(r.list_id, set()).add(
            (r.chain_pos, r.doc_id, r.pack_row, r.tok_start, r.tok_end)
        )
    rows2 = {}
    for r in v2.filter(F.col("ordering") == "semantic").collect():
        rows2.setdefault(r.list_id, set()).add(
            (r.chain_pos, r.doc_id, r.pack_row, r.tok_start, r.tok_end)
        )
    for lid in set(m1) & set(m2):
        if m1[lid] == m2[lid] and all(
            e1.get(d, set()) == e2.get(d, set()) for d in m1[lid]
        ):
            assert rows1[lid] == rows2[lid], lid
            assert churn[lid] == "stable", lid


@pytest.mark.slow
def test_incremental_gov_keeper_retroactive_restore(spark, sf_dir, tmpdir):
    """X253/X254 twin: (1) batch-equals-streaming — after two
    micro-batches the keeper view equals one batch election over the
    union (the X253 total order is associative over ingest splits);
    (2) the retroactivity axis — a LATE-ARRIVING opt-out register
    entry flips a domain's kept bits retroactively and the move log
    shows the gated keeper's previously pruned mirror becoming the
    representative (the restore), while a group with no surviving
    mirror goes keeper NULL (logged, not silent)."""
    from gmall_spark.streaming import incremental_gov_keeper as igk

    store = f"{tmpdir}/gov_store"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    first = igk.process_batch(spark, b0, store, 0)
    # every group new in batch 0 enters with old_keeper NULL
    assert first.filter(F.col("old_keeper").isNotNull()).count() == 0
    igk.process_batch(spark, b1, store, 1)
    igk.process_batch(spark, b1, store, 1)  # foreachBatch replay: a no-op
    got = {
        r.text_hash: (r.n_members, r.n_surviving, r.keeper_id)
        for r in igk.current_keepers(spark, store).collect()
    }
    empty_reg = spark.createDataFrame([], igk._REG_SCHEMA)
    want = {
        r.text_hash: (r.n_members, r.n_surviving, r.keeper_id)
        for r in igk._keepers(
            igk.batch_candidates(docs), empty_reg
        ).collect()
    }
    assert got == want

    # retroactive restore on a planted store: mirrors 45 (site5.com)
    # and 81 (site1.org) — keeper 45 at arrival; a singleton 85
    # (site5.com) with no mirror
    store2 = f"{tmpdir}/gov_store2"
    t = "the mirror corpus row for the retroactive governance test"
    planted = spark.createDataFrame(
        [(45, t), (81, t), (85, "a unique single page about the sea")],
        "doc_id long, text string",
    )
    igk.process_batch(spark, planted, store2, 0)
    before = {
        r.text_hash: r for r in igk.current_keepers(spark, store2).collect()
    }
    assert {r.keeper_id for r in before.values()} == {45, 85}
    for _ in range(2):  # the second run is a foreachBatch replay
        moves = {
            r.old_keeper: r
            for r in igk.process_optout(spark, ["site5.com"], store2, 0).collect()
        }
    assert set(moves) == {45, 85}
    m = moves[45]
    assert m.new_keeper == 81  # the pruned mirror is RESTORED
    assert m.old_surviving == 2 and m.new_surviving == 1
    m = moves[85]
    assert m.new_keeper is None  # no mirror: the content honestly leaves
    assert m.new_surviving == 0
    # retroactivity: the view now equals a batch election under the
    # full register
    reg = spark.createDataFrame([("site5.com",)], igk._REG_SCHEMA)
    want2 = {
        r.text_hash: (r.n_members, r.n_surviving, r.keeper_id)
        for r in igk._keepers(igk.batch_candidates(planted), reg).collect()
    }
    got2 = {
        r.text_hash: (r.n_members, r.n_surviving, r.keeper_id)
        for r in igk.current_keepers(spark, store2).collect()
    }
    assert got2 == want2


@pytest.mark.slow
def test_incremental_novelty_retroactive_revocation(spark, sf_dir, tmpdir):
    """X257 twin: (1) batch-equals-streaming — candidates ingested in
    two batches against a seeded pool give the same verdict view as
    one batch election; (2) the retroactivity axis — a LATE-ARRIVING
    seed colliding with an already-accepted candidate REVOKES its
    novelty, and the revocation log ships exactly that move (the
    inverse of the gov-keeper restore)."""
    from gmall_spark.streaming import incremental_novelty as inv

    store = f"{tmpdir}/nov_store"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    seeds0 = docs.filter(F.col("doc_id") % 10 == 0)
    cands = docs.filter(F.col("doc_id") % 10 != 0)
    inv.process_seeds(spark, seeds0, store, 0)
    inv.process_candidates(
        spark, cands.filter(F.col("doc_id") % 2 == 0), store, 0
    )
    for _ in range(2):  # the second run is a foreachBatch replay
        inv.process_candidates(
            spark, cands.filter(F.col("doc_id") % 2 == 1), store, 1
        )
    got = {
        r.doc_id: (r.n_blocked_seeds, r.rougel_max, r.novel)
        for r in inv.current_verdicts(spark, store).collect()
    }
    from gmall_spark.queries import QUERIES

    want = {
        r.doc_id: (r.n_blocked_seeds, r.rougel_max, r.novel)
        for r in QUERIES["sft_novelty_rougel"](spark, sf_dir).collect()
    }
    assert got == want

    # retroactive revocation on a planted store: candidate 52's prompt
    # is the insertion paraphrase of a seed that arrives LATE
    store2 = f"{tmpdir}/nov_store2"
    S = "win two able cork dusk echo fern gale hush iris".split()
    P, spacers = [], iter("sp1 sp2 sp3 sp4".split())
    for i, wd in enumerate(S):
        P.append(wd)
        if i % 2 == 1 and i < len(S) - 1:
            P.append(next(spacers))
    filler_c = (
        "red blue gray pink teal reds blues grays pinks teals "
        "mauve ochre umber sepia"
    ).split()
    filler_s = "oak elm fir ash yew oaks elms firs ashes yews".split()
    cand_doc = spark.createDataFrame(
        [(52, " ".join(P + filler_c))], "doc_id long, text string"
    )
    late_seed = spark.createDataFrame(
        [(50, " ".join(S + filler_s))], "doc_id long, text string"
    )
    first = inv.process_candidates(spark, cand_doc, store2, 0).collect()
    assert len(first) == 1 and first[0].novel is True  # empty pool: novel
    for _ in range(2):  # the second run is a foreachBatch replay
        moves = inv.process_seeds(spark, late_seed, store2, 0).collect()
    assert len(moves) == 1
    m = moves[0]
    assert m.doc_id == 52 and m.old_novel is True and m.new_novel is False
    assert m.nearest_seed_id == 50
    assert abs(m.new_rougel_max - round(20 / 24, 6)) < 1e-9


def test_incremental_unicode_census_equals_batch(spark, sf_dir, tmpdir):
    """Streaming twin of the X258b unicode census (SUM-merge class,
    the mojibake twin's sibling): compatibility-form text arrives on
    the wire, per-class counts merge by addition, and the merged view
    after a two-batch readStream ingest is bit-equal to the batch
    query on the full corpus (including the genuine 'separator' zero
    row)."""
    from gmall_spark.operators import unicode_norm as UN
    from gmall_spark.queries import QUERIES
    from gmall_spark.streaming import incremental_unicode as iun

    docs = UN.synth_unicode(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "text")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store = f"{tmpdir}/uni_store"
    src = f"{tmpdir}/uni_src"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(f"{src}/b0")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = runner.run_foreach_batch(
        stream,
        batch_fn=lambda b: b,
        write_fn=lambda b, eid: iun.process_batch(spark, b, store, eid),
        checkpoint=f"{tmpdir}/ckpt_incr_uni",
    )
    q.awaitTermination(180)
    # foreachBatch replay of the last epoch: a no-op
    iun.process_batch(spark, docs.filter(F.col("doc_id") > mid), store, 1)
    got = {
        r.rule_class: (r.n_docs, r.n_hits)
        for r in iun.current_counts(spark, store).collect()
    }
    want = {
        r.rule_class: (r.n_docs, r.n_hits)
        for r in QUERIES["text_unicode_rollup"](spark, sf_dir).collect()
    }
    assert got == want
    assert want["separator"] == (0, 0) and want["ligature"][1] > 0
