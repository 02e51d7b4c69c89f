"""``cdc_ingest``: drain a backlog of ``topic_db`` CDC files through the
streaming shell.

Set-up derives the CDC envelopes from the generated tables
(``cdc_gen.topic_db``) and writes them as equal key-range files, split
by order key so every row of one order shares a file, as one binlog
transaction would. It then warms up with one whole drain, window query
included, into a throw-away sink, so every per-batch code path has run
before anything is measured. The drains after it still get cheaper
while the JIT compiles; as every run measures the same count of drains
from the same point, that trend is the same in every run.

Each measured drain reads the whole backlog from a fresh checkpoint,
one file per micro-batch (``maxFilesPerTrigger=1``), through
``runner.run_foreach_batch`` -> ``dwd.dwd_trade_order_detail`` ->
``runner.idempotent_parquet_write``, and then runs a watermarked
``runner.windowed_agg_stream`` province window over the DWD output.
All drains write to the same sink: after the first, each one is a
replay, as after a lost checkpoint, and the idempotent epoch writes
must leave the output unchanged. The output check verifies that.
"""

from __future__ import annotations

import glob
import os
import threading
import time

from spans import median

N_FILES = 3
WINDOW_S = 10
WATERMARK = "7 days"
WARMUP_DRAINS = 1
DRAIN_S = 4.5  # one untraced drain on a quiet 4-vCPU host
MIN_DRAINS = 3

# Order key of every envelope: order-grain tables carry it as ``id``,
# line-grain ones as ``order_id`` or inside the line id (orderkey*8+line).
_ORDER_KEY = (
    "CASE WHEN `table` = 'order_info' THEN CAST(data['id'] AS BIGINT) "
    "WHEN data['order_id'] IS NOT NULL THEN CAST(data['order_id'] AS BIGINT) "
    "ELSE CAST(data['id'] AS BIGINT) div 8 END"
)


class _Progress:
    """StreamingQueryListener that keeps every progress record by run
    id, and lets the caller wait for a run's terminated event so the
    records are complete."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.by_run: dict[str, list] = {}
        self.done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer._lock:
                    outer.by_run.setdefault(str(event.progress.runId), []).append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._event(str(event.runId)).set()

        self.listener = Listener()

    def _event(self, run_id: str) -> threading.Event:
        with self._lock:
            return self.done.setdefault(run_id, threading.Event())

    def wait(self, query) -> list:
        self._event(str(query.runId)).wait(60)
        with self._lock:
            return list(self.by_run.get(str(query.runId), []))


def _await(query) -> None:
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))


class _Pipeline:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.src = os.path.join(ctx.work, "topic_db")
        self.progress = _Progress() if ctx.tracer.enabled else None
        if self.progress:
            self.spark.streams.addListener(self.progress.listener)
        self.out = os.path.join(ctx.work, "out")
        self.queries: dict[str, list] = {}  # phase -> [query, ...]

    def write_backlog(self) -> None:
        from pyspark.sql import functions as F

        from gmall_spark.sources import cdc_gen

        tracer, spark, sf = self.ctx.tracer, self.spark, self.ctx.sf_dir
        t0 = time.perf_counter()
        with tracer.span("sources.topic_db_build", "sources"):
            tables = {n: spark.read.parquet(f"{sf}/{n}.parquet")
                      for n in ("orders", "lineitem", "customer")}
            tdb = cdc_gen.topic_db(tables["orders"], tables["lineitem"], tables["customer"])
        t1 = time.perf_counter()
        n_orders = self.ctx.rows["orders"]
        staged = os.path.join(self.ctx.work, "staged")
        chunk = F.least(
            F.lit(N_FILES - 1),
            (F.expr(_ORDER_KEY) * N_FILES / n_orders).cast("int"),
        )
        with tracer.span("sources.generate", "sources", op="topic-db-write"):
            # partitioning by chunk keeps each chunk in one task: one file per chunk
            (tdb.withColumn("chunk", chunk).repartition(N_FILES, "chunk")
             .write.partitionBy("chunk").parquet(staged))
        os.makedirs(self.src)
        base = time.time() - 3600
        for k in range(N_FILES):
            (part,) = glob.glob(f"{staged}/chunk={k}/*.parquet")
            dst = os.path.join(self.src, f"{k:03d}.parquet")
            os.rename(part, dst)
            os.utime(dst, (base + k, base + k))  # the file source drains by mtime
        self.schema = tdb.schema
        self.layers = {"sources.topic_db_build_s": t1 - t0,
                       "sources.generate_s": time.perf_counter() - t1}

    def stage1(self, phase: str, src: str, out: str, ckpt: str):
        from gmall_spark.plans import dwd
        from gmall_spark.sources import dims
        from gmall_spark.streaming import runner

        tracer = self.ctx.tracer
        write = runner.idempotent_parquet_write(f"{out}/dwd")
        run = len(self.queries.get(phase, []))  # op ids must not repeat across drains

        def build(batch):
            with tracer.span("streaming.dwd_build", "plans"):
                return dwd.dwd_trade_order_detail(batch, dims.base_dic(batch.sparkSession))

        def sink(df, epoch_id):
            with tracer.span("streaming.batch", "streaming", op=f"{phase}-{run}-{epoch_id}"):
                tracer.plan(df)
                with tracer.span("streaming.sink_write", "exec"):
                    write(df, epoch_id)

        with tracer.span("streaming.dwd_query", "streaming"):
            stream = (self.spark.readStream.schema(self.schema)
                      .option("maxFilesPerTrigger", 1).parquet(src))
            q = runner.run_foreach_batch(stream, build, sink, ckpt)
            _await(q)
        self.queries.setdefault(phase, []).append(q)
        return q

    def stage2(self, phase: str, out: str, ckpt: str, table: str):
        from pyspark.sql import functions as F

        from gmall_spark.streaming import runner

        dwd_dir = f"{out}/dwd"
        with self.ctx.tracer.span("streaming.window_query", "streaming"):
            schema = self.spark.read.parquet(dwd_dir).drop("epoch").schema
            stream = (self.spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 1).parquet(dwd_dir))
            agg = runner.windowed_agg_stream(
                stream.withColumn("rt", F.timestamp_seconds("ts")), "rt", WATERMARK,
                WINDOW_S, ["province_id"], _aggs(),
            )
            q = (agg.writeStream.format("memory").queryName(table).outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            _await(q)
        self.queries.setdefault(phase + "_window", []).append(q)
        return q


def _aggs():
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).cast("bigint").alias("rows"),
            F.sum("split_total_amount").alias("amount")]


def _batches(q) -> list:
    return [p for p in q.recentProgress if p.numInputRows > 0]


def setup(ctx) -> dict:
    p = _Pipeline(ctx)
    ctx.pipeline = p
    p.write_backlog()
    warm = os.path.join(ctx.work, "warmup")
    for k in range(WARMUP_DRAINS):
        with ctx.tracer.span("cdc.warmup_drain", "bench"):
            p.stage1("warmup", p.src, warm, f"{warm}/ckpt{k}")
            p.stage2("warmup", warm, f"{warm}/ckpt_win{k}", f"warmup_win{k}")
        ctx.attempted += N_FILES + 1  # its micro-batches and the drain
    return p.layers


def measure(ctx) -> dict:
    p, work = ctx.pipeline, ctx.work
    n_spans = len(ctx.tracer.spans)
    ctx.tracer.clear_plans()
    for k in range(ctx.n_units(DRAIN_S, MIN_DRAINS)):
        with ctx.units.unit(), ctx.tracer.span("cdc.drain", "bench"):
            p.stage1("drain", p.src, p.out, os.path.join(work, f"ckpt_dwd{k}"))
            p.stage2("drain", p.out, os.path.join(work, f"ckpt_win{k}"), f"win{k}")
    drains = ctx.units.wall_s
    batches = [b for q in p.queries["drain"] for b in _batches(q)]
    ctx.attempted += len(batches) + len(drains)
    trigger = [b.durationMs["triggerExecution"] / 1e3 for b in batches]
    # counted once from the backlog: the progress records' input rows count
    # the scan once per branch of the DWD plan that reads the batch
    events = ctx.spark.read.parquet(p.src).count()

    layers = _stream_layers(ctx, p, n_spans) if ctx.tracer.enabled else {}
    return {
        "layers": layers,
        "detail": {
            "cdc_events": events,
            "events_per_s": events / median(drains),
            "batch_s": trigger,
        },
    }


def _stream_layers(ctx, p, n_spans: int) -> dict:
    tr = ctx.tracer
    batches = [b for q in p.queries["drain"] for b in p.progress.wait(q) if b.numInputRows > 0]
    windows = [b for q in p.queries["drain_window"] for b in p.progress.wait(q)]
    state = [b.stateOperators[0] for b in windows if b.stateOperators]
    rows_in = sum(b.numInputRows for b in windows)
    dropped = sum(s.numRowsDroppedByWatermark for s in state)
    spans = tr.spans[n_spans:]

    def span_p50(name):
        return median(s["end"] - s["start"] for s in spans if s["name"] == name)

    def dur_p50(key):
        return median(b.durationMs.get(key, 0) / 1e3 for b in batches)

    ops = [o for o in tr.ops if o.startswith("drain-")]
    return {
        "streaming.trigger_s_p50": dur_p50("triggerExecution"),
        "streaming.add_batch_s_p50": dur_p50("addBatch"),
        "streaming.query_planning_s_p50": dur_p50("queryPlanning"),
        "streaming.wal_commit_s_p50": dur_p50("walCommit"),
        "streaming.dwd_build_s_p50": span_p50("streaming.dwd_build"),
        "streaming.sink_write_s_p50": span_p50("streaming.sink_write"),
        "exec.action_s_p50": span_p50("streaming.sink_write"),
        "streaming.state_rows": float(state[-1].numRowsTotal if state else 0),
        "streaming.state_memory_bytes": float(max((s.memoryUsedBytes for s in state), default=0)),
        "streaming.watermark_dropped_ratio": dropped / rows_in if rows_in else 0.0,
    } | tr.scheduler_and_exec(ops)


def check(ctx) -> None:
    """The union of the DWD epochs, after the last drain, equals batch
    ``dwd.dwd_trade_order_detail`` over the same CDC rows, and every
    window each drain emitted equals ``operators.windows.tumble_agg``
    over it. Every drain after the first overwrites the same epochs, so
    a replay that is not idempotent shows in the final state."""
    from pyspark.sql import functions as F

    from gmall_spark.operators.windows import tumble_agg
    from gmall_spark.plans import dwd
    from gmall_spark.sources import dims

    spark, p = ctx.spark, ctx.pipeline
    got = spark.read.parquet(os.path.join(p.out, "dwd")).drop("epoch")
    ctx.attempted += 1
    try:
        exp = dwd.dwd_trade_order_detail(spark.read.parquet(p.src), dims.base_dic(spark))
        n_got, n_exp = got.count(), exp.count()
        if n_got != n_exp or not got.exceptAll(exp).isEmpty():
            ctx.fail(f"check dwd: streamed {n_got} rows, batch {n_exp}, or rows differ")
    except Exception as e:
        ctx.fail(f"check dwd: {e!r}")
    expected = tumble_agg(
        got.withColumn("rt", F.timestamp_seconds("ts")), "rt", WINDOW_S,
        ["province_id"], _aggs(),
    ).cache()
    for k in range(len(p.queries["drain"])):
        ctx.attempted += 1
        try:
            emitted = spark.table(f"win{k}")
            n = emitted.count()
            if n == 0 or not emitted.exceptAll(expected).isEmpty():
                ctx.fail(f"check windows of drain {k}: {n} emitted, some differ from tumble_agg")
        except Exception as e:
            ctx.fail(f"check windows of drain {k}: {e!r}")
    expected.unpersist()
