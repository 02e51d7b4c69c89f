"""Query registry: named queries + matching DuckDB oracle SQL.

Every implemented operator from SURVEY §2 gets one entry here: a
callable ``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible)
an equivalent ANSI-SQL string the DuckDB oracle replays over the same
parquet tables. This is the correctness gate (BASELINE.json t2).

Output-type discipline (so the driver's value-hash matches):
- money: exact decimal arithmetic inside, final cast to DOUBLE
- counts/keys: BIGINT
- window bounds / dates: formatted strings (``stt``/``edt``)
- column names identical on both sides (aliased everywhere)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_spark import fixtures_audit
from gmall_spark import oracles as O
from gmall_spark.operators.dedup import dedup_first, latest_by_key
from gmall_spark.plans import ads, dim, dwd, dws, traffic, user
from gmall_spark.session import HEAVY_TABLES, parallel_scan, scoped_conf
from gmall_spark.sources import cdc_gen, dims, log_gen

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Base-table PLAN memo (r13): each `spark.read.parquet` call re-reads
# the parquet footer for schema inference and parallel_scan's probe
# re-lists the input files — measured ~93 ms of pure driver/py4j time
# PER _t CALL at sf0.1, and a query builds 2–6 base scans per
# invocation (the bench pays that once per repeat). DataFrames are
# immutable, so reusing the object is free and changes nothing
# downstream. NO DATA is cached: this memoizes the analyzed plan only;
# every action still computes from the parquet inputs.
@fixtures_audit.memoized("t_plan")
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Heavy tables get their scan parallelism normalized (the driver's
    # single-row-group files would otherwise pin all per-row derivation
    # to ONE task until the first shuffle); see session.parallel_scan.
    return parallel_scan(
        spark,
        spark.read.parquet(f"{sf_dir}/{name}.parquet"),
        name in HEAVY_TABLES,
    )


# DWD materialization: the reference computes each DWD fact once
# (a Kafka dwd_* topic) and 11 DWS jobs consume it; the analog here is
# persisting the DWD DataFrame per (session, sf_dir) so DWS/ADS queries
# in the same process share one computation instead of re-deriving the
# CDC envelope each time. Correctness is unaffected (plans are pure).
_INLINE_CONF = "spark.sql.optimizer.collapseProjectAlwaysInline"


def _materialized(name: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    def persist_eagerly() -> DataFrame:
        df = build().persist()
        # Materialize eagerly with forced Project collapsing: the CDC
        # envelope builds map(k1,v1,...)[k] chains that CollapseProject
        # normally refuses to inline (the map column is referenced 10+
        # times), which keeps SimplifyExtractValueOps from deleting the
        # map construction entirely — measured ~2x on the order-detail
        # build. Safe here: duplicated from_json/cast copies dedupe in
        # whole-stage-codegen subexpression elimination (measured
        # neutral for page_log), and the flag is scoped to this one
        # action so per-row HOF pipelines (simhash, minhash lanes)
        # never see it — global inlining is exactly what caused the r1
        # minhash 16x re-hash pathology.
        with scoped_conf(spark, _INLINE_CONF, "true"):
            df.count()
        return df

    return fixtures_audit.memo(spark, ("dwd", sf_dir, name), persist_eagerly)


def clear_cache() -> None:
    """Drop every session memo and release the executor storage behind
    it (see fixtures_audit.clear).

    Long-lived services (a REPL, a query server) should call this when
    a scale-factor directory's data changes or to release executor
    storage memory; tests and the bench run fine without it because
    the session dies with the process.
    """
    fixtures_audit.clear()


@fixtures_audit.memoized("topic_db")
def _topic_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NOT persisted: every consumer filters on `table`,
    # and Catalyst folds that filter into each union branch (constant-
    # false branches collapse to empty scans), so a lazy topic_db costs
    # only the branches a query actually reads. Persisting the union
    # would force materializing all 11 CDC branches up front.
    #
    # The PLAN, however, IS memoized: building the 11-branch envelope
    # expression tree crosses py4j thousands of times (~5 s of pure
    # driver time at any SF — measured: the bulk of the bench's
    # "materialize dwd_order_detail" line item was plan construction,
    # not execution). DataFrames are immutable, so reusing the object
    # is free and changes nothing downstream.
    return cdc_gen.topic_db(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "customer"),
    )


def _dwd_order_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialized(
        "dwd_order_detail",
        spark,
        sf_dir,
        lambda: dwd.dwd_trade_order_detail(_topic_db(spark, sf_dir), dims.base_dic(spark)),
    )


# events PLAN memo (r13): same argument as _t — the dtype probe
# (`raw.dtypes`) additionally crossed py4j per call.
@fixtures_audit.memoized("events")
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a normalized microsecond TimestampType ``ts``.

    Driver encodings vary by round: TIMESTAMP(NANOS) (readable only as
    a long behind the legacy flag; truncate to micros with integer
    division — double division would lose precision at 1.7e18, and
    DuckDB's TIMESTAMP_NS -> TIMESTAMP read truncates the same way) or
    plain TIMESTAMP(MICROS)/NTZ. Normalize all of them to a
    microsecond TimestampType; the session timezone is UTC, so the
    NTZ cast keeps the same wall-clock values DuckDB reads.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = parallel_scan(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))
    if dict(raw.dtypes)["ts"] == "bigint":  # nanos behind the legacy flag
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _page_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _materialized(
        "page_log", spark, sf_dir, lambda: log_gen.page_log(_events(spark, sf_dir))
    )


def _province_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("province_id"),
        F.col("n_name").alias("province_name"),
    )


def _sku_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKU -> trademark/category chain flattened from ``part``.

    Replaces the reference's per-record async Phoenix lookup chain
    (SKU→SPU→TM→C3→C2→C1, DwsTradeTrademarkCategoryUserSpuOrderWindow
    .java:88-199) with one pre-joined broadcastable dim.
    """
    p = _t(spark, sf_dir, "part")
    c2 = F.concat(F.col("p_type"), F.lit("#"), (F.col("p_size") % 3).cast("string"))
    c3 = F.concat(c2, F.lit("#"), (F.col("p_size") % 9).cast("string"))
    return p.select(
        F.col("p_partkey").alias("sku_id"),
        F.col("p_brand").alias("trademark_name"),
        F.col("p_type").alias("category1_name"),
        c2.alias("category2_name"),
        c3.alias("category3_name"),
        F.col("p_name").alias("spu_name"),
    )


_SEC_STT = "strftime(make_timestamp(((ts // 10) * 10) * 1000000), '%Y-%m-%d %H:%M:%S')"
_SEC_EDT = "strftime(make_timestamp(((ts // 10) * 10 + 10) * 1000000), '%Y-%m-%d %H:%M:%S')"


# ===========================================================================
# Trade domain (CDC envelope -> DWD -> DWS -> ADS)
# ===========================================================================


@query(
    "dwd_trade_order_detail",
    O.SQL_DWD_ORDER_DETAIL
    + """
SELECT id, order_id, user_id, sku_id, sku_num, province_id, order_status,
       activity_id, coupon_id,
       CAST(split_total_amount AS DOUBLE) AS split_total_amount,
       CAST(split_activity_amount AS DOUBLE) AS split_activity_amount,
       CAST(split_coupon_amount AS DOUBLE) AS split_coupon_amount,
       source_type, source_type_name, create_time, ts
FROM dwd_order_detail
""",
)
def q_dwd_trade_order_detail(spark, sf_dir):
    df = _dwd_order_detail(spark, sf_dir)
    return df.select(
        "id",
        "order_id",
        "user_id",
        "sku_id",
        "sku_num",
        "province_id",
        "order_status",
        "activity_id",
        "coupon_id",
        F.col("split_total_amount").cast("double").alias("split_total_amount"),
        F.col("split_activity_amount").cast("double").alias("split_activity_amount"),
        F.col("split_coupon_amount").cast("double").alias("split_coupon_amount"),
        "source_type",
        "source_type_name",
        "create_time",
        "ts",
    )


@query(
    "dwd_trade_cancel_detail",
    """
SELECT o_orderkey AS order_id,
       o_custkey AS user_id,
       o_custkey % 25 AS province_id,
       CAST(CAST(o_totalprice AS DECIMAL(16,2)) AS DOUBLE) AS cancel_amount,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 3600) * 1000000), '%Y-%m-%d %H:%M:%S') AS cancel_time,
       CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 3600 AS ts
FROM orders WHERE o_orderkey % 10 = 0
""",
)
def q_dwd_trade_cancel_detail(spark, sf_dir):
    df = dwd.dwd_trade_cancel_detail(_topic_db(spark, sf_dir))
    return df.select(
        "order_id",
        "user_id",
        "province_id",
        F.col("cancel_amount").cast("double").alias("cancel_amount"),
        "cancel_time",
        "ts",
    )


@query(
    "dwd_trade_pay_detail_suc",
    O.SQL_DWD_PAY_SUC
    + """
SELECT order_id, user_id, payment_type, payment_type_name,
       CAST(pay_amount AS DOUBLE) AS pay_amount, callback_time, ts
FROM dwd_pay_suc
""",
)
def q_dwd_trade_pay_detail_suc(spark, sf_dir):
    df = dwd.dwd_trade_pay_detail_suc(_topic_db(spark, sf_dir), dims.base_dic(spark))
    return df.select(
        "order_id",
        "user_id",
        "payment_type",
        "payment_type_name",
        F.col("pay_amount").cast("double").alias("pay_amount"),
        "callback_time",
        "ts",
    )


@query(
    "dwd_trade_order_refund",
    """
WITH r AS (
  SELECT o_orderkey AS id, o_orderkey AS order_id, o_custkey AS user_id,
         o_orderkey % 2000 AS sku_id,
         '150' || CAST(1 + o_orderkey % 2 AS VARCHAR) AS refund_type,
         CAST(CAST(o_totalprice AS DECIMAL(16,2)) AS DOUBLE) AS refund_amount,
         CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 7200 AS ts
  FROM orders WHERE o_orderkey % 10 = 5
), oiu AS (
  SELECT o_orderkey AS order_id, o_custkey % 25 AS province_id
  FROM orders WHERE o_orderkey % 10 = 5
)
SELECT r.id, r.order_id, r.user_id, r.sku_id, r.refund_type, r.refund_amount,
       strftime(make_timestamp(r.ts * 1000000), '%Y-%m-%d %H:%M:%S') AS create_time,
       r.ts, oiu.province_id
FROM r LEFT JOIN oiu ON r.order_id = oiu.order_id
""",
)
def q_dwd_trade_order_refund(spark, sf_dir):
    df = dwd.dwd_trade_order_refund(_topic_db(spark, sf_dir))
    return df.select(
        "id",
        "order_id",
        "user_id",
        "sku_id",
        "refund_type",
        F.col("refund_amount").cast("double").alias("refund_amount"),
        "create_time",
        "ts",
        "province_id",
    )


@query(
    "dwd_trade_cart_add",
    O.SQL_DWD_CART_ADD
    + """
SELECT id, user_id, sku_id, sku_num, source_type, ts FROM dwd_cart_add
""",
)
def q_dwd_trade_cart_add(spark, sf_dir):
    df = dwd.dwd_trade_cart_add(_topic_db(spark, sf_dir))
    return df.select("id", "user_id", "sku_id", "sku_num", "source_type", "ts")


@query(
    "dwd_trade_order_add",
    """
WITH od AS (
  SELECT l_orderkey * 8 + l_linenumber AS order_detail_id,
         l_orderkey AS order_id,
         l_partkey AS sku_id,
         CAST(CAST(l_quantity AS INT) AS BIGINT) AS sku_num,
         CAST(CAST(CAST(l_extendedprice AS DECIMAL(16,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS split_total_amount,
         '240' || CAST(1 + l_partkey % 4 AS VARCHAR) AS source_type,
         strftime(make_timestamp((CAST(epoch(l_shipdate) AS BIGINT) + (l_orderkey * 7 + l_linenumber) % 86400) * 1000000), '%Y-%m-%d %H:%M:%S') AS create_time,
         CAST(epoch(l_shipdate) AS BIGINT) + (l_orderkey * 7 + l_linenumber) % 86400 AS ts
  FROM lineitem
), oi AS (
  SELECT o_orderkey AS order_id, o_custkey AS user_id, o_custkey % 25 AS province_id,
         CASE o_orderstatus WHEN 'O' THEN '1001' WHEN 'P' THEN '1002' ELSE '1004' END AS order_status,
         CAST(CAST(o_totalprice AS DECIMAL(16,2)) AS DOUBLE) AS original_total_amount
  FROM orders
)
SELECT od.*, oi.user_id, oi.province_id, oi.order_status, oi.original_total_amount
FROM od JOIN oi USING (order_id)
""",
)
def q_dwd_trade_order_add(spark, sf_dir):
    df = dwd.dwd_trade_order_add(_topic_db(spark, sf_dir))
    return df.select(
        "order_detail_id",
        "order_id",
        "user_id",
        "sku_id",
        "sku_num",
        "province_id",
        "order_status",
        F.col("split_total_amount").cast("double").alias("split_total_amount"),
        F.col("original_total_amount").cast("double").alias("original_total_amount"),
        "source_type",
        "create_time",
        "ts",
    )


@query(
    "dwd_interaction_favor_add",
    """
WITH fav AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         l_suppkey % 500 AS user_id,
         l_partkey AS sku_id,
         CAST(epoch(l_shipdate) AS BIGINT) + (l_orderkey * 7 + l_linenumber) % 86400 AS base_ts,
         l_orderkey % 6 AS mod6
  FROM lineitem
)
SELECT id, user_id, sku_id,
       strftime(make_timestamp(base_ts * 1000000), '%Y-%m-%d') AS date_id,
       strftime(make_timestamp(base_ts * 1000000), '%Y-%m-%d %H:%M:%S') AS create_time,
       CASE WHEN mod6 = 1 THEN base_ts ELSE base_ts + 120 END AS ts
FROM fav WHERE mod6 IN (1, 4)
""",
)
def q_dwd_interaction_favor_add(spark, sf_dir):
    return dwd.dwd_interaction_favor_add(_topic_db(spark, sf_dir))


@query(
    "dwd_interaction_comment",
    f"""
WITH ci AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         l_suppkey % 500 AS user_id,
         l_partkey AS sku_id,
         l_orderkey AS order_id,
         '120' || CAST(1 + l_partkey % 4 AS VARCHAR) AS appraise_code,
         CAST(epoch(l_shipdate) AS BIGINT) + (l_orderkey * 7 + l_linenumber) % 86400 + 600 AS ts
  FROM lineitem WHERE l_orderkey % 9 = 0
), dic AS (SELECT * FROM {{dic}})
SELECT ci.id, ci.user_id, ci.sku_id, ci.order_id,
       strftime(make_timestamp(ci.ts * 1000000), '%Y-%m-%d') AS date_id,
       strftime(make_timestamp(ci.ts * 1000000), '%Y-%m-%d %H:%M:%S') AS create_time,
       ci.appraise_code, dic.dic_name AS appraise_name, ci.ts
FROM ci LEFT JOIN dic ON ci.appraise_code = dic.dic_code
""".format(dic=dims.base_dic_values_sql()),
)
def q_dwd_interaction_comment(spark, sf_dir):
    return dwd.dwd_interaction_comment(_topic_db(spark, sf_dir), dims.base_dic(spark))


@query(
    "dwd_tool_coupon_get",
    """
SELECT o_orderkey AS id,
       1 + o_orderkey % 4 AS coupon_id,
       o_custkey AS user_id,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 300) * 1000000), '%Y-%m-%d') AS date_id,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 300) * 1000000), '%Y-%m-%d %H:%M:%S') AS get_time,
       CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 300 AS ts
FROM orders WHERE o_orderkey % 4 = 1
""",
)
def q_dwd_tool_coupon_get(spark, sf_dir):
    return dwd.dwd_tool_coupon_get(_topic_db(spark, sf_dir))


@query(
    "dwd_tool_coupon_order",
    """
SELECT o_orderkey AS id,
       1 + o_orderkey % 4 AS coupon_id,
       o_custkey AS user_id,
       o_orderkey AS order_id,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 900) * 1000000), '%Y-%m-%d') AS date_id,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 900) * 1000000), '%Y-%m-%d %H:%M:%S') AS order_time,
       CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 900 AS ts
FROM orders WHERE o_orderkey % 8 = 1
""",
)
def q_dwd_tool_coupon_order(spark, sf_dir):
    return dwd.dwd_tool_coupon_order(_topic_db(spark, sf_dir))


@query(
    "dwd_tool_coupon_pay",
    """
SELECT o_orderkey AS id,
       1 + o_orderkey % 4 AS coupon_id,
       o_custkey AS user_id,
       o_orderkey AS order_id,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 1500) * 1000000), '%Y-%m-%d') AS date_id,
       strftime(make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 1500) * 1000000), '%Y-%m-%d %H:%M:%S') AS payment_time,
       CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 1500 AS ts
FROM orders WHERE o_orderkey % 16 = 1
""",
)
def q_dwd_tool_coupon_pay(spark, sf_dir):
    return dwd.dwd_tool_coupon_pay(_topic_db(spark, sf_dir))


@query(
    "dwd_user_register",
    """
WITH u AS (
  SELECT c_custkey AS user_id,
         788918400 + (c_custkey % 30) * 86400 + (c_custkey * 13) % 86400 AS ts
  FROM customer
)
SELECT user_id,
       strftime(make_timestamp(ts * 1000000), '%Y-%m-%d') AS date_id,
       strftime(make_timestamp(ts * 1000000), '%Y-%m-%d %H:%M:%S') AS create_time,
       ts
FROM u
""",
)
def q_dwd_user_register(spark, sf_dir):
    return dwd.dwd_user_register(_topic_db(spark, sf_dir))


def _cart_stream(spark, sf_dir):
    """All cart_info changelog rows flattened (inserts + both updates)."""
    tdb = _topic_db(spark, sf_dir).filter(F.col("table") == "cart_info")
    return tdb.select(
        F.col("data").getItem("id").cast("bigint").alias("id"),
        F.col("data").getItem("user_id").cast("bigint").alias("user_id"),
        F.col("data").getItem("sku_id").cast("bigint").alias("sku_id"),
        F.col("data").getItem("sku_num").cast("bigint").alias("sku_num"),
        F.col("ts"),
    )


@query(
    "cart_changelog_latest",
    O.SQL_DWD_CART_ADD + "\nSELECT id, user_id, sku_id, sku_num, ts FROM cart_latest",
)
def q_cart_changelog_latest(spark, sf_dir):
    """Last-one-wins changelog resolution (SURVEY T4 / S4):
    upsert-kafka 'latest per PK' semantics as an explicit operator."""
    return latest_by_key(
        _cart_stream(spark, sf_dir), ["id"], "ts", tiebreak=["user_id", "sku_id", "sku_num"]
    )


@query(
    "cart_changelog_first",
    O.SQL_DWD_CART_ADD + "\nSELECT id, user_id, sku_id, sku_num, ts FROM cart_first",
)
def q_cart_changelog_first(spark, sf_dir):
    """First-one-wins dedup (SURVEY T3, pay-suc/refund pipelines)."""
    return dedup_first(
        _cart_stream(spark, sf_dir), ["id"], "ts", tiebreak=["user_id", "sku_id", "sku_num"]
    )


@query(
    "cart_scd2_history",
    O.SQL_DWD_CART_ADD
    + """
SELECT id, user_id, sku_id, sku_num, ts,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM cart_stream
WINDOW w AS (PARTITION BY id ORDER BY ts, user_id, sku_id, sku_num)
""",
)
def q_cart_scd2_history(spark, sf_dir):
    """Type-2 SCD history over the cart changelog: every version row
    with its exclusive valid_to and is_current flag — the warehouse
    layer the reference's latest-state dim tables (S4/T4) flatten
    away; as-of dim lookups (X34) join against it."""
    from gmall_spark.operators.dedup import scd2_history

    return scd2_history(
        _cart_stream(spark, sf_dir), ["id"], "ts",
        tiebreak=["user_id", "sku_id", "sku_num"],
    )


@query(
    "dws_trade_province_order_window",
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, prov AS ({O.SQL_PROVINCE_DIM})
SELECT {_SEC_STT} AS stt,
       {_SEC_EDT} AS edt,
       province_id,
       any_value(province_name) AS province_name,
       CAST(COUNT(DISTINCT order_id) AS BIGINT) AS order_count,
       CAST(SUM(split_total_amount) AS DOUBLE) AS order_amount
FROM dwd_order_detail LEFT JOIN prov USING (province_id)
GROUP BY (ts // 10) * 10, province_id
""",
)
def q_dws_trade_province_order_window(spark, sf_dir):
    od = _dwd_order_detail(spark, sf_dir)
    return dws.dws_trade_province_order_window(od, _province_dim(spark, sf_dir))


# No SQL oracle: HLL estimates are implementation-defined (same
# contract as events_uv_sketch_daily) — the driver records the
# rows-only check (row set is identical to the exact twin: same
# grouping keys). Accuracy vs exact is gated by
# tests/test_plan_shape.py::test_approx_window_twins_accuracy.
@query("dws_trade_province_order_window_approx")
def q_dws_trade_province_order_window_approx(spark, sf_dir):
    """HLL twin of the province window (VERDICT r4 item 7): the
    documented 100 TB swap — approx_count_distinct's sketch partials
    merge map-side into constant-size state, so the shuffle carries
    one sketch per (window, province) instead of every distinct
    order id (the exact path was the one r4 bench regression)."""
    od = _dwd_order_detail(spark, sf_dir)
    return dws.dws_trade_province_order_window(
        od, _province_dim(spark, sf_dir), approx=True
    )


@query(
    "dws_trade_cart_add_uu_window",
    O.SQL_DWD_CART_ADD
    + f"""
, flagged AS (
  SELECT *, strftime(make_timestamp(ts * 1000000), '%Y-%m-%d') AS dt,
         row_number() OVER (PARTITION BY user_id, strftime(make_timestamp(ts * 1000000), '%Y-%m-%d')
                            ORDER BY ts, id) AS rn
  FROM dwd_cart_add
)
SELECT {_SEC_STT} AS stt, {_SEC_EDT} AS edt,
       CAST(COUNT(*) AS BIGINT) AS cart_add_uu_ct
FROM flagged WHERE rn = 1
GROUP BY (ts // 10) * 10
""",
)
def q_dws_trade_cart_add_uu_window(spark, sf_dir):
    cart = dwd.dwd_trade_cart_add(_topic_db(spark, sf_dir))
    return dws.dws_trade_cart_add_uu_window(cart)


@query(
    "dws_trade_order_window",
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, e AS (
  SELECT *, strftime(make_timestamp(ts * 1000000), '%Y-%m-%d') AS dt
  FROM dwd_order_detail
), f AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, dt ORDER BY ts, id) AS rn,
         min(dt) OVER (PARTITION BY user_id) AS first_dt
  FROM e
)
SELECT {_SEC_STT} AS stt, {_SEC_EDT} AS edt,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS order_unique_user_count,
       CAST(SUM(CASE WHEN rn = 1 AND dt = first_dt THEN 1 ELSE 0 END) AS BIGINT) AS order_new_user_count,
       CAST(SUM(COALESCE(split_activity_amount, 0)) AS DOUBLE) AS order_activity_reduce_amount,
       CAST(SUM(COALESCE(split_coupon_amount, 0)) AS DOUBLE) AS order_coupon_reduce_amount,
       CAST(SUM(original_total_amount) AS DOUBLE) AS order_origin_total_amount
FROM f
GROUP BY (ts // 10) * 10
""",
)
def q_dws_trade_order_window(spark, sf_dir):
    return dws.dws_trade_order_window(_dwd_order_detail(spark, sf_dir))


@query(
    "dws_trade_payment_suc_window",
    O.SQL_DWD_PAY_SUC
    + f"""
, e AS (
  SELECT *, strftime(make_timestamp(ts * 1000000), '%Y-%m-%d') AS dt
  FROM dwd_pay_suc
), f AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, dt ORDER BY ts, order_id) AS rn,
         min(dt) OVER (PARTITION BY user_id) AS first_dt
  FROM e
)
SELECT {_SEC_STT} AS stt, {_SEC_EDT} AS edt,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS payment_suc_unique_user_count,
       CAST(SUM(CASE WHEN rn = 1 AND dt = first_dt THEN 1 ELSE 0 END) AS BIGINT) AS payment_new_user_count
FROM f
GROUP BY (ts // 10) * 10
""",
)
def q_dws_trade_payment_suc_window(spark, sf_dir):
    pay = dwd.dwd_trade_pay_detail_suc(_topic_db(spark, sf_dir), dims.base_dic(spark))
    return dws.dws_trade_payment_suc_window(pay)


@query(
    "dws_trade_trademark_category_user_order_window",
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, sku AS ({O.SQL_SKU_DIM})
SELECT {_SEC_STT} AS stt, {_SEC_EDT} AS edt,
       trademark_name, category1_name, category2_name, category3_name,
       spu_name, user_id,
       CAST(COUNT(DISTINCT order_id) AS BIGINT) AS order_count,
       CAST(SUM(split_total_amount) AS DOUBLE) AS order_amount
FROM dwd_order_detail LEFT JOIN sku USING (sku_id)
GROUP BY (ts // 10) * 10, trademark_name, category1_name, category2_name,
         category3_name, spu_name, user_id
""",
)
def q_dws_trade_trademark_category_user_order_window(spark, sf_dir):
    od = _dwd_order_detail(spark, sf_dir)
    return dws.dws_trade_trademark_category_user_order_window(
        od, _sku_dim(spark, sf_dir)
    )


# No SQL oracle (HLL, implementation-defined) — rows-only driver
# check; accuracy gated by tests/test_plan_shape.py.
@query("dws_trade_trademark_category_user_order_window_approx")
def q_dws_trade_trademark_category_user_order_window_approx(spark, sf_dir):
    """HLL twin of the trademark/category/user window (VERDICT r4
    item 7 — see the province twin's docstring for the shuffle
    argument)."""
    od = _dwd_order_detail(spark, sf_dir)
    return dws.dws_trade_trademark_category_user_order_window(
        od, _sku_dim(spark, sf_dir), approx=True
    )


@query(
    "dws_trade_trademark_category_user_refund_window",
    f"""
WITH r AS (
  SELECT o_orderkey AS order_id, o_custkey AS user_id, o_orderkey % 2000 AS sku_id,
         CAST(CAST(o_totalprice AS DECIMAL(16,2)) AS DECIMAL(18,4)) AS refund_amount,
         CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 7200 AS ts
  FROM orders WHERE o_orderkey % 10 = 5
), sku AS ({O.SQL_SKU_DIM})
SELECT {_SEC_STT} AS stt, {_SEC_EDT} AS edt,
       sku_id, trademark_name, category1_name, category2_name,
       category3_name, user_id,
       CAST(COUNT(DISTINCT order_id) AS BIGINT) AS refund_count,
       CAST(SUM(refund_amount) AS DOUBLE) AS refund_amount
FROM r LEFT JOIN sku USING (sku_id)
GROUP BY (ts // 10) * 10, sku_id, trademark_name, category1_name,
         category2_name, category3_name, user_id
""",
)
def q_dws_trade_trademark_category_user_refund_window(spark, sf_dir):
    rf = dwd.dwd_trade_order_refund(_topic_db(spark, sf_dir)).withColumn(
        "refund_amount", F.col("refund_amount").cast("decimal(18,4)")
    )
    return dws.dws_trade_trademark_category_user_refund_window(
        rf, _sku_dim(spark, sf_dir)
    )


@query(
    "ads_trade_stats_by_day",
    O.SQL_DWD_ORDER_DETAIL
    + """
SELECT strftime(make_timestamp(ts * 1000000), '%Y-%m-%d') AS dt,
       CAST(COUNT(DISTINCT order_id) AS BIGINT) AS order_count,
       CAST(SUM(split_total_amount) AS DOUBLE) AS order_amount
FROM dwd_order_detail
GROUP BY 1
""",
)
def q_ads_trade_stats_by_day(spark, sf_dir):
    return ads.trade_stats_by_day(_dwd_order_detail(spark, sf_dir))


@query(
    "ads_trade_stats_union",
    O.SQL_DWD_ORDER_DETAIL
    + """
, cancels AS (
  SELECT o_orderkey AS order_id, CAST(o_totalprice AS DECIMAL(16,2)) AS cancel_amount
  FROM orders WHERE o_orderkey % 10 = 0
), refunds AS (
  SELECT o_orderkey AS order_id, CAST(o_totalprice AS DECIMAL(16,2)) AS refund_amount
  FROM orders WHERE o_orderkey % 10 = 5
)
SELECT 'order' AS type, CAST(COUNT(DISTINCT order_id) AS BIGINT) AS order_ct,
       CAST(SUM(split_total_amount) AS DOUBLE) AS order_amount
FROM dwd_order_detail
UNION ALL
SELECT 'cancel', CAST(COUNT(DISTINCT order_id) AS BIGINT),
       CAST(SUM(cancel_amount) AS DOUBLE) FROM cancels
UNION ALL
SELECT 'refund', CAST(COUNT(DISTINCT order_id) AS BIGINT),
       CAST(SUM(refund_amount) AS DOUBLE) FROM refunds
""",
)
def q_ads_trade_stats_union(spark, sf_dir):
    tdb = _topic_db(spark, sf_dir)
    od = _dwd_order_detail(spark, sf_dir)
    return ads.trade_stats_union(
        od,
        dwd.dwd_trade_cancel_detail(tdb).withColumn(
            "cancel_amount", F.col("cancel_amount").cast("decimal(18,4)")
        ),
        dwd.dwd_trade_order_refund(tdb).withColumn(
            "refund_amount", F.col("refund_amount").cast("decimal(18,4)")
        ),
    )


@query(
    "ads_commodity_stats_full_outer",
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, sku AS ({O.SQL_SKU_DIM})
, o AS (
  SELECT trademark_name, CAST(COUNT(DISTINCT order_id) AS BIGINT) AS order_ct,
         CAST(SUM(split_total_amount) AS DOUBLE) AS order_amount
  FROM dwd_order_detail LEFT JOIN sku USING (sku_id)
  GROUP BY trademark_name
), rf AS (
  SELECT trademark_name, CAST(COUNT(DISTINCT order_id) AS BIGINT) AS refund_ct,
         CAST(SUM(refund_amount) AS DOUBLE) AS refund_amount
  FROM (
    SELECT o_orderkey AS order_id, o_orderkey % 2000 AS sku_id,
           CAST(CAST(o_totalprice AS DECIMAL(16,2)) AS DECIMAL(18,4)) AS refund_amount
    FROM orders WHERE o_orderkey % 10 = 5
  ) r LEFT JOIN sku USING (sku_id)
  GROUP BY trademark_name
)
SELECT coalesce(o.trademark_name, rf.trademark_name) AS trademark_name,
       o.order_ct, o.order_amount, rf.refund_ct, rf.refund_amount
FROM o FULL OUTER JOIN rf ON o.trademark_name = rf.trademark_name
""",
)
def q_ads_commodity_stats_full_outer(spark, sf_dir):
    tdb = _topic_db(spark, sf_dir)
    od = _dwd_order_detail(spark, sf_dir)
    rf = dwd.dwd_trade_order_refund(tdb).withColumn(
        "refund_amount", F.col("refund_amount").cast("decimal(18,4)")
    )
    return ads.commodity_stats_full_outer(od, rf, _sku_dim(spark, sf_dir))


@query(
    "ads_activity_stats",
    O.SQL_DWD_ORDER_DETAIL
    + """
SELECT activity_id,
       CAST(SUM(COALESCE(split_activity_amount, 0)) AS DOUBLE) AS reduce_amount,
       CAST(SUM(split_total_amount) AS DOUBLE) AS origin_amount,
       round(CAST(SUM(COALESCE(split_activity_amount, 0)) AS DOUBLE)
             / CAST(SUM(split_total_amount) AS DOUBLE), 4) AS subsidy_rate
FROM dwd_order_detail WHERE activity_id IS NOT NULL
GROUP BY activity_id
""",
)
def q_ads_activity_stats(spark, sf_dir):
    return ads.activity_stats(_dwd_order_detail(spark, sf_dir))


@query(
    "ads_coupon_stats",
    O.SQL_DWD_ORDER_DETAIL
    + """
SELECT coupon_id,
       CAST(SUM(COALESCE(split_coupon_amount, 0)) AS DOUBLE) AS reduce_amount,
       CAST(SUM(split_total_amount) AS DOUBLE) AS origin_amount,
       round(CAST(SUM(COALESCE(split_coupon_amount, 0)) AS DOUBLE)
             / CAST(SUM(split_total_amount) AS DOUBLE), 4) AS subsidy_rate
FROM dwd_order_detail WHERE coupon_id IS NOT NULL
GROUP BY coupon_id
""",
)
def q_ads_coupon_stats(spark, sf_dir):
    return ads.coupon_stats(_dwd_order_detail(spark, sf_dir))


# --- publisher commodity/user packs ----------------------------------------
# (CommodityStatsMapper.java / UserStatsMapper.java day-grain rollups over
#  the DWS window tables; the reference's #{date} parameter becomes a dt
#  grouping column.)


def _tm_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dws.dws_trade_trademark_category_user_order_window(
        _dwd_order_detail(spark, sf_dir), _sku_dim(spark, sf_dir)
    )


def _tm_refund_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    rf = dwd.dwd_trade_order_refund(_topic_db(spark, sf_dir)).withColumn(
        "refund_amount", F.col("refund_amount").cast("decimal(18,4)")
    )
    return dws.dws_trade_trademark_category_user_refund_window(
        rf, _sku_dim(spark, sf_dir)
    )


def _with_chain(first: str, *rest: str) -> str:
    """Chain several ``WITH ...`` oracle fragments into one WITH clause
    (fragments after the first get their ``WITH`` keyword stripped)."""
    out = first.rstrip()
    for frag in rest:
        body = frag.strip()
        assert body[:5].upper() == "WITH ", "fragment must start with WITH"
        out += ",\n" + body[5:]
    return out + "\n"


# window-grain twins of the two trademark/category DWS tables, shared by
# the commodity-stats oracles (uu counts need the window-grain user key)
_SQL_TM_WINDOWS = (
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, sku AS ({O.SQL_SKU_DIM})
, ow AS (
  SELECT (ts // 10) * 10 AS ws, trademark_name, category1_name, category2_name,
         category3_name, spu_name, user_id,
         COUNT(DISTINCT order_id) AS order_count,
         SUM(split_total_amount) AS order_amount
  FROM dwd_order_detail LEFT JOIN sku USING (sku_id)
  GROUP BY 1, 2, 3, 4, 5, 6, 7
), r0 AS (
  SELECT o_orderkey AS order_id, o_custkey AS user_id, o_orderkey % 2000 AS sku_id,
         CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 7200 AS ts
  FROM orders WHERE o_orderkey % 10 = 5
), rw AS (
  SELECT (ts // 10) * 10 AS ws, sku_id, trademark_name, category1_name,
         category2_name, category3_name, user_id,
         COUNT(DISTINCT order_id) AS refund_count
  FROM r0 LEFT JOIN sku USING (sku_id)
  GROUP BY 1, 2, 3, 4, 5, 6, 7
)
"""
)

_WS_DT = "strftime(make_timestamp(ws * 1000000), '%Y-%m-%d')"
_TS_DT = "strftime(make_timestamp(ts * 1000000), '%Y-%m-%d')"


@query(
    "ads_commodity_stats_trademark",
    _SQL_TM_WINDOWS
    + f"""
, o AS (
  SELECT {_WS_DT} AS dt, trademark_name,
         CAST(SUM(order_count) AS BIGINT) AS order_count,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uu_count,
         CAST(SUM(order_amount) AS DOUBLE) AS order_amount
  FROM ow GROUP BY 1, 2
), r AS (
  SELECT {_WS_DT} AS dt, trademark_name,
         CAST(SUM(refund_count) AS BIGINT) AS refund_count,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS refund_uu_count
  FROM rw GROUP BY 1, 2
)
SELECT dt, trademark_name, order_count, uu_count, order_amount,
       refund_count, refund_uu_count
FROM o FULL OUTER JOIN r USING (dt, trademark_name)
""",
)
def q_ads_commodity_stats_trademark(spark, sf_dir):
    return ads.commodity_stats_trademark(
        _tm_order_window(spark, sf_dir), _tm_refund_window(spark, sf_dir)
    )


@query(
    "ads_commodity_stats_category",
    _SQL_TM_WINDOWS
    + f"""
, o AS (
  SELECT {_WS_DT} AS dt, category1_name, category2_name, category3_name,
         CAST(SUM(order_count) AS BIGINT) AS order_count,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uu_count,
         CAST(SUM(order_amount) AS DOUBLE) AS order_amount
  FROM ow GROUP BY 1, 2, 3, 4
), r AS (
  SELECT {_WS_DT} AS dt, category1_name, category2_name, category3_name,
         CAST(SUM(refund_count) AS BIGINT) AS refund_count,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS refund_uu_count
  FROM rw GROUP BY 1, 2, 3, 4
)
SELECT dt, category1_name, category2_name, category3_name,
       order_count, uu_count, order_amount, refund_count, refund_uu_count
FROM o FULL OUTER JOIN r USING (dt, category1_name, category2_name, category3_name)
""",
)
def q_ads_commodity_stats_category(spark, sf_dir):
    return ads.commodity_stats_category(
        _tm_order_window(spark, sf_dir), _tm_refund_window(spark, sf_dir)
    )


@query(
    "ads_commodity_stats_spu",
    _SQL_TM_WINDOWS
    + f"""
SELECT {_WS_DT} AS dt, spu_name,
       CAST(SUM(order_count) AS BIGINT) AS order_count,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uu_count,
       CAST(SUM(order_amount) AS DOUBLE) AS order_amount
FROM ow GROUP BY 1, 2
""",
)
def q_ads_commodity_stats_spu(spark, sf_dir):
    return ads.commodity_stats_spu(_tm_order_window(spark, sf_dir))


@query(
    "ads_trademark_order_amount_pie",
    _SQL_TM_WINDOWS
    + f"""
SELECT {_WS_DT} AS dt, trademark_name,
       CAST(SUM(order_amount) AS DOUBLE) AS order_amount
FROM ow GROUP BY 1, 2
""",
)
def q_ads_trademark_order_amount_pie(spark, sf_dir):
    return ads.trademark_order_amount_pie(_tm_order_window(spark, sf_dir))


@query(
    "ads_user_uv_by_page",
    None,  # composed below (needs three chained WITH fragments)
)
def q_ads_user_uv_by_page(spark, sf_dir):
    tdb = _topic_db(spark, sf_dir)
    return ads.user_uv_by_page(
        traffic.dws_traffic_page_view_window(_page_log(spark, sf_dir)),
        dws.dws_trade_cart_add_uu_window(dwd.dwd_trade_cart_add(tdb)),
        dws.dws_trade_order_window(_dwd_order_detail(spark, sf_dir)),
        dws.dws_trade_payment_suc_window(
            dwd.dwd_trade_pay_detail_suc(tdb, dims.base_dic(spark))
        ),
    )


ORACLES["ads_user_uv_by_page"] = (
    _with_chain(O.SQL_PAGE_LOG, O.SQL_DWD_CART_ADD, O.SQL_DWD_ORDER_DETAIL)
    + f"""
, pay0 AS (
  SELECT o_orderkey AS order_id, o_custkey AS user_id,
         CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 1800 AS ts
  FROM orders WHERE o_orderkey % 3 = 0
), hp AS (
  SELECT *, row_number() OVER (PARTITION BY mid, dt, page_id ORDER BY ts_us, event_id) AS rn
  FROM page_log WHERE page_id IN ('home', 'good_detail')
), cartf AS (
  SELECT {_TS_DT} AS cdt,
         row_number() OVER (PARTITION BY user_id, {_TS_DT} ORDER BY ts, id) AS rn
  FROM dwd_cart_add
), odf AS (
  SELECT {_TS_DT} AS odt,
         row_number() OVER (PARTITION BY user_id, {_TS_DT} ORDER BY ts, id) AS rn
  FROM dwd_order_detail
), payf AS (
  SELECT {_TS_DT} AS pdt,
         row_number() OVER (PARTITION BY user_id, {_TS_DT} ORDER BY ts, order_id) AS rn
  FROM pay0
)
SELECT dt, 'home' AS page_id,
       CAST(SUM(CASE WHEN page_id = 'home' AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct
FROM hp GROUP BY dt
UNION ALL
SELECT dt, 'good_detail',
       CAST(SUM(CASE WHEN page_id = 'good_detail' AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM hp GROUP BY dt
UNION ALL
SELECT cdt, 'cart', CAST(COUNT(*) AS BIGINT) FROM cartf WHERE rn = 1 GROUP BY cdt
UNION ALL
SELECT odt, 'trade', CAST(COUNT(*) AS BIGINT) FROM odf WHERE rn = 1 GROUP BY odt
UNION ALL
SELECT pdt, 'payment', CAST(COUNT(*) AS BIGINT) FROM payf WHERE rn = 1 GROUP BY pdt
"""
)


@query(
    "ads_user_change_ct_per_type",
    O.SQL_PAGE_LOG
    + """
, logins AS (
  SELECT * FROM page_log WHERE is_session_start = 1 AND user_id IS NOT NULL
), uu AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, dt ORDER BY ts_us, event_id) AS rn
  FROM logins
), back AS (
  SELECT *, lag(dt) OVER (PARTITION BY user_id ORDER BY dt) AS prev_dt
  FROM uu WHERE rn = 1
)
SELECT dt, 'backCt' AS type,
       CAST(SUM(CASE WHEN prev_dt IS NOT NULL
                      AND date_diff('day', CAST(prev_dt AS DATE), CAST(dt AS DATE)) >= 8
                     THEN 1 ELSE 0 END) AS BIGINT) AS user_ct
FROM back GROUP BY dt
UNION ALL
SELECT dt, 'activeUserCt', CAST(COUNT(*) AS BIGINT) FROM back GROUP BY dt
UNION ALL
SELECT dt, 'newUserCt', CAST(COUNT(*) AS BIGINT)
FROM page_log WHERE page_id = 'register' GROUP BY dt
""",
)
def q_ads_user_change_ct_per_type(spark, sf_dir):
    pl = _page_log(spark, sf_dir)
    return ads.user_change_ct_per_type(
        user.dws_user_user_login_window(pl), user.dws_user_user_register_window(pl)
    )


@query(
    "ads_trade_user_ct",
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, pay0 AS (
  SELECT o_orderkey AS order_id, o_custkey AS user_id,
         CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 1800 AS ts
  FROM orders WHERE o_orderkey % 3 = 0
), odf AS (
  SELECT {_TS_DT} AS dt,
         row_number() OVER (PARTITION BY user_id, {_TS_DT} ORDER BY ts, id) AS rn,
         min({_TS_DT}) OVER (PARTITION BY user_id) AS first_dt
  FROM dwd_order_detail
), payf AS (
  SELECT {_TS_DT} AS dt,
         row_number() OVER (PARTITION BY user_id, {_TS_DT} ORDER BY ts, order_id) AS rn,
         min({_TS_DT}) OVER (PARTITION BY user_id) AS first_dt
  FROM pay0
)
SELECT dt, 'order' AS trade_type,
       CAST(SUM(CASE WHEN rn = 1 AND dt = first_dt THEN 1 ELSE 0 END) AS BIGINT) AS new_user_ct
FROM odf GROUP BY dt
UNION ALL
SELECT dt, 'payment',
       CAST(SUM(CASE WHEN rn = 1 AND dt = first_dt THEN 1 ELSE 0 END) AS BIGINT)
FROM payf GROUP BY dt
""",
)
def q_ads_trade_user_ct(spark, sf_dir):
    tdb = _topic_db(spark, sf_dir)
    return ads.trade_user_ct(
        dws.dws_trade_order_window(_dwd_order_detail(spark, sf_dir)),
        dws.dws_trade_payment_suc_window(
            dwd.dwd_trade_pay_detail_suc(tdb, dims.base_dic(spark))
        ),
    )


# ===========================================================================
# Traffic domain (log envelope -> DWD -> DWS -> ADS)
# ===========================================================================

_PAGE_COLS_SQL = (
    "mid, user_id, vc, ch, ar, is_new, page_id, last_page_id, item, item_type, "
    "during_time, ts_us, dt, is_session_start, event_id"
)


@query(
    "dwd_traffic_page_log",
    O.SQL_PAGE_LOG + f"SELECT {_PAGE_COLS_SQL} FROM page_log",
)
def q_dwd_traffic_page_log(spark, sf_dir):
    return traffic.dwd_traffic_page_log(_page_log(spark, sf_dir))


@query(
    "dwd_traffic_display_log",
    O.SQL_PAGE_LOG
    + """
SELECT mid, page_id,
       'sku' || CAST(event_id % 100 AS VARCHAR) AS display_item,
       'sku_id' AS display_item_type,
       CAST(1 AS BIGINT) AS pos_id, ts_us
FROM page_log WHERE is_view
UNION ALL
SELECT mid, page_id,
       'sku' || CAST((event_id * 7) % 100 AS VARCHAR),
       'sku_id', CAST(2 AS BIGINT), ts_us
FROM page_log WHERE is_view
""",
)
def q_dwd_traffic_display_log(spark, sf_dir):
    return traffic.dwd_traffic_display_log(_page_log(spark, sf_dir))


@query(
    "dwd_traffic_action_log",
    O.SQL_PAGE_LOG
    + """
SELECT mid, page_id,
       CASE WHEN event_id % 2 = 0 THEN 'cart_add' ELSE 'favor_add' END AS action_id,
       'sku' || CAST(event_id % 100 AS VARCHAR) AS action_item,
       'sku_id' AS action_item_type,
       CAST(ts_us // 1000 + during_time // 2 AS BIGINT) AS action_ts
FROM page_log
WHERE page_id = 'home'
""",
)
def q_dwd_traffic_action_log(spark, sf_dir):
    return traffic.dwd_traffic_action_log(_page_log(spark, sf_dir))


@query(
    "dwd_traffic_start_log",
    O.SQL_PAGE_LOG
    + """
SELECT mid, vc, ch, ar,
       (['icon','notice','install'])[CAST(1 + event_id % 3 AS INT)] AS entry,
       CAST(event_id % 2000 AS BIGINT) AS loading_time,
       CAST(event_id % 10 AS BIGINT) AS open_ad_id,
       ts_us
FROM page_log WHERE last_page_id IS NULL
""",
)
def q_dwd_traffic_start_log(spark, sf_dir):
    return traffic.dwd_traffic_start_log(_page_log(spark, sf_dir))


@query(
    "dwd_traffic_error_log",
    O.SQL_PAGE_LOG
    + """
SELECT mid, page_id,
       CAST(2001 + event_id % 5 AS BIGINT) AS error_code,
       'err_' || CAST(event_id % 7 AS VARCHAR) AS msg,
       ts_us
FROM page_log WHERE event_id % 31 = 0
""",
)
def q_dwd_traffic_error_log(spark, sf_dir):
    return traffic.dwd_traffic_error_log(_page_log(spark, sf_dir))


@query(
    "dwd_traffic_unique_visitor_detail",
    O.SQL_PAGE_LOG
    + f"""
, flagged AS (
  SELECT *, row_number() OVER (PARTITION BY mid, dt ORDER BY ts_us, event_id) AS rn
  FROM page_log
)
SELECT {_PAGE_COLS_SQL} FROM flagged WHERE rn = 1
""",
)
def q_dwd_traffic_unique_visitor_detail(spark, sf_dir):
    return traffic.dwd_traffic_unique_visitor_detail(_page_log(spark, sf_dir))


@query(
    "dwd_traffic_user_jump_detail",
    O.SQL_PAGE_LOG
    + f"""
, led AS (
  SELECT *, lead(ts_us) OVER w AS nxt_ts, lead(is_session_start) OVER w AS nxt_start
  FROM page_log
  WINDOW w AS (PARTITION BY mid ORDER BY ts_us, event_id)
)
SELECT {_PAGE_COLS_SQL} FROM led
WHERE is_session_start = 1
  AND (nxt_ts IS NULL OR nxt_ts - ts_us > 10000000 OR nxt_start = 1)
""",
)
def q_dwd_traffic_user_jump_detail(spark, sf_dir):
    return traffic.dwd_traffic_user_jump_detail(_page_log(spark, sf_dir))


_SQL_TRAFFIC_FLAGS = (
    O.SQL_PAGE_LOG
    + """
, repaired AS (
  SELECT *,
         CASE WHEN is_new = '1' AND dt <> min(dt) OVER (PARTITION BY mid)
              THEN '0' ELSE is_new END AS is_new_r,
         row_number() OVER (PARTITION BY mid, dt ORDER BY ts_us, event_id) AS rn
  FROM page_log
), jumps AS (
  SELECT event_id FROM (
    SELECT event_id, is_session_start, ts_us,
           lead(ts_us) OVER w AS nxt_ts,
           lead(is_session_start) OVER w AS nxt_start
    FROM page_log
    WINDOW w AS (PARTITION BY mid ORDER BY ts_us, event_id)
  ) WHERE is_session_start = 1
      AND (nxt_ts IS NULL OR nxt_ts - ts_us > 10000000 OR nxt_start = 1)
), flagged AS (
  SELECT r.*, CASE WHEN j.event_id IS NULL THEN 0 ELSE 1 END AS uj_flag
  FROM repaired r LEFT JOIN jumps j ON r.event_id = j.event_id
)
"""
)


@query(
    "dws_traffic_vc_ch_ar_isnew_page_view_window",
    _SQL_TRAFFIC_FLAGS
    + f"""
SELECT {O.tumble_stt()} AS stt, {O.tumble_edt()} AS edt,
       vc, ch, ar, is_new_r AS is_new,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
       CAST(SUM(is_session_start) AS BIGINT) AS sv_ct,
       CAST(COUNT(*) AS BIGINT) AS pv_ct,
       CAST(SUM(during_time) AS BIGINT) AS dur_sum,
       CAST(SUM(uj_flag) AS BIGINT) AS uj_ct
FROM flagged
GROUP BY ts_us // 10000000, vc, ch, ar, is_new_r
""",
)
def q_dws_traffic_vc_ch_ar_isnew_page_view_window(spark, sf_dir):
    return traffic.dws_traffic_vc_ch_ar_isnew_page_view_window(
        _page_log(spark, sf_dir)
    )


@query(
    "dws_traffic_source_keyword_page_view_window",
    O.SQL_PAGE_LOG
    + f"""
, words AS (
  SELECT unnest({O.segment_keywords_sql('item')}) AS keyword, ts_us
  FROM page_log
  WHERE item_type = 'keyword' AND last_page_id = 'search' AND item IS NOT NULL
)
SELECT {O.tumble_stt()} AS stt, {O.tumble_edt()} AS edt, keyword,
       CAST(COUNT(*) AS BIGINT) AS keyword_count
FROM words WHERE len(keyword) > 0
GROUP BY ts_us // 10000000, keyword
""",
)
def q_dws_traffic_source_keyword_page_view_window(spark, sf_dir):
    return traffic.dws_traffic_source_keyword_page_view_window(
        _page_log(spark, sf_dir)
    )


@query(
    "dws_traffic_page_view_window",
    O.SQL_PAGE_LOG
    + f"""
, hp AS (
  SELECT *, row_number() OVER (PARTITION BY mid, dt, page_id ORDER BY ts_us, event_id) AS rn
  FROM page_log WHERE page_id IN ('home', 'good_detail')
)
SELECT {O.tumble_stt()} AS stt, {O.tumble_edt()} AS edt,
       CAST(SUM(CASE WHEN page_id = 'home' AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS home_uv_ct,
       CAST(SUM(CASE WHEN page_id = 'good_detail' AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS good_detail_uv_ct
FROM hp
GROUP BY ts_us // 10000000
""",
)
def q_dws_traffic_page_view_window(spark, sf_dir):
    return traffic.dws_traffic_page_view_window(_page_log(spark, sf_dir))


@query(
    "dws_user_user_login_window",
    O.SQL_PAGE_LOG
    + f"""
, logins AS (
  SELECT * FROM page_log WHERE is_session_start = 1 AND user_id IS NOT NULL
), uu AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, dt ORDER BY ts_us, event_id) AS rn
  FROM logins
), back AS (
  SELECT *, lag(dt) OVER (PARTITION BY user_id ORDER BY dt) AS prev_dt
  FROM uu WHERE rn = 1
)
SELECT {O.tumble_stt()} AS stt, {O.tumble_edt()} AS edt,
       CAST(COUNT(*) AS BIGINT) AS uu_ct,
       CAST(SUM(CASE WHEN prev_dt IS NOT NULL
                      AND date_diff('day', CAST(prev_dt AS DATE), CAST(dt AS DATE)) >= 8
                     THEN 1 ELSE 0 END) AS BIGINT) AS back_ct
FROM back
GROUP BY ts_us // 10000000
""",
)
def q_dws_user_user_login_window(spark, sf_dir):
    return user.dws_user_user_login_window(_page_log(spark, sf_dir))


@query(
    "dws_user_user_register_window",
    O.SQL_PAGE_LOG
    + f"""
SELECT {O.tumble_stt()} AS stt, {O.tumble_edt()} AS edt,
       CAST(COUNT(*) AS BIGINT) AS register_ct
FROM page_log WHERE page_id = 'register'
GROUP BY ts_us // 10000000
""",
)
def q_dws_user_user_register_window(spark, sf_dir):
    return user.dws_user_user_register_window(_page_log(spark, sf_dir))


@query(
    "ads_traffic_channel_stats",
    _SQL_TRAFFIC_FLAGS
    + """
SELECT dt, ch,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
       CAST(SUM(is_session_start) AS BIGINT) AS sv_ct,
       CAST(COUNT(*) AS BIGINT) AS pv_ct,
       CAST(COUNT(*) AS DOUBLE) / nullif(CAST(SUM(is_session_start) AS DOUBLE), 0) AS pv_per_session,
       CAST(SUM(during_time) AS DOUBLE) / nullif(CAST(SUM(is_session_start) AS DOUBLE), 0) AS dur_per_session,
       CAST(SUM(uj_flag) AS DOUBLE) / nullif(CAST(SUM(is_session_start) AS DOUBLE), 0) AS uj_rate
FROM flagged
GROUP BY dt, ch
""",
)
def q_ads_traffic_channel_stats(spark, sf_dir):
    vc = traffic.dws_traffic_vc_ch_ar_isnew_page_view_window(_page_log(spark, sf_dir))
    return ads.traffic_channel_stats(vc)


@query(
    "ads_traffic_visitor_stats_by_hour",
    _SQL_TRAFFIC_FLAGS
    + """
SELECT dt,
       CAST(strftime(make_timestamp(ts_us), '%H') AS BIGINT) AS hr,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
       CAST(SUM(CASE WHEN rn = 1 AND is_new_r = '1' THEN 1 ELSE 0 END) AS BIGINT) AS new_uv_ct,
       CAST(SUM(is_session_start) AS BIGINT) AS sv_ct,
       CAST(COUNT(*) AS BIGINT) AS pv_ct
FROM flagged
GROUP BY dt, strftime(make_timestamp(ts_us), '%H')
""",
)
def q_ads_traffic_visitor_stats_by_hour(spark, sf_dir):
    vc = traffic.dws_traffic_vc_ch_ar_isnew_page_view_window(_page_log(spark, sf_dir))
    return ads.traffic_visitor_stats_by_hour(vc)


@query(
    "ads_traffic_keywords",
    O.SQL_PAGE_LOG
    + """
, words AS (
  SELECT unnest(string_split(lower(item), ' ')) AS keyword, ch
  FROM page_log
  WHERE item_type = 'keyword' AND last_page_id = 'search' AND item IS NOT NULL
)
SELECT keyword,
       CAST(COUNT(*) AS BIGINT) AS keyword_ct,
       CAST(SUM(CASE ch WHEN 'appstore' THEN 10 WHEN 'web' THEN 5 ELSE 2 END) AS BIGINT) AS keyword_score
FROM words WHERE len(keyword) > 0
GROUP BY keyword
""",
)
def q_ads_traffic_keywords(spark, sf_dir):
    pl = _page_log(spark, sf_dir)
    searches = pl.filter(
        (F.col("item_type") == "keyword")
        & (F.col("last_page_id") == "search")
        & F.col("item").isNotNull()
    ).select(
        F.explode(F.split(F.lower(F.col("item")), "\\s+")).alias("keyword"),
        "ch",
    ).filter(F.length("keyword") > 0)
    return ads.traffic_keywords(searches)


@query(
    "ads_user_stats_union",
    O.SQL_PAGE_LOG
    + O.SQL_DWD_ORDER_DETAIL.replace("WITH od AS", ", od AS", 1)
    + """
SELECT 'register' AS type, CAST(COUNT(*) AS BIGINT) AS user_ct
FROM page_log WHERE page_id = 'register'
UNION ALL
SELECT 'active', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM page_log
UNION ALL
SELECT 'order', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM dwd_order_detail
""",
)
def q_ads_user_stats_union(spark, sf_dir):
    return ads.user_stats_union(
        _page_log(spark, sf_dir), _dwd_order_detail(spark, sf_dir)
    )


@query(
    "ads_trade_province_stats",
    O.SQL_DWD_ORDER_DETAIL
    + f"""
, prov AS ({O.SQL_PROVINCE_DIM})
, win AS (
  SELECT (ts // 10) * 10 AS wstart, province_id,
         any_value(province_name) AS province_name,
         COUNT(DISTINCT order_id) AS order_count,
         SUM(split_total_amount) AS order_amount
  FROM dwd_order_detail LEFT JOIN prov USING (province_id)
  GROUP BY (ts // 10) * 10, province_id
)
SELECT strftime(make_timestamp(wstart * 1000000), '%Y-%m-%d') AS dt,
       province_id,
       any_value(province_name) AS province_name,
       CAST(SUM(order_count) AS BIGINT) AS order_count,
       CAST(SUM(order_amount) AS DOUBLE) AS order_amount
FROM win
GROUP BY strftime(make_timestamp(wstart * 1000000), '%Y-%m-%d'), province_id
""",
)
def q_ads_trade_province_stats(spark, sf_dir):
    od = _dwd_order_detail(spark, sf_dir)
    pw = dws.dws_trade_province_order_window(od, _province_dim(spark, sf_dir))
    return ads.trade_province_stats(pw)


@query(
    "ads_uv_by_channel",
    _SQL_TRAFFIC_FLAGS
    + """
SELECT dt, ch,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv,
       CAST(SUM(uj_flag) AS BIGINT) AS uj
FROM flagged
GROUP BY dt, ch
""",
)
def q_ads_uv_by_channel(spark, sf_dir):
    vc = traffic.dws_traffic_vc_ch_ar_isnew_page_view_window(_page_log(spark, sf_dir))
    return ads.uv_by_channel(vc)


@query(
    "ads_traffic_visitor_stats_by_isnew",
    _SQL_TRAFFIC_FLAGS
    + """
SELECT dt, is_new_r AS is_new,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
       CAST(COUNT(*) AS BIGINT) AS pv_ct,
       CAST(SUM(is_session_start) AS BIGINT) AS sv_ct,
       CAST(SUM(uj_flag) AS BIGINT) AS uj_ct,
       CAST(SUM(during_time) AS BIGINT) AS dur_sum
FROM flagged
GROUP BY dt, is_new_r
""",
)
def q_ads_traffic_visitor_stats_by_isnew(spark, sf_dir):
    vc = traffic.dws_traffic_vc_ch_ar_isnew_page_view_window(_page_log(spark, sf_dir))
    return ads.traffic_visitor_stats_by_isnew(vc)


# ===========================================================================
# DIM layer (config-driven routing, SURVEY T6/S8/P13)
# ===========================================================================


@query(
    "dim_user_info",
    """
WITH u AS (
  SELECT c_custkey, c_name,
         788918400 + (c_custkey % 30) * 86400 + (c_custkey * 13) % 86400 AS ts
  FROM customer
  WHERE c_custkey % 50 <> 0  -- tombstoned: delete envelope 1h after insert
)
SELECT CAST(c_custkey AS VARCHAR) AS id,
       c_name AS name,
       strftime(make_timestamp(ts * 1000000), '%Y-%m-%d %H:%M:%S') AS create_time,
       ts
FROM u
""",
)
def q_dim_user_info(spark, sf_dir):
    """Config-routed dim table: user_info -> dim_user_info with
    sink_columns pruning + latest-per-PK upsert resolution and CDC
    delete tombstones (every 50th user is deleted in the fixture)."""
    return dim.route_all(_topic_db(spark, sf_dir))["dim_user_info"]


@query(
    "dim_coupon_use",
    """
WITH c AS (
  SELECT o_orderkey AS k,
         CAST(o_orderkey AS VARCHAR) AS id,
         CAST(1 + o_orderkey % 4 AS VARCHAR) AS coupon_id,
         CAST(o_custkey AS VARCHAR) AS user_id,
         CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey % 86400 + 300 AS base_ts
  FROM orders WHERE o_orderkey % 4 = 1
)
SELECT id, coupon_id, user_id,
       strftime(make_timestamp(base_ts * 1000000), '%Y-%m-%d %H:%M:%S') AS get_time,
       CASE WHEN k % 8 = 1 THEN strftime(make_timestamp((base_ts + 600) * 1000000), '%Y-%m-%d %H:%M:%S') END AS using_time,
       CASE WHEN k % 16 = 1 THEN strftime(make_timestamp((base_ts + 1200) * 1000000), '%Y-%m-%d %H:%M:%S') END AS used_time,
       CASE WHEN k % 16 = 1 THEN base_ts + 1200
            WHEN k % 8 = 1 THEN base_ts + 600
            ELSE base_ts END AS ts
FROM c
""",
)
def q_dim_coupon_use(spark, sf_dir):
    """Config-routed dim with a real changelog: coupon_use upserts
    resolve to the latest image per PK (get -> using -> used)."""
    return dim.route_all(_topic_db(spark, sf_dir))["dim_coupon_use"]


# ===========================================================================
# Generic relational operators
# ===========================================================================


@query(
    "interval_join_events",
    """
WITH a AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'
), b AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
)
SELECT a.event_id AS view_event_id, b.event_id AS purchase_event_id,
       a.user_id, b.ts_us - a.ts_us AS gap_us
FROM a JOIN b ON a.user_id = b.user_id
  AND b.ts_us BETWEEN a.ts_us - 7200000000 AND a.ts_us + 7200000000
""",
)
def q_interval_join_events(spark, sf_dir):
    """Event-time interval join ±2 h on user (ref DataStreamJoinTest.
    java:48-56 uses ±5 s, SURVEY J7; widened to the test data's event
    density): native range-predicate join in Spark."""
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.unix_micros("ts").alias("a_ts_us"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.unix_micros("ts").alias("b_ts_us"),
    )
    return (
        a.join(
            b,
            (a.user_id == b.b_user_id)
            & (b.b_ts_us >= a.a_ts_us - 7_200_000_000)
            & (b.b_ts_us <= a.a_ts_us + 7_200_000_000),
        )
        .select(
            "view_event_id",
            "purchase_event_id",
            "user_id",
            (F.col("b_ts_us") - F.col("a_ts_us")).alias("gap_us"),
        )
    )


@query(
    "asof_join_events",
    """
WITH v AS (
  SELECT event_id AS view_event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT p.purchase_event_id, p.user_id, p.ts_us,
         (SELECT max(v.ts_us) FROM v
          WHERE v.user_id = p.user_id AND v.ts_us <= p.ts_us) AS m_ts
  FROM p
)
SELECT m.purchase_event_id, m.user_id, m.ts_us AS purchase_ts_us,
       (SELECT max(v.view_event_id) FROM v
        WHERE v.user_id = m.user_id AND v.ts_us = m.m_ts) AS view_event_id,
       m.ts_us - m.m_ts AS gap_us
FROM m
""",
)
def q_asof_join_events(spark, sf_dir):
    """Backward as-of join: each purchase picks the most recent view
    by the same user at-or-before its timestamp (ties: max event_id).
    The oracle is an independent formulation (correlated max-ts
    scalar subqueries); Spark runs the union+window plan — one
    shuffle, linear, no range-join blowup (operators/relational.py)."""
    from gmall_spark.operators.relational import asof_join_backward

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("purchase_event_id"),
    )
    out = asof_join_backward(purchases, views, "user_id", "ts_us")
    return out.select(
        "purchase_event_id",
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        "view_event_id",
        (F.col("ts_us") - F.col("ts_us_right")).alias("gap_us"),
    )


@query(
    "events_session_window",
    """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
), f AS (
  SELECT user_id, event_id, ts_us, value,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), g AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
)
SELECT user_id, min(ts_us) AS stt_us, max(ts_us) + 1800000000 AS edt_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM g GROUP BY user_id, sess
""",
)
def q_events_session_window(spark, sf_dir):
    """Gap sessionization (30 min inactivity) via Spark's NATIVE
    session_window aggregation; the oracle derives the same sessions
    by the independent lag/cumsum-islands formulation — a genuine
    cross-check of the merge semantics (an event at exactly
    prev + gap starts a new session: windows are [ts, ts+gap)).
    Batch twin of the streaming session_window path and of the
    reference's CEP timeout sessions (SURVEY T5)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("stt_us"),
            F.unix_micros("session_window.end").alias("edt_us"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_session_transcripts",
    """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
), f AS (
  SELECT user_id, event_id, ts_us, event_type,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), g AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
)
SELECT user_id, min(ts_us) AS stt_us,
       CAST(count(*) AS BIGINT) AS n_turns,
       md5(string_agg(event_type, '|' ORDER BY ts_us, event_id))
         AS transcript_md5,
       first(event_type ORDER BY ts_us, event_id) AS first_type,
       max(ts_us) - min(ts_us) AS duration_us
FROM g GROUP BY user_id, sess
""",
)
def q_events_session_transcripts(spark, sf_dir):
    """SFT-style transcript assembly (X119): per 30-min-gap session,
    the ORDERED event-type sequence reassembled into one transcript
    row — the conversation/trajectory assembly step of an interaction
    training-data pipeline (turn count, first turn, duration, and the
    transcript fingerprint). Order is (ts, event_id)-deterministic
    both engines; assembly is array_sort over collect_list structs ≡
    string_agg ORDER BY — the X81 reassembly idiom at session grain,
    driven by the same native session_window as X46's aggregate."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        )
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts_us").alias("stt_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts_us", "event_id", "event_type")
                            )
                        ),
                        lambda s: s["event_type"],
                    ),
                )
            ).alias("transcript_md5"),
            F.min_by(
                "event_type", F.struct("ts_us", "event_id")
            ).alias("first_type"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
        .select(
            "user_id",
            "stt_us",
            "n_turns",
            "transcript_md5",
            "first_type",
            "duration_us",
        )
    )


@query(
    "orders_top3_per_priority",
    """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
""",
)
def q_orders_top3_per_priority(spark, sf_dir):
    """Per-group top-N (top 3 orders by price per priority class) —
    the classic dashboard shape. Spark executes the rank<=N filter as
    WindowGroupLimit: per-partition top-N heaps BEFORE the group
    shuffle, so at 100 TB each partition forwards ≤3 rows per group
    instead of sorting the whole group."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "orders_rollup_priority_status",
    """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_amount
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def q_orders_rollup_priority_status(spark, sf_dir):
    """Multi-grain aggregation via ROLLUP (priority, status): the
    per-grain, per-priority, and grand-total rows a ClickHouse-style
    dashboard reads in one pass. One shuffle; Spark expands the
    grouping sets map-side so partials still combine."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_amount"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "order_count",
            "total_amount",
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "events_pivot_value_by_type",
    """
SELECT user_id,
       CAST(coalesce(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS click,
       CAST(coalesce(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS error,
       CAST(coalesce(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS purchase,
       CAST(coalesce(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS signup,
       CAST(coalesce(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS view
FROM events GROUP BY user_id
""",
)
def q_events_pivot_value_by_type(spark, sf_dir):
    """Pivot: per-user spend matrix, one column per event type. The
    pivot list is FIXED (no value-discovery pre-pass, which would be
    a second full scan + collect at 100 TB); pivot compiles to
    conditional aggregates — one shuffle, map-side combined."""
    ev = _events(spark, sf_dir)
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(18,6)")))
    )
    return piv.select(
        "user_id",
        *[
            F.coalesce(F.col(t).cast("double"), F.lit(0.0)).alias(t)
            for t in _EVENT_TYPES
        ],
    )


@query(
    "customers_with_open_orders",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer cu
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = cu.c_custkey AND o.o_orderstatus = 'O')
""",
)
def q_customers_with_open_orders(spark, sf_dir):
    """LEFT SEMI join (EXISTS): customers holding at least one open
    order. The probe side never duplicates — semi join short-circuits
    on first match, so the output is bounded by the left side
    regardless of order fan-out."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cu.join(
        o, cu.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "customers_no_urgent_orders",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer cu
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = cu.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
""",
)
def q_customers_no_urgent_orders(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS): customers with no urgent order —
    the set-difference shape incremental pipelines use to find
    not-yet-processed keys."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cu.join(
        o, cu.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


# No SQL oracle: HLL estimates are implementation-defined (DuckDB's
# approx_count_distinct uses different parameters), so the driver
# records the weaker rows-only check; accuracy and the sketch-merge
# identity are gated by tests/test_relational.py instead.
@query("events_uv_sketch_daily")
def q_events_uv_sketch_daily(spark, sf_dir):
    """Daily UV via HLL sketches (operators/sketches.py): constant-
    size mergeable partial state instead of shuffling every distinct
    key — the 100 TB answer to the exact A9 count_distinct path, and
    day sketches re-merge to month/period estimates without
    rescanning the base table."""
    from gmall_spark.operators import sketches

    ev = _events(spark, sf_dir)
    sk = sketches.uv_sketch(ev, F.date_format("ts", "yyyy-MM-dd"), "user_id")
    return sketches.estimate(sk).select(
        F.col("grain").alias("dt"), "uv_approx"
    )


@query(
    "events_funnel_conversion",
    """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
       CAST(sum(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
       CAST(sum(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                      AND first_purchase > first_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
FROM per_user
""",
)
def q_events_funnel_conversion(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): per-user first
    occurrence of each stage via ONE conditional-min aggregate (no
    self-joins, no CEP state), then counts of users completing each
    prefix in order. Two map-side-combining aggregates total."""
    from gmall_spark.operators.relational import funnel_ordered

    out = funnel_ordered(_events(spark, sf_dir), ("view", "click", "purchase"))
    return out.select(
        "n_users",
        F.col("stage_0_ct").alias("viewed"),
        F.col("stage_1_ct").alias("clicked_after_view"),
        F.col("stage_2_ct").alias("purchased_after_click"),
    )


@query(
    "events_retention_cohorts",
    """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), cohorts AS (
  SELECT user_id, min(d) AS cohort_day FROM activity GROUP BY user_id
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', c.cohort_day, a.d) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM cohorts c JOIN activity a ON a.user_id = c.user_id
WHERE date_diff('day', c.cohort_day, a.d) <= 7
GROUP BY c.cohort_day, date_diff('day', c.cohort_day, a.d)
""",
)
def q_events_retention_cohorts(spark, sf_dir):
    """Day-N retention matrix: users cohorted by first-active day,
    counted on each later active day (offsets 0..7). Distinct
    (user, day) activity first (hash agg), cohort = min day per user,
    then one join + count-distinct — the A6 returning-user logic
    generalized to the standard cohort triangle."""
    ev = _events(spark, sf_dir)
    activity = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day").cast("bigint"))
        .filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
    )


# No SQL oracle: approx_percentile's Greenwald-Khanna summaries are
# implementation-defined (DuckDB's approx_quantile is a different
# sketch), so the driver records the rows-only check; the 5%-accuracy
# gate vs exact percentile lives in tests/test_relational.py. This is
# the sketch X31's doclen report swaps to at 100 TB: bounded summary
# state, map-side merged, instead of a full sort per grain.
@query("events_value_quantiles_approx")
def q_events_value_quantiles_approx(spark, sf_dir):
    """Approximate p50/p90/p99 of event value per event type via
    percentile_approx (GK summaries; accuracy parameter 10000 ⇒
    error ≤ 1/10000 of rank)."""
    ev = _events(spark, sf_dir)
    acc = F.lit(10_000)
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), acc).alias("p50"),
        F.percentile_approx("value", F.lit(0.9), acc).alias("p90"),
        F.percentile_approx("value", F.lit(0.99), acc).alias("p99"),
    )


@query(
    "events_median_by_type",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50_exact,
       round(quantile_cont(value, 0.9), 6) AS p90_exact
FROM events GROUP BY event_type
""",
)
def q_events_median_by_type(spark, sf_dir):
    """EXACT per-group percentiles (interpolated, rank = p·(n−1)) —
    the precise twin of ``events_value_quantiles_approx``: same
    report, sort-based exact answer instead of GK summaries. Exact
    percentile sorts each group's values; at 100 TB you pay that only
    when the group count is modest (here: one group per event type) —
    otherwise the approx twin is the scale path. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the same
    interpolation definition, so values hash-match at round-6."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_exact"),
    )


@query(
    "events_moving_stats",
    """
SELECT user_id, event_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg3,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta_prev
FROM events
""",
)
def q_events_moving_stats(spark, sf_dir):
    """Ordered window FRAMES per user: 3-event moving average (ROWS
    BETWEEN 2 PRECEDING), running total, and delta vs previous event
    (lag). The frame clauses Spark's analytic engine evaluates in one
    pass per partition after a single shuffle on user_id — all three
    measures share ONE Window spec, so the sort happens once. Order
    key (ts, event_id) is unique ⇒ deterministic across engines;
    ``delta_prev`` is NULL on each user's first event in both."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 6).alias("mov_avg3"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("cum_value"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("delta_prev"),
    )


@query(
    "events_salted_segment_totals",
    """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment
""",
)
def q_events_salted_segment_totals(spark, sf_dir):
    """Skew-salted large-large join (operators/scale.salted_join):
    events ⋈ customer on the user key with a deterministic 16-way
    salt, then per-segment totals. Row-identical to the plain join
    (the oracle IS the plain join) — only the shuffle distribution
    changes: each hot key spreads across 16 reducers instead of
    straggling one. Sum runs in DECIMAL (exact, order-independent)
    and casts to double at the end, so the value hash is safe."""
    from gmall_spark.operators.scale import salted_join

    ev = _events(spark, sf_dir)
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(ev, cu, "user_id", "c_custkey", salt=16)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "events_sliding_window_counts",
    """
WITH x AS (
  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events
), w AS (
  SELECT event_type, user_id,
         unnest([ (ep // 300) * 300, (ep // 300) * 300 - 300 ]) AS ws
  FROM x
)
SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(make_timestamp((ws + 600) * 1000000), '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       CAST(count(*) AS BIGINT) AS event_ct,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uu_ct
FROM w GROUP BY ws, event_type
""",
)
def q_events_sliding_window_counts(spark, sf_dir):
    """Sliding (HOP) windows — 10 min wide, 5 min slide: each event
    lands in exactly width/slide = 2 windows. Spark's ``window(ts,
    width, slide)`` expands the assignment inline (no self-union), so
    the plan is one shuffle on (window, event_type); the oracle
    replays the assignment as an epoch-arithmetic unnest. Completes
    the window-family coverage next to the tumbling A1/W1-W3 ops and
    the session windows (events_session_window)."""
    from gmall_spark.functions.datetime import to_datetime_str

    ev = _events(spark, sf_dir)
    win = F.window(F.col("ts"), "600 seconds", "300 seconds")
    g = ev.groupBy(win.alias("w"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("event_ct"),
        F.count_distinct("user_id").cast("bigint").alias("uu_ct"),
    )
    return g.select(
        to_datetime_str(F.col("w.start")).alias("stt"),
        to_datetime_str(F.col("w.end")).alias("edt"),
        "event_type",
        "event_ct",
        "uu_ct",
    )


@query(
    "events_cube_type_day",
    """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS dt,
       CAST(grouping(event_type, strftime(ts, '%Y-%m-%d')) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
""",
)
def q_events_cube_type_day(spark, sf_dir):
    """CUBE multi-grain aggregate: all four grains (type×day, type,
    day, grand total) in ONE pass — Spark expands the grouping sets
    map-side, so the fact table is scanned once and only (sets ×
    groups) partial rows shuffle. ``grouping_id`` (same MSB-first bit
    order in Spark and DuckDB) disambiguates a real NULL group value
    from a rolled-up total. Completes the grouping-sets family next
    to ROLLUP (orders_rollup_priority_status)."""
    ev = _events(spark, sf_dir).withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    return ev.cube("event_type", "dt").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "lineitem_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) * (1 + CAST(l_tax AS DECIMAL(18,6)))) AS DOUBLE) AS sum_charge,
       CAST(count(*) AS BIGINT) AS count_order,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_lineitem_pricing_summary(spark, sf_dir):
    """TPC-H Q1 pricing summary: the canonical scan-heavy single
    hash aggregate. All money arithmetic runs in DECIMAL (exact,
    shuffle-order-independent — the only safe way to hash-match a
    float sum across engines), cast to double only at the very end;
    averages divide the exact decimal sums as doubles. One map-side-
    combining aggregate after a pushed-down date filter: at 100 TB
    only (flag × status) partial rows cross the wire."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    tax = F.col("l_tax").cast("decimal(18,6)")
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
        F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
        .cast("double")
        .alias("sum_charge"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
        F.sum(disc).cast("double").alias("__sum_disc"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "count_order",
        F.round(F.col("sum_qty") / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("sum_base_price") / F.col("count_order"), 6).alias("avg_price"),
        F.round(F.col("__sum_disc") / F.col("count_order"), 6).alias("avg_disc"),
    )


@query(
    "events_value_equidepth_hist",
    """
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       round(min(value), 6) AS lo, round(max(value), 6) AS hi,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT event_type, value, event_id,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bucket
  FROM events
)
GROUP BY event_type, bucket
""",
)
def q_events_value_equidepth_hist(spark, sf_dir):
    """Equi-depth (NTILE) histogram of event values per type — the
    bucket-bounds profile a cost model or drift monitor reads.
    Deterministic ties (value, event_id) so both engines cut the
    buckets identically; one window exchange + one hash agg. At
    100 TB the exact-sort ntile swaps for the GK-sketch quantile cuts
    (events_value_quantiles_approx) — this is the exact twin,
    completing the window family next to frames (X59) and group
    limits."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", "event_id", F.ntile(10).over(w).alias("bucket"))
        .groupBy("event_type", F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@query(
    "events_value_outliers",
    """
WITH s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(28,10)) * CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
), st AS (
  SELECT event_type, n, s1 / n AS mu,
         sqrt((s2 - s1 * s1 / n) / n) AS sigma
  FROM s
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - st.mu) / st.sigma, 6) AS z
FROM events e JOIN st ON st.event_type = e.event_type
WHERE st.sigma > 0 AND abs(e.value - st.mu) > 3 * st.sigma
""",
)
def q_events_value_outliers(spark, sf_dir):
    """Rule-based anomaly detection (3-sigma per event type) with
    DETERMINISTIC statistics: a naive stddev_samp aggregate is a
    float sum whose value depends on shuffle order — instead mean and
    sigma derive from EXACT decimal Σv and Σv² (shuffle-order-
    independent), so the flag boundary and z-scores are bit-identical
    across engines and runs. Shape: one map-side-combining aggregate
    to a ≤|types|-row stats table, broadcast back into a per-row
    filter — the monitoring pass that runs after every ingest."""
    ev = _events(spark, sf_dir)
    dv = F.col("value").cast("decimal(28,10)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dv).cast("double").alias("s1"),
        F.sum(dv * dv).cast("double").alias("s2"),
    )
    st = s.select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")).alias(
            "sigma"
        ),
    )
    return (
        ev.join(F.broadcast(st), "event_type")
        # sigma == 0 (a constant-valued type) must flag NOTHING, not
        # every row (|v - mu| > 0 would)
        .filter(
            (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
        )
    )


@query(
    "sql_tumble_event_counts",
    """
WITH x AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events
)
SELECT strftime(make_timestamp((ep // 600) * 600 * 1000000), '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(make_timestamp(((ep // 600) * 600 + 600) * 1000000), '%Y-%m-%d %H:%M:%S') AS edt,
       event_type,
       CAST(count(*) AS BIGINT) AS event_ct
FROM x GROUP BY (ep // 600), event_type
""",
)
def q_sql_tumble_event_counts(spark, sf_dir):
    """The Flink-SQL TUMBLE job expressed through Spark's SQL FRONT
    DOOR (ref KeywordTableApp-style `GROUP BY TUMBLE(...)`): a temp
    view + ``spark.sql`` with ``GROUP BY window(ts, '10 minutes')``.
    Every other twin here uses the DataFrame API — this one pins the
    parity of the SQL surface itself (same Catalyst plan: the window
    assignment is an inline projection feeding one hash aggregate;
    Spark window() and DuckDB epoch//600 both align to the unix
    epoch)."""
    ev = _events(spark, sf_dir)
    # view name carries the sf tag: a fixed name would alias two
    # sf_dirs if a second query were built before the first's plan is
    # executed (lazy DataFrames hold the view by NAME)
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_").lstrip("_")
    view = f"events_sql_tumble_{tag}"
    ev.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS stt,
               date_format(window.end, 'yyyy-MM-dd HH:mm:ss') AS edt,
               event_type,
               CAST(count(*) AS BIGINT) AS event_ct
        FROM {view}
        GROUP BY window(ts, '10 minutes'), event_type
        """
    )


@query(
    "sql_interval_join_events",
    """
SELECT a.event_id AS view_id, b.event_id AS purchase_id,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 3600 SECOND
""",
)
def q_sql_interval_join_events(spark, sf_dir):
    """The Flink-SQL interval join (`b.ts BETWEEN a.ts AND a.ts +
    INTERVAL ...`, ref the DwdTradeOrderDetail SQL joins) through
    Spark's SQL front door: temp view + spark.sql with the same
    BETWEEN range predicate. Catalyst plans the equi-key + range
    condition identically to the DataFrame interval_join_events twin
    (one user_id shuffle, range as a join residual — no cartesian)."""
    ev = _events(spark, sf_dir)
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_").lstrip("_")
    view = f"events_sql_ij_{tag}"
    ev.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT a.event_id AS view_id, b.event_id AS purchase_id,
               CAST(unix_timestamp(b.ts) - unix_timestamp(a.ts) AS BIGINT) AS gap_s
        FROM {view} a JOIN {view} b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'purchase'
         AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 3600 SECOND
        """
    )


@query(
    "sql_grouping_sets_orders",
    """
SELECT o_orderpriority, o_orderstatus,
       CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
""",
)
def q_sql_grouping_sets_orders(spark, sf_dir):
    """GROUPING SETS through the SQL front door (the syntax itself is
    part of the surface a SQL-first user migrates with) — same
    Catalyst Expand + single hash agg as the DataFrame
    events_grouping_sets twin."""
    o = _t(spark, sf_dir, "orders")
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_").lstrip("_")
    view = f"orders_sql_gs_{tag}"
    o.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        FROM {view}
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        """
    )


@query(
    "returned_item_customers",
    """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q_returned_item_customers(spark, sf_dir):
    """TPC-H Q10 returned-item-reporting twin: which customers
    returned the most revenue last half-year. Scale shape: date
    filter pushed to the orders scan, returnflag filter pushed to
    lineitem, nation broadcast; orders⋈lineitem shuffles on orderkey,
    customer⋈ left to AQE (not broadcastable at 100 TB); TakeOrdered
    top-20. DECIMAL-exact revenue with custkey tiebreak."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "promo_revenue_share",
    """
SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS total_revenue,
       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 6) AS promo_pct
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY strftime(o_orderdate, '%Y-%m')
""",
)
def q_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 promotion-effect twin, widened to a per-month
    report: share of revenue from PROMO parts. Conditional decimal
    sums inside one hash aggregate (the A11 conditional-sum pattern
    on the TPC-H side); part is the broadcast dim; the percentage
    divides two exact decimal sums as doubles at the very end."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    rev = price * (F.lit(1) - disc)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    g = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )
    return g.select(
        "month",
        "promo_revenue",
        "total_revenue",
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_pct"),
    )


@query(
    "order_priority_checking",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def q_order_priority_checking(spark, sf_dir):
    """TPC-H Q4 order-priority-checking twin: correlated EXISTS —
    Spark plans it as a LEFT SEMI join on orderkey with the
    l_shipdate > o_orderdate residual condition, so no row
    multiplication from multi-line orders; date filter pushed to the
    orders scan; ≤5-row final agg."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


@query(
    "forecast_revenue_change",
    """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 10
""",
)
def q_forecast_revenue_change(spark, sf_dir):
    """TPC-H Q6 forecasting-revenue-change twin: the purest
    pushdown test — three range predicates all reach the parquet
    scan (PushedFilters), ONE map-side-combining global agg, a
    single row crosses the wire. DECIMAL-exact product sum."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 10)
    )
    return l.agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
            * F.col("l_discount").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("revenue")
    )


@query(
    "shipmode_priority_counts",
    """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus
""",
)
def q_shipmode_priority_counts(spark, sf_dir):
    """TPC-H Q12 shipping-modes twin (l_linestatus stands in for the
    generator's missing l_shipmode): conditional counts by priority
    class inside ONE hash aggregate after the orderkey join — the
    A11 conditional-sum pattern over a join."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "large_volume_customers",
    """
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 150
) q
JOIN orders ON o_orderkey = q.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 20
""",
)
def q_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 large-volume-customer twin: HAVING over a grouped
    sum feeding a join — the qualified aggregate runs FIRST (one
    map-side-combining agg + the HAVING filter, shrinking the join
    input to only big orders), then orderkey/custkey joins and
    TakeOrdered top-20. Exact decimal quantity sum; cast to double
    only at output."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("__qty"))
        .filter(F.col("__qty") > 150)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("__qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "events_column_stats",
    """
SELECT CAST(count(*) AS BIGINT) AS row_ct,
       CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_user,
       CAST(count(DISTINCT event_type) AS BIGINT) AS ndv_type,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
       CAST(min(user_id) AS BIGINT) AS min_user,
       CAST(max(user_id) AS BIGINT) AS max_user,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
""",
)
def q_events_column_stats(spark, sf_dir):
    """ANALYZE TABLE twin: the column-statistics pass (row count,
    exact NDVs, null counts, min/max) a cost-based optimizer or data
    catalog collects per ingest. Spark computes the multiple
    count_distincts in one aggregate via Expand (one shuffle, one
    scan); at 100 TB the exact NDVs swap for the HLL sketches of X40
    under the same output contract."""
    ev = _events(spark, sf_dir)
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("row_ct"),
        F.count_distinct("user_id").cast("bigint").alias("ndv_user"),
        F.count_distinct("event_type").cast("bigint").alias("ndv_type"),
        F.sum(F.col("props").isNull().cast("int")).cast("bigint").alias("null_props"),
        F.min("user_id").cast("bigint").alias("min_user"),
        F.max("user_id").cast("bigint").alias("max_user"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@query(
    "events_key_skew_report",
    """
WITH pk AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS row_ct FROM events GROUP BY user_id
), tot AS (SELECT CAST(sum(row_ct) AS DOUBLE) AS total FROM pk)
SELECT user_id, row_ct,
       round(row_ct / total, 6) AS share
FROM pk, tot
ORDER BY row_ct DESC, user_id ASC LIMIT 10
""",
)
def q_events_key_skew_report(spark, sf_dir):
    """Partition-key skew diagnostic: the top-10 heaviest keys and
    their row share — the report that decides whether a join needs
    the X60 salt or AQE skew handling. One hash agg + a single-row
    total broadcast + TakeOrdered."""
    ev = _events(spark, sf_dir)
    pk = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("row_ct"))
    tot = pk.agg(F.sum("row_ct").cast("double").alias("total"))
    return (
        pk.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "row_ct",
            F.round(F.col("row_ct") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.col("row_ct").desc(), F.col("user_id").asc())
        .limit(10)
    )


@query(
    "customers_retained_9697",
    """
SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
INTERSECT
SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
""",
)
def q_customers_retained_9697(spark, sf_dir):
    """INTERSECT set-op coverage: customers active in BOTH 1996 and
    1997 (the set-algebra twin of events_retention_cohorts). Spark
    plans INTERSECT as a distinct-aggregated left-semi join — one
    exchange per branch + the semi join, no row explosion."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")

    def active(y0: str, y1: str):
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("date"))
                & (F.col("o_orderdate") < F.lit(y1).cast("date"))
            )
            .select("c_custkey")
        )

    return active("1996-01-01", "1997-01-01").intersect(
        active("1997-01-01", "1998-01-01")
    )


@query(
    "customers_churned_9697",
    """
SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
EXCEPT
SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
""",
)
def q_customers_churned_9697(spark, sf_dir):
    """EXCEPT set-op coverage: customers active in 1996 but gone in
    1997 — churn as set algebra (Spark: distinct left-anti join)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")

    def active(y0: str, y1: str):
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("date"))
                & (F.col("o_orderdate") < F.lit(y1).cast("date"))
            )
            .select("c_custkey")
        )

    return active("1996-01-01", "1997-01-01").subtract(
        active("1997-01-01", "1998-01-01")
    )


@query(
    "events_per_user_sample",
    """
SELECT user_id, event_id, event_type
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def q_events_per_user_sample(spark, sf_dir):
    """Deterministic bounded per-key sample: ≤3 events per user,
    chosen by md5(event_id) order — the debugging/eval-set sampler
    every pipeline needs, reproducible across engines/runs/shards
    (no rand(), the llm_train_val_test_split hashing discipline
    applied per group). rank≤3 runs as WindowGroupLimit per-partition
    heaps, so each task forwards at most 3 rows per user to the one
    exchange."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type")
    )


@query(
    "orders_shipping_priority",
    """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-01-01'
  AND l_shipdate > DATE '1998-01-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
""",
)
def q_orders_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shipping-priority twin (o_orderpriority stands in for
    the generator's missing o_shippriority): filtered 3-way join +
    grouped revenue + top-10. Plan shape at scale: the segment filter
    prunes customer BEFORE the join (pushed scan predicate), customer
    is the small side (AQE broadcasts it under the threshold),
    orders⋈lineitem shuffles on the shared orderkey, and the final
    ORDER BY+LIMIT is a TakeOrderedAndProject (per-partition top-10
    heaps, no global sort). Revenue is exact DECIMAL inside, cast to
    double at the end, with orderkey tiebreak for determinism."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


@query(
    "nation_revenue_local_suppliers",
    """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01'
  AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""",
)
def q_nation_revenue_local_suppliers(spark, sf_dir):
    """TPC-H Q5 local-supplier-volume twin: the classic 6-way
    star join (region→nation→{customer,supplier}→orders→lineitem)
    with the "local" constraint c_nationkey = s_nationkey. Scale
    shape: region/nation/supplier are explicitly broadcast (tiny at
    any SF); customer⋈orders is left to AQE — customer is 10× smaller
    than orders but NOT broadcastable at 100 TB, so forcing a
    broadcast there would OOM the executors; the remaining shuffle is
    orders⋈lineitem on orderkey. The final agg is ≤25 rows.
    DECIMAL-exact revenue as in Q1/Q3."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@query(
    "volume_shipping_nation_pairs",
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q_volume_shipping_nation_pairs(spark, sf_dir):
    """TPC-H Q7 volume-shipping twin: bilateral trade volume between
    two nations by ship year. Scale shape: nation broadcasts twice
    (two aliases, different keys), the nation-pair disjunction is
    applied AFTER both dim joins (it references both sides), the
    l_shipdate range is pushed to the lineitem scan, and the only
    wide shuffles are orders⋈lineitem and orders⋈customer on their
    natural keys. DECIMAL-exact volume, final cast to double."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("date"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "market_share_by_year",
    """
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6))) AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def q_market_share_by_year(spark, sf_dir):
    """TPC-H Q8 national-market-share twin: one supplier nation's
    share of regional import volume per order year. Scale shape:
    part/supplier/nation/region broadcast; the conditional numerator
    and the denominator come out of ONE aggregate pass (sum of CASE
    next to sum) — no second scan, no self-join; the share division
    happens on the two exact DECIMAL sums cast to double at the very
    end (round 6 for cross-engine float stability)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("date"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    vol = (price * (F.lit(1) - disc)).alias("volume")
    base = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"), vol, "supp_nation"
        )
    )
    brazil = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.sum(brazil).cast("double").alias("__num"),
            F.sum("volume").cast("double").alias("__den"),
        )
        .select(
            "o_year", F.round(F.col("__num") / F.col("__den"), 6).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "customer_order_count_distribution",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_customer_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 customer-distribution twin: histogram of per-customer
    order counts INCLUDING zero-order customers — the left join keeps
    them and count(o_orderkey) ignores the null match (count(*) would
    not). The non-join predicate lives in the JOIN condition, not a
    WHERE (a WHERE would silently turn the left join inner). Scale
    shape: one shuffle on custkey, then a re-agg on the tiny count
    domain."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "top_supplier_revenue",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q_top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 top-supplier twin: supplier(s) with the maximum
    quarterly revenue. The view + scalar-max subquery becomes ONE
    window max over the aggregated (≤ |supplier|-row) revenue
    relation — no second scan of lineitem and no join back to a
    scalar; equality is on the exact DECIMAL sum (cross-engine safe;
    the double cast happens only on output). Supplier names attach by
    broadcast."""
    from pyspark.sql import Window as W

    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    s = _t(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(price * (F.lit(1) - disc)).alias("__rev")
    )
    top = rev.withColumn("__mx", F.max("__rev").over(W.partitionBy())).filter(
        F.col("__rev") == F.col("__mx")
    )
    return (
        top.join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name", F.col("__rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@query(
    "small_quantity_order_revenue",
    """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(28,6)) / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_size <= 5
  AND 5 * CAST(l_quantity AS DECIMAL(18,6)) * (
        SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
      < (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(28,6))
         FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
""",
)
def q_small_quantity_order_revenue(spark, sf_dir):
    """TPC-H Q17 small-quantity-order twin: revenue lost to orders
    below 20% of a part's average quantity. The correlated AVG
    subquery becomes per-part window aggregates, and the fractional
    threshold ``qty < 0.2 * avg(qty)`` is algebraically cleared to
    the integer-exact ``5 * qty * count < sum`` — DECIMAL both sides,
    so the comparison cannot flip on float rounding in either engine.
    Scale shape: one shuffle on partkey for the windows (part filter
    broadcast-joins AFTER the window so the per-part stats see every
    lineitem, matching the subquery's scope)."""
    from pyspark.sql import Window as W

    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 5)
    )
    qty = F.col("l_quantity").cast("decimal(18,6)")
    w = W.partitionBy("l_partkey")
    stats = l.withColumn("__cnt", F.count(F.lit(1)).over(w)).withColumn(
        "__qsum", F.sum(qty).over(w).cast("decimal(28,6)")
    )
    small = stats.filter(
        (F.lit(5) * qty * F.col("__cnt")).cast("decimal(28,6)") < F.col("__qsum")
    )
    return (
        small.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "decimal(28,6)"
                )
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "disjunctive_discount_revenue",
    """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""",
)
def q_disjunctive_discount_revenue(spark, sf_dir):
    """TPC-H Q19 discounted-revenue twin: the canonical DISJUNCTIVE
    join predicate. Expressed as a plain equi-join on partkey with
    the three-arm OR as a post-join filter: Catalyst extracts the
    common l_quantity/p_size bounds where it can, and the join stays
    a hash join (putting the OR into the join condition would force a
    nested-loop). part broadcasts; single lineitem scan."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    qn = F.col("l_quantity")
    arm = lambda brand, szhi, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, szhi)
        & qn.between(qlo, qhi)
    )
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#34", 15, 20, 30)
        )
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


@query(
    "waiting_multi_supplier_orders",
    """
SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
)
def q_waiting_multi_supplier_orders(spark, sf_dir):
    """TPC-H Q21 waiting-supplier twin (adapted: no commit/receipt
    dates in the lite schema — "kept the order waiting" becomes
    "shipped last among the order's multiple suppliers"). The
    EXISTS / NOT-EXISTS pair over the same correlation key collapses
    into per-order window aggregates — count of distinct other
    suppliers and max shipdate of other-supplier lines — computed in
    ONE pass over lineitem partitioned by orderkey, instead of two
    correlated semi/anti joins re-shuffling lineitem twice. The
    other-supplier max uses the two-top-values trick (max + max-of-
    other-supplier rows via conditional aggregation)."""
    from pyspark.sql import Window as W

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    w = W.partitionBy("l_orderkey")
    # per order: does ANY other supplier exist, and does any OTHER-
    # supplier line ship strictly later than mine? max-over-others =
    # global max unless my line holds it alone, in which case it is
    # the max over rows whose shipdate < global max OR same-date
    # other-supplier rows — handled exactly by comparing against the
    # max shipdate of rows from a DIFFERENT supplier, computed as a
    # conditional window max over (suppkey, shipdate) pairs.
    flagged = (
        l.withColumn("__nsupp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn("__maxship", F.max("l_shipdate").over(w))
        .withColumn(
            "__last_suppliers",
            F.collect_set(
                F.when(F.col("l_shipdate") == F.col("__maxship"), F.col("l_suppkey"))
            ).over(w),
        )
    )
    # NOT EXISTS(other supplier shipped later) == my supplier ships on
    # the order's max shipdate; EXISTS(other supplier) == nsupp > 1
    waiting = flagged.filter(
        (F.col("__nsupp") > 1)
        & F.array_contains(F.col("__last_suppliers"), F.col("l_suppkey"))
    ).select("l_orderkey", "l_suppkey").distinct()
    return (
        waiting.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@query(
    "prospective_customer_balance",
    """
WITH avg_bal AS (
  SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,6))) AS DECIMAL(28,10)) AS a
  FROM customer WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
)
SELECT c_nationkey AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM customer CROSS JOIN avg_bal
WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
  AND CAST(c_acctbal AS DECIMAL(18,6)) > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def q_prospective_customer_balance(spark, sf_dir):
    """TPC-H Q22 global-sales-opportunity twin (country code adapted
    to nationkey — the lite schema has no phone column): rich
    customers with no RECENT orders (>= 2000-01-01; this corpus
    gives every customer at least one historical order, so the
    original "never ordered" set is structurally empty), compared
    against the positive-balance global average. Scale shape: the
    scalar average is ONE tiny aggregate broadcast into the filter;
    the NOT EXISTS is a LEFT ANTI join against the date-filtered
    o_custkey column (pruned, pushed-down scan), shuffled on custkey
    once. The average comparison is DECIMAL vs
    DECIMAL — DuckDB's avg() returns double, so the oracle casts the
    exact DECIMAL avg to DECIMAL(28,10) the same way Spark does."""
    nations = [1, 2, 3, 4, 5, 6, 7]
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(nations))
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    bal = F.col("c_acctbal").cast("decimal(18,6)")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg(bal).cast("decimal(28,10)").alias("a"))
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(bal > F.col("a"))
    no_orders = rich.join(
        o, rich["c_custkey"] == o["o_custkey"], "left_anti"
    )
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "product_type_profit",
    """
SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))
           - CAST(p_retailprice AS DECIMAL(18,6)) * CAST(0.10 AS DECIMAL(18,6))
             * CAST(l_quantity AS DECIMAL(18,6)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q_product_type_profit(spark, sf_dir):
    """TPC-H Q9 product-type-profit twin (adapted: the lite schema
    has no partsupp, so unit cost is the 10% p_retailprice proxy —
    the join/aggregation SHAPE is Q9's, which is the point). Scale
    shape: part filter + supplier + nation broadcast; the profit
    expression is computed per line BEFORE the (nation, year) agg so
    only ≤ |nations|·|years| partial rows cross the second exchange;
    all money math in DECIMAL, double on output."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    cost = (
        F.col("p_retailprice").cast("decimal(18,6)")
        * F.lit("0.10").cast("decimal(18,6)")
        * F.col("l_quantity").cast("decimal(18,6)")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (price * (F.lit(1) - disc) - cost).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@query(
    "events_grouping_sets",
    """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS dt,
       CAST(grouping(event_type, strftime(ts, '%Y-%m-%d')) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type, strftime(ts, '%Y-%m-%d')), (event_type), ())
""",
)
def q_events_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form CUBE/ROLLUP sugar
    over): exactly the three asked-for grains — (type, day), (type),
    grand total — skipping the (day) grain a CUBE would also pay for.
    One scan, map-side set expansion, grouping_id disambiguates
    rolled-up NULLs; completes the grouping family next to
    events_cube_type_day and orders_rollup_priority_status."""
    ev = _events(spark, sf_dir).withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    return ev.groupingSets(
        [["event_type", "dt"], ["event_type"], []], "event_type", "dt"
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )


@query(
    "events_value_mad_outliers",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         abs(e.value - m.med) AS absdev
  FROM events e JOIN med m ON m.event_type = e.event_type
), mad AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type, d.event_id,
       round(d.value, 6) AS value,
       round(d.med, 6) AS med,
       round(m.mad, 6) AS mad,
       round(d.absdev / m.mad, 6) AS mad_ratio
FROM dev d JOIN mad m ON m.event_type = d.event_type
WHERE m.mad > 0 AND round(d.absdev / m.mad, 6) > 3.0
""",
)
def q_events_value_mad_outliers(spark, sf_dir):
    """Robust (median/MAD) outlier flags — the heavy-tail-safe twin
    of the 3-sigma pass (events_value_outliers): median and MAD are
    insensitive to the very outliers being hunted, which inflate a
    mean/sigma fence. Two exact per-type percentiles (≤ |types|-row
    results, broadcast back into per-row filters — the corpus
    shuffles once per percentile only); the flag thresholds the
    ROUNDED ratio so the cross-engine comparison is on identical
    6-decimal values (Spark percentile ≡ DuckDB quantile_cont
    interpolation, proven by events_median_by_type)."""
    ev = _events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    ratio = F.round(F.col("absdev") / F.col("mad"), 6)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (ratio > 3.0))
        .select(
            "event_type",
            "event_id",
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            ratio.alias("mad_ratio"),
        )
    )


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp relation — the Spark twin of
    oracles.SQL_PARTSUPP (see its comment): 4 deterministic suppliers
    per part, integer-cents supplycost. The supplier count is one
    tiny action, memoized per (session, sf_dir) like the kNN-edge
    fixture — four Q2/Q11/Q16/Q20 twins x bench repeats fired 12
    redundant jobs otherwise (VERDICT r5 item 5); everything else is
    a per-row projection + 4-way explode over the part table
    (dim-sized at any SF)."""
    part = _t(spark, sf_dir, "part")
    ns = fixtures_audit.memo(
        spark,
        ("supplier_count", sf_dir),
        lambda: _t(spark, sf_dir, "supplier").count(),
    )
    base = part.select(
        "p_partkey", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    )
    sk = (F.col("p_partkey") * 7 + F.col("i") * 13) % ns
    return base.select(
        F.col("p_partkey").alias("ps_partkey"),
        sk.cast("bigint").alias("ps_suppkey"),
        ((F.col("p_partkey") * 13 + sk * 7) % 10000 + 1)
        .cast("bigint")
        .alias("ps_availqty"),
        ((F.col("p_partkey") * 31 + sk * 17) % 10000 + 100)
        .cast("bigint")
        .alias("ps_supplycost_cents"),
    )


@query(
    "min_cost_supplier",
    f"""
WITH {O.SQL_PARTSUPP},
europe AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'
), cand AS (
  SELECT p_partkey, ps_suppkey, ps_supplycost_cents
  FROM part JOIN partsupp ON ps_partkey = p_partkey
  WHERE p_size <= 15 AND p_type = 'ECONOMY'
), m AS (
  SELECT c.p_partkey, c.ps_supplycost_cents, e.s_acctbal, e.s_name, e.n_name,
         min(c.ps_supplycost_cents) OVER (PARTITION BY c.p_partkey) AS mn
  FROM cand c JOIN europe e ON e.s_suppkey = c.ps_suppkey
)
SELECT round(s_acctbal, 6) AS s_acctbal, s_name, n_name, p_partkey,
       round(CAST(ps_supplycost_cents AS DOUBLE) / 100, 6) AS ps_supplycost
FROM m WHERE ps_supplycost_cents = mn
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 minimum-cost-supplier twin over the derived partsupp:
    the correlated MIN subquery becomes a per-part window min with
    equality on the exact integer cents (no float compare can flip).
    Scale shape: supplier/nation/region collapse to one broadcast
    'europe' dim; the window partitions by partkey after the filtered
    part join, so only the candidate rows (selective size+type
    filter) reach it; top-100 via TakeOrdered."""
    from pyspark.sql import Window as W

    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    europe = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    cand = ps.join(
        F.broadcast(p.select("p_partkey")), F.col("ps_partkey") == F.col("p_partkey")
    ).join(F.broadcast(europe), F.col("s_suppkey") == F.col("ps_suppkey"))
    m = cand.withColumn(
        "mn", F.min("ps_supplycost_cents").over(W.partitionBy("p_partkey"))
    )
    return (
        m.filter(F.col("ps_supplycost_cents") == F.col("mn"))
        .select(
            F.round("s_acctbal", 6).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round(F.col("ps_supplycost_cents").cast("double") / 100, 6).alias(
                "ps_supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "important_stock_parts",
    f"""
WITH {O.SQL_PARTSUPP},
nat AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
), v AS (
  SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS value_cents
  FROM partsupp JOIN nat ON nat.s_suppkey = ps_suppkey
), pv AS (
  SELECT ps_partkey, CAST(sum(value_cents) AS BIGINT) AS part_cents FROM v GROUP BY ps_partkey
), tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM v)
SELECT ps_partkey, round(CAST(part_cents AS DOUBLE) / 100, 6) AS stock_value
FROM pv CROSS JOIN tot
WHERE part_cents * 200 > total_cents
ORDER BY part_cents DESC, ps_partkey
""",
)
def q_important_stock_parts(spark, sf_dir):
    """TPC-H Q11 important-stock twin: per-part stock value of one
    region's suppliers HAVING more than 1/200 of the region's total.
    The scalar-total subquery is a one-row aggregate broadcast into
    the filter; the fraction compare is integer-scaled
    (part_cents*200 > total_cents) — exact in both engines, no
    decimal-division scale rules. One shuffle on partkey."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    v = ps.join(F.broadcast(nat), F.col("s_suppkey") == F.col("ps_suppkey")).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("value_cents"),
    )
    pv = v.groupBy("ps_partkey").agg(
        F.sum("value_cents").cast("bigint").alias("part_cents")
    )
    tot = v.agg(F.sum("value_cents").cast("bigint").alias("total_cents"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("part_cents") * 200 > F.col("total_cents"))
        .select(
            "ps_partkey",
            F.round(F.col("part_cents").cast("double") / 100, 6).alias("stock_value"),
        )
        .orderBy(F.desc((F.col("stock_value"))), "ps_partkey")
    )


@query(
    "supplier_count_by_part_attrs",
    f"""
WITH {O.SQL_PARTSUPP},
ok_supp AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0),
sel AS (
  SELECT p_brand, p_type, p_size, ps_suppkey
  FROM partsupp JOIN part ON p_partkey = ps_partkey
  JOIN ok_supp ON ok_supp.s_suppkey = ps_suppkey
  WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
    AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
)
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM sel GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q_supplier_count_by_part_attrs(spark, sf_dir):
    """TPC-H Q16 parts/supplier-relationship twin: distinct supplier
    counts per (brand, type, size), excluding one brand/type and
    negative-balance suppliers (the NOT IN complaint filter becomes a
    broadcast semi join on the positive-balance supplier set —
    Catalyst's left-semi, no row explosion). One shuffle for the
    distinct-count agg."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    ok = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0).select(
        "s_suppkey"
    )
    sel = (
        ps.join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("p_partkey") == F.col("ps_partkey"),
        )
        .join(F.broadcast(ok), F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
    )
    return (
        sel.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "promotion_candidate_suppliers",
    f"""
WITH {O.SQL_PARTSUPP},
red AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
shipped AS (
  SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_partkey, l_suppkey
), excess AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN red ON red.p_partkey = ps_partkey
  JOIN shipped sh ON sh.l_partkey = ps_partkey AND sh.l_suppkey = ps_suppkey
  WHERE ps_availqty * 2 > sh.qty
)
SELECT s_name, round(s_acctbal, 6) AS s_acctbal
FROM supplier
JOIN excess ON excess.ps_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
ORDER BY s_name
""",
)
def q_promotion_candidate_suppliers(spark, sf_dir):
    """TPC-H Q20 potential-promotion twin: suppliers of one region
    holding more than half a year's shipments of a 'red' part in
    stock. The nested IN subqueries flatten to joins: one pushed-down
    year aggregate over lineitem keyed by (partkey, suppkey), a
    broadcast of the filtered part keys, and the half-quantity
    threshold as integer arithmetic (availqty*2 > qty). A (part,
    supplier) pair with NO shipments is excluded — matching the
    original's NULL-comparison semantics."""
    ps = _partsupp(spark, sf_dir)
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    shipped = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("bigint").alias("qty")
    )
    excess = (
        ps.join(F.broadcast(red), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            shipped,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    return (
        s.join(F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_name", F.round("s_acctbal", 6).alias("s_acctbal"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Registry ordering. The round driver issues CORRECTNESS rows for the FIRST
# 50 registry entries only (r1 lesson: the LLM queries registered last got
# no driver row, which hid a real wrong-results bug). r4 rotation (VERDICT
# r3 task 3): FIRST the 29 queries whose only green row is from r2 — the
# driver regenerates /root/testdata each round, so their validation is the
# stalest; THEN this round's new/changed queries (transitive grouping, the
# connected-components curation rewrite, the uncapped minhash default); THEN
# high-value r3-green representatives. What falls past the window is
# r3-green, unchanged since, and still locally oracle-gated by
# tests/test_oracle_parity.py; the union of r2+r3+r4 driver rows covers all
# pre-r4 registered queries; late-r4 additions sit just past the boundary
# to rotate into the r5 window.
# ---------------------------------------------------------------------------

_PRIORITY = [
    # --- r2 tail: only green driver row is from r2 — re-validate first ---
    "interval_join_events",
    "dws_trade_payment_suc_window",
    "dws_trade_trademark_category_user_order_window",
    "dws_trade_trademark_category_user_refund_window",
    "dedup_exact_documents",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "doc_fingerprint_winnow",
    "text_quality_scores",
    "text_lang_id",
    "dedup_prefix_groups",
    "similarity_topk_cosine",
    "multimodal_resize",
    "ads_commodity_stats_trademark",
    "ads_commodity_stats_category",
    "ads_trademark_order_amount_pie",
    "ads_user_uv_by_page",
    "ads_user_change_ct_per_type",
    "ads_trade_user_ct",
    "dwd_trade_pay_detail_suc",
    "dwd_trade_order_refund",
    "dwd_trade_cart_add",
    "dwd_interaction_favor_add",
    "dwd_interaction_comment",
    "dwd_tool_coupon_order",
    "dwd_user_register",
    # --- new / changed this round: verify next ---
    "dedup_groups_transitive",  # new: connected-components grouping
    "dedup_groups_keeper",  # new: quality-aware keeper policy
    "llm_segment_dedup",  # new: C4-style boilerplate block removal
    "llm_doclen_quantiles",  # new: per-source length distribution
    "llm_domain_mix_weights",  # new: data-mixture rebalancing weights
    "dedup_simhash_hamming",  # new: Manku pigeonhole hamming pairs
    "asof_join_events",  # new: backward as-of join (union+window plan)
    "events_session_window",  # new: native session_window vs islands oracle
    "text_bm25_topk",  # new: lexical BM25 retrieval arm
    "similarity_sq_topk",  # new: int8 scalar-quantized ANN + exact rescore
    "text_bigram_lm_score",  # new: CCNet-style char-bigram LM quality score
    "orders_top3_per_priority",  # new: per-group top-N (WindowGroupLimit)
    "orders_rollup_priority_status",  # new: ROLLUP multi-grain agg
    "events_pivot_value_by_type",  # new: fixed-list pivot
    "customers_with_open_orders",  # new: LEFT SEMI join
    "customers_no_urgent_orders",  # new: LEFT ANTI join
    "llm_vocab_topk",  # new: tokenizer vocabulary seed list
    "llm_cross_corpus_decontam",  # new: MinHash cross-corpus probe
    "cart_scd2_history",  # new: SCD2 changelog history
    "events_funnel_conversion",  # new: ordered funnel aggregate
    "events_retention_cohorts",  # new: day-N cohort retention
    "llm_corpus_curation_v2",  # new: curation + decontam + LM signal
    "llm_corpus_curation",  # rewritten: component-wise drop policy
    "dedup_minhash_lsh",  # mega-bucket cap now opt-in (off)
    # ---------------- driver window boundary (50) ----------------
    # frame_sample / commodity_spu: machinery fully shared with their
    # in-window siblings (multimodal_resize; the other 3 commodity
    # stats), demoted to keep every new hash-checked query in-window
    "multimodal_frame_sample",
    "ads_commodity_stats_spu",
    "text_keyword_tfidf",  # new (late r4): rotate into the r5 window
    "text_collocations_pmi",  # new (late r4): rotate into the r5 window
    "llm_train_val_test_split",  # new (late r4)
    "dedup_group_size_report",  # new (late r4)
    "text_quality_gopher",  # new (late r4): Gopher composite rule filter
    "events_median_by_type",  # new (late r4): exact percentile twin
    "events_moving_stats",  # new (late r4): window frames / running aggs
    "events_salted_segment_totals",  # new (late r4): skew-salted join
    "events_sliding_window_counts",  # new (late r4): HOP windows
    "events_cube_type_day",  # new (late r4): CUBE multi-grain
    "lineitem_pricing_summary",  # new (late r4): TPC-H Q1 twin
    "orders_shipping_priority",  # new (late r4): TPC-H Q3 twin
    "nation_revenue_local_suppliers",  # new (late r4): TPC-H Q5 twin
    "dedup_repeated_ngram_spans",  # new (late r4): ExactSubstr signal
    "embedding_pagerank_centrality",  # new (late r4): kNN-graph PageRank
    "similarity_pq_topk",  # new (late r4): product-quantized ANN
    "similarity_ivfpq_topk",  # new (late r4): IVF+PQ composition
    "hybrid_rrf_fusion",  # new (late r4): BM25 ⊕ ANN reciprocal-rank fusion
    "bloom_decontam_probe",  # new (late r4): capped-broadcast Bloom membership
    "vocab_freq_cms",  # new (late r4): count-min heavy-hitter estimates
    "customers_retained_9697",  # new (late r4): INTERSECT set op
    "customers_churned_9697",  # new (late r4): EXCEPT set op
    "events_per_user_sample",  # new (late r4): deterministic per-key sample
    "dedup_fuzzy_titles",  # new (late r4): blocking + edit-distance dedup
    "dedup_groups_multi_signal",  # new (late r4): union-of-signals grouping
    "llm_exact_substr_trim",  # new (late r4): ExactSubstr action step
    "text_langid_confusion",  # new (late r4): heuristic eval matrix
    "sql_tumble_event_counts",  # new (late r4): SQL-front-door TUMBLE
    "events_value_equidepth_hist",  # new (late r4): NTILE exact histogram
    "llm_weighted_sample",  # new (late r4): Efraimidis-Spirakis draw
    "llm_doc_chunking",  # new (late r4): overlapping RAG/train chunks
    "events_value_outliers",  # new (late r4): deterministic 3-sigma flags
    "similarity_ivfpq_residual_topk",  # new (late r4): faiss by_residual default
    "returned_item_customers",  # new (late r4): TPC-H Q10 twin
    "promo_revenue_share",  # new (late r4): TPC-H Q14 twin
    "order_priority_checking",  # new (late r4): TPC-H Q4 twin (EXISTS)
    "forecast_revenue_change",  # new (late r4): TPC-H Q6 twin (pushdown)
    "shipmode_priority_counts",  # new (late r4): TPC-H Q12 twin
    "large_volume_customers",  # new (late r4): TPC-H Q18 twin (HAVING)
    "events_column_stats",  # new (late r4): ANALYZE-twin column stats
    "events_key_skew_report",  # new (late r4): skew diagnostic
    # (rows-only sketch checks: accuracy test-gated locally)
    "events_uv_sketch_daily",
    "events_value_quantiles_approx",
    # everything below is r3/locally gated (tests/test_oracle_parity);
    # the decode stub's machinery is covered by its two in-window
    # multimodal siblings
    "multimodal_decode_stub",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "dedup_semantic_clusters",
    "dwd_trade_order_detail",
    "dim_user_info",
    "dim_coupon_use",
    "cart_changelog_latest",
    "dws_trade_province_order_window",
    "dws_trade_cart_add_uu_window",
    "dws_trade_order_window",
    "dws_traffic_vc_ch_ar_isnew_page_view_window",
    "dws_traffic_source_keyword_page_view_window",
    "dws_traffic_page_view_window",
    "dws_user_user_login_window",
    "dws_user_user_register_window",
    "dwd_traffic_page_log",
    "dwd_traffic_unique_visitor_detail",
    "dwd_traffic_user_jump_detail",
    "text_pii_scan",
    "llm_contamination_check",
    "llm_stratified_sample",
    "text_repetition_signals",
    "llm_corpus_stats",
    "llm_sequence_packing",
    "llm_model_score_stub",
    "doc_fingerprint_simhash",
    "dedup_embedding_lsh",
    "dwd_trade_cancel_detail",
    "dwd_trade_order_add",
    "dwd_tool_coupon_get",
    "dwd_tool_coupon_pay",
    "cart_changelog_first",
    "dwd_traffic_display_log",
    "dwd_traffic_action_log",
    "dwd_traffic_start_log",
    "dwd_traffic_error_log",
    "ads_trade_stats_by_day",
    "ads_trade_stats_union",
    "ads_commodity_stats_full_outer",
    "ads_activity_stats",
    "ads_coupon_stats",
    "ads_traffic_channel_stats",
    "ads_traffic_visitor_stats_by_hour",
    "ads_traffic_visitor_stats_by_isnew",
    "ads_traffic_keywords",
    "ads_user_stats_union",
    "ads_trade_province_stats",
    "ads_uv_by_channel",
]


def _finalize_registry() -> None:
    """Validate + reorder once every registration module has run.

    Called once, from the tail of ``gmall_spark.queries_llm``: that
    package finishes last in either import order (imported first, it
    re-enters THIS module before any LLM query is registered; imported
    second, by the import below, it runs inside this module's import).
    """
    global QUERIES
    missing = [n for n in _PRIORITY if n not in QUERIES]
    assert not missing, f"priority list names unknown queries: {missing}"
    seen = set(_PRIORITY)
    tail = [n for n in QUERIES if n not in seen]
    QUERIES = {n: QUERIES[n] for n in [*_PRIORITY, *tail]}


from gmall_spark import queries_llm  # noqa: E402,F401
