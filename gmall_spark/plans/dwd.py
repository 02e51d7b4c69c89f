"""DWD layer: CDC envelope -> cleaned fact tables.

Each function re-expresses one reference DWD Flink-SQL job as a pure
DataFrame transform over the ``topic_db`` CDC envelope
(schemas.CDC_ENVELOPE). Map-key projection ``data['col']`` (SURVEY P2),
table/type predicates (P3), change-detection predicates on ``old``
(P4/P7/P8/P11), and lookup joins against ``base_dic`` (J3, replaced by
broadcast hash joins) all live here.

Scale notes: the table/type filter prunes before any shuffle; the
``order_id`` join hash-partitions both fact sides once (AQE splits
skewed order keys); ``base_dic`` joins are broadcast (20 rows), so the
reference's JDBC row cache + Redis + async-IO machinery has no analog —
Catalyst's broadcast exchange is strictly better.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_spark.functions.datetime import epoch_seconds_to_ts


def _is(table: str, typ: str | None = None) -> Column:
    cond = F.col("table") == table
    if typ:
        cond = cond & (F.col("type") == typ)
    return cond


def _d(key: str) -> Column:
    """CDC full-row image field (ref: ``data['key'] AS key``,
    DwdTradeOrderDetail.java:32-51)."""
    return F.col("data").getItem(key)


def _o(key: str) -> Column:
    """Prior-value field from the ``old`` map (update rows only)."""
    return F.col("old").getItem(key)


def dwd_trade_order_detail(topic_db: DataFrame, base_dic: DataFrame) -> DataFrame:
    """Order-detail wide fact.

    Ref DwdTradeOrderDetail.java:29-247 — order_detail ⋈ order_info
    (J1 inner, on order_id) ⟕ order_detail_activity ⟕
    order_detail_coupon (J2, on order_detail id) ⋈ base_dic lookup
    (J3). The reference runs this as four Flink SQL views + an
    upsert-kafka sink; here it is one Catalyst plan: the two fact
    joins share the hash partitioning, the dict join is broadcast.
    """
    od = topic_db.filter(_is("order_detail", "insert")).select(
        _d("id").cast("bigint").alias("id"),
        _d("order_id").cast("bigint").alias("order_id"),
        _d("sku_id").cast("bigint").alias("sku_id"),
        _d("sku_num").cast("bigint").alias("sku_num"),
        _d("order_price").cast("decimal(16,2)").alias("order_price"),
        _d("split_total_amount").cast("decimal(18,4)").alias("split_total_amount"),
        _d("split_activity_amount").cast("decimal(18,4)").alias("split_activity_amount"),
        _d("split_coupon_amount").cast("decimal(18,4)").alias("split_coupon_amount"),
        _d("source_type").alias("source_type"),
        _d("create_time").alias("create_time"),
        F.col("ts"),
    )
    oi = topic_db.filter(_is("order_info", "insert")).select(
        _d("id").cast("bigint").alias("order_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("province_id").cast("bigint").alias("province_id"),
        _d("order_status").alias("order_status"),
        # order-grain total carried onto every detail row, as the
        # reference does (DwdTradeOrderDetail.java:169) — DWS sums it
        # per detail record (DwsTradeOrderWindow.java:124,138)
        _d("original_total_amount")
        .cast("decimal(16,2)")
        .alias("original_total_amount"),
    )
    act = topic_db.filter(_is("order_detail_activity", "insert")).select(
        _d("order_detail_id").cast("bigint").alias("id"),
        _d("activity_id").cast("bigint").alias("activity_id"),
    )
    cou = topic_db.filter(_is("order_detail_coupon", "insert")).select(
        _d("order_detail_id").cast("bigint").alias("id"),
        _d("coupon_id").cast("bigint").alias("coupon_id"),
    )
    return (
        od.join(oi, "order_id")
        .join(act, "id", "left")
        .join(cou, "id", "left")
        .join(F.broadcast(base_dic), od.source_type == base_dic.dic_code, "left")
        .select(
            "id",
            "order_id",
            "user_id",
            "sku_id",
            "sku_num",
            "province_id",
            "order_status",
            "activity_id",
            "coupon_id",
            "order_price",
            "original_total_amount",
            "split_total_amount",
            "split_activity_amount",
            "split_coupon_amount",
            "source_type",
            F.col("dic_name").alias("source_type_name"),
            "create_time",
            "ts",
        )
    )


def dwd_trade_cancel_detail(topic_db: DataFrame) -> DataFrame:
    """Cancelled orders: status-transition filter (P7).

    Ref DwdTradeCancelDetail.java:70-77 — ``order_status='1003' AND
    old['order_status'] IS NOT NULL``.
    """
    return topic_db.filter(
        _is("order_info", "update")
        & (_d("order_status") == "1003")
        & _o("order_status").isNotNull()
    ).select(
        _d("id").cast("bigint").alias("order_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("province_id").cast("bigint").alias("province_id"),
        _d("original_total_amount").cast("decimal(16,2)").alias("cancel_amount"),
        _d("operate_time").alias("cancel_time"),
        F.col("ts"),
    )


def dwd_trade_pay_detail_suc(topic_db: DataFrame, base_dic: DataFrame) -> DataFrame:
    """Successful payments ⋈ base_dic payment-type lookup.

    Ref DwdTradePayDetailSuc.java:91-134 — ``payment_status='1602' AND
    old['payment_status'] IS NOT NULL`` (P7) + J3/J4.
    """
    pay = topic_db.filter(
        _is("payment_info", "update")
        & (_d("payment_status") == "1602")
        & _o("payment_status").isNotNull()
    ).select(
        _d("order_id").cast("bigint").alias("order_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("payment_type").alias("payment_type"),
        _d("total_amount").cast("decimal(16,2)").alias("pay_amount"),
        _d("callback_time").alias("callback_time"),
        F.col("ts"),
    )
    return pay.join(
        F.broadcast(base_dic), pay.payment_type == base_dic.dic_code, "left"
    ).select(
        "order_id",
        "user_id",
        "payment_type",
        F.col("dic_name").alias("payment_type_name"),
        "pay_amount",
        "callback_time",
        "ts",
    )


def dwd_trade_order_refund(topic_db: DataFrame) -> DataFrame:
    """Refund requests ⟕ order_info (J5) — ref DwdTradeOrderRefund.java:57-135."""
    refund = topic_db.filter(_is("order_refund_info", "insert")).select(
        _d("id").cast("bigint").alias("id"),
        _d("order_id").cast("bigint").alias("order_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("sku_id").cast("bigint").alias("sku_id"),
        _d("refund_type").alias("refund_type"),
        _d("refund_amount").cast("decimal(16,2)").alias("refund_amount"),
        _d("create_time").alias("create_time"),
        F.col("ts"),
    )
    oi = topic_db.filter(
        _is("order_info", "update") & (_d("order_status") == "1005")
    ).select(
        _d("id").cast("bigint").alias("order_id"),
        _d("province_id").cast("bigint").alias("province_id"),
    )
    return refund.join(oi, "order_id", "left")


def dwd_trade_cart_add(topic_db: DataFrame) -> DataFrame:
    """Cart adds with the sku_num delta rule.

    Ref DwdTradeCartAdd.java:37-59 — keep inserts, and updates where
    ``CAST(data['sku_num'] AS INT) > CAST(old['sku_num'] AS INT)``
    (P4); emitted quantity is the delta ``new - old`` for updates
    (P5: ``if(type='insert', sku_num, sku_num - old.sku_num)``).
    """
    kept = topic_db.filter(
        _is("cart_info")
        & (
            (F.col("type") == "insert")
            | (
                (F.col("type") == "update")
                & _o("sku_num").isNotNull()
                & (_d("sku_num").cast("bigint") > _o("sku_num").cast("bigint"))
            )
        )
    )
    delta = F.when(
        F.col("type") == "insert", _d("sku_num").cast("bigint")
    ).otherwise(_d("sku_num").cast("bigint") - _o("sku_num").cast("bigint"))
    return kept.select(
        _d("id").cast("bigint").alias("id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("sku_id").cast("bigint").alias("sku_id"),
        delta.alias("sku_num"),
        _d("cart_price").cast("decimal(16,2)").alias("cart_price"),
        _d("source_type").alias("source_type"),
        _d("create_time").alias("create_time"),
        F.col("ts"),
    )


def dwd_trade_order_add(topic_db: DataFrame) -> DataFrame:
    """Newly-added order details (order-grain columns included).

    Ref DwdTradeOrderAdd.java — the reference re-reads the
    dwd_trade_order_detail changelog topic and keeps ``type='insert'``
    rows. In the single-engine design that filter collapses into the
    build: new-order details are order_detail inserts joined to their
    order_info *insert* image (order-grain money columns come along).
    """
    od = topic_db.filter(_is("order_detail", "insert")).select(
        _d("id").cast("bigint").alias("order_detail_id"),
        _d("order_id").cast("bigint").alias("order_id"),
        _d("sku_id").cast("bigint").alias("sku_id"),
        _d("sku_num").cast("bigint").alias("sku_num"),
        _d("split_total_amount").cast("decimal(18,4)").alias("split_total_amount"),
        _d("source_type").alias("source_type"),
        _d("create_time").alias("create_time"),
        F.col("ts"),
    )
    oi = topic_db.filter(_is("order_info", "insert")).select(
        _d("id").cast("bigint").alias("order_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("province_id").cast("bigint").alias("province_id"),
        _d("order_status").alias("order_status"),
        _d("original_total_amount").cast("decimal(16,2)").alias("original_total_amount"),
    )
    return od.join(oi, "order_id")


def dwd_interaction_favor_add(topic_db: DataFrame) -> DataFrame:
    """Favor adds incl. cancel-undo (P11).

    Ref DwdInteractionFavorAdd.java:44-55 — ``type='insert' OR
    (type='update' AND old['is_cancel']='1' AND data['is_cancel']='0')``.
    """
    kept = topic_db.filter(
        _is("favor_info")
        & (
            (F.col("type") == "insert")
            | (
                (F.col("type") == "update")
                & (_o("is_cancel") == "1")
                & (_d("is_cancel") == "0")
            )
        )
    )
    return kept.select(
        _d("id").cast("bigint").alias("id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("sku_id").cast("bigint").alias("sku_id"),
        F.substring(_d("create_time"), 1, 10).alias("date_id"),
        _d("create_time").alias("create_time"),
        F.col("ts"),
    )


def dwd_interaction_comment(topic_db: DataFrame, base_dic: DataFrame) -> DataFrame:
    """Comments with appraise-code lookup (J3 left variant).

    Ref DwdInteractionComment.java:36-80 — comment_info inserts left
    lookup-joined to base_dic on ``appraise``; the processing-time
    Phoenix/JDBC cache machinery is a broadcast hash join here.
    """
    ci = topic_db.filter(_is("comment_info", "insert")).select(
        _d("id").cast("bigint").alias("id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("sku_id").cast("bigint").alias("sku_id"),
        _d("order_id").cast("bigint").alias("order_id"),
        F.substring(_d("create_time"), 1, 10).alias("date_id"),
        _d("create_time").alias("create_time"),
        _d("appraise").alias("appraise_code"),
        F.col("ts"),
    )
    return ci.join(
        F.broadcast(base_dic), ci.appraise_code == base_dic.dic_code, "left"
    ).select(
        "id", "user_id", "sku_id", "order_id", "date_id", "create_time",
        "appraise_code", F.col("dic_name").alias("appraise_name"), "ts",
    )


def dwd_tool_coupon_get(topic_db: DataFrame) -> DataFrame:
    """Coupon grants — ref DwdToolCouponGet.java (coupon_use inserts)."""
    return topic_db.filter(_is("coupon_use", "insert")).select(
        _d("id").cast("bigint").alias("id"),
        _d("coupon_id").cast("bigint").alias("coupon_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        F.substring(_d("get_time"), 1, 10).alias("date_id"),
        _d("get_time").alias("get_time"),
        F.col("ts"),
    )


def _coupon_use_change(topic_db: DataFrame, key: str, out_name: str) -> DataFrame:
    """coupon_use updates whose ``old`` touched ``key`` (P8).

    Ref DwdToolCouponOrder.java / DwdToolCouponPay.java — the reference
    declares ``old`` as STRING and round-trips table->stream->table to
    run a Java JSON-keys filter; with ``old`` kept as a map the filter
    is one expression (the reference itself demos this idiom in
    src/test/.../ArrayContainsTest.java:26-28).
    """
    rows = topic_db.filter(
        _is("coupon_use", "update")
        & F.array_contains(F.map_keys(F.col("old")), key)
    )
    return rows.select(
        _d("id").cast("bigint").alias("id"),
        _d("coupon_id").cast("bigint").alias("coupon_id"),
        _d("user_id").cast("bigint").alias("user_id"),
        _d("order_id").cast("bigint").alias("order_id"),
        F.substring(_d(key), 1, 10).alias("date_id"),
        _d(key).alias(out_name),
        F.col("ts"),
    )


def dwd_tool_coupon_order(topic_db: DataFrame) -> DataFrame:
    return _coupon_use_change(topic_db, "using_time", "order_time")


def dwd_tool_coupon_pay(topic_db: DataFrame) -> DataFrame:
    return _coupon_use_change(topic_db, "used_time", "payment_time")


def dwd_user_register(topic_db: DataFrame) -> DataFrame:
    """Registrations — ref DwdUserRegister.java (user_info inserts)."""
    return topic_db.filter(_is("user_info", "insert")).select(
        _d("id").cast("bigint").alias("user_id"),
        F.substring(_d("create_time"), 1, 10).alias("date_id"),
        _d("create_time").alias("create_time"),
        F.col("ts"),
    )


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Attach a TimestampType event-time column ``rt`` from epoch seconds."""
    return df.withColumn("rt", epoch_seconds_to_ts(ts_col))
