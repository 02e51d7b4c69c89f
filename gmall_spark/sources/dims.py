"""Dimension tables.

``base_dic`` mirrors the reference's MySQL lookup dictionary
(utils/MysqlUtil.java:5-13; lookup-joined FOR SYSTEM_TIME AS OF in
every DWD SQL job, e.g. DwdTradeCartAdd.java:92-94). It is tiny, so the
Spark-first replacement for the reference's JDBC-cache + Redis + async
machinery is simply a broadcast hash join — rebuilt per micro-batch in
streaming for the "as of processing time" snapshot semantics. Each
rebuild is a JVM ``LocalRelation`` (``session.local_rows``): no pickled
RDD, so a micro-batch starts no Python worker to broadcast it.

``BASE_DIC_ROWS`` doubles as the oracle fixture: the same rows are
inlined as a VALUES list in the DuckDB oracle SQL (see queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.session import local_rows

BASE_DIC_ROWS: list[tuple[str, str]] = [
    ("1001", "unpaid"),
    ("1002", "paid"),
    ("1003", "cancelled"),
    ("1004", "finished"),
    ("1005", "refunding"),
    ("1601", "pay_pending"),
    ("1602", "pay_success"),
    ("1101", "alipay"),
    ("1102", "wechat"),
    ("1103", "unionpay"),
    ("1501", "refund_only"),
    ("1502", "return_and_refund"),
    ("1201", "good"),
    ("1202", "medium"),
    ("1203", "bad"),
    ("1204", "auto"),
    ("2401", "search"),
    ("2402", "promotion"),
    ("2403", "recommend"),
    ("2404", "activity"),
]


def base_dic(spark: SparkSession) -> DataFrame:
    return local_rows(spark, BASE_DIC_ROWS, "dic_code string, dic_name string")


def base_dic_values_sql() -> str:
    """The same dictionary as an inline ANSI-SQL VALUES relation."""
    rows = ", ".join(f"('{c}', '{n}')" for c, n in BASE_DIC_ROWS)
    return f"(VALUES {rows}) AS base_dic(dic_code, dic_name)"
