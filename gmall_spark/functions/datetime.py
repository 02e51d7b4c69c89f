"""Date/time helpers.

Replaces the reference's DateFormatUtil (gmall-realtime/.../utils/
DateFormatUtil.java:11-39: epoch <-> ``yyyy-MM-dd[ HH:mm:ss]``) and the
TIMESTAMP_LTZ(3) string comparator (utils/TimestampLtz3CompareUtil.java:
7-39 — unnecessary here: we compare real TimestampType values).

All pure Column expressions — JVM-side, codegen'd, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FMT_DATETIME = "yyyy-MM-dd HH:mm:ss"


def to_datetime_str(ts: Column | str) -> Column:
    """``yyyy-MM-dd HH:mm:ss`` string (DateFormatUtil.toYmdHms)."""
    return F.date_format(ts, FMT_DATETIME)


def epoch_seconds_to_ts(s: Column | str) -> Column:
    """CDC-envelope ``ts`` (epoch seconds, Maxwell) -> TimestampType."""
    return F.timestamp_seconds(F.col(s) if isinstance(s, str) else s)


