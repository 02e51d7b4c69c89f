"""JDBC connector shapes (SURVEY S7/S10) as pure transformations.

The Spark answers to the reference's hand-rolled JDBC machinery:

- S7 lookup table w/ cache (utils/MysqlUtil.java:5-27, 100-row/1 h
  cache): re-read the table per micro-batch inside ``foreachBatch``
  (the `FOR SYSTEM_TIME AS OF proctime` snapshot semantics) and join
  it through :func:`broadcast_lookup_join`; Spark's broadcast replaces
  the row cache + Redis + async pool entirely.
- S10 ClickHouse batch sink (utils/MyClickHouseUtil.java:19-62, batch
  5 rows / 1 s + @TransientSink column skipping):
  :func:`sink_projection` drops the transient columns, and a
  ``foreachBatch`` write issues ONE bulk write per micro-batch —
  batching comes from the micro-batch itself, not a hand-rolled row
  buffer.

No database ships in the test container, so the JDBC read and write
calls themselves are not here; the parquet twins of these shapes run
in tests/test_streaming.py::test_foreach_batch_dim_router.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink_projection(batch_df: DataFrame, transient_cols: Sequence[str] = ()) -> DataFrame:
    """The @TransientSink column skip (S10) as a pure transformation:
    columns carried through the pipeline but excluded from the sink
    row (ref bean/TransientSink.java:9-11, MyClickHouseUtil.java:30-44
    reads the annotation reflectively; here it is one declarative
    drop)."""
    return batch_df.drop(*transient_cols) if transient_cols else batch_df


def broadcast_lookup_join(
    facts: DataFrame,
    lookup: DataFrame,
    fact_key: str,
    lookup_key: str,
    how: str = "left",
) -> DataFrame:
    """The lookup-join shape (J3/S7): facts ⟕ broadcast(lookup)."""
    return facts.join(
        F.broadcast(lookup), facts[fact_key] == lookup[lookup_key], how
    )
