"""Incremental (streaming) co-purchase mining — the X151 statistic as
a continuous pipeline (the relational sibling of
incremental_containment's postings-store pattern).

The subtlety a naive per-batch pair count gets WRONG: an order's
lines can SPAN micro-batches (the order header arrives, more lines
trickle in), and a pair only exists once both parts are in the
basket — so pair deltas are not sum-mergeable. State is therefore
the DISTINCT (order, part) MEMBERSHIP postings, one epoch per batch
(idempotent overwrite, replay-safe), and the pair table
re-derives from the merged postings through the EXACT batch core
(operators/relational.copurchase_pairs, shared by refactor). Two
consequences the tests pin:

- **streaming == batch** after any split, including baskets split
  across batches;
- **retroactive pair appearance**: a pair (and every lift in the
  table — N and the marginals move too) updates when a later batch
  completes a basket.

Scale shape: state is one row per (order, part) — the minimum any
co-occurrence statistic needs; the re-derivation cost is the batch
operator's own (basket-bounded self-join). At 100 TB the postings
store becomes a bucketed table on the order key and the pair rollup
a scheduled job — the layout carries over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators.relational import COPURCHASE_TOP, copurchase_pairs
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_OP_SCHEMA = "o long, p long"


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_root: str,
    batch_id: int,
    order_col: str = "o",
    part_col: str = "p",
) -> None:
    """Append one micro-batch's distinct (order, part) memberships to
    the batch's own epoch (idempotent overwrite, replay-safe)."""
    idempotent_parquet_write(f"{store_root}/op")(
        batch.select(
            F.col(order_col).cast("long").alias("o"),
            F.col(part_col).cast("long").alias("p"),
        ).distinct(),
        batch_id,
    )


def stored_memberships(spark: SparkSession, store_root: str) -> DataFrame:
    """Every (order, part) membership ingested so far, deduped across
    batches (the same line replayed into two batch ids must not
    double-count a pair)."""
    return read_epochs(spark, f"{store_root}/op", _OP_SCHEMA).distinct()


def current_pairs(
    spark: SparkSession, store_root: str, top: int = COPURCHASE_TOP
) -> DataFrame:
    """Current top co-purchase pairs over ALL baskets seen so far —
    identical to the batch operator on the same membership relation,
    so split baskets complete retroactively."""
    return copurchase_pairs(stored_memberships(spark, store_root), top=top)
