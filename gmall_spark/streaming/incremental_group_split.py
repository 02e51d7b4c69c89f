"""Incremental group-aware train/val/test split with retroactive moves.

The streaming twin of X210 (queries_llm.llm_split_by_group) — and the
op where incremental dedup gets OPERATIONALLY interesting: a split
hashed on the near-dup GROUP representative is leak-free by
construction, but groups are not frozen under ingest. A later arrival
can bridge two previously-separate groups (the transitive chain), the
merged group gets a new representative, and every member's split
assignment is RE-DERIVED — a document that was serving in `train` can
retroactively move to `val`. Shipping that move (instead of silently
keeping the stale assignment) is the entire point: the stale split is
exactly the leakage X189 measures. This is the X185/X198 re-derive
class — the maintained state (verified pairs) is mergeable, the
derived artifact (splits) is not, and the twin is honest about which
is which.

Per batch: run the X4 incremental dedup (band store probe + verify —
the pair set after any batch split equals the batch pipeline's, the
proven incremental_dedup theorem), then re-close the transitive
groups over ALL pairs emitted so far (the pairs table is duplicate-
density-bounded, never corpus-sized), re-derive every seen doc's
split with packing_release._SPLIT_SQL_SPARK (the batch query's own
md5 expression), diff against the previous assignment snapshot, and
write the new snapshot plus the move log to the batch's epoch (a
replay diffs against the same earlier snapshot and overwrites both).

Batch-equals-streaming: the final snapshot equals the batch X210
output on the full corpus — same pairs => same components => same
group keys => same md5 split. Moves are the DIFF trail between
snapshots; the final state carries no memory of them (asserted by
tests/test_streaming.py, with a planted chain-merge forcing a real
train->val move).

Scale shape: group re-closure runs on the pair graph (bounded by
duplicate density); the assignment join is group-table-broadcast vs
one pass over seen doc ids; each snapshot is one epoch of (batch_id,
doc_id, group_key, split) — at 100 TB the diff joins the last two
epochs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import components
from gmall_spark.streaming import incremental_dedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("group_key", T.LongType()),
        T.StructField("split", T.StringType()),
    ]
)


def current_assignment(
    spark: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame:
    """The latest snapshot (of the batches before ``before``, all by
    default): (doc_id, group_key, split) rows of the max batch_id
    (the two-column read a partitioned table serves from its last
    partition)."""
    a = read_epochs(spark, f"{store_dir}/assign", _ASSIGN_SCHEMA, before)
    last = a.agg(F.max("batch_id").alias("b"))
    return (
        a.join(F.broadcast(last), a.batch_id == last.b)
        .select("doc_id", "group_key", "split")
    )


def moves(spark: SparkSession, store_dir: str) -> DataFrame:
    """The retroactive-move log accumulated across batches."""
    return read_epochs(spark, f"{store_dir}/moves")


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest one micro-batch: dedup it against the store, re-derive
    every seen doc's group-aware split, log the docs whose split
    MOVED since the previous snapshot, write the new snapshot.
    Returns the move log rows for this batch (doc_id, old_split,
    new_split, old_group_key, new_group_key)."""
    from gmall_spark.queries_llm.packing_release import _SPLIT_SQL_SPARK
    from gmall_spark.queries_llm.prelude import NEAR_DUP_THRESHOLD

    incremental_dedup.process_batch(
        spark,
        batch_docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        ),
        store_dir,
        batch_id,
        NEAR_DUP_THRESHOLD,
    )

    # Re-close groups over ALL pairs so far (duplicate-density-bounded)
    # and re-derive the split for every doc seen so far — the exact
    # X210 expressions (group rep hash; singletons keep the doc hash).
    pairs = incremental_dedup.emitted_pairs(spark, store_dir).select("doc_a", "doc_b")
    groups = components.connected_components(pairs)
    seen = read_epochs(spark, f"{store_dir}/shingles", "doc_id long")
    grp_split = _SPLIT_SQL_SPARK.replace("doc_id", "group_key")
    new = (
        seen.join(F.broadcast(groups), "doc_id", "left")
        .selectExpr("doc_id", "coalesce(group_id, doc_id) AS group_key")
        .selectExpr("doc_id", "group_key", f"{grp_split} AS split")
        .persist()
    )

    prev = current_assignment(spark, store_dir, before=batch_id)
    moved = (
        new.alias("n")
        .join(prev.alias("p"), "doc_id")
        .filter("n.split <> p.split OR n.group_key <> p.group_key")
        .selectExpr(
            f"cast({batch_id} as long) AS batch_id",
            "doc_id",
            "p.split AS old_split",
            "n.split AS new_split",
            "p.group_key AS old_group_key",
            "n.group_key AS new_group_key",
        )
        .persist()
    )
    idempotent_parquet_write(f"{store_dir}/moves")(moved, batch_id)
    idempotent_parquet_write(f"{store_dir}/assign")(
        new.selectExpr(
            f"cast({batch_id} as long) AS batch_id", "doc_id", "group_key", "split"
        ),
        batch_id,
    )
    new.unpersist()
    moved.unpersist()
    # return the WRITTEN rows, not the live plan: re-evaluating the
    # lazy plan would redo the group closure over the pair store
    return moves(spark, store_dir).filter(F.col("batch_id") == batch_id)
