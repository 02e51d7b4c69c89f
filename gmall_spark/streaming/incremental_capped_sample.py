"""Incremental cluster-capped sampling — X199's streaming twin (the
X185 re-derive class, with the X140 frozen-at-ingest discipline).

Cluster ASSIGNMENTS freeze at ingest under the frozen coarse
quantizer (the deployment shape: the centroids artifact is trained
once and shipped; re-training on every batch would make yesterday's
assignment depend on tomorrow's data). The SELECTION is re-derived
from the merged assignment store through the exact batch operator, so
streaming == batch after any split — including the two retroactive
effects the test pins:

- the CAP MOVES as n grows (cap = ceil(ceil(n*pct/100)/n_lists)), so
  an early pick can fall out when the budget share shrinks relative
  to its cluster, and
- the md5 rank is global, so a later arrival with a smaller md5 can
  DISPLACE an earlier pick at the cap boundary.

Idempotence comes from the per-epoch overwrite. At 100 TB the
store is the (vec_id, list_id)-partitioned index table the IVF path
already maintains, and current_sample is a scheduled selection pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import ivf, semdedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_ASSIGN_SCHEMA = "vec_id long, list_id int"


def process_batch(
    spark: SparkSession,
    batch_emb: DataFrame,
    store_root: str,
    batch_id: int,
    centroids: list[list[float]],
) -> None:
    """Assign one micro-batch of (vec_id, embedding) rows under the
    FROZEN centroids and write the assignments to the batch's own
    epoch (idempotent overwrite — assignment is deterministic)."""
    idempotent_parquet_write(f"{store_root}/assign")(
        ivf.build_index(batch_emb, centroids).select("vec_id", "list_id"),
        batch_id,
    )


def stored_assignments(spark: SparkSession, store_root: str) -> DataFrame:
    return read_epochs(spark, f"{store_root}/assign", _ASSIGN_SCHEMA)


def current_sample(
    spark: SparkSession,
    store_root: str,
    n_lists: int,
    pct: int,
) -> DataFrame:
    """The diversity-capped selection over every vector seen so far —
    identical to the batch operator on the merged assignments
    (streaming == batch after any split, retroactive displacement
    included)."""
    return semdedup.cluster_capped_sample(
        stored_assignments(spark, store_root), n_lists=n_lists, pct=pct
    )
