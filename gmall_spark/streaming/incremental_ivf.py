"""Incremental (streaming) IVF index maintenance: a continuously-
ingesting ANN index.

The ANN operators (operators/ivf.py, operators/pq.py) build their
inverted index from a static corpus; a production embedding store
INGESTS — new vectors arrive continuously and must become searchable
without re-indexing the corpus. This module is that path, in the
faiss-at-scale shape: the coarse quantizer (centroids) is FIXED
(trained offline on a bounded sample, retrained out-of-band when
drift warrants — assignments are immutable between retrains), and
each micro-batch is one embarrassingly-parallel gemm assignment pass
written to its own ``epoch=<batch_id>`` partition of the store,
sub-partitioned by list_id. Probing reads ONLY
the nprobe matching partitions (partition pruning at the scan —
asserted on the plan), so query cost tracks nprobe/n_lists of the
corpus no matter how many batches have been ingested.

Batch-equals-streaming: assignment depends only on (vector,
centroids), so the union of per-batch assignments IS the batch-built
index — row for row (asserted by tests/test_streaming.py), and
top-k probed from the store equals ``ivf.ivf_topk`` on the union
with the same centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import ivf
from gmall_spark.streaming.store import read_epochs


def process_batch(
    batch: DataFrame,
    centroids: list[list[float]],
    store_dir: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign one micro-batch against the FIXED coarse quantizer and
    overwrite its epoch of the index store (runner
    .idempotent_parquet_write's layout, plus the list_id partitioning
    that lets a probe prune)."""
    ivf.build_index(batch, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{store_dir}/epoch={batch_id}")


def read_index(spark: SparkSession, store_dir: str) -> DataFrame:
    """The index as of the last completed batch."""
    return read_epochs(spark, store_dir)


def topk_from_store(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = ivf.IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf.probe_topk`` — ``ivf.ivf_topk``'s own probe — against the
    persisted store: the probed list_ids reach the scan as partition
    filters, so only nprobe/n_lists of the store's files are read."""
    return ivf.probe_topk(
        read_index(spark, store_dir), queries, centroids, k, nprobe, id_col, vec_col
    )
