"""Incremental (streaming) DSIR data selection — X114 as a continuous
pipeline, the same frozen-scorer / moving-cut shape as the CCNet
bucket twin (incremental_ppl).

Deployment form: both bag models are trained ONCE — the target model
p on the curated reference set, the raw model q on a held-out raw
SAMPLE (in batch X114 q is fit on the full raw corpus; a stream has
no full corpus at day one, so the production recipe freezes q on a
representative sample and refreshes both models only on explicit
retrain, cf. the DSIR paper's pretrained-importance-estimator usage).
A document's importance weight is therefore FIXED at ingest; what
moves is the selection CUT — "keep the most target-like quarter" is
a quantile of the weight distribution seen so far, and grows more
selective (in absolute weight) as target-like batches arrive.

Per micro-batch: score the batch under the frozen (p, q) ratio and
write to the batch's own store epoch (idempotent overwrite —
foreachBatch replay rewrites byte-identical rows).
:func:`selected_docs` re-derives the kept tier from ALL stored
weights through the exact batch cut (dsir.resample_top_fraction), so
after any batch split the selection equals the batch operator over
the same scored relation — including documents selected in an early
batch and RETROACTIVELY dropped when later batches push the cut past
them (monotone in the distribution, never in a doc's own weight).

Scale shape: state is ONE row per document; the cut histogram is
value-space-bounded (rounded weights); the frozen ratio table is
≤ N_BUCKETS rows broadcast at scoring time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import dsir
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_W_SCHEMA = "doc_id long, n_feats bigint, dsir_logratio double"


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    target_docs: DataFrame,
    raw_sample_docs: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Score one micro-batch's importance weights under the frozen
    (target, raw-sample) models and write them to the batch's own
    epoch. Pass the SAME target/raw-sample relations every batch —
    they are the frozen models (checkpoint them upstream)."""
    idempotent_parquet_write(f"{store_root}/weights")(
        dsir.importance_weights_under(batch_docs, target_docs, raw_sample_docs),
        batch_id,
    )


def stored_weights(spark: SparkSession, store_root: str) -> DataFrame:
    return read_epochs(spark, f"{store_root}/weights", _W_SCHEMA)


def selected_docs(
    spark: SparkSession, store_root: str, n_tiers: int = 4
) -> DataFrame:
    """The currently-selected (most target-like 1/n_tiers) documents
    over everything ingested so far — identical to the batch
    resample on the same scored relation, so the cut moves with the
    merged distribution and early selections can be retroactively
    dropped."""
    return dsir.resample_top_fraction(
        stored_weights(spark, store_root), n_tiers=n_tiers
    )
