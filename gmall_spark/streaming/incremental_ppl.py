"""Incremental (streaming) CCNet perplexity bucketing — the X108
policy as a continuous pipeline (VERDICT r6 item 5).

The deployment shape follows Wenzek et al. (arXiv:1911.00359): the
language model is trained ONCE on a reference corpus and FROZEN;
every arriving batch is scored under it (operators/lm
.score_with_model — unseen bigrams take the add-one floor), so a
document's score never changes after ingest. What DOES change is the
bucket assignment: head/middle/tail are equal-population tiers of
the score distribution seen so far, and the cut points move as the
corpus fills in — re-bucketing is retroactive by nature, exactly the
incremental_boilerplate repair shape (monotone state, re-derivation
that never retracts ingested data).

Per micro-batch:

1. score the batch's documents under the frozen model;
2. write the scored rows (doc_id, lang, n_bigrams, bigram_logprob)
   to the batch's own epoch (``scores/epoch=<id>`` — an idempotent
   overwrite, so a foreachBatch retry rewrites byte-identical rows
   and never double-counts).

:func:`bucketed_docs` derives the CURRENT assignment from the merged
scores through the exact batch operator (lm.perplexity_buckets with
``scored=`` pointing at the store), so after ANY batch split the
result is row-identical to scoring-and-bucketing all documents seen
so far in one batch — asserted by tests/test_streaming.py, including
a planted fixture where a batch-1 document's bucket flips when batch
2 shifts the distribution.

Scale shape: per-batch state is ONE row per document (the scored
relation) — the minimum any per-doc assignment needs; the histogram
cut in bucketed_docs is value-space-bounded regardless of corpus
size (lm.perplexity_buckets docstring). The frozen model is a small
broadcast at scoring time. At 100 TB the scores store becomes a
date-partitioned table and bucketed_docs a scheduled rollup — the
layout carries over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import lm
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_SCORE_SCHEMA = (
    "doc_id long, lang string, n_bigrams bigint, bigram_logprob double"
)


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    model: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Score one micro-batch under the frozen ``model`` (a
    lm.bigram_model relation) and write the scored rows to the
    batch's own epoch. Replay-safe: scoring is deterministic and the
    write is a per-epoch overwrite."""
    idempotent_parquet_write(f"{store_root}/scores")(
        lm.score_with_model(batch_docs, model).select(
            "doc_id", "lang", "n_bigrams", "bigram_logprob"
        ),
        batch_id,
    )


def stored_scores(spark: SparkSession, store_root: str) -> DataFrame:
    """Every scored row ingested so far."""
    return read_epochs(spark, f"{store_root}/scores", _SCORE_SCHEMA)


def bucketed_docs(
    spark: SparkSession, store_root: str, n_buckets: int = lm.PPL_BUCKETS
) -> DataFrame:
    """Current head/middle/tail assignment over ALL documents seen so
    far — identical to the batch operator on the same scored
    relation, so a two-batch split and a single batch agree row for
    row (the cuts see the same merged distribution either way)."""
    return lm.perplexity_buckets(
        None, n_buckets=n_buckets, scored=stored_scores(spark, store_root)
    )
