"""Incremental prompt-dedup keeper with retroactive displacement.

The streaming twin of X233 (queries_llm.sft_prompt_dedup) — the
MAX-merge class: the maintained state is the per-prompt candidate
table (prompt, doc_id, asst_len), which merges by union, while
the derived artifact (the keeper) is an argmax over it — a later
arrival with a RICHER response DISPLACES the current keeper, and the
twin ships that move instead of silently keeping the stale pick
(the X210 re-derive honesty: state merges, artifacts re-derive).

Per batch: derive the batch's (prompt, doc_id, asst_len) candidates
with sft_classifier.prompt_candidates (the batch query's own
derivation), diff the keeper view before vs after the batch's
epoch, and return the displacement log (prompt, old/new keeper + lengths).
Batch-equals-streaming: the keeper view after any ingest split is
row-identical to the batch query on the full corpus — argmax with
the (asst_len DESC, doc_id ASC) total order is associative over any
partition of the rows.

Scale shape: state grows at prompt grain (bounded by distinct
prompts per batch); the keeper view is one prompt-keyed window; the
diff joins the before/after keeper tables on prompt only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.queries_llm.sft_classifier import (
    prompt_candidates,
    prompt_keepers,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("prompt", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("asst_len", T.LongType()),
    ]
)


def current_keepers(
    spark: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame:
    """The corpus-so-far keeper view (the batches before ``before``,
    all by default): sft_classifier.prompt_keepers, the batch query's
    own election, over the stored candidates — row-identical (for
    prompts with n_convs >= 2) to the batch X233 on everything
    ingested."""
    return prompt_keepers(
        read_epochs(spark, f"{store_dir}/sft_candidates", _CAND_SCHEMA, before)
    )


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest one micro-batch; returns the DISPLACEMENT log: prompts
    whose keeper changed (a richer response arrived — old_keeper's
    rows should leave the training set, new_keeper's enter). Both
    sides of the diff read a fixed epoch range, so the log is the
    same however late it is evaluated, and on a replay."""
    before = current_keepers(spark, store_dir, before=batch_id).select(
        "prompt",
        F.col("doc_id").alias("old_keeper"),
        F.col("asst_len").alias("old_asst_len"),
    )
    idempotent_parquet_write(f"{store_dir}/sft_candidates")(
        prompt_candidates(batch_docs), batch_id
    )
    after = current_keepers(spark, store_dir, before=batch_id + 1).select(
        "prompt",
        F.col("doc_id").alias("new_keeper"),
        F.col("asst_len").alias("new_asst_len"),
    )
    moves = (
        after.join(before, "prompt", "left")
        .filter(
            F.col("old_keeper").isNotNull()
            & (F.col("old_keeper") != F.col("new_keeper"))
        )
        .select(
            F.md5("prompt").alias("prompt_md5"),
            "old_keeper",
            "new_keeper",
            "old_asst_len",
            "new_asst_len",
        )
    )
    return moves
