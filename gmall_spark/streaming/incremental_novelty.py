"""Incremental self-instruct novelty gate with retroactive revocation.

The streaming twin of X257 (sft_novelty_rougel) — the inverse of the
incremental_gov_keeper restore: there a late GOVERNANCE event
retroactively RESTORED a pruned doc; here a late-arriving SEED
retroactively REVOKES candidates that were novel when they arrived
(their prompts now collide with the grown seed pool). Self-instruct
runs exactly this loop: accepted candidates join the pool, and every
later generation is gated against the pool AS OF NOW — so the
candidate verdict is NOT final at arrival, and the twin ships the
revocation log instead of silently keeping stale verdicts (the X210
re-derive honesty: state merges, artifacts re-derive).

State, two epoch stores at prompt grain that merge by union:
  - candidates: (doc_id, toks, n_tok, blk) per ingested candidate doc,
    derived by sft_classifier.prompt_token_rows, the batch query's
    own turns -> prompt -> token chain;
  - seeds: same shape, written by seed batches (the retroactivity
    axis).

The verdict view re-derives per candidate from the blocked pairs over
the MERGED seed pool — batch-equals-streaming: the view after any
ingest split is row-identical to the batch gate over everything
ingested, because max-over-seeds is associative and the blocking key
is a pure function of the prompt. The gate is
sft_classifier.novelty_verdicts, the batch query's own function (its
LCS is functions/text.lcs_length, an Arrow-batched integer DP).

Scale shape: candidate and seed stores grow at prompt grain; the
verdict re-derive is one prefix-keyed join (candidates x merged
seeds) + a candidate-keyed aggregate — at production the re-derive is
scoped to the PREFIX BLOCKS a seed batch touches (the dirty-block
discipline of incremental_sem_pack), which the revocation log's
blk-grain makes possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.queries_llm.sft_classifier import (
    novelty_verdicts,
    prompt_token_rows,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_POOL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("toks", T.ArrayType(T.StringType())),
        T.StructField("n_tok", T.LongType()),
        T.StructField("blk", T.StringType()),
    ]
)


def current_verdicts(
    spark: SparkSession, store_dir: str, seeds_before: int | None = None
) -> DataFrame:
    """The corpus-so-far gate view — row-identical to the batch gate
    over everything ingested (max-over-seeds is associative over any
    split of the seed pool). ``seeds_before`` keeps the seed epochs
    before it."""
    return novelty_verdicts(
        read_epochs(spark, f"{store_dir}/novelty_candidates", _POOL_SCHEMA),
        read_epochs(spark, f"{store_dir}/novelty_seeds", _POOL_SCHEMA, seeds_before),
    )


def process_candidates(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest a candidate micro-batch; returns THE BATCH's verdicts
    against the seed pool as of now (what the generation loop acts
    on)."""
    rows = prompt_token_rows(batch_docs).localCheckpoint(eager=True)
    idempotent_parquet_write(f"{store_dir}/novelty_candidates")(rows, batch_id)
    seeds = read_epochs(spark, f"{store_dir}/novelty_seeds", _POOL_SCHEMA)
    return novelty_verdicts(rows, seeds)


def process_seeds(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest a LATE-ARRIVING seed batch; returns the REVOCATION log:
    candidates whose verdict changed retroactively (novel -> rejected
    because a new seed collides, plus any rougel_max/nearest moves).
    ``batch_id`` numbers the seed store's own epochs."""
    before = current_verdicts(spark, store_dir, seeds_before=batch_id).select(
        "doc_id",
        F.col("novel").alias("old_novel"),
        F.col("rougel_max").alias("old_rougel_max"),
    )
    idempotent_parquet_write(f"{store_dir}/novelty_seeds")(
        prompt_token_rows(batch_docs), batch_id
    )
    after = current_verdicts(spark, store_dir, seeds_before=batch_id + 1)
    return (
        after.join(before, "doc_id")
        .filter(
            (F.col("old_novel") != F.col("novel"))
            | ~F.col("old_rougel_max").eqNullSafe(F.col("rougel_max"))
        )
        .select(
            "doc_id",
            "old_novel",
            F.col("novel").alias("new_novel"),
            "old_rougel_max",
            F.col("rougel_max").alias("new_rougel_max"),
            "nearest_seed_id",
        )
    )
