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
    derived with the IDENTICAL turns -> prompt -> token chain;
  - seeds: same shape, written by seed batches (the retroactivity
    axis).

The verdict view re-derives per candidate from the blocked pairs over
the MERGED seed pool — batch-equals-streaming: the view after any
ingest split is row-identical to the batch gate over everything
ingested, because max-over-seeds is associative and the blocking key
is a pure function of the prompt. The LCS is the registered
functions/text.lcs_length (Arrow-batched integer DP since r13);
every expression matches the batch query's.

Scale shape: candidate and seed stores grow at prompt grain; the
verdict re-derive is one prefix-keyed join (candidates x merged
seeds) + a candidate-keyed aggregate — at production the re-derive is
scoped to the PREFIX BLOCKS a seed batch touches (the dirty-block
discipline of incremental_sem_pack), which the revocation log's
blk-grain makes possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.functions import text as TX
from gmall_spark.operators import sft
from gmall_spark.queries_llm.sft_classifier import ROUGEL_DEN, ROUGEL_NUM
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


def prompt_rows(batch_docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> the prompt-token rows the batch gate derives
    (first user turn, lowercased whitespace tokens, 2-token block
    key)."""
    t = sft.turns(batch_docs)
    pb = t.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.filter(
            F.split(F.lower(F.col("turns").getItem(0)["txt"]), r"\s+"),
            lambda x: x != "",
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    return pb.select(
        "doc_id",
        "toks",
        F.size("toks").cast("long").alias("n_tok"),
        F.array_join(F.slice("toks", 1, 2), " ").alias("blk"),
    )


def _verdicts(cands: DataFrame, seeds: DataFrame) -> DataFrame:
    """The X257 gate over explicit candidate/seed pools — identical
    expressions to the registered query."""
    sd = seeds.select(
        F.col("doc_id").alias("seed_id"),
        F.col("toks").alias("tb"),
        F.col("n_tok").alias("nb"),
        F.col("blk").alias("sblk"),
    )
    pr = cands.join(sd, cands["blk"] == sd["sblk"]).select(
        F.col("doc_id").alias("cand_id"),
        "seed_id",
        TX.lcs_length(F.col("toks"), F.col("tb")).alias("l"),
        F.col("n_tok").alias("na"),
        "nb",
    )
    w = Window.partitionBy("cand_id")
    rk = pr.select(
        "*",
        F.row_number()
        .over(
            w.orderBy(
                (F.lit(2.0) * F.col("l") / (F.col("na") + F.col("nb"))).desc(),
                F.col("seed_id"),
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_blocked"),
        F.min(
            F.when(
                2 * ROUGEL_DEN * F.col("l")
                < ROUGEL_NUM * (F.col("na") + F.col("nb")),
                1,
            ).otherwise(0)
        )
        .over(w)
        .alias("all_below"),
    ).filter(F.col("rn") == 1)
    return cands.join(rk, cands["doc_id"] == rk["cand_id"], "left").select(
        "doc_id",
        F.coalesce("n_blocked", F.lit(0)).cast("long").alias(
            "n_blocked_seeds"
        ),
        F.col("seed_id").cast("long").alias("nearest_seed_id"),
        F.round(
            F.lit(2.0) * F.col("l") / (F.col("na") + F.col("nb")), 6
        ).alias("rougel_max"),
        F.when(F.col("cand_id").isNull(), F.lit(True))
        .otherwise(F.col("all_below") == 1)
        .alias("novel"),
    )


def current_verdicts(
    spark: SparkSession, store_dir: str, seeds_before: int | None = None
) -> DataFrame:
    """The corpus-so-far gate view — row-identical to the batch gate
    over everything ingested (max-over-seeds is associative over any
    split of the seed pool). ``seeds_before`` keeps the seed epochs
    before it."""
    return _verdicts(
        read_epochs(spark, f"{store_dir}/novelty_candidates", _POOL_SCHEMA),
        read_epochs(spark, f"{store_dir}/novelty_seeds", _POOL_SCHEMA, seeds_before),
    )


def process_candidates(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest a candidate micro-batch; returns THE BATCH's verdicts
    against the seed pool as of now (what the generation loop acts
    on)."""
    rows = prompt_rows(batch_docs).localCheckpoint(eager=True)
    idempotent_parquet_write(f"{store_dir}/novelty_candidates")(rows, batch_id)
    seeds = read_epochs(spark, f"{store_dir}/novelty_seeds", _POOL_SCHEMA)
    return _verdicts(rows, seeds)


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
        prompt_rows(batch_docs), batch_id
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
