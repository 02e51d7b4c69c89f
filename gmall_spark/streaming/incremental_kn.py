"""Incremental Kneser-Ney scoring under a GROWING training corpus.

The streaming twin of X218 (queries_llm.text_lm_score_kn_frozen), in
the X185/X198 RE-DERIVE class rather than the SUM-merge class: the
model's only corpus-sized statistic — the (lang, bigram, count) table
(operators/lm.kn_bigram_counts) — merges by integer ADDITION across
batches, but every DERIVED statistic (context totals, continuation
counts, nt/vc) and therefore EVERY document's score changes when
training text arrives: a single new training doc can retroactively
re-score the entire already-ingested eval set (a new continuation
char shifts the smoothing scale of every bigram). So the twin keeps
two stores — SUM-merged training counts and the raw eval docs (the
X209 raw-store pattern) — and the current view re-derives all scores
from the merged counts through the batch query's own model algebra
(operators/lm.kn_model_from_counts and kn_score_with_model), giving
exact equality with the batch query on (train ∪ eval ingested so far).

The per-batch return is the arrival view: the batch's eval docs
scored under the model AS OF this batch — what an online quality
gate acts on — which the next training arrival may legitimately
revise (the re-derive class's defining property, pinned by the
planted retroactivity test)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import lm
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest one micro-batch of (doc_id, lang, text): training docs
    (doc_id even, the X112/X218 split) fold into the SUM-merged
    count store; eval docs (odd) go to the raw store, each in the
    batch's epoch. Returns the batch's eval docs scored under the
    model as of this batch."""
    train = batch_docs.filter(F.col("doc_id") % 2 == 0)
    evals = batch_docs.filter(F.col("doc_id") % 2 == 1)
    idempotent_parquet_write(f"{store_dir}/kn_counts")(
        lm.kn_bigram_counts(train), batch_id
    )
    idempotent_parquet_write(f"{store_dir}/kn_eval")(
        evals.select("doc_id", "lang", "text"), batch_id
    )
    return lm.kn_score_with_model(
        evals, _current_model(spark, store_dir, before=batch_id + 1)
    )


def _current_model(
    spark: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame:
    counts = read_epochs(spark, f"{store_dir}/kn_counts", before=before)
    return lm.kn_model_from_counts(
        counts.groupBy("lang", "b").agg(F.sum("c").alias("c"))
    )


def current_scores(spark: SparkSession, store_dir: str) -> DataFrame:
    """Every ingested eval doc re-scored under the merged count
    table — bit-equal to the batch X218 on the union of everything
    ingested (same model algebra over the same counts)."""
    evals = read_epochs(spark, f"{store_dir}/kn_eval")
    return lm.kn_score_with_model(evals, _current_model(spark, store_dir))


def bucketed_docs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The X243 CCNet cut over the re-derived scores: every ingested
    eval doc's head/middle/tail assignment under the KN model as of
    the merged count store — row-identical to the batch
    text_perplexity_buckets_kn on the ingested union (same scores by
    current_scores' equality, same histogram-cut algebra by
    construction), so the bucket a document lands in is exactly what
    the batch pipeline would assign, just continuously maintained.
    Re-bucketing is retroactive on BOTH axes of this twin: new
    training text re-scores ingested docs (the re-derive class), and
    new eval docs move the equal-population cut points (the X108
    incremental_ppl shape) — either arrival can flip an old doc's
    tier, never retract it."""
    scored = current_scores(spark, store_dir).withColumnRenamed(
        "kn_logprob", "bigram_logprob"
    )
    return lm.perplexity_buckets(scored, scored=scored).withColumnRenamed(
        "bigram_logprob", "kn_logprob"
    )
