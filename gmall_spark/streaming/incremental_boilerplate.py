"""Incremental (streaming) corpus-frequency boilerplate removal —
the X106 policy as a continuous pipeline, with RETROACTIVE repair.

The batch operator (operators/llm_dedup.boilerplate_span_clean) drops
every copy of a span occurring in >= K distinct documents. Streamed,
that policy has a wrinkle the keep-first twin (incremental_span_clean)
does not: a span's document frequency only ever GROWS, so a span that
was below threshold when early documents were emitted can cross K in
a later batch — at which point those already-emitted documents are
WRONG and must be re-emitted without the span. Monotonicity is the
saving grace: spans never un-cross, so repair is re-emission in a
later epoch (latest row per doc wins), never retraction of a removal.

Per micro-batch:

1. write the batch's span POSTINGS (doc_id, idx, h) and its distinct
   span CONTENT (h, span) to the batch's own store epochs (content is
   content-addressed by hash, so boilerplate text is stored once per
   distinct span, not per occurrence);
2. recompute document frequencies over all postings; spans with
   df >= K form the boilerplate set;
3. find spans that CROSSED the threshold in this batch
   (df_before < K <= df_after) and the prior documents containing
   them — those docs are rebuilt from the postings + content stores;
4. emit cleaned rollups for this batch's docs plus the affected prior
   docs, stamped with the batch id; readers take each doc's row from
   the HIGHEST batch.

After any batch split, :func:`emitted_docs` is row-identical to the
batch operator over all documents seen so far (tests assert a split
where the threshold crossing happens in batch 2 and a batch-1 doc is
retroactively re-emitted).

Replay safety under foreachBatch retries mirrors
incremental_span_clean: every read keeps only the epochs before the
current batch (a failed attempt may have written its own), all
writes are idempotent per-epoch overwrites, and a retry therefore
recomputes byte-identical rows.

Scale shape: postings are O(corpus spans) and content is O(distinct
spans) — the inherent state of exact frequency dedup. The boilerplate
and crossed sets are tiny by construction and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.operators import llm_dedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_POST_SCHEMA = "doc_id long, idx int, h string"
_SPAN_SCHEMA = "h string, span string"
_OUT_SCHEMA = (
    "doc_id long, n_spans bigint, removed_spans bigint, clean_md5 string,"
    " batch bigint"
)



def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_root: str,
    batch_id: int,
    span_w: int = 10,
    min_doc_freq: int = llm_dedup.BOILER_DOC_FREQ,
) -> None:
    """Ingest one micro-batch: update stores, emit this batch's
    cleaned docs AND retroactively re-emit prior docs whose spans
    crossed the doc-frequency threshold."""
    spans_b = llm_dedup.span_rows(batch_docs, span_w).persist()
    try:
        idempotent_parquet_write(f"{store_root}/postings")(
            spans_b.select("doc_id", "idx", "h"), batch_id
        )
        idempotent_parquet_write(f"{store_root}/spans")(
            spans_b.select("h", "span").dropDuplicates(["h"]), batch_id
        )

        prior_posts = read_epochs(
            spark, f"{store_root}/postings", _POST_SCHEMA, before=batch_id
        )
        all_posts = prior_posts.unionByName(
            spans_b.select("doc_id", "idx", "h")
        )
        df_after = all_posts.groupBy("h").agg(
            F.count_distinct("doc_id").alias("df_after")
        )
        boiler = (
            df_after.filter(F.col("df_after") >= min_doc_freq)
            .select("h", F.lit(True).alias("is_boiler"))
        )
        df_before = prior_posts.groupBy("h").agg(
            F.count_distinct("doc_id").alias("df_before")
        )
        crossed = (
            boiler.join(df_before, "h", "left")
            .filter(
                F.col("df_before").isNull()
                | (F.col("df_before") < min_doc_freq)
            )
            .select("h")
        )
        affected = (
            prior_posts.join(F.broadcast(crossed), "h")
            .select("doc_id")
            .distinct()
        )
        # earlier epochs only, like every other read; the batch's own
        # content comes from the in-memory spans_b, which a
        # foreachBatch retry recomputes byte-identically
        content = (
            read_epochs(spark, f"{store_root}/spans", _SPAN_SCHEMA, before=batch_id)
            .unionByName(spans_b.select("h", "span").dropDuplicates(["h"]))
            .dropDuplicates(["h"])
        )
        prior_spans = (
            prior_posts.join(F.broadcast(affected), "doc_id")
            .join(content, "h")
            .select("doc_id", "idx", "span", "h")
        )
        to_emit = spans_b.select("doc_id", "idx", "span", "h").unionByName(
            prior_spans
        )
        flagged = to_emit.join(F.broadcast(boiler), "h", "left").withColumn(
            "kept", F.col("is_boiler").isNull()
        )
        rollup = llm_dedup.span_doc_rollup(flagged.drop("is_boiler")).withColumn(
            "batch", F.lit(batch_id).cast("bigint")
        )
        idempotent_parquet_write(f"{store_root}/docs")(rollup, batch_id)
    finally:
        spans_b.unpersist()


def emitted_docs(spark: SparkSession, store_root: str) -> DataFrame:
    """Current cleaned state: each document's row from the HIGHEST
    batch that (re-)emitted it — later batches retroactively repair
    earlier ones, so max-batch wins; removals never revert."""
    from pyspark.sql import Window

    out = read_epochs(spark, f"{store_root}/docs", _OUT_SCHEMA)
    w = Window.partitionBy("doc_id").orderBy(F.col("batch").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_spans", "removed_spans", "clean_md5")
    )
