"""Incremental licensing/opt-out governance gate.

The streaming twin of X241/X242 (queries_llm.web_tier
web_domain_optout_gate / audit / release delta), in the
embarrassingly-incremental SUM-merge class: the gate lists are
FROZEN and the verdict is a pure function of the registered domain,
so a document's verdict is FINAL at arrival (no retroactivity — the
X220 frozen-reference property, pinned in the test), and every audit
statistic is an additive counter at domain grain. State = one row of
integer counters per registered domain; the audit and release-delta
views re-aggregate the merged state and equal the batch queries
EXACTLY on everything ingested.

Operationally this is the crawl-compliance shape: per-domain
kept/dropped counters advance as fetches land, the release delta is
always current, and pushing a NEW blocklist entry is a state rebuild
(re-derive class) by design — the frozen-list twin makes that cost
boundary explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries_llm.web_tier import (
    DOMAIN_BLOCKLIST,
    DOMAIN_OPTOUT,
    drop_counts,
    optout_gate,
)
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest one micro-batch: gate it with web_tier.optout_gate, the
    batch query's own gate, and write its domain counters (the drop
    counts are web_tier.drop_counts, as in the release delta) to its
    epoch; returns the batch's per-doc verdicts (final at arrival —
    what a crawl gate acts on immediately). The gate runs once per
    batch: the counters and the verdicts both read its materialized
    result."""
    g = optout_gate(batch_docs, passthrough=("n_chars",)).localCheckpoint(
        eager=True
    )
    idempotent_parquet_write(f"{store_dir}/optout_state")(
        g.groupBy("registered_domain").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.sum(1 - F.col("kept")).cast("bigint").alias("n_dropped"),
            *drop_counts(),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        ),
        batch_id,
    )
    return g.drop("n_chars")


def _merged(spark: SparkSession, store_dir: str) -> DataFrame:
    return (
        read_epochs(spark, f"{store_dir}/optout_state")
        .groupBy("registered_domain")
        .agg(
            *[
                F.sum(c).cast("bigint").alias(c)
                for c in (
                    "n_docs",
                    "n_kept",
                    "n_dropped",
                    "n_dropped_blocklist",
                    "n_dropped_optout",
                    "total_chars",
                )
            ]
        )
    )


def current_audit(spark: SparkSession, store_dir: str) -> DataFrame:
    """The corpus-so-far X242a audit — bit-equal to the batch query on
    everything ingested (counters add; the gate verdict re-derives
    from the frozen lists, a pure function of the domain)."""
    m = _merged(spark, store_dir)
    return m.select(
        "registered_domain",
        F.when(
            F.col("registered_domain").isin(*DOMAIN_BLOCKLIST), "blocklist"
        )
        .when(F.col("registered_domain").isin(*DOMAIN_OPTOUT), "optout")
        .otherwise("kept")
        .alias("gate"),
        "n_docs",
        "n_kept",
        "n_dropped",
        "total_chars",
    )


def current_delta(spark: SparkSession, store_dir: str) -> DataFrame:
    """The corpus-so-far X242b release stamp from the merged state."""
    m = _merged(spark, store_dir)
    return m.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs_before"),
        F.sum("n_kept").cast("bigint").alias("n_docs_after"),
        F.sum("n_dropped_blocklist").cast("bigint").alias(
            "n_dropped_blocklist"
        ),
        F.sum("n_dropped_optout").cast("bigint").alias("n_dropped_optout"),
        F.countDistinct(
            F.when(F.col("n_dropped") > 0, F.col("registered_domain"))
        )
        .cast("bigint")
        .alias("n_domains_gated"),
        F.round(
            F.sum("n_dropped") / F.sum("n_docs").cast("double"), 6
        ).alias("drop_frac"),
    )
