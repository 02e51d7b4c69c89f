"""Incremental governance-gated keeper with retroactive restore.

The streaming twin of X253/X254's governance x dedup composition, at
the EXACT-MIRROR grain (group key = the X6 canonical text hash — a
pure per-row function, so group identity is stable across any batch
split; the "blocklist silently deletes content that has a perfectly
releasable mirror" case IS the exact-duplicate case). Two state
relations, each an epoch store that merges by union:

  - candidates: (text_hash, doc_id, registered_domain, n_words) per
    ingested document, derived with functions/text.canonical_hash and
    weburl.synth_url + canonicalize, the functions the batch queries
    run;
  - the opt-out REGISTER: registered domains added over time — the
    retroactivity axis. The frozen X241 lists are plan literals; the
    register is the part of governance that genuinely arrives late
    (takedown notices, licensing changes).

The derived artifact (the keeper view) is an argmax over the merged
state — the X210 re-derive honesty (state merges, artifacts
re-derive), same class as incremental_sft_keeper: the election
(kept DESC, n_words DESC, doc_id ASC — X253's total order) is
associative over any partition of the rows, so batch-equals-streaming
holds for every ingest split. A LATE-ARRIVING opt-out flips kept bits
retroactively, and the diff surfaces the move: the gated keeper's
previously pruned mirror becomes the representative (the restore),
or, when no mirror survives, the group's keeper goes NULL (the
content honestly leaves the release — a logged event, not a silent
hole).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.functions import text as TX
from gmall_spark.operators import weburl
from gmall_spark.queries_llm.web_tier import DOMAIN_BLOCKLIST, DOMAIN_OPTOUT
from gmall_spark.session import local_rows
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("text_hash", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("registered_domain", T.StringType()),
        T.StructField("n_words", T.LongType()),
    ]
)

_REG_SCHEMA = T.StructType(
    [T.StructField("registered_domain", T.StringType())]
)


def batch_candidates(batch_docs: DataFrame) -> DataFrame:
    """One batch's candidate rows — TX.canonical_hash and the weburl
    provenance chain, the functions the batch queries run."""
    can = weburl.canonicalize(weburl.synth_url(batch_docs)).select(
        "doc_id", "registered_domain"
    )
    feats = batch_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TX.canonical_hash(F.col("text")).alias("text_hash"),
        TX.word_count(F.col("text")).alias("n_words"),
    )
    return feats.join(can, "doc_id").select(
        "text_hash", "doc_id", "registered_domain", "n_words"
    )


def _keepers(cands: DataFrame, register: DataFrame) -> DataFrame:
    """The keeper view over merged candidates + the register: per
    canonical-hash group, the X253 election (kept DESC, n_words DESC,
    doc_id ASC), keeper NULL when no member survives the frozen lists
    plus the register."""
    reg = register.select(
        F.col("registered_domain").alias("__reg")
    ).distinct()
    gated = cands.join(
        reg, cands["registered_domain"] == reg["__reg"], "left"
    ).select(
        "text_hash",
        "doc_id",
        "registered_domain",
        "n_words",
        F.when(
            F.col("registered_domain").isin(
                *(DOMAIN_BLOCKLIST + DOMAIN_OPTOUT)
            )
            | F.col("__reg").isNotNull(),
            0,
        )
        .otherwise(1)
        .cast("bigint")
        .alias("kept"),
    )
    w = Window.partitionBy("text_hash")
    ranked = gated.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_members"),
        F.sum("kept").over(w).alias("n_surviving"),
        F.row_number()
        .over(
            w.orderBy(
                F.col("kept").desc(), F.col("n_words").desc(), F.col("doc_id")
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return ranked.select(
        "text_hash",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("n_surviving").cast("bigint").alias("n_surviving"),
        F.when(F.col("n_surviving") > 0, F.col("doc_id"))
        .cast("bigint")
        .alias("keeper_id"),
    )


def current_keepers(
    spark: SparkSession,
    store_dir: str,
    docs_before: int | None = None,
    optouts_before: int | None = None,
) -> DataFrame:
    """The corpus-so-far keeper view — row-identical to a batch
    election over everything ingested with the full register (the
    election's total order is associative over ingest splits). The
    ``*_before`` bounds restrict each store to its earlier epochs."""
    return _keepers(
        read_epochs(
            spark, f"{store_dir}/gov_candidates", _CAND_SCHEMA, docs_before
        ),
        read_epochs(
            spark, f"{store_dir}/gov_optout_register", _REG_SCHEMA, optouts_before
        ),
    )


def _moves(before: DataFrame, after: DataFrame) -> DataFrame:
    b = before.select(
        "text_hash",
        F.col("keeper_id").alias("old_keeper"),
        F.col("n_surviving").alias("old_surviving"),
    )
    a = after.select(
        "text_hash",
        F.col("keeper_id").alias("new_keeper"),
        F.col("n_surviving").alias("new_surviving"),
        "n_members",
    )
    return (
        a.join(b, "text_hash", "left")
        .filter(
            ~(
                F.col("old_keeper").eqNullSafe(F.col("new_keeper"))
                & F.col("old_surviving").isNotNull()
            )
        )
        .select(
            "text_hash",
            "n_members",
            "old_keeper",
            "new_keeper",
            F.coalesce("old_surviving", F.lit(0))
            .cast("bigint")
            .alias("old_surviving"),
            F.col("new_surviving").cast("bigint").alias("new_surviving"),
        )
    )


def process_batch(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest one document micro-batch; returns the keeper-move log
    (new groups enter with old_keeper NULL; a better-quality or
    earlier-id mirror displaces, exactly the batch election's say)."""
    before = current_keepers(spark, store_dir, docs_before=batch_id)
    idempotent_parquet_write(f"{store_dir}/gov_candidates")(
        batch_candidates(batch_docs), batch_id
    )
    return _moves(
        before, current_keepers(spark, store_dir, docs_before=batch_id + 1)
    )


def process_optout(
    spark: SparkSession, domains: list[str], store_dir: str, batch_id: int
) -> DataFrame:
    """Ingest LATE-ARRIVING opt-out register entries; returns the
    RESTORATION log: groups whose keeper changed retroactively — the
    gated keeper's previously pruned mirror becomes the
    representative (new_keeper on a surviving domain), or the group
    honestly leaves the release (new_keeper NULL). ``batch_id`` numbers
    the register's own epochs."""
    before = current_keepers(spark, store_dir, optouts_before=batch_id)
    idempotent_parquet_write(f"{store_dir}/gov_optout_register")(
        local_rows(spark, [(d,) for d in domains], _REG_SCHEMA), batch_id
    )
    return _moves(
        before, current_keepers(spark, store_dir, optouts_before=batch_id + 1)
    )
