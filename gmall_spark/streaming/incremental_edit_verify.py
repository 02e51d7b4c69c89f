"""Incremental (streaming) edit-distance near-dup verification.

The streaming twin of the X207 batch tier
(queries_llm.dedup_edit_distance_verify): each micro-batch of new
documents is shingled, signed and banded exactly like the batch path,
probed against the persisted band store (the incremental_dedup
layout), and every candidate pair is verified with LEVENSHTEIN
against the stored raw text — the X207 integer verdict
(100·lev ≤ EDIT_SIM_MAX_PCT·max_len), every candidate emitted with
its flag, true or false (the X173 discipline the batch tier pins).

Batch-equals-streaming: identical argument to incremental_dedup —
a candidate pair always has at least one member from the current
batch (never seen before), so a pair is discovered exactly once, in
the batch where its LATER member arrives; within-batch pairs come
from the batch's self join; pairs are canonical doc_a < doc_b. The
union of emitted rows after ANY batch split therefore equals the
single-batch X207 output on the full corpus (levenshtein is a pure
function of the two stored texts — no order dependence anywhere).
Asserted by tests/test_streaming.py.

Store layout (the incremental_dedup shape: epoch stores, a batch
probes the epochs before its own): ``bands``, the emitted ``pairs``
rows, plus ``texts`` (doc_id, text) — the edit tier verifies against
raw text, not shingle arrays, so the store keeps the text column the
verify needs. At 100 TB the texts table is the corpus itself (no
amplification — it replaces, not duplicates, the shingle store) and
the probe join is the same band equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import llm_dedup
from gmall_spark.queries_llm.tok_media import edit_verify_rows
from gmall_spark.streaming.incremental_dedup import _BANDS_SCHEMA, probe_candidates
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_TEXTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = llm_dedup.NGRAM_N,
    k: int = llm_dedup.MINHASH_K,
    bands: int = llm_dedup.LSH_BANDS,
) -> DataFrame:
    """Verify one micro-batch against the store (the batches before
    ``batch_id``); store the new rows and the batch's bands/texts
    under ``batch_id``; return the new rows (same schema as
    the X207 batch query: doc_a, doc_b, lev, max_len, edit_sim,
    is_near_dup), verified by tok_media.edit_verify_rows, the batch
    query's own verify."""
    txt = batch_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    ).persist()
    sh = txt.select(
        "doc_id", F.explode(llm_dedup.shingle_array("text", n)).alias("shingle")
    )
    new_bands = llm_dedup.band_signatures(
        llm_dedup.minhash_signatures(sh, k), bands, k
    ).persist()

    old_bands = read_epochs(spark, f"{store_dir}/bands", _BANDS_SCHEMA, batch_id)
    old_texts = read_epochs(spark, f"{store_dir}/texts", _TEXTS_SCHEMA, batch_id)
    cand = (
        probe_candidates(new_bands, new_bands)
        .unionByName(probe_candidates(new_bands, old_bands))
        .distinct()
    )
    rows = edit_verify_rows(cand, old_texts.unionByName(txt))

    for sub, df in (("pairs", rows), ("bands", new_bands), ("texts", txt)):
        idempotent_parquet_write(f"{store_dir}/{sub}")(df, batch_id)
    txt.unpersist()
    new_bands.unpersist()
    return rows


def emitted_rows(spark: SparkSession, store_dir: str) -> DataFrame:
    """All rows emitted so far (union over processed batches)."""
    return read_epochs(spark, f"{store_dir}/pairs")
