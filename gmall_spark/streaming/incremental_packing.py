"""Incremental (streaming) FFD sequence packing — X175 as a
continuous pipeline, the X156 re-derive class: pack assignment is
NOT mergeable (a bucket's rule choice and cumsum chop depend on the
bucket's GLOBAL census, so a late doc can re-pack its whole bucket),
but the per-doc token length IS frozen at ingest. Each micro-batch
writes its (doc_id, n_tok) rows to its own store epoch
(idempotent overwrite); :func:`current_packs` re-derives the packed
table from the merged length store through the exact batch operator
(queries_llm.pack_rows), so after ANY batch split the result is
row-identical to packing everything seen so far in one batch —
including retroactive re-packing when new lengths shift a bucket's
slot-vs-chop decision.

State is one integer per document — the minimum ANY packer needs;
re-derivation is one window pass over the store (the batch
operator's own cost), which is exactly how a production loader
regenerates its epoch manifest when the corpus grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_LEN_SCHEMA = "doc_id long, n_tok long"


def process_batch(
    spark: SparkSession,
    batch_lens: DataFrame,
    store_root: str,
    batch_id: int,
) -> None:
    """Persist one micro-batch's (doc_id, n_tok) rows — n_tok already
    clamped to [1, cap] by the caller's tokenizer stage — to the
    batch's own epoch (replay-safe overwrite)."""
    idempotent_parquet_write(f"{store_root}/lens")(
        batch_lens.select("doc_id", "n_tok"), batch_id
    )


def stored_lengths(spark: SparkSession, store_root: str) -> DataFrame:
    return read_epochs(spark, f"{store_root}/lens", _LEN_SCHEMA)


def current_packs(spark: SparkSession, store_root: str, cap: int | None = None) -> DataFrame:
    """The packed table over every document seen so far — identical
    to the batch packer on the same lengths (streaming == batch after
    any split; re-packing is retroactive by construction).

    The default cap is SEQ_PACK_CAP itself (not a hardcoded copy):
    a literal 2048 here would silently diverge from the batch packer
    if the constant ever changed (ADVICE r8 item 4)."""
    from gmall_spark.queries_llm.packing_release import SEQ_PACK_CAP, pack_rows

    return pack_rows(
        stored_lengths(spark, store_root),
        SEQ_PACK_CAP if cap is None else cap,
    )
