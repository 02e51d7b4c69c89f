"""Record-deletion propagation across persisted pipeline state.

A takedown / right-to-be-forgotten request must remove a document
from EVERY derived store, not just the corpus table — the
incremental-dedup band and shingle stores, verified-pair outputs,
the ANN index — or the deleted text keeps influencing dedup
decisions (and keeps being re-derivable from shingles). This is the
GDPR-article-17 pass every production corpus pipeline carries.

Mechanics: every store is an epoch store (streaming/store.py's
layout), rewritten one ``epoch=<N>`` dir at a time through a
broadcast ANTI-join on its id columns (the delete set is small by
nature): checkpoint the kept rows, write them to a ``_purgetmp.<N>``
sibling, remove the epoch dir, rename the sibling into place. The tmp
name starts with ``_`` and holds no ``=``, so partition discovery
neither reads it nor takes it for a partition (``_epoch=0.purgetmp``
raised CONFLICTING_PARTITION_COLUMN_NAMES). A crash between the last
two steps loses no data: the tmp dir holds the epoch's full kept
content. At 100 TB the rewrite cost is one linear pass per store;
batching many takedown requests into one purge amortizes it.

Bloom filters CANNOT delete (bits are shared — unsetting one would
create false negatives for other keys): the bloom store must be
REBUILT from the retained keys, which :func:`purge_doc_ids` does NOT
automate — callers remove the store's ``words`` epochs and re-run
``incremental_bloom.process_batch`` over the retained reference
corpus. Count-min cells could subtract exactly, but the rebuild path
is the safe default there too.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.streaming.store import read_epochs
from gmall_spark.session import local_rows


def _rewrite_epochs(
    spark: SparkSession, path: str, keep: Callable[[DataFrame], DataFrame]
) -> int:
    """Rewrite each ``epoch=<N>`` dir under ``path`` to ``keep`` of its
    rows; returns the number of rows removed."""
    removed = 0
    for d in sorted(glob.glob(os.path.join(path, "epoch=*"))):
        df = spark.read.parquet(d)
        # localCheckpoint: the rewrite must not lazily re-read the
        # directory it is about to replace
        kept = keep(df).localCheckpoint()
        removed += df.count() - kept.count()
        tmp = os.path.join(path, "_purgetmp." + d.rsplit("=", 1)[1])
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(d)
        os.replace(tmp, d)
    return removed


def purge_doc_ids(
    spark: SparkSession,
    doc_ids: list[int],
    stores: dict[str, list[str]],
) -> dict[str, int]:
    """Remove every row referencing a deleted id from each store.

    ``stores`` maps an epoch store dir to the id COLUMNS to purge on
    (a pair store purges on both ``doc_a`` and ``doc_b``). Returns
    the number of rows removed per store."""
    ids = local_rows(spark, [(int(i),) for i in doc_ids], "___purge_id bigint")
    removed: dict[str, int] = {}
    for path, id_cols in stores.items():

        def keep(df: DataFrame, id_cols: list[str] = id_cols) -> DataFrame:
            for c in id_cols:
                df = df.join(
                    F.broadcast(ids), df[c] == ids["___purge_id"], "left_anti"
                )
            return df

        removed[path] = _rewrite_epochs(spark, path, keep)
    return removed


def purge_boilerplate_store(
    spark: SparkSession,
    doc_ids: list[int],
    store_root: str,
) -> dict[str, int]:
    """Takedown pass for the incremental-boilerplate store
    (streaming/incremental_boilerplate.py), whose ``spans`` rows
    hold VERBATIM span text content-addressed by hash with no doc
    linkage — purging the doc-keyed ``postings``/``docs`` rows alone
    would leave a deleted document's text alive as orphaned
    ``(h, span)`` rows (VERDICT r6 gap 2).

    Three sub-stores, in dependency order:

    1. ``postings`` — drop the purged docs' (doc_id, idx, h) rows;
    2. ``docs`` — drop the purged docs' emitted rollups;
    3. ``spans`` — garbage-collect content: keep only hashes still
       referenced by the REMAINING postings (semi-join against the
       post-purge posting set), so text whose every occurrence
       belonged to purged docs is physically deleted, while spans
       shared with surviving docs are retained (they are those docs'
       content, not the purged ones').

    Returns rows removed per sub-store. Run offline, not concurrently
    with process_batch (same contract as any store rewrite)."""
    from gmall_spark.streaming.incremental_boilerplate import _POST_SCHEMA

    subs = {"postings": f"{store_root}/postings", "docs": f"{store_root}/docs"}
    gone = purge_doc_ids(spark, doc_ids, {p: ["doc_id"] for p in subs.values()})
    referenced = (
        read_epochs(spark, subs["postings"], _POST_SCHEMA)
        .select("h")
        .distinct()
        .localCheckpoint()
    )
    removed = {sub: gone[p] for sub, p in subs.items()}
    removed["spans"] = _rewrite_epochs(
        spark, f"{store_root}/spans", lambda df: df.join(referenced, "h", "left_semi")
    )
    return removed
