"""Incremental range-partition planning — X198/X180's streaming twin
(the X185 re-derive class).

A frozen boundary plan drifts as data arrives: the maintained X179
bucket histogram (incremental_value_hist's store — SUM-mergeable, so
the merged sketch after any split EXACTLY equals the batch histogram)
is the always-current input, and the audit checks the CURRENT
histogram against the FROZEN plan version. When drift pushes any
planned partition's fill ratio out of [1/2, 2], maybe_replan
re-derives boundaries from the merged histogram and freezes a new
version — but ONLY when the re-derived boundaries actually differ:
bucket granularity bounds what any plan can achieve, and re-freezing
an identical plan would loop forever on an unfixable skew (one bucket
holding more than 2/P of the data). Plan versions are immutable
``v<N>`` dirs, so replays are idempotent and an auditor can diff versions.
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import DataFrame, SparkSession

from gmall_spark.operators import sketches
from gmall_spark.session import local_rows
from gmall_spark.streaming import incremental_value_hist as vh

_PLAN_SCHEMA = "i long, bb long"
_PLAN_DIR_RE = _re.compile(r"^v(\d+)$")


def _default_parts() -> int:
    from gmall_spark.queries_llm.distribution_stats import RANGE_PARTS

    return RANGE_PARTS


def _plan_versions(store_root: str) -> list[tuple[int, str]]:
    base = os.path.join(store_root, "plan")
    try:
        out = []
        for d in os.listdir(base):
            m = _PLAN_DIR_RE.match(d)
            if m:
                out.append((int(m.group(1)), os.path.join(base, d)))
        return sorted(out)
    except FileNotFoundError:
        return []


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_root: str,
    batch_id: int,
    value_col: str = "value",
) -> None:
    """Ingest one micro-batch into the shared X179 histogram store
    (idempotent per-epoch overwrite)."""
    vh.process_batch(spark, batch, store_root, batch_id, value_col)


def current_bounds(spark: SparkSession, store_root: str) -> tuple[int, DataFrame]:
    """(version, boundary table) of the latest frozen plan; version 0
    with an empty table when no plan has been frozen yet."""
    versions = _plan_versions(store_root)
    if not versions:
        return 0, local_rows(spark, [], _PLAN_SCHEMA)
    v, path = versions[-1]
    return v, spark.read.schema(_PLAN_SCHEMA).parquet(path)


def freeze_plan(
    spark: SparkSession, store_root: str, parts: int | None = None
) -> int:
    """Derive boundaries from the CURRENT merged histogram and freeze
    them as the next immutable plan version. Returns the version."""
    p = _default_parts() if parts is None else parts
    v = (_plan_versions(store_root)[-1][0] + 1) if _plan_versions(store_root) else 1
    sketches.hist_range_plan(vh.stored_hist(spark, store_root), p).select(
        "i", "bb"
    ).write.mode("overwrite").parquet(
        os.path.join(store_root, "plan", f"v{v}")
    )
    return v


def audit(
    spark: SparkSession, store_root: str, parts: int | None = None
) -> DataFrame:
    """The X198 balance audit: CURRENT histogram vs the FROZEN plan.
    Identical to the batch operator when the plan was just frozen
    (same histogram in, same integer rules)."""
    p = _default_parts() if parts is None else parts
    _, bounds = current_bounds(spark, store_root)
    return sketches.hist_range_audit(
        vh.stored_hist(spark, store_root), bounds, p
    )


def maybe_replan(
    spark: SparkSession, store_root: str, parts: int | None = None
) -> tuple[bool, int]:
    """Re-plan iff drift pushed a partition out of band AND the
    re-derived boundaries differ from the frozen ones (re-freezing an
    identical plan can never improve balance — bucket granularity is
    the floor). Returns (replanned, current_version)."""
    p = _default_parts() if parts is None else parts
    cur_v, cur_bounds = current_bounds(spark, store_root)
    rows = audit(spark, store_root, p).collect()  # parts rows, bounded
    if all(r.in_band for r in rows):
        return False, cur_v
    new = sketches.hist_range_plan(vh.stored_hist(spark, store_root), p)
    if {(r.i, r.bb) for r in new.collect()} == {
        (r.i, r.bb) for r in cur_bounds.collect()
    }:
        return False, cur_v
    return True, freeze_plan(spark, store_root, p)
