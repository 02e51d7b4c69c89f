"""Mergeable-sketch aggregation: HyperLogLog distinct counting.

The exact `count_distinct` UV queries (plans/ads.py, A9) shuffle
every distinct key once per grain. At 100 TB the standard dashboard
answer is a DataSketches HLL sketch per grain: constant-size partial
state that map-side combines, merges ACROSS grains without rescanning
(day sketches → month estimate via `hll_union_agg`), and re-estimates
at query time. Spark ships the Apache DataSketches implementation as
first-class aggregates (`hll_sketch_agg` / `hll_union_agg` /
`hll_sketch_estimate`), so the whole path is JVM-side.

No DuckDB oracle: HLL estimates are implementation-defined (DuckDB's
own approx_count_distinct uses different parameters/hashing), so this
family is gated by tests instead — estimate-vs-exact relative error
and the sketch-merge identity (union of per-day sketches must equal
the one-pass whole-period sketch EXACTLY, since both are the same
deterministic sketch of the same key set).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_spark.session import local_rows

LG_K = 12  # 2^12 buckets: ~1.6% relative standard error, 4 KiB state


def uv_sketch(df: DataFrame, grain: Column | str, key: str, lg_k: int = LG_K) -> DataFrame:
    """(grain, uv_sketch): one HLL sketch of ``key`` per grain value."""
    g = F.col(grain) if isinstance(grain, str) else grain
    return df.groupBy(g.alias("grain")).agg(
        F.hll_sketch_agg(key, F.lit(lg_k)).alias("uv_sketch")
    )


def estimate(sketched: DataFrame) -> DataFrame:
    """(grain, uv_approx) from a ``uv_sketch`` table."""
    return sketched.select(
        "grain",
        F.hll_sketch_estimate("uv_sketch").cast("bigint").alias("uv_approx"),
    )


def merged_estimate(sketched: DataFrame, lg_k: int = LG_K) -> DataFrame:
    """Single-row (uv_approx) for the UNION of all grains — merges the
    stored sketches; never rescans the base table."""
    return sketched.agg(
        F.hll_sketch_estimate(F.hll_union_agg("uv_sketch", F.lit(False)))
        .cast("bigint")
        .alias("uv_approx")
    )


# --- Count-min sketch (Cormode & Muthukrishnan 2005) ----------------------
#
# d x w counter matrix; est(x) = min_i cells[i][pos_i(x)] — an
# OVERESTIMATE-only frequency summary in O(d*w) space regardless of
# vocabulary size (the heavy-hitter companion to the HLL cardinality
# and GK quantile sketches above). Positions reuse the repo's md5
# two-half lane-mix family (operators/llm_dedup._lane_const), so the
# whole sketch is bit-exact integer arithmetic with a DuckDB twin.
# Build = ONE map-side-combining hash agg of (lane, col) partial
# counts (<= d*w result rows); estimation joins each candidate's d
# positions against the broadcast cell table and takes the min.

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_pos_sql(i: int, h1: str = "h1", h2: str = "h2", width: int = CMS_WIDTH) -> str:
    """Lane-i cell column as engine-portable SQL over the md5 halves."""
    from gmall_spark.operators.llm_dedup import _lane_const

    a, b = _lane_const("cms_a", i), _lane_const("cms_b", i)
    return f"({a} * {h1} + {b} * {h2} + {i}) % {width}"


def _cms_halves(key: Column) -> list[Column]:
    md = F.md5(key)
    return [
        F.conv(F.substring(md, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(md, 9, 8), 16, 10).cast("bigint").alias("h2"),
    ]


def cms_build(
    items: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(lane, col, cell_ct) rows of the sketch — one occurrence of a
    key increments one cell per lane."""
    h = items.select(*_cms_halves(F.col(key_col)))
    lanes = h.select(
        F.posexplode(
            F.array(*[F.expr(cms_pos_sql(i, width=width)) for i in range(depth)])
        ).alias("lane", "col")
    )
    return lanes.groupBy("lane", "col").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_ct")
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(key_col, est_ct) per DISTINCT candidate key: min over the d
    probed cells (absent cell -> 0). The sketch table broadcasts
    (<= d*w rows at ANY corpus size)."""
    h = candidates.select(F.col(key_col), *_cms_halves(F.col(key_col))).distinct()
    probes = h.select(
        key_col,
        F.posexplode(
            F.array(*[F.expr(cms_pos_sql(i, width=width)) for i in range(depth)])
        ).alias("lane", "col"),
    )
    return (
        probes.join(F.broadcast(sketch), ["lane", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cell_ct"), F.lit(0))).alias("est_ct"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch (X145; Beyer et al. 2007).
# Mergeable by min-union: the K smallest of a union of per-partition /
# per-batch K-smallest sets equals the K smallest of everything (any
# globally-small value is small within its own batch), so the streaming
# twin is EXACT — and the merge is idempotent (replay-safe for free).
# ---------------------------------------------------------------------------

KMV_K = 256
KMV_M = 1152921504606846976  # 2^60: 15 md5 hex chars of hash domain


def kmv_hash_sql(col: str) -> str:
    """Engine-portable 60-bit hash of a key column (Spark text; the
    DuckDB twin is CAST('0x' || substr(md5(...), 1, 15) AS BIGINT))."""
    return (
        f"cast(conv(substring(md5(cast({col} as string)), 1, 15), 16, 10)"
        " as bigint)"
    )


def kmv_hashes(df: DataFrame, key_col: str) -> DataFrame:
    """DISTINCT 60-bit hashes of a key column, as column ``h``."""
    return df.selectExpr(f"{kmv_hash_sql(key_col)} AS h").distinct()


def kmv_sketch(hashes: DataFrame, k: int = KMV_K) -> DataFrame:
    """The K smallest distinct hashes (TakeOrdered — per-partition
    top-k then a driver-side merge of K·partitions values, never a
    global sort)."""
    return hashes.orderBy("h").limit(k)


def kmv_distinct_estimate(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """One-row (n_sketch, est) from a KMV sketch: exact when the
    sketch holds fewer than K values (it then holds ALL values),
    (K-1)·M/h_K otherwise."""
    return sketch.agg(
        F.count("h").cast("bigint").alias("n_sketch"),
        F.round(
            F.when(F.count("h") < k, F.count("h") * 1.0).otherwise(
                (k - 1) * F.lit(float(KMV_M)) / F.max("h")
            ),
            6,
        ).alias("est"),
    )


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantile sketch (X179): the mergeable quantile
# estimator a monitoring pipeline keeps next to the X145 KMV and X13
# CMS sketches. State is one count per W-wide value bucket — bounded
# by the value domain, NOT the corpus — and counts merge by plain SUM,
# so (like KMV's min-union, unlike a t-digest) the streaming twin is
# EXACTLY equal to the batch sketch after any split. A quantile
# estimate reads the cumulative histogram: the q-th percentile lies in
# the first bucket whose cumulative count reaches ceil(q*n/100), i.e.
# (integer-exact, no float rank) 100*cum >= q*n; the reported value is
# the bucket's upper edge, so the error is bounded by W by
# construction (gated against the exact percentile in-suite).
# ---------------------------------------------------------------------------

HIST_W = 25  # bucket width over events.value (domain ~[0, 500])
HIST_QS = (25, 50, 90, 99)


def value_hist(df: DataFrame, value_col: str = "value", w: int = HIST_W) -> DataFrame:
    """(bucket, cnt): the mergeable sketch state. floor(value/w) is a
    single IEEE double division from the same literal in both engines
    — the X131 grid idiom."""
    return (
        df.select(F.floor(F.col(value_col) / w).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def hist_quantiles(
    hist: DataFrame, qs: tuple[int, ...] = HIST_QS, w: int = HIST_W
) -> DataFrame:
    """Quantile estimates from the (bucket, cnt) sketch:
    (q_pct, bucket, est_upper, n)."""
    from pyspark.sql import Window

    c = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy()))
    qdf = local_rows(hist.sparkSession, [(q,) for q in qs], "q_pct bigint")
    hit = (
        qdf.crossJoin(c)
        .filter(F.col("cum") * 100 >= F.col("q_pct") * F.col("n"))
        .groupBy("q_pct")
        .agg(
            F.min("bucket").cast("bigint").alias("bucket"),
            F.first("n").alias("n"),
        )
    )
    return hit.select(
        "q_pct",
        "bucket",
        ((F.col("bucket") + 1) * w).cast("double").alias("est_upper"),
        F.col("n").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Histogram-derived range-partition planning (X198): X180's planner
# re-based onto the X179 mergeable sketch. The TeraSort-style sample
# plans a sort ONCE; a long-lived layout service instead maintains the
# bucket histogram (SUM-mergeable, so always current) and re-derives
# boundaries from it — boundary i = the first bucket whose cumulative
# count reaches i/P of the total (the same integer-exact rank rule as
# the quantile read). Boundaries are bucket-granular: the plan's
# balance is limited by bucket width, which the audit makes visible
# rather than hiding (a partition is IN BAND when its fill ratio stays
# within [1/2, 2] — integer cross-multiplied, no float threshold).
# ---------------------------------------------------------------------------


def hist_range_plan(hist: DataFrame, parts: int) -> DataFrame:
    """(i, bb): boundary i (1..parts-1) is the first bucket whose
    cumulative count reaches i*n/parts. Coarse buckets can make two
    thresholds land on one bucket (bb duplicates) — assignment counts
    boundaries BELOW a bucket, so duplicates merely leave a planned
    partition empty, which the audit then flags."""
    from pyspark.sql import Window

    c = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy()))
    idf = local_rows(hist.sparkSession, [(i,) for i in range(1, parts)], "i bigint")
    return (
        idf.crossJoin(c)
        .filter(F.col("cum") * parts >= F.col("i") * F.col("n"))
        .groupBy("i")
        .agg(F.min("bucket").cast("bigint").alias("bb"))
    )


def hist_range_audit(
    hist: DataFrame, bounds: DataFrame, parts: int
) -> DataFrame:
    """Balance audit of a FROZEN boundary set against the CURRENT
    histogram: every planned partition (the full 0..parts-1 grid —
    an empty partition is a wasted executor and must surface), its
    row count, fill ratio, and the in-band flag
    (2·rows·parts >= total AND rows·parts <= 2·total).

    Returns (part_no, n_rows, fill_ratio, in_band)."""
    asg = (
        hist.join(F.broadcast(bounds), F.lit(True), "left")
        .groupBy("bucket", "cnt")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("bb") < F.col("bucket"), 1).otherwise(0)),
                F.lit(0),
            ).alias("part_no")
        )
        .groupBy("part_no")
        .agg(F.sum("cnt").alias("n_rows"))
    )
    tot = hist.agg(F.sum("cnt").alias("total"))
    grid = local_rows(hist.sparkSession, [(p,) for p in range(parts)], "part_no bigint")
    return (
        grid.join(asg, "part_no", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_no",
            F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
            F.round(
                F.coalesce("n_rows", F.lit(0)) * float(parts) / F.col("total"), 6
            ).alias("fill_ratio"),
            (
                (2 * F.coalesce("n_rows", F.lit(0)) * parts >= F.col("total"))
                & (F.coalesce("n_rows", F.lit(0)) * parts <= 2 * F.col("total"))
            ).alias("in_band"),
        )
    )
