"""Generic relational operators Spark's DataFrame API lacks as
single calls: backward as-of join and gap sessionization.

As-of join (``asof_join_backward``): for every left row, the most
recent right row at-or-before its timestamp on the same key — the
time-series point-lookup the reference approximates with its
interval join + lookup-join pair (ref ``DataStreamJoinTest.java``,
``TableApiJoinTest.java``; SURVEY §2.3 J3/J7). Implemented as a
tagged UNION + one window pass, NOT a range join: a range join
explodes to |L|·|matches| intermediate rows and cannot prune, while
the union plan is one shuffle on the key, a sort within partitions,
and a running ``last(ignorenulls)`` — linear in |L|+|R| and the
shape that survives 100 TB (same trick as Flink's temporal join
state machine, expressed declaratively).

Gap sessionization (``sessionize_gap``): groups a keyed event stream
into sessions split at inactivity gaps ≥ ``gap_us`` — the batch twin
of Spark's native ``session_window`` (used by the streaming path) and
of the reference's 10 s CEP timeout sessions. One shuffle (key), one
sort, running island-sum; no state beyond the window frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_PAYLOAD = "__asof_r"


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
) -> DataFrame:
    """Left as-of join: each left row picks the right row with the
    greatest ``ts`` ≤ left's ``ts`` for the same ``key`` (ties on
    ``ts`` broken by the lexicographically greatest right payload, so
    the result is deterministic). Left rows with no prior right row
    keep NULL right columns.

    Contract: ``key`` and ``ts`` exist on both sides with identical
    types; all other column names are disjoint between the sides.
    Right's ``ts`` is re-exposed as ``<ts>_right``.
    """
    l_cols = [c for c in left.columns if c not in (key, ts)]
    r_cols = [c for c in right.columns if c not in (key, ts)]
    overlap = set(l_cols) & set(r_cols)
    if overlap:
        raise ValueError(f"asof_join_backward: ambiguous columns {sorted(overlap)}")

    # SQL join semantics: a NULL key or NULL ts never matches. Right
    # rows with either are dropped; left rows with either keep NULL
    # right columns (they partition together but see no right rows,
    # and a NULL left ts sorts NULLS FIRST — before every right row).
    right = right.filter(F.col(key).isNotNull() & F.col(ts).isNotNull())

    r_ts = f"{ts}_right"
    # Pack the right payload into ONE struct so last(ignorenulls)
    # cannot mix fields from different right rows, and so the
    # tie-break ordering is the whole payload tuple.
    r_struct = F.struct(F.col(ts).alias(r_ts), *[F.col(c) for c in r_cols])
    tagged_r = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias(_SIDE),
        r_struct.alias(_PAYLOAD),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_cols],
    )
    tagged_l = left.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(tagged_r.schema[_PAYLOAD].dataType).alias(_PAYLOAD),
        *l_cols,
    )
    # Right rows sort BEFORE left rows at equal ts (side 0 < 1), so a
    # right row at exactly left's ts is visible (<= semantics).
    w = (
        Window.partitionBy(key)
        .orderBy(ts, _SIDE, _PAYLOAD)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        tagged_r.unionByName(tagged_l)
        .withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
        .filter(F.col(_SIDE) == 1)
    )
    return matched.select(
        key,
        ts,
        *l_cols,
        F.col(f"{_PAYLOAD}.{r_ts}").alias(r_ts),
        *[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in r_cols],
    )


def funnel_ordered(
    events: DataFrame,
    stages: tuple[str, ...],
    type_col: str = "event_type",
    key: str = "user_id",
    ts_us=None,
) -> DataFrame:
    """Ordered funnel: for each key, the first occurrence of every
    stage (ONE conditional-min aggregate — no self-joins, no CEP
    state), then one global rollup counting keys whose stage-k first
    occurrence is strictly AFTER stage-(k-1)'s, for every prefix.
    Output: (n_users, <stage0>ed-style counts aliased per stage)."""
    ts_us = ts_us if ts_us is not None else F.unix_micros("ts")
    per_key = events.groupBy(key).agg(
        *[
            F.min(F.when(F.col(type_col) == s, ts_us)).alias(f"first_{s}")
            for s in stages
        ]
    )
    conds = []
    c = F.col(f"first_{stages[0]}").isNotNull()
    conds.append(c)
    for prev, cur in zip(stages, stages[1:]):
        c = c & (F.col(f"first_{cur}") > F.col(f"first_{prev}"))
        conds.append(c)
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        *[
            F.sum(cond.cast("int")).cast("bigint").alias(f"stage_{i}_ct")
            for i, cond in enumerate(conds)
        ],
    )


def sessionize_gap(
    events: DataFrame,
    key: str,
    ts_us: str,
    gap_us: int,
    tie_break: str,
) -> DataFrame:
    """Assign a per-key ``session_seq`` (1-based) that increments
    whenever the gap to the previous event is ≥ ``gap_us`` — matching
    Spark ``session_window`` merge semantics (an event at exactly
    ``prev + gap`` starts a NEW session, because session windows are
    half-open ``[ts, ts+gap)``). ``tie_break`` makes the ordering
    total for equal timestamps."""
    w = Window.partitionBy(key).orderBy(ts_us, tie_break)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(ts_us).over(w)
    is_new = F.when(
        prev.isNull() | (F.col(ts_us) - prev >= F.lit(gap_us)), 1
    ).otherwise(0)
    return events.withColumn(
        "session_seq", F.sum(is_new).over(run).cast("bigint")
    )


COPURCHASE_TOP = 100


def copurchase_pairs(op: DataFrame, top: int = COPURCHASE_TOP) -> DataFrame:
    """Top co-occurring item pairs with support + lift over a DISTINCT
    (o, p) basket-membership relation (X151's exact core, shared by
    the registered query and the streaming twin). Pair generation is
    a per-BASKET combination expansion (collect the sorted basket,
    emit its C(|basket|, 2) pairs with nested HOFs) — one shuffle on
    the basket key and Σ C(\\|basket\\|, 2) emitted rows, where the
    equivalent self-join shuffles the relation TWICE and re-joins it.
    Counts stay integer to the end, lift = n_ab·N/(n_a·n_b) divides
    exact integers once, and the deterministic top-``top`` (support
    desc, part ids) keeps the output fixed-size at any scale."""
    from pyspark import StorageLevel

    # ONE pass over the membership relation: every statistic (pair
    # counts, part marginals, order count) derives from the persisted
    # basket rollup — op would otherwise be scanned+shuffled three
    # times (measured 2x slower)
    baskets = (
        op.groupBy("o")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pc = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    no = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps) - i - 1),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    scored = (
        pairs.join(
            F.broadcast(
                pc.withColumnRenamed("p", "part_a").withColumnRenamed("n_p", "n_a")
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                pc.withColumnRenamed("p", "part_b").withColumnRenamed("n_p", "n_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(no))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab") * 1.0 * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("n_ab"), F.asc("part_a"), F.asc("part_b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= top)
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            "lift",
            "rnk",
        )
    )


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(from_type, to_type, n) over consecutive event pairs within
    each user's (ts, event_id)-ordered stream — the X163 core, shared
    by the registered query and the streaming twin."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    s = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return s.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
