"""Behavioral analytics: next-event eval, funnel latency, session paths, ABC revenue, transition matrices, cohort LTV, warehouse data tests, EWMA forecasts, RFM segmentation, file-stats pruning, systematic resampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.queries import _t, query
from gmall_spark.queries import ORACLES
from gmall_spark.session import local_rows
from gmall_spark.queries_llm.prelude import _docs
from gmall_spark.queries_llm.sampling_privacy import (
    q_layout_zorder_orders,
)

# --- next-event prediction eval (X169) -----------------------------------------------------------


@query(
    "events_transition_eval",
    """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
), pairs AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS to_type
  FROM e
), p AS (SELECT * FROM pairs WHERE to_type IS NOT NULL),
train AS (
  SELECT from_type, to_type, count(*) AS n
  FROM p WHERE user_id % 2 = 0 GROUP BY 1, 2
), model AS (
  SELECT from_type, to_type AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY from_type
                                 ORDER BY n DESC, to_type ASC) AS rn
    FROM train) WHERE rn = 1
), test AS (
  SELECT p.from_type, p.to_type, m.pred
  FROM p JOIN model m USING (from_type)
  WHERE p.user_id % 2 = 1
)
SELECT from_type, pred,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN to_type = pred THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN to_type = pred THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS accuracy
FROM test GROUP BY from_type, pred
""",
)
def q_events_transition_eval(spark, sf_dir):
    """Next-event prediction evaluation (X169) — the train/deploy
    split for the X163 behavioral model, the same discipline the text
    family already lives by (X112 frozen LM, X144 frozen vocab, X127
    trained NB): the majority-next-event model fits on even users
    (argmax with a total tie order) and is scored on odd users' held-
    out transitions, per from-state. On this memoryless synthetic
    corpus accuracy ≈ the majority class rate — the honest baseline
    number a real corpus would have to beat; the harness, not the
    score, is the artifact. Both stages are |types|²-bounded after
    one user-keyed window pass."""
    from gmall_spark.operators.relational import transition_counts
    from gmall_spark.queries import _events

    e = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    p = e.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    train = (
        p.filter("user_id % 2 = 0")
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = Window.partitionBy("from_type").orderBy(
        F.desc("n"), F.asc("to_type")
    )
    model = (
        train.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("pred"))
    )
    test = p.filter("user_id % 2 = 1").join(F.broadcast(model), "from_type")
    return test.groupBy("from_type", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("to_type") == F.col("pred"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("to_type") == F.col("pred"), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


# --- funnel latency percentiles (X167) ---------------------------------------------------------


@query(
    "events_funnel_latency",
    """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS first_purchase
  FROM events GROUP BY user_id
), legs AS (
  SELECT 'view_to_click' AS leg,
         first_click - first_view AS us
  FROM per_user
  WHERE first_view IS NOT NULL AND first_click > first_view
  UNION ALL
  SELECT 'click_to_purchase',
         first_purchase - first_click
  FROM per_user
  WHERE first_click IS NOT NULL AND first_purchase > first_click
)
SELECT leg,
       CAST(count(*) AS BIGINT) AS n_users,
       round(quantile_cont(us, 0.5) / 1000000.0, 6) AS p50_sec,
       round(quantile_cont(us, 0.9) / 1000000.0, 6) AS p90_sec,
       round(max(us) / 1000000.0, 6) AS max_sec
FROM legs GROUP BY leg
""",
)
def q_events_funnel_latency(spark, sf_dir):
    """Funnel time-to-convert distribution (X167) — X45 says HOW MANY
    users pass each step; this says HOW LONG the passing users took
    (the metric a checkout/onboarding review actually argues over):
    per funnel leg, exact p50/p90/max of the first-view→first-click
    and first-click→first-purchase latencies. Same one-pass
    conditional-min rollup as the X45 funnel (one user exchange);
    quantiles are the exact interpolated percentile both engines
    define identically over integer microsecond deltas (the proven
    X44 idiom), converted to seconds by one exact dyadic-free
    division rounded at 6 dp."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("first_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("first_purchase"),
    )
    legs = (
        per_user.filter(
            F.col("first_view").isNotNull()
            & (F.col("first_click") > F.col("first_view"))
        )
        .select(
            F.lit("view_to_click").alias("leg"),
            (F.col("first_click") - F.col("first_view")).alias("us"),
        )
        .unionByName(
            per_user.filter(
                F.col("first_click").isNotNull()
                & (F.col("first_purchase") > F.col("first_click"))
            ).select(
                F.lit("click_to_purchase").alias("leg"),
                (F.col("first_purchase") - F.col("first_click")).alias("us"),
            )
        )
    )
    return legs.groupBy("leg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.expr("percentile(us, 0.5)") / 1000000.0, 6).alias("p50_sec"),
        F.round(F.expr("percentile(us, 0.9)") / 1000000.0, 6).alias("p90_sec"),
        F.round(F.max("us") / 1000000.0, 6).alias("max_sec"),
    )


# --- top session paths (X165) ----------------------------------------------------------------

TOP_PATHS = 20


@query(
    "events_top_session_paths",
    f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
), f AS (
  SELECT user_id, event_id, ts_us, event_type,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), g AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
), paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
  FROM g GROUP BY user_id, sess
), counted AS (
  SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
)
SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
      FROM counted)
WHERE rnk <= {TOP_PATHS}
""",
)
def q_events_top_session_paths(spark, sf_dir):
    """Top session paths (X165) — the ranked full-journey table read
    next to X163's one-step transitions (funnels tell you A→B rates;
    paths tell you which COMPLETE journeys dominate): per 30-min-gap
    session the ordered event-type sequence joined into a path
    string, counted, deterministic top-{TOP_PATHS}. Same native
    session_window + ordered-reassembly idiom as the X119
    transcripts (the oracle carries the lag-cumsum sessionization
    twin, proven equivalent there); the path alphabet bounds the
    count rollup, not the corpus."""
    from gmall_spark.queries import _events

    ev = _events(spark, sf_dir)
    paths = (
        ev.select(
            "user_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        )
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts_us", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    w = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TOP_PATHS)
        .select(
            "path", F.col("n_sessions").cast("bigint").alias("n_sessions"),
            "rnk",
        )
    )


# --- ABC revenue classification (X166) ---------------------------------------------------------


@query(
    "parts_abc_classification",
    """
WITH r AS (
  SELECT l_partkey AS part,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_cents
  FROM lineitem GROUP BY l_partkey
), c AS (
  SELECT part, rev_cents,
         SUM(rev_cents) OVER (ORDER BY rev_cents DESC, part
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
         SUM(rev_cents) OVER () AS total_cents
  FROM r
)
SELECT part, CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(cum_cents AS BIGINT) AS cum_cents,
       CASE WHEN 5 * cum_cents <= 4 * total_cents THEN 'A'
            WHEN 20 * cum_cents <= 19 * total_cents THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
""",
)
def q_parts_abc_classification(spark, sf_dir):
    """ABC (Pareto) revenue classification (X166) — the contribution
    analysis an assortment/inventory review starts from: parts ranked
    by lifetime revenue, class A while the running share stays within
    80%, B to 95%, C after. Revenue in integer CENTS (per-row round,
    then exact integer sums — the X160 lesson) and the class
    boundaries cleared to integer comparisons (5·cum ≤ 4·total,
    20·cum ≤ 19·total), so no engine can disagree at a boundary; the
    running share is one ordered window over the part-bounded
    rollup (the X84 histogram-cut swap applies at catalog scale)."""
    r = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("rev_cents")
        )
    )
    w = Window.orderBy(F.desc("rev_cents"), F.asc("part")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = r.select(
        "part",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_cents"),
        F.sum("rev_cents").over(wt).alias("total_cents"),
    )
    return c.select(
        "part",
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.col("cum_cents").cast("bigint").alias("cum_cents"),
        F.when(5 * F.col("cum_cents") <= 4 * F.col("total_cents"), "A")
        .when(20 * F.col("cum_cents") <= 19 * F.col("total_cents"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --- event transition matrix (X163) --------------------------------------------------------


@query(
    "events_transition_matrix",
    """
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), t AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM s WHERE next_type IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT from_type, sum(n) AS n_from FROM t GROUP BY from_type
)
SELECT t.from_type, t.to_type,
       CAST(t.n AS BIGINT) AS n,
       round(t.n * 1.0 / tot.n_from, 6) AS p
FROM t JOIN tot USING (from_type)
""",
)
def q_events_transition_matrix(spark, sf_dir):
    """Per-user event transition matrix (X163) — the first-order
    Markov table product analytics reads for path optimization (what
    follows a view? where do errors lead?) and the behavioral twin
    of X154's char-level transitions: consecutive event pairs within
    each user's (ts, event_id)-ordered stream, counted and
    row-normalized. One user-keyed window exchange (the stream's
    natural partitioning) + one |types|²-bounded aggregate; the
    deterministic (ts, event_id) order pins tie handling
    cross-engine; probabilities divide exact integers once."""
    from gmall_spark.operators.relational import transition_counts
    from gmall_spark.queries import _events

    e = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id",
        "event_type",
    )
    t = transition_counts(e)
    # row totals as a window over the |types|²-bounded pair table —
    # a separate agg + join would re-evaluate the whole pair subtree
    w_tot = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") * 1.0 / F.sum("n").over(w_tot), 6).alias("p"),
    )


# --- cohort LTV curve (X164) ----------------------------------------------------------------


@query(
    "customers_cohort_ltv",
    """
WITH o AS (
  SELECT o_custkey AS c,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), first_m AS (
  SELECT c, min(m) AS cohort FROM o GROUP BY c
), rev AS (
  SELECT f.cohort,
         (extract(year FROM o.m) - extract(year FROM f.cohort)) * 12
           + (extract(month FROM o.m) - extract(month FROM f.cohort))
           AS months_since,
         sum(o.cents) AS rev_cents
  FROM o JOIN first_m f ON f.c = o.c
  GROUP BY 1, 2
), cs AS (
  SELECT cohort, count(*) AS cohort_size FROM first_m GROUP BY cohort
)
SELECT CAST(r.cohort AS VARCHAR) AS cohort,
       CAST(r.months_since AS BIGINT) AS months_since,
       CAST(cs.cohort_size AS BIGINT) AS cohort_size,
       CAST(r.rev_cents AS BIGINT) AS rev_cents,
       CAST(sum(r.rev_cents) OVER (PARTITION BY r.cohort
              ORDER BY r.months_since) AS BIGINT) AS cum_rev_cents
FROM rev r JOIN cs USING (cohort)
""",
)
def q_customers_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve (X164) — the revenue companion of
    X52's retention cohorts and the table an LTV model calibrates
    on: customers cohorted by first-order month, revenue rolled up
    by months-since-acquisition, cumulated per cohort. Revenue
    accumulates in integer CENTS end to end (the X160 lesson — a
    double SUM's shuffle order would make the cumulative column
    nondeterministic); month arithmetic is integer year/month
    extraction, no date-diff float; one customer aggregate, one
    (cohort, month) aggregate, one ordered cumsum window over the
    cohort-grid-bounded rollup."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first_m = o.groupBy("c").agg(F.min("m").alias("cohort"))
    rev = (
        o.join(first_m, "c")
        .groupBy(
            "cohort",
            (
                (F.year("m") - F.year("cohort")) * 12
                + (F.month("m") - F.month("cohort"))
            ).alias("months_since"),
        )
        .agg(F.sum("cents").alias("rev_cents"))
    )
    cs = first_m.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    w = Window.partitionBy("cohort").orderBy("months_since")
    return rev.join(F.broadcast(cs), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        F.col("months_since").cast("bigint").alias("months_since"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    )


# --- warehouse data-test audit (X162) ----------------------------------------------------


@query(
    "warehouse_data_tests",
    """
SELECT 'orders' AS tbl, 'o_orderkey_unique' AS test,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS failures
FROM orders
UNION ALL
SELECT 'orders', 'o_custkey_not_null',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders', 'o_custkey_in_customer',
       -- dbt relationships semantics: NULL child keys are the
       -- not_null test's finding, not an orphan
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem', 'l_orderkey_in_orders',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'customer', 'c_custkey_unique',
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
FROM customer
UNION ALL
SELECT 'events', 'value_in_range',
       CAST(sum(CASE WHEN value < 0 OR value >= 1000 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM events
UNION ALL
SELECT 'events', 'event_type_accepted',
       CAST(sum(CASE WHEN event_type NOT IN
                     ('click','view','purchase','signup','error')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'documents', 'text_nonempty',
       CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
""",
)
def q_warehouse_data_tests(spark, sf_dir):
    """Warehouse data-test audit (X162; the dbt test taxonomy run as
    ONE query): uniqueness, not-null, referential integrity
    (anti-join counts against the parent table), accepted ranges and
    accepted values — the contract table a load pipeline gates a
    release on (zero failures expected on healthy data; a nonzero
    row names the broken contract). Each arm is a single aggregate
    or a broadcast/anti join on its own table; the union is 8 fixed
    rows, so the audit costs one pass per table regardless of how
    many contracts it checks per table."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")
    docs = _docs(spark, sf_dir)

    def row(tbl, test, df):
        return df.select(
            F.lit(tbl).alias("tbl"),
            F.lit(test).alias("test"),
            F.col("failures").cast("bigint").alias("failures"),
        )

    arms = [
        row("orders", "o_orderkey_unique",
            orders.agg((F.count(F.lit(1))
                        - F.countDistinct("o_orderkey")).alias("failures"))),
        row("orders", "o_custkey_not_null",
            orders.agg(F.sum(F.when(F.col("o_custkey").isNull(), 1)
                             .otherwise(0)).alias("failures"))),
        row("orders", "o_custkey_in_customer",
            orders.filter(F.col("o_custkey").isNotNull())
            .join(customer,
                  orders.o_custkey == customer.c_custkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("failures"))),
        row("lineitem", "l_orderkey_in_orders",
            lineitem.join(orders,
                          lineitem.l_orderkey == orders.o_orderkey,
                          "left_anti")
            .agg(F.count(F.lit(1)).alias("failures"))),
        row("customer", "c_custkey_unique",
            customer.agg((F.count(F.lit(1))
                          - F.countDistinct("c_custkey")).alias("failures"))),
        row("events", "value_in_range",
            events.agg(F.sum(F.when((F.col("value") < 0)
                                    | (F.col("value") >= 1000), 1)
                             .otherwise(0)).alias("failures"))),
        row("events", "event_type_accepted",
            events.agg(F.sum(F.when(~F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"), 1)
                .otherwise(0)).alias("failures"))),
        row("documents", "text_nonempty",
            docs.agg(F.sum(F.when(F.col("text").isNull()
                                  | (F.length("text") == 0), 1)
                           .otherwise(0)).alias("failures"))),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# --- EWMA daily-volume forecast (X161) --------------------------------------------------


def ewma_day_counts(events):
    """(event_type, d, cnt): the per-(type, day) event counts the
    forecast folds — plain sums, so day grids of disjoint event sets
    add up."""
    return events.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def ewma_forecast(day_counts):
    """Fold each type's day-ordered count series (from
    :func:`ewma_day_counts` rows) through s_t = (s_{t-1} + v_t)/2:
    (event_type, last_day, n_days, last_count, ewma_forecast)."""
    s = day_counts.groupBy("event_type").agg(
        F.expr("array_sort(collect_list(struct(d, cnt)))").alias("ser"),
        F.max("d").alias("last_day"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return s.select(
        "event_type",
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.element_at(F.col("ser"), -1)["cnt"].cast("bigint").alias("last_count"),
        F.round(
            F.expr(
                "aggregate(slice(ser, 2, size(ser) - 1),"
                " cast(ser[0].cnt as double),"
                " (acc, x) -> (acc + x.cnt) * 0.5)"
            ),
            6,
        ).alias("ewma_forecast"),
    )


@query(
    "events_ewma_forecast",
    """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         list(cnt ORDER BY d ASC) AS series,
         max(d) AS last_day,
         count(*) AS n_days
  FROM c GROUP BY event_type
)
SELECT event_type,
       CAST(last_day AS VARCHAR) AS last_day,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(series[len(series)] AS BIGINT) AS last_count,
       -- CAST everything to DOUBLE: DuckDB parses 0.5/1.0 literals as
       -- DECIMAL and a decimal fold truncates to scale 1
       round(list_reduce(list_transform(series, x -> x::DOUBLE),
                         (acc, x) -> (acc + x) * 0.5::DOUBLE), 6)
         AS ewma_forecast
FROM s
""",
)
def q_events_ewma_forecast(spark, sf_dir):
    """EWMA daily-volume forecast per event type (X161; exponential
    smoothing, α = 1/2) — the capacity/anomaly baseline a monitoring
    pipeline keeps per series: s_t = (s_{t-1} + v_t)/2 folded over
    the day-ordered count series. The fold is the cross-engine float
    discipline again: each step is one IEEE add and one halving
    executed in the SAME order by Spark's aggregate HOF and DuckDB's
    list_reduce, so the result is bit-identical — whereas any
    window-algebra formulation with pow(α, n−t) weights would hit
    libm drift. The series collects per (type, day) rollup —
    day-grid-bounded, never corpus-scaled; one hash agg + one
    type-keyed agg."""
    return ewma_forecast(ewma_day_counts(_t(spark, sf_dir, "events")))


# --- RFM customer segmentation (X160) -------------------------------------------------


@query(
    "customers_rfm_segments",
    """
WITH o AS (
  SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), mx AS (SELECT max(d) AS dmax FROM o),
rfm AS (
  SELECT c,
         datediff('day', max(d), (SELECT dmax FROM mx)) AS recency_days,
         count(*) AS frequency,
         sum(cents) AS monetary_cents
  FROM o GROUP BY c
), scored AS (
  SELECT *,
         ntile(5) OVER (ORDER BY recency_days DESC, c) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC, c) AS f_score,
         ntile(5) OVER (ORDER BY monetary_cents ASC, c) AS m_score
  FROM rfm
)
SELECT c AS custkey,
       CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       CAST(monetary_cents AS BIGINT) AS monetary_cents,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM scored
""",
)
def q_customers_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (X160) — the classic
    feature-engineering table a churn/LTV model trains on: per
    customer, recency (days since last order vs the corpus max
    date), frequency (order count), monetary (lifetime spend), each
    quintile-scored with ntile(5) under a TOTAL order (metric +
    custkey tiebreak — ntile's equal-fill rule is then
    engine-identical), plus the standard champion/new/at_risk/regular
    segment rule. Monetary sums in integer CENTS (the price column
    is a double; a double SUM's shuffle-order noise would flip
    quintile boundaries — round each row to cents first, then the
    sum is exact). One customer aggregate + three windows sharing
    one single-partition exchange over the customer-bounded rollup;
    at scale the windows swap to the X84 equi-depth cuts computed on
    the histogram instead of a global sort."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # r14 (guide §2.4 "don't compute things twice"): the corpus max
    # date used to be a SECOND full orders scan (`o.agg(max(d))`
    # cross-joined back in); max over the per-customer rollup's dlast
    # is the same value by max-associativity, and the rollup already
    # flows into three unpartitioned ntile windows, so the global
    # max-window rides the exchange those windows need anyway —
    # one orders scan instead of two, zero new exchanges.
    rfm = (
        o.groupBy("c")
        .agg(
            F.max("d").alias("dlast"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .withColumn("dmax", F.max("dlast").over(Window.partitionBy()))
        .select(
            "c",
            F.datediff("dmax", "dlast").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = (
        rfm.withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.asc("c"))),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("c"))),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(
                Window.orderBy(F.asc("monetary_cents"), F.asc("c"))
            ),
        )
    )
    return scored.select(
        F.col("c").alias("custkey"),
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        F.col("monetary_cents").cast("bigint").alias("monetary_cents"),
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .otherwise("regular")
        .alias("segment"),
    )


# --- min-max file-stats pruning (X159) ----------------------------------------------

PRUNE_PREDICATES = tuple(
    (dim, val) for dim in ("cust", "day") for val in (0, 64, 128, 192)
)


def _file_stats_oracle() -> str:
    from gmall_spark.queries import ORACLES

    preds = ",".join(f"('{d}',{v})" for d, v in PRUNE_PREDICATES)
    return f"""
WITH z AS ({ORACLES["layout_zorder_orders"]}),
fs AS (
  SELECT file_id, count(*) AS n_rows,
         min(cust_bucket) AS cmin, max(cust_bucket) AS cmax,
         min(day_bucket) AS dmin, max(day_bucket) AS dmax
  FROM z GROUP BY file_id
), preds(dim, val) AS (VALUES {preds}),
j AS (
  SELECT p.dim, p.val, fs.n_rows,
         CASE WHEN p.dim = 'cust'
              THEN p.val < fs.cmin OR p.val > fs.cmax
              ELSE p.val < fs.dmin OR p.val > fs.dmax END AS pruned
  FROM preds p CROSS JOIN fs
)
SELECT dim, CAST(val AS BIGINT) AS val,
       CAST(count(*) AS BIGINT) AS files_total,
       CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
       CAST(sum(CASE WHEN pruned THEN 0 ELSE n_rows END) AS BIGINT)
         AS rows_scanned
FROM j GROUP BY dim, val
"""


@query("layout_file_stats_pruning", _file_stats_oracle())
def q_layout_file_stats_pruning(spark, sf_dir):
    """Min-max file-stats pruning made observable (X159) — the
    Parquet/Iceberg zone-map mechanism the X130 layout exists to
    feed: per z-order file, the (min, max) of each clustering key
    becomes the stats a scan planner consults, and the table reports,
    for a grid of single-key point predicates, how many files a
    filtered scan SKIPS and how many rows it still touches. Composed
    from the registered layout assignment (Spark side composes the
    query, the oracle wraps its registered text); the stats rollup is
    one grid-bounded aggregate and the predicate join is
    |preds| × |files| — both layout-bounded, never corpus-scaled.
    Integer end to end."""
    z = q_layout_zorder_orders(spark, sf_dir)
    fs = z.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cust_bucket").alias("cmin"),
        F.max("cust_bucket").alias("cmax"),
        F.min("day_bucket").alias("dmin"),
        F.max("day_bucket").alias("dmax"),
    )
    preds = local_rows(spark, list(PRUNE_PREDICATES), "dim string, val long")
    j = preds.crossJoin(fs).select(
        "dim",
        "val",
        "n_rows",
        F.when(
            F.col("dim") == "cust",
            (F.col("val") < F.col("cmin")) | (F.col("val") > F.col("cmax")),
        )
        .otherwise(
            (F.col("val") < F.col("dmin")) | (F.col("val") > F.col("dmax"))
        )
        .alias("pruned"),
    )
    return j.groupBy("dim", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("files_total"),
        F.sum(F.when(F.col("pruned"), 1).otherwise(0))
        .cast("bigint")
        .alias("files_pruned"),
        F.sum(F.when(F.col("pruned"), 0).otherwise(F.col("n_rows")))
        .cast("bigint")
        .alias("rows_scanned"),
    ).select(
        "dim", F.col("val").cast("bigint").alias("val"),
        "files_total", "files_pruned", "rows_scanned",
    )


# --- deterministic systematic resampling (X158) -------------------------------------

RESAMPLE_DRAWS = 2000


@query(
    "llm_systematic_resample",
    rf"""
WITH w AS (
  SELECT doc_id,
         greatest(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')), 1) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum,
         SUM(n_tokens) OVER () AS total
  FROM w
), g AS (
  SELECT doc_id, n_tokens,
         CASE WHEN 2 * {RESAMPLE_DRAWS} * cum <= total THEN 0
              ELSE (2 * {RESAMPLE_DRAWS} * cum - total + 2 * total - 1)
                   // (2 * total) END AS g_lo,
         CASE WHEN 2 * {RESAMPLE_DRAWS} * (cum + n_tokens) <= total THEN 0
              ELSE (2 * {RESAMPLE_DRAWS} * (cum + n_tokens) - total
                    + 2 * total - 1) // (2 * total) END AS g_hi
  FROM c
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(g_hi - g_lo AS BIGINT) AS draws
FROM g
""",
)
def q_llm_systematic_resample(spark, sf_dir):
    """Deterministic systematic resampling (X158; the particle-filter
    / data-mixture standard — Douc & Cappé 2005): materialize
    token-proportional sampling into EXACT per-doc draw counts by
    laying a fixed lattice of {RESAMPLE_DRAWS} equally-spaced points
    over the cumulative token mass — the executable form of the
    X117/X134 mixture plans (those say 'sample language L at rate q';
    this says 'emit doc d exactly k times'), with zero variance and
    zero randomness (rand() would break replay/shard/engine
    determinism — same argument as the X86/X101 md5 draws). All
    arithmetic is integer (lattice membership counts via ceil
    division on token counts), so Σ draws == {RESAMPLE_DRAWS} exactly
    — asserted in tests. One global cumsum window (range-partition by
    the order key at scale, the X26 packing note)."""
    d = RESAMPLE_DRAWS
    w = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        r"greatest(size(filter(split(text, '\\s+'), x -> x != '')), 1)"
        " AS n_tokens",
    )
    win = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = w.select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(win), F.lit(0)).alias("cum"),
        F.sum("n_tokens").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )

    c = c.withColumn(
        "g_lo",
        F.when(2 * d * F.col("cum") <= F.col("total"), F.lit(0)).otherwise(
            F.expr(
                f"(2 * {d} * cum - total + 2 * total - 1) div (2 * total)"
            )
        ),
    ).withColumn(
        "g_hi",
        F.when(
            2 * d * (F.col("cum") + F.col("n_tokens")) <= F.col("total"),
            F.lit(0),
        ).otherwise(
            F.expr(
                f"(2 * {d} * (cum + n_tokens) - total + 2 * total - 1)"
                " div (2 * total)"
            )
        ),
    )
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("g_hi") - F.col("g_lo")).cast("bigint").alias("draws"),
    )


