"""Distribution/layout statistics: skip-gram lift, vocabulary growth, value drift, range-partition plans, histogram quantile sketches, volume control charts, supply risk, JSON profiles, RANGE-frame windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.queries import _t, query
from gmall_spark.queries_llm.prelude import _docs

# --- skip-gram co-occurrence lift (X184) ---------------------------------------

SKIPGRAM_WINDOW = 2
SKIPGRAM_MIN_PAIR = 5


def skipgram_tokens(docs):
    """(tokens, pairs) of (doc_id, text) rows: one row per word token
    (w), and one per ORDERED in-window pair (w_a, w_b) built per row
    from the word array (an indexed transform + bounded slice: each
    token meets at most SKIPGRAM_WINDOW forward partners — never a
    self-join)."""
    words = docs.selectExpr(
        r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS w"
    )
    pairs = words.selectExpr(
        f"""explode(flatten(transform(w, (x, i) ->
              transform(slice(w, i + 2, {SKIPGRAM_WINDOW}),
                        y -> struct(x AS w_a, y AS w_b))))) AS pr"""
    ).select("pr.w_a", "pr.w_b")
    return words.select(F.explode("w").alias("w")), pairs


def skipgram_lift(pairs, uni, n):
    """The collocation report: (w_a, w_b, pair_cnt) pairs clearing
    SKIPGRAM_MIN_PAIR, joined to their (w, cnt) unigram counts and the
    one-row token total n_tok; lift = pair_cnt·N / (cnt_a·cnt_b)."""
    ua = uni.select(F.col("w").alias("w_a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("w").alias("w_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.filter(F.col("pair_cnt") >= SKIPGRAM_MIN_PAIR)
        .join(F.broadcast(ua), "w_a")
        .join(F.broadcast(ub), "w_b")
        .crossJoin(F.broadcast(n))
        .select(
            "w_a",
            "w_b",
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            F.col("cnt_a").cast("bigint").alias("cnt_a"),
            F.col("cnt_b").cast("bigint").alias("cnt_b"),
            F.round(
                F.col("pair_cnt") * 1.0 * F.col("n_tok")
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "text_skipgram_cooccurrence",
    rf"""
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w,
         unnest(range(1, len(w) + 1)) AS pos
  FROM ws
), n AS (SELECT count(*) AS n_tok FROM tok),
uni AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
pairs AS (
  SELECT a.w AS w_a, b.w AS w_b, count(*) AS pair_cnt
  FROM tok a JOIN tok b
    ON b.doc_id = a.doc_id
   AND b.pos BETWEEN a.pos + 1 AND a.pos + {SKIPGRAM_WINDOW}
  GROUP BY a.w, b.w
  HAVING count(*) >= {SKIPGRAM_MIN_PAIR}
)
SELECT p.w_a, p.w_b,
       CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
       CAST(ua.cnt AS BIGINT) AS cnt_a,
       CAST(ub.cnt AS BIGINT) AS cnt_b,
       round(p.pair_cnt * 1.0 * n.n_tok / (ua.cnt * ub.cnt), 6) AS lift
FROM pairs p JOIN uni ua ON ua.w = p.w_a
JOIN uni ub ON ub.w = p.w_b, n
""",
)
def q_text_skipgram_cooccurrence(spark, sf_dir):
    """Skip-gram co-occurrence statistics (X184) — the counting pass
    under word2vec/GloVe and collocation extraction: ORDERED word
    pairs within a +/-{SKIPGRAM_WINDOW} forward window, with
    unigram-normalized lift (pair_cnt·N / (cnt_a·cnt_b) — PMI's
    argument WITHOUT the logarithm, so no libm anywhere; the X151
    co-purchase lift discipline at token grain). min-count {SKIPGRAM_MIN_PAIR}
    keeps the output collocation-sized. Scale shape: pairs are built
    PER ROW from the word array (an indexed transform + bounded
    slice — each token meets at most {SKIPGRAM_WINDOW} forward
    partners, {SKIPGRAM_WINDOW}x corpus tokens total, never a
    self-join, never quadratic); two hash aggs + broadcast unigram
    joins are the only exchanges. The oracle keeps the readable
    positional-join SQL — it pins semantics, not plans."""
    tok, pr = skipgram_tokens(_docs(spark, sf_dir))
    n = tok.agg(F.count(F.lit(1)).alias("n_tok"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = pr.groupBy("w_a", "w_b").agg(F.count(F.lit(1)).alias("pair_cnt"))
    return skipgram_lift(pairs, uni, n)


# --- vocabulary growth curve (X182) -------------------------------------------

VOCAB_CUTS = (10, 25, 50, 100)


@query(
    "text_vocab_growth_curve",
    rf"""
WITH d AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) AS rn,
         count(*) OVER () AS n,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS words
  FROM documents
), tok AS (
  SELECT rn, n, unnest(words) AS w FROM d
), firsts AS (
  SELECT w, min(rn) AS frn, min(n) AS n FROM tok GROUP BY w
), cuts(pct) AS (VALUES {", ".join(f"({c})" for c in VOCAB_CUTS)})
SELECT c.pct,
       CAST((SELECT count(*) FROM d WHERE d.rn * 100 <= c.pct * d.n) AS BIGINT)
         AS n_docs,
       CAST((SELECT count(*) FROM tok t WHERE t.rn * 100 <= c.pct * t.n) AS BIGINT)
         AS n_tokens,
       CAST((SELECT count(*) FROM firsts f WHERE f.frn * 100 <= c.pct * f.n) AS BIGINT)
         AS n_types
FROM cuts c
""",
)
def q_text_vocab_growth_curve(spark, sf_dir):
    """Vocabulary growth curve (X182; Heaps' law observable): distinct
    word types vs corpus prefix size at 10/25/50/100% cuts — the
    scaling diagnostic that says whether a corpus keeps paying new
    vocabulary (types ~ K·tokens^beta) or has gone stale, and the
    acceptance table a tokenizer-budget plan (X134/X144) reads before
    freezing a vocab. Everything integer-exact: prefix membership is
    rn·100 <= pct·n (no float rank), a type counts at the cut iff its
    FIRST-occurrence rank is inside — so the four cuts need ONE
    corpus pass (per-word min rank + per-doc counts), not four
    re-scans. Scale shape (r10 rewrite — the r9 form joined EVERY
    token row against the cut grid with an inequality, multiplying
    the token stream ~2.4x before aggregating, and evaluated the
    scan+split subtree once per count): aggregate FIRST, join the
    grid LAST. One explode pass folds token counts AND first-rank
    type counts per cut into a word-grain hash agg (Heaps-bounded),
    a pruned second pass (no split — Catalyst drops the words column)
    counts docs; both collapse to ONE row each, and stack() unfolds
    the 4-row grid. The global doc rank is one ordering window here;
    at petabyte scale the rank swaps for X180's sampled range
    boundaries, leaving the cut algebra unchanged."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.expr(
            r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
        ).alias("words"),
    )

    def _in(pct, rank="rn"):
        return F.col(rank) * 100 <= F.lit(pct) * F.col("n")

    # word-grain pass: per-cut occurrence counts + the first-rank, so
    # tokens AND types come out of one explode + one bounded hash agg
    tok = d.select("rn", "n", F.explode("words").alias("w"))
    word = tok.groupBy("w").agg(
        F.min("rn").alias("frn"),
        F.min("n").alias("n"),
        *[
            F.sum(_in(p).cast("long")).alias(f"c{p}")
            for p in VOCAB_CUTS
        ],
    )
    wrow = word.agg(
        *[
            F.coalesce(F.sum(f"c{p}"), F.lit(0)).alias(f"tok{p}")
            for p in VOCAB_CUTS
        ],
        *[
            F.coalesce(F.sum(_in(p, "frn").cast("long")), F.lit(0)).alias(
                f"typ{p}"
            )
            for p in VOCAB_CUTS
        ],
    )
    # doc-grain pass: the split prunes out of this subtree entirely
    drow = d.select("rn", "n").agg(
        *[
            F.coalesce(F.sum(_in(p).cast("long")), F.lit(0)).alias(f"doc{p}")
            for p in VOCAB_CUTS
        ]
    )
    stack_args = ", ".join(
        f"{p}L, doc{p}, tok{p}, typ{p}" for p in VOCAB_CUTS
    )
    return drow.crossJoin(wrow).selectExpr(
        f"stack({len(VOCAB_CUTS)}, {stack_args})"
        " AS (pct, n_docs, n_tokens, n_types)"
    )


# --- value-distribution drift (X183) -------------------------------------------

DRIFT_W = 50


def drift_cells(events):
    """(d, bucket) per event: its day and its DRIFT_W-wide value
    bucket."""
    return events.select(
        F.to_date("ts").alias("d"),
        F.floor(F.col("value") / DRIFT_W).cast("bigint").alias("bucket"),
    )


def drift_windows(rows, *cols):
    """``cols`` of dated rows plus is_ref: 1 in the reference window
    (the first half of the rows' own day span), else 0."""
    span = rows.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    return rows.crossJoin(F.broadcast(span)).select(
        *cols,
        F.when(
            F.datediff("d", "lo") * 2 <= F.datediff("hi", "lo"), 1
        ).otherwise(0).alias("is_ref"),
    )


def drift_terms(g):
    """Per (bucket, ref_cnt, cur_cnt) row, its chi-square term against
    the add-one-floored reference proportions scaled to the current
    total (the totals broadcast as one row)."""
    tot = g.agg(
        F.sum("ref_cnt").alias("ref_t"), F.sum("cur_cnt").alias("cur_t")
    )
    exp = (F.col("ref_cnt") + 1.0) * F.col("cur_t") / (F.col("ref_t") + 1.0)
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("ref_cnt").cast("bigint").alias("ref_cnt"),
        F.col("cur_cnt").cast("bigint").alias("cur_cnt"),
        F.round(
            (F.col("cur_cnt") - exp) * (F.col("cur_cnt") - exp) / exp, 6
        ).alias("chi_term"),
    )


@query(
    "events_value_drift_chisq",
    f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS d, CAST(floor(value / {DRIFT_W}) AS BIGINT) AS bucket
  FROM events
), span AS (
  SELECT min(d) AS lo, max(d) AS hi FROM e
), tagged AS (
  SELECT bucket,
         CASE WHEN datediff('day', s.lo, e.d) * 2
                   <= datediff('day', s.lo, s.hi) THEN 1 ELSE 0 END AS is_ref
  FROM e, span s
), g AS (
  SELECT bucket,
         SUM(is_ref) AS ref_cnt,
         SUM(1 - is_ref) AS cur_cnt
  FROM tagged GROUP BY bucket
), tot AS (
  SELECT sum(ref_cnt) AS ref_t, sum(cur_cnt) AS cur_t FROM g
)
SELECT CAST(g.bucket AS BIGINT) AS bucket,
       CAST(g.ref_cnt AS BIGINT) AS ref_cnt,
       CAST(g.cur_cnt AS BIGINT) AS cur_cnt,
       round(
         (g.cur_cnt - (g.ref_cnt + 1.0) * t.cur_t / (t.ref_t + 1.0))
         * (g.cur_cnt - (g.ref_cnt + 1.0) * t.cur_t / (t.ref_t + 1.0))
         / ((g.ref_cnt + 1.0) * t.cur_t / (t.ref_t + 1.0)), 6) AS chi_term
FROM g, tot t
""",
)
def q_events_value_drift_chisq(spark, sf_dir):
    """Value-distribution drift monitor (X183): the chi-square
    goodness-of-fit terms between a reference window (first half of
    the day span) and the current window, per value bucket — the data
    drift check a training pipeline runs before each ingest wave. The
    statistic needs NO logarithm (unlike PSI/KL), so there is no libm
    to disagree on: expected counts are ref proportions scaled to the
    current total with the X112 add-one floor (a bucket absent from
    the reference can't divide by zero, it just scores high), one
    double expression tree evaluated identically by both engines, and
    EVERY bucket is emitted with its term (the X173 lesson: an
    alarm-only table is vacuously green). Single scan + a grid-bounded
    aggregate; the 1-row totals broadcast."""
    tagged = drift_windows(drift_cells(_t(spark, sf_dir, "events")), "bucket")
    g = tagged.groupBy("bucket").agg(
        F.sum("is_ref").alias("ref_cnt"),
        F.sum(1 - F.col("is_ref")).alias("cur_cnt"),
    )
    return drift_terms(g)


# --- range-partition boundary plan (X180) -------------------------------------

RANGE_PARTS = 8
RANGE_SAMPLE = 512


@query(
    "layout_range_partition_plan",
    f"""
WITH o AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
samp AS (
  SELECT k, v FROM (
    SELECT k, v, md5(CAST(k AS VARCHAR)) AS h FROM o ORDER BY h LIMIT {RANGE_SAMPLE})
), ranked AS (
  SELECT k, v, row_number() OVER (ORDER BY v, k) AS rn FROM samp
), b AS (
  SELECT v AS bv, k AS bk FROM ranked
  WHERE rn % ({RANGE_SAMPLE} // {RANGE_PARTS}) = 0 AND rn < {RANGE_SAMPLE}
), a AS (
  -- LEFT join on TRUE, not CROSS: a corpus smaller than one sample
  -- step has NO boundaries, and a cross join with an empty boundary
  -- set would silently drop every row — the total plan is
  -- "everything in partition 0" (caught by the hypothesis property
  -- suite vs the Python reference)
  SELECT o.k,
         COALESCE(SUM(CASE WHEN b.bv < o.v OR (b.bv = o.v AND b.bk < o.k)
                           THEN 1 ELSE 0 END), 0) AS part_no
  FROM o LEFT JOIN b ON TRUE GROUP BY o.k
)
SELECT CAST(part_no AS BIGINT) AS part_no,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(count(*) * {RANGE_PARTS}.0 / (sum(count(*)) OVER ()), 6)
         AS fill_ratio
FROM a GROUP BY part_no
""",
)
def q_layout_range_partition_plan(spark, sf_dir):
    """Range-partition boundary planning (X180) — the heart of every
    distributed global sort (Spark's RangePartitioner, TeraSort's
    sampler): a BOUNDED deterministic sample (the smallest-md5 rows,
    the k-means/KMV sampling idiom) is ranked by the sort key and its
    P-1 evenly-spaced order statistics become the partition
    boundaries; every row then assigns to the count of boundaries
    below it. Boundaries are COMPOSITE (value, key) so massive ties
    still split deterministically — the real RangePartitioner's
    tie-break, and the reason the audit is exact in both engines
    (double comparisons on identical parquet bits, no float
    arithmetic). The output is the balance audit a layout job reads
    before committing to the plan: rows and fill ratio per planned
    partition (fill_ratio ~1 everywhere = the sample was
    representative). Scale shape: the sample is constant-bounded, the
    boundary set broadcasts as ONE array row and assignment is a
    per-row size(filter(...)) over it — one scan, no row blowup
    (the r9 form joined every order row against the 7 boundaries and
    then SHUFFLED on orderkey just to sum the ×7 stream back; the
    per-row fold needs no exchange before the 8-row rollup) —
    EXACTLY the plan a 100 TB sort wants."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    samp = (
        o.select("k", "v", F.md5(F.col("k").cast("string")).alias("h"))
        .orderBy("h")
        .limit(RANGE_SAMPLE)
    )
    step = RANGE_SAMPLE // RANGE_PARTS
    ranked = samp.select(
        "k",
        "v",
        F.row_number().over(Window.orderBy("v", "k")).alias("rn"),
    )
    b = ranked.filter(
        (F.col("rn") % step == 0) & (F.col("rn") < RANGE_SAMPLE)
    ).select(F.col("v").alias("bv"), F.col("k").alias("bk"))
    # the boundary set as ONE broadcast row (array of (bv, bk)):
    # with no boundaries (corpus smaller than one sample step)
    # collect_list yields an empty array and every row folds to
    # partition 0 — the same total semantics the r9 LEFT-join-on-TRUE
    # encoded, without the ×|boundaries| row blowup or the groupBy(k)
    # shuffle that summed it back
    barr = b.agg(
        F.array_sort(F.collect_list(F.struct("bv", "bk"))).alias("bs")
    )
    a = o.join(F.broadcast(barr), F.lit(True), "left").select(
        "k",
        F.expr(
            "size(filter(bs, x -> x.bv < v OR (x.bv = v AND x.bk < k)))"
        ).cast("long").alias("part_no"),
    )
    return (
        a.groupBy("part_no")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            F.col("part_no").cast("bigint").alias("part_no"),
            "n_rows",
            F.round(
                F.col("n_rows")
                * float(RANGE_PARTS)
                / F.sum("n_rows").over(Window.partitionBy()),
                6,
            ).alias("fill_ratio"),
        )
    )


# --- mergeable histogram quantile sketch (X179) -------------------------------

from gmall_spark.operators import sketches as _sketches  # noqa: E402


@query(
    "events_value_quantile_sketch",
    f"""
WITH b AS (
  SELECT CAST(floor(value / {_sketches.HIST_W}) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), c AS (
  SELECT bucket, cnt,
         sum(cnt) OVER (ORDER BY bucket) AS cum,
         sum(cnt) OVER () AS n
  FROM b
), qs(q_pct) AS (VALUES {", ".join(f"({q})" for q in _sketches.HIST_QS)})
SELECT q_pct,
       CAST(min(bucket) AS BIGINT) AS bucket,
       CAST((min(bucket) + 1) * {_sketches.HIST_W} AS DOUBLE) AS est_upper,
       CAST(min(n) AS BIGINT) AS n
FROM qs JOIN c ON c.cum * 100 >= qs.q_pct * c.n
GROUP BY q_pct
""",
)
def q_events_value_quantile_sketch(spark, sf_dir):
    """Mergeable histogram quantile sketch (X179): the quantile
    estimator a monitoring pipeline keeps next to the KMV (X145) and
    CMS (X13) sketches — state is one count per 25-wide value bucket
    (bounded by the DOMAIN, not the corpus), counts merge by plain
    SUM, so the streaming twin equals the batch sketch EXACTLY after
    any split (incremental_value_hist, the KMV equality class). The
    q-th percentile lies in the first bucket whose cumulative count
    reaches ceil(q*n/100) — tested as the integer-exact 100*cum >=
    q*n, no float rank anywhere; the reported upper edge is within
    one bucket width of the exact percentile by construction (gated
    in-suite). Scale shape: ONE corpus pass builds the grid-bounded
    histogram; the quantile read is window algebra over ~20 rows."""
    e = _t(spark, sf_dir, "events")
    return _sketches.hist_quantiles(_sketches.value_hist(e))


# --- histogram-derived range plan + balance audit (X198) ----------------------


@query(
    "layout_range_plan_from_sketch",
    f"""
WITH b AS (
  SELECT CAST(floor(value / {_sketches.HIST_W}) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), c AS (
  SELECT bucket, cnt,
         sum(cnt) OVER (ORDER BY bucket) AS cum,
         sum(cnt) OVER () AS n
  FROM b
), iv(i) AS (VALUES {", ".join(f"({i})" for i in range(1, RANGE_PARTS))}),
bnd AS (
  SELECT i, min(bucket) AS bb
  FROM iv JOIN c ON c.cum * {RANGE_PARTS} >= iv.i * c.n
  GROUP BY i
), tot AS (SELECT sum(cnt) AS total FROM b),
asg AS (
  SELECT c.bucket, c.cnt,
         COALESCE(SUM(CASE WHEN bnd.bb < c.bucket THEN 1 ELSE 0 END), 0)
           AS part_no
  FROM c LEFT JOIN bnd ON TRUE GROUP BY c.bucket, c.cnt
), agg AS (SELECT part_no, sum(cnt) AS n_rows FROM asg GROUP BY part_no),
grid(part_no) AS (VALUES {", ".join(f"({p})" for p in range(RANGE_PARTS))})
SELECT CAST(g.part_no AS BIGINT) AS part_no,
       CAST(COALESCE(a.n_rows, 0) AS BIGINT) AS n_rows,
       round(COALESCE(a.n_rows, 0) * {RANGE_PARTS}.0 / t.total, 6)
         AS fill_ratio,
       (2 * COALESCE(a.n_rows, 0) * {RANGE_PARTS} >= t.total
        AND COALESCE(a.n_rows, 0) * {RANGE_PARTS} <= 2 * t.total) AS in_band
FROM grid g LEFT JOIN agg a ON a.part_no = g.part_no, tot t
""",
)
def q_layout_range_plan_from_sketch(spark, sf_dir):
    """Histogram-derived range-partition plan + balance audit (X198,
    VERDICT r8 item 5): X180's TeraSort-style planner samples ONCE;
    a long-lived layout service instead re-derives boundaries from
    the maintained X179 bucket sketch (SUM-mergeable, so always
    current) — boundary i = the first bucket whose cumulative count
    reaches i/P of the total, the quantile read's integer-exact rank
    rule. The audit reports the FULL partition grid (an empty
    partition is a wasted executor and must surface — coarse buckets
    CAN collapse two thresholds onto one boundary) with integer
    cross-multiplied in-band flags [1/2, 2]. The streaming twin
    (incremental_range_plan) freezes a plan version and re-plans
    exactly when drift pushes a partition out of band AND a better
    boundary set exists at the current bucket granularity. Scale
    shape: state is the domain-bounded grid; the plan/audit is
    window algebra over ~20 rows + one broadcast of a 7-row
    boundary table."""
    from pyspark import StorageLevel

    e = _t(spark, sf_dir, "events")
    hist = _sketches.value_hist(e).persist(StorageLevel.MEMORY_AND_DISK)
    bounds = _sketches.hist_range_plan(hist, RANGE_PARTS)
    return _sketches.hist_range_audit(hist, bounds, RANGE_PARTS)


# --- daily-volume control chart (X173) ---------------------------------------------------------------


@query(
    "events_daily_volume_anomalies",
    """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type,
         count(*) AS n_days, sum(cnt) AS s1, sum(cnt * cnt) AS s2
  FROM c GROUP BY event_type
)
SELECT c.event_type, CAST(c.d AS VARCHAR) AS day,
       CAST(c.cnt AS BIGINT) AS n_events,
       CAST(s.n_days AS BIGINT) AS n_days,
       -- |cnt·n − s1| > 3·sqrt(n·(s2·n − s1²)) both sides squared:
       -- exact integer comparison, no float stddev anywhere
       (c.cnt * s.n_days - s.s1) * (c.cnt * s.n_days - s.s1)
         > 9 * (s.s2 * s.n_days - s.s1 * s.s1) AS is_anomaly
FROM c JOIN s USING (event_type)
""",
)
def q_events_daily_volume_anomalies(spark, sf_dir):
    """Daily-volume control chart (X173) — the 3-sigma alarm a
    monitoring pipeline raises next to the X161 EWMA baseline, on the
    X88 exact-arithmetic discipline taken one step further: the
    entire test |cnt − μ| > 3σ clears to ONE integer comparison by
    multiplying through by n and squaring ((cnt·n − Σx)² > 9·(nΣx² −
    (Σx)²)), so there is no float σ, no rounding boundary, nothing
    for engines to disagree on — bit-exact flags from integer day
    counts. Day grid + per-type moment rollup, both grid-bounded."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.col("ts").cast("timestamp")).alias("d"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    dev = F.col("cnt") * F.col("n_days") - F.col("s1")
    var_n = F.col("s2") * F.col("n_days") - F.col("s1") * F.col("s1")
    j = c.join(F.broadcast(s), "event_type")
    return j.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("cnt").cast("bigint").alias("n_events"),
        F.col("n_days").cast("bigint").alias("n_days"),
        (dev * dev > 9 * var_n).alias("is_anomaly"),
    )


# --- single-source supply risk (X174) ------------------------------------------------------------------


@query(
    "parts_single_source_risk",
    """
WITH ps AS (
  SELECT l_partkey AS part, count(DISTINCT l_suppkey) AS n_suppliers,
         count(*) AS n_lines
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       round(count(*) * 1.0 / (SELECT count(*) FROM ps), 6) AS part_share
FROM ps GROUP BY n_suppliers
""",
)
def q_parts_single_source_risk(spark, sf_dir):
    """Single-source supply risk (X174) — the redundancy histogram a
    supply-chain review reads: how many parts are served by exactly
    one supplier (the n_suppliers = 1 row IS the risk register), by
    two, and so on, with the line volume riding on each tier. One
    part rollup with a distinct count + one histogram aggregate over
    the supplier-count domain; the share divides exact integers
    once."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    # total parts = window sum over the tiny histogram — a scalar
    # crossJoin would re-evaluate the whole part rollup subtree
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ps.groupBy("n_suppliers")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("n_lines").alias("n_lines"),
        )
        .select(
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.col("n_parts").cast("bigint").alias("n_parts"),
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.round(
                F.col("n_parts") * 1.0 / F.sum("n_parts").over(wt), 6
            ).alias("part_share"),
        )
    )


# --- props JSON extraction profile (X171) ----------------------------------------------------------


@query(
    "events_props_profile",
    """
WITH x AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS unparsed,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
FROM x GROUP BY event_type
""",
)
def q_events_props_profile(spark, sf_dir):
    """Semi-structured payload profiling (X171): the events table's
    JSON ``props`` column — the last raw column no query had touched —
    extracted with the engine's native JSON path functions
    (get_json_object / json_extract_string) and profiled per event
    type: parse-failure count (the schema-on-read health signal),
    integer min/max/sum/distinct of the payload key. A malformed or
    shape-drifted payload shows up as ``unparsed`` > 0, not a task
    failure — TRY_CAST / nullable extraction end to end. One hash
    aggregate; JSON parsing stays JVM-side (no UDF)."""
    e = _t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("unparsed"),
        F.min("k").cast("bigint").alias("k_min"),
        F.max("k").cast("bigint").alias("k_max"),
        F.sum("k").cast("bigint").alias("k_sum"),
        F.countDistinct("k").cast("bigint").alias("k_distinct"),
    )


# --- trailing RANGE-frame window (X172) --------------------------------------------------------------


@query(
    "events_trailing_7d_volume",
    """
WITH c AS (
  SELECT CAST(ts AS DATE) AS d,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT CAST(d AS VARCHAR) AS day,
       CAST(cnt AS BIGINT) AS n_events,
       CAST(sum(cnt) OVER (ORDER BY di
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_7d
FROM c
""",
)
def q_events_trailing_7d_volume(spark, sf_dir):
    """Trailing 7-day volume via a RANGE frame (X172): the one window
    frame form the registry hadn't demonstrated — every other window
    here is ROWS-framed, but a trailing-k-DAYS sum over a day series
    with GAPS is only correct with RANGE semantics (a ROWS frame
    would reach past missing days and silently widen the window; the
    corpus's X150 gap days are exactly where the two diverge on real
    data). Integer day index (datediff from an epoch) keys the frame,
    so both engines bound it identically; grid-bounded rollup, one
    ordered window."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
            F.datediff(
                F.to_date(F.col("ts").cast("timestamp")), F.lit("2024-01-01")
            ).alias("di"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("di").rangeBetween(-6, 0)
    return c.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("cnt").cast("bigint").alias("n_events"),
        F.sum("cnt").over(w).cast("bigint").alias("trailing_7d"),
    )


