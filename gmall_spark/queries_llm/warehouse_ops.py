"""Warehouse/retrieval ops: range-as-equi join, corpus datasheet, greedy LM decode, co-purchase pairs, ingest completeness, kNN triangles, bitext mining, compaction planning, KMV cardinality, OOV reports, audio features/fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.operators import (
    multimodal,
    similarity,
)
from gmall_spark import fixtures_audit
from gmall_spark.session import local_rows
from gmall_spark.queries import _t, query
from gmall_spark.queries import ORACLES
from gmall_spark.queries_llm.prelude import (
    _docs,
    _emb,
    _knn_edges,
    _trained_centroids,
)
from gmall_spark.queries_llm.ann_topk import PR_KNN_K
from gmall_spark.queries_llm.sampling_privacy import (
    q_layout_zorder_orders,
)

# --- range join as equi join (X157) ------------------------------------------------

BAND_CENTS = 5000  # 50.00-wide price bands
N_BANDS = 10


@query(
    "events_price_band_join",
    f"""
WITH bands AS (
  SELECT b AS band_id, b * {BAND_CENTS} AS lo_cents,
         (b + 1) * {BAND_CENTS} AS hi_cents
  FROM (SELECT unnest(range(0, {N_BANDS})) AS b)
), v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
)
SELECT CAST(bands.band_id AS BIGINT) AS band_id,
       CAST(bands.lo_cents AS BIGINT) AS lo_cents,
       CAST(bands.hi_cents AS BIGINT) AS hi_cents,
       CAST(count(v.cents) AS BIGINT) AS n_events,
       CAST(coalesce(sum(v.cents), 0) AS BIGINT) AS sum_cents
FROM bands LEFT JOIN v
  ON v.cents >= bands.lo_cents AND v.cents < bands.hi_cents
GROUP BY 1, 2, 3
""",
)
def q_events_price_band_join(spark, sf_dir):
    """Range join rewritten as an equi join (X157): the oracle states
    the DECLARATIVE semantics — every event joins the band whose
    [lo, hi) interval contains it (a non-equi BETWEEN join, which
    Spark executes as a broadcast nested loop) — while the Spark plan
    computes band_id = cents div {BAND_CENTS} and hash-joins it: the
    uniform-interval rewrite that turns O(rows x bands) comparisons
    into one projection + one hash join (non-uniform intervals take
    the same shape via an interval-index table). Hash parity between
    the two formulations IS the proof the rewrite preserves
    semantics. Everything runs in integer cents (round(value·100) —
    2-dp data lands ~1e-10 from integers, never at a half), so no
    float boundary exists anywhere, including the band edges that
    would be the bug magnet in a double formulation."""
    bands = local_rows(
        spark,
        [(b, b * BAND_CENTS, (b + 1) * BAND_CENTS) for b in range(N_BANDS)],
        "band_id long, lo_cents long, hi_cents long",
    )
    v = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    agg = (
        v.withColumn(
            "band_id", F.expr(f"cents div {BAND_CENTS}").cast("long")
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )
    return bands.join(agg, "band_id", "left").select(
        F.col("band_id").cast("bigint").alias("band_id"),
        F.col("lo_cents").cast("bigint").alias("lo_cents"),
        F.col("hi_cents").cast("bigint").alias("hi_cents"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("sum_cents", F.lit(0)).cast("bigint").alias("sum_cents"),
    )


# --- corpus datasheet (X155) ------------------------------------------------------


def _datasheet_oracle() -> str:
    from gmall_spark.queries import ORACLES

    return rf"""
WITH base AS (
  SELECT count(*) AS n_docs,
         count(DISTINCT lang) AS n_langs,
         sum(len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> ''))) AS total_ws_tokens,
         count(*) - count(DISTINCT md5(text)) AS exact_dup_docs
  FROM documents
), g AS (
  SELECT sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END) AS kept
  FROM ({ORACLES["text_quality_gopher"]})
), p AS (
  SELECT sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS tail_docs
  FROM ({ORACLES["text_perplexity_buckets"]})
), nd AS (
  SELECT count(*) AS near_dup_pairs FROM ({ORACLES["dedup_minhash_lsh"]})
)
SELECT CAST(base.n_docs AS BIGINT) AS n_docs,
       CAST(base.n_langs AS BIGINT) AS n_langs,
       CAST(base.total_ws_tokens AS BIGINT) AS total_ws_tokens,
       CAST(base.exact_dup_docs AS BIGINT) AS exact_dup_docs,
       CAST(nd.near_dup_pairs AS BIGINT) AS near_dup_pairs,
       round(g.kept * 1.0 / base.n_docs, 6) AS gopher_keep_rate,
       round(p.tail_docs * 1.0 / base.n_docs, 6) AS ppl_tail_share
FROM base, g, p, nd
"""


@query("llm_corpus_datasheet", _datasheet_oracle())
def q_llm_corpus_datasheet(spark, sf_dir):
    """Corpus datasheet (X155; Gebru et al. 2021 'Datasheets for
    Datasets' — the one-row release artifact published next to a
    corpus): size (docs, languages, whitespace tokens), duplication
    (exact-dup docs, verified MinHash near-dup pairs), and quality
    composition (Gopher keep rate, CCNet tail share). Every arm IS a
    registered stage — the Spark side composes the query functions,
    the oracle wraps their registered oracle texts as subqueries, so
    the datasheet can never drift from the measurements it
    summarizes. One row out; each arm's cost is its stage's cost
    (shared session fixtures make repeats cheap)."""
    d = _docs(spark, sf_dir)
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(
            F.size(F.expr(r"filter(split(text, '\\s+'), x -> x != '')"))
        ).alias("total_ws_tokens"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "exact_dup_docs"
        ),
    )
    from gmall_spark.queries import QUERIES

    g = (
        QUERIES["text_quality_gopher"](spark, sf_dir)
        .agg(F.sum(F.when(F.col("gopher_keep"), 1).otherwise(0)).alias("kept"))
    )
    p = (
        QUERIES["text_perplexity_buckets"](spark, sf_dir)
        .agg(
            F.sum(F.when(F.col("bucket") == "tail", 1).otherwise(0)).alias(
                "tail_docs"
            )
        )
    )
    nd = QUERIES["dedup_minhash_lsh"](spark, sf_dir).agg(
        F.count(F.lit(1)).alias("near_dup_pairs")
    )
    return (
        base.crossJoin(g)
        .crossJoin(p)
        .crossJoin(nd)
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_langs").cast("bigint").alias("n_langs"),
            F.col("total_ws_tokens").cast("bigint").alias("total_ws_tokens"),
            F.col("exact_dup_docs").cast("bigint").alias("exact_dup_docs"),
            F.col("near_dup_pairs").cast("bigint").alias("near_dup_pairs"),
            F.round(F.col("kept") * 1.0 / F.col("n_docs"), 6).alias(
                "gopher_keep_rate"
            ),
            F.round(F.col("tail_docs") * 1.0 / F.col("n_docs"), 6).alias(
                "ppl_tail_share"
            ),
        )
    )


# --- greedy LM decoding (X154) ---------------------------------------------------


def _greedy_decode_oracle(steps: int) -> str:
    head = """
WITH d AS (
  SELECT lang, lower(text) AS t FROM documents
), pos AS (
  SELECT lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2
), model AS (
  SELECT lang, substr(t, CAST(i AS INTEGER), 2) AS b, count(*) AS c
  FROM pos GROUP BY lang, b
), best AS (
  SELECT lang, substr(b, 1, 1) AS prev, substr(b, 2, 1) AS nxt
  FROM (SELECT *, row_number() OVER (PARTITION BY lang, substr(b, 1, 1)
          ORDER BY c DESC, substr(b, 2, 1) ASC) AS rn FROM model)
  WHERE rn = 1
), g0 AS (
  SELECT lang, substr(b, 1, 1) AS seed, substr(b, 1, 1) AS generated,
         substr(b, 1, 1) AS prev
  FROM (SELECT *, row_number() OVER (PARTITION BY lang
          ORDER BY c DESC, b ASC) AS rn FROM model)
  WHERE rn = 1
)"""
    body = []
    for s in range(1, steps + 1):
        body.append(f""",
g{s} AS (
  SELECT g.lang, g.seed,
         g.generated || coalesce(b.nxt, '') AS generated,
         b.nxt AS prev
  FROM g{s - 1} g LEFT JOIN best b ON b.lang = g.lang AND b.prev = g.prev
)""")
    return head + "".join(body) + f"""
SELECT lang, seed, generated FROM g{steps}
"""


from gmall_spark.operators import lm as _lm_ops  # noqa: E402


@query("text_lm_greedy_decode", _greedy_decode_oracle(_lm_ops.DECODE_STEPS))
def q_text_lm_greedy_decode(spark, sf_dir):
    """Deterministic greedy decoding from the corpus char-bigram LM
    (X154) — the GENERATE corner completing the loop the LM family
    already trains (X95) and scores under when frozen (X112): per
    language, start at the most frequent bigram's first character and
    append argmax count(prev→c) for a fixed 12 steps, ties to the
    smallest character (greedy argmax IS the deterministic decode —
    sampling needs randomness no oracle can replay). After the one
    corpus-sized bigram count everything is vocabulary-bounded: the
    argmax transition table is |chars|² per language, broadcast into
    each unrolled step; the oracle chains the steps as CTEs exactly
    like the PageRank/LPA twins (operators/lm.greedy_decode). The
    corpus output degenerates into a ' st' cycle within a few steps —
    greedy decode's classic repetition loop, the same pathology
    X105's Gopher filters hunt in model OUTPUT corpora, observable
    here end to end."""
    return _lm_ops.greedy_decode(_docs(spark, sf_dir))


# --- market-basket co-purchase pairs (X151) -------------------------------------

from gmall_spark.operators.relational import COPURCHASE_TOP  # noqa: E402


@query(
    "lineitem_copurchase_pairs",
    f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pc AS (
  SELECT p, count(*) AS n_p FROM op GROUP BY p
), no AS (
  SELECT count(DISTINCT o) AS n_orders FROM op
), pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_ab
  FROM op a JOIN op b ON b.o = a.o AND a.p < b.p
  GROUP BY a.p, b.p
), scored AS (
  SELECT part_a, part_b, n_ab,
         round(n_ab * 1.0 * no.n_orders / (pa.n_p * pb.n_p), 6) AS lift
  FROM pairs
  JOIN pc pa ON pa.p = part_a
  JOIN pc pb ON pb.p = part_b
  CROSS JOIN no
)
SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab, lift,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (ORDER BY n_ab DESC, part_a, part_b) AS rnk
      FROM scored)
WHERE rnk <= {COPURCHASE_TOP}
""",
)
def q_lineitem_copurchase_pairs(spark, sf_dir):
    """Market-basket co-purchase mining (X151; the A-Priori support
    count at pair size 2): the top co-ordered part pairs with
    support and LIFT n_ab·N/(n_a·n_b) — the association statistic a
    recommender or assortment analysis starts from. Exact core in
    operators/relational.copurchase_pairs (shared by the streaming
    twin): self-join fan-out bounded by parts-per-order (≤13 in this
    corpus — Σ|basket|², never n²), integer counts to the end, one
    exact-integer division rounded, deterministic fixed-size top-100
    at any SF."""
    from gmall_spark.operators.relational import copurchase_pairs

    op = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    return copurchase_pairs(op, top=COPURCHASE_TOP)


# --- ingest-completeness monitoring (X150) -------------------------------------


@query(
    "orders_ingest_gaps",
    """
WITH c AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS cnt
  FROM orders GROUP BY 1
), r AS (SELECT min(d) AS d0, max(d) AS d1 FROM c),
all_days AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM r
), m AS (SELECT median(cnt) AS med FROM c)
SELECT CAST(a.d AS VARCHAR) AS day,
       CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_rows,
       CASE WHEN c.d IS NULL THEN 'missing' ELSE 'low' END AS status
FROM all_days a LEFT JOIN c ON c.d = a.d CROSS JOIN m
WHERE c.d IS NULL OR 2 * c.cnt < m.med
""",
)
def q_orders_ingest_gaps(spark, sf_dir):
    """Ingest-completeness monitoring (X150): the per-day partition
    audit a warehouse runs after every load — days MISSING from the
    observed [min, max] date range (a dropped partition / dead
    upstream) and days whose row count fell below half the median
    (a partial load), the two failure shapes the X85 backfill repairs.
    The day spine generates from one broadcast (min, max) row — never
    a driver action; the 'low' threshold compares 2·cnt against the
    exact median (integer-vs-midpoint — engines agree exactly, no
    float boundary class); output bounded by anomalous days. Honest
    scale note: the synthetic sf0.01 corpus has 6 genuinely missing
    days; a denser SF may legitimately report none."""
    from pyspark import StorageLevel

    # the day-count rollup feeds THREE consumers (the span, the
    # median, and the spine join) — unpersisted, each re-ran the
    # orders scan + agg (the N-consumers re-evaluation trap; found
    # via the r9 quiet-box read of the r7->r8 uptick)
    c = (
        _t(spark, sf_dir, "orders")
        .select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one 1-row stats pass serves span AND median
    stats = c.agg(
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
        F.expr("percentile(cnt, 0.5)").alias("med"),
    )
    days = stats.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    m = stats.select("med")
    return (
        days.join(c, "d", "left")
        .crossJoin(F.broadcast(m))
        .filter(F.col("cnt").isNull() | (2 * F.col("cnt") < F.col("med")))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("n_rows"),
            F.when(F.col("cnt").isNull(), "missing")
            .otherwise("low")
            .alias("status"),
        )
    )


# --- kNN-graph triangle statistics (X149) --------------------------------------

from gmall_spark.ann_oracles import lpa_oracle, triangles_oracle  # noqa: E402


@query("embedding_lpa_communities", lpa_oracle(k=5, rounds=3))
def q_embedding_lpa_communities(spark, sf_dir):
    """Label-propagation communities over the kNN(5) cosine graph
    (X152; Raghavan et al. 2007) — the near-linear community detector
    between X28's connected components (too coarse: one giant
    component) and X25's k-means SemDeDup clusters (needs a k):
    labels start as node ids, each synchronous round every node
    adopts its neighborhood's MODE label with a TOTAL tie order
    (count desc, smallest label), for a fixed 3 rounds — a fixed
    horizon pins the result where free-running synchronous LPA can
    oscillate. Integer end to end; the oracle unrolls the rounds as
    chained CTEs exactly like the PageRank twin; shares the
    checkpointed kNN edge fixture (operators/graph
    .label_propagation)."""
    from gmall_spark.operators.graph import label_propagation

    return label_propagation(
        _knn_edges(spark, sf_dir, PR_KNN_K).select("src", "dst"), rounds=3
    )


@query("embedding_knn_triangles", triangles_oracle(k=5))
def q_embedding_knn_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficients over
    the kNN(5) cosine graph (X149) — the graph-health statistic read
    next to X82's PageRank: a kNN graph with vanishing clustering is
    noise, one approaching 1 is the clustered structure SemDeDup
    exploits. Shares the checkpointed kNN edge fixture with the
    PageRank query (one GEMM build per session); each triangle
    materializes exactly once as an ordered triple a<b<c via two
    self-joins whose fan-out is degree-bounded (k per node — wedge
    count Σd², never n²); degree-ordered orientation is the noted
    skew upgrade for general graphs (operators/graph.triangle_stats)."""
    from gmall_spark.operators.graph import triangle_stats

    return triangle_stats(_knn_edges(spark, sf_dir, PR_KNN_K).select("src", "dst"))


# --- margin-based bitext mining (X148) ----------------------------------------

BITEXT_SRC_LANG, BITEXT_TGT_LANG = "en", "de"


def _bitext_oracle() -> str:
    k = similarity.BITEXT_NN_K
    return f"""
WITH e AS (
  SELECT d.doc_id, d.lang, em.embedding
  FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id
), s AS (SELECT doc_id AS src_id, embedding AS sv FROM e WHERE lang = '{BITEXT_SRC_LANG}'),
t AS (SELECT doc_id AS tgt_id, embedding AS tv FROM e WHERE lang = '{BITEXT_TGT_LANG}'),
px AS (
  SELECT src_id, tgt_id, unnest(sv)::DOUBLE AS a, unnest(tv)::DOUBLE AS b
  FROM s CROSS JOIN t
), pairs AS (
  SELECT src_id, tgt_id,
         round(SUM(a * b) / (sqrt(SUM(a * a)) * sqrt(SUM(b * b))), 6) AS cos6
  FROM px GROUP BY src_id, tgt_id
), sx AS (
  SELECT src_id,
         list_reduce((list(cos6 ORDER BY cos6 DESC, tgt_id ASC))[1:{k}],
                     (x, y) -> x + y) AS sum_x,
         len((list(cos6 ORDER BY cos6 DESC, tgt_id ASC))[1:{k}]) AS k_x
  FROM pairs GROUP BY src_id
), sy AS (
  SELECT tgt_id,
         list_reduce((list(cos6 ORDER BY cos6 DESC, src_id ASC))[1:{k}],
                     (x, y) -> x + y) AS sum_y,
         len((list(cos6 ORDER BY cos6 DESC, src_id ASC))[1:{k}]) AS k_y
  FROM pairs GROUP BY tgt_id
), scored AS (
  SELECT p.src_id, p.tgt_id, p.cos6 AS cos_sim,
         round(2.0 * p.cos6 / (sx.sum_x / sx.k_x + sy.sum_y / sy.k_y), 6)
           AS margin
  FROM pairs p JOIN sx USING (src_id) JOIN sy USING (tgt_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, cos_sim DESC, tgt_id ASC)
              AS rn
  FROM scored
)
SELECT src_id, tgt_id, cos_sim, margin FROM ranked WHERE rn = 1
"""


@query("llm_bitext_mining", _bitext_oracle())
def q_llm_bitext_mining(spark, sf_dir):
    """Margin-based bitext mining (X148; Artetxe & Schwenk 2019 —
    the LASER/CCMatrix parallel-corpus mining shape): for every
    English document, the best German candidate scored by the ratio
    margin 2·cos/(avg_k(x→de) + avg_k(y→en)) — absolute cosine
    thresholds misfire in dense embedding regions; the margin
    normalizes by both sides' neighborhoods. Float discipline: each
    neighborhood sum folds over a SORTED array (a plain SUM()
    aggregates in shuffle order and its last-ulp noise would flip
    rounded margins); Spark's fold subtracts negated keys, which IEEE
    guarantees equals the oracle's plain additions. Cross join is
    lang-pair-bounded; at 100 TB candidates come from the X8/X11
    index, which returns the needed top-k neighborhoods anyway
    (operators/similarity.bitext_margin_top1)."""
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    e = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    j = d.join(e, "doc_id")
    # guard counts memoized per (session, sf_dir): the refusal guard
    # only needs the side cardinalities, and recomputing them on every
    # invocation charged two full jobs per bench repeat and parity run
    # (ADVICE r8 item 3)
    def side_counts():
        row = j.agg(
            F.count(F.when(F.col("lang") == BITEXT_SRC_LANG, 1)).alias("s"),
            F.count(F.when(F.col("lang") == BITEXT_TGT_LANG, 1)).alias("t"),
        ).collect()[0]
        return (row["s"], row["t"])

    counts = fixtures_audit.memo(spark, ("bitext_counts", sf_dir), side_counts)
    return similarity.bitext_margin_top1(
        j.filter(F.col("lang") == BITEXT_SRC_LANG),
        j.filter(F.col("lang") == BITEXT_TGT_LANG),
        side_counts=counts,
    )


from gmall_spark.ann_oracles import bitext_ann_oracle  # noqa: E402


@query("llm_bitext_mining_ann", bitext_ann_oracle(BITEXT_SRC_LANG, BITEXT_TGT_LANG))
def q_llm_bitext_mining_ann(spark, sf_dir):
    """Index-backed bitext mining (X148's scale path, VERDICT r7
    item 2): IVF candidate generation in BOTH directions feeding the
    same sorted-fold ratio margin — no cross join, no corpus
    broadcast; candidate volume is nprobe/n_lists of the exact
    pass's |en| x |de|, and the probe joins shuffle on list_id, the
    partitioning an IVF index is stored under anyway. Reuses the
    session's shared coarse quantizer (the X11/X25 k-means fixture);
    the oracle unrolls the same training and replays both probe
    directions. The exact cross-join pass stays registered as the
    declared quadratic oracle baseline (now refusal-guarded like
    X3/X7); llm_bitext_mining_eval records their top-1 agreement."""
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    e = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    j = d.join(e, "doc_id")
    return similarity.bitext_margin_top1_ann(
        j.filter(F.col("lang") == BITEXT_SRC_LANG),
        j.filter(F.col("lang") == BITEXT_TGT_LANG),
        centroids=_trained_centroids(spark, sf_dir),
    )


def _bitext_eval_oracle() -> str:
    return f"""
WITH ex AS MATERIALIZED (
  SELECT src_id, tgt_id FROM ({_bitext_oracle()})
), an AS MATERIALIZED (
  SELECT src_id, tgt_id FROM ({bitext_ann_oracle(BITEXT_SRC_LANG, BITEXT_TGT_LANG)})
)
SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_src,
       CAST((SELECT count(*) FROM ex JOIN an USING (src_id, tgt_id)) AS BIGINT)
         AS agree_top1,
       round(CAST((SELECT count(*) FROM ex JOIN an USING (src_id, tgt_id)) AS DOUBLE)
             / (SELECT count(*) FROM ex), 6) AS agreement
"""


@query("llm_bitext_mining_eval", _bitext_eval_oracle())
def q_llm_bitext_mining_eval(spark, sf_dir):
    """Top-1 agreement of the IVF-backed bitext miner against the
    exact cross-join pass (the X138 eval-table pattern): the
    acceptance row a pipeline reads before swapping the quadratic
    scorer for the index at scale. Gated >= 0.9 in the suite."""
    ex = q_llm_bitext_mining(spark, sf_dir).select("src_id", "tgt_id")
    an = q_llm_bitext_mining_ann(spark, sf_dir).select(
        "src_id", "tgt_id", F.lit(1).alias("hit")
    )
    j = ex.join(an, ["src_id", "tgt_id"], "left")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("agree_top1"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 6
        ).alias("agreement"),
    )


# --- small-file compaction planning (X146) -----------------------------------

COMPACT_MIN_ROWS = 230  # target file floor, scaled to the test corpus


def _compaction_oracle() -> str:
    from gmall_spark.queries import ORACLES

    t = COMPACT_MIN_ROWS
    return f"""
WITH z AS ({ORACLES["layout_zorder_orders"]}),
files AS (SELECT file_id, count(*) AS n_rows FROM z GROUP BY file_id),
u AS (
  SELECT file_id, row_number() OVER (ORDER BY file_id) AS rn
  FROM files WHERE n_rows < {t}
), p AS (
  SELECT file_id, min(file_id) OVER (PARTITION BY (rn + 1) // 2) AS tgt
  FROM u
)
SELECT f.file_id,
       CAST(f.n_rows AS BIGINT) AS n_rows,
       f.n_rows < {t} AS undersized,
       CAST(coalesce(p.tgt, f.file_id) AS BIGINT) AS merge_target,
       CAST(sum(f.n_rows) OVER (PARTITION BY coalesce(p.tgt, f.file_id))
            AS BIGINT) AS merged_rows
FROM files f LEFT JOIN p ON p.file_id = f.file_id
"""


@query("layout_compaction_plan", _compaction_oracle())
def q_layout_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (X146) — the OPTIMIZE half of
    the X130 layout story: from the Z-order file assignment, files
    under the target row floor pair up with their NEXT undersized
    neighbor in z order (the X109 even-offset run idiom at file
    grain), so merges stay z-contiguous and the clustering the layout
    bought is preserved; a trailing unpaired file waits for the next
    OPTIMIZE cycle, exactly like Delta's. Every window here runs over
    the FILE table — bounded by the layout grid (64 files), never the
    corpus — and the only corpus-sized work is the file_id count
    rollup the plan starts from."""
    from pyspark.sql import Window

    t = COMPACT_MIN_ROWS
    z = q_layout_zorder_orders(spark, sf_dir)
    files = z.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    u = (
        files.filter(F.col("n_rows") < t)
        .withColumn("rn", F.row_number().over(Window.orderBy("file_id")))
        .withColumn(
            "tgt",
            F.min("file_id").over(
                Window.partitionBy(((F.col("rn") + 1) / 2).cast("int"))
            ),
        )
        .select("file_id", "tgt")
    )
    j = files.join(u, "file_id", "left")
    w = Window.partitionBy(F.coalesce("tgt", F.col("file_id")))
    return j.select(
        F.col("file_id").cast("bigint").alias("file_id"),
        "n_rows",
        (F.col("n_rows") < t).alias("undersized"),
        F.coalesce("tgt", F.col("file_id")).cast("bigint").alias("merge_target"),
        F.sum("n_rows").over(w).cast("bigint").alias("merged_rows"),
    )


# --- KMV join-cardinality estimation (X145) ----------------------------------

from gmall_spark.operators.sketches import KMV_K, KMV_M  # noqa: E402


def _kmv_oracle() -> str:
    return f"""
WITH a AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) AS h
  FROM events
), b AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                       AS BIGINT) AS h
  FROM customer
), a_sk AS (SELECT h FROM a ORDER BY h LIMIT {KMV_K}),
b_sk AS (SELECT h FROM b ORDER BY h LIMIT {KMV_K}),
u_sk AS (
  SELECT h FROM (SELECT h FROM a_sk UNION SELECT h FROM b_sk)
  ORDER BY h LIMIT {KMV_K}
), sa AS (
  SELECT count(*) AS n, max(h) AS hk FROM a_sk
), sb AS (
  SELECT count(*) AS n, max(h) AS hk FROM b_sk
), su AS (
  SELECT count(*) AS n, max(u_sk.h) AS hk,
         sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_both
  FROM u_sk LEFT JOIN a_sk ia ON ia.h = u_sk.h
            LEFT JOIN b_sk ib ON ib.h = u_sk.h
), ex AS (
  SELECT (SELECT count(*) FROM a) AS na,
         (SELECT count(*) FROM b) AS nb,
         (SELECT count(*) FROM a JOIN b USING (h)) AS ni
)
SELECT CAST({KMV_K} AS BIGINT) AS k,
       CAST(ex.na AS BIGINT) AS n_a_exact,
       round(CASE WHEN sa.n < {KMV_K} THEN sa.n * 1.0
                  ELSE ({KMV_K} - 1) * CAST({KMV_M} AS DOUBLE) / sa.hk END, 6)
         AS n_a_est,
       CAST(ex.nb AS BIGINT) AS n_b_exact,
       round(CASE WHEN sb.n < {KMV_K} THEN sb.n * 1.0
                  ELSE ({KMV_K} - 1) * CAST({KMV_M} AS DOUBLE) / sb.hk END, 6)
         AS n_b_est,
       CAST(ex.ni AS BIGINT) AS n_inter_exact,
       round(su.n_both
             * (CASE WHEN su.n < {KMV_K} THEN su.n * 1.0
                     ELSE ({KMV_K} - 1) * CAST({KMV_M} AS DOUBLE) / su.hk END)
             / su.n, 6) AS n_inter_est
FROM sa, sb, su, ex
"""


@query("events_join_cardinality_sketch", _kmv_oracle())
def q_events_join_cardinality_sketch(spark, sf_dir):
    """KMV join-cardinality estimation (X145; Beyer et al. 2007 —
    k-minimum-values sketches): estimate |distinct keys|, and the
    DISTINCT-KEY OVERLAP of events.user_id vs customer.c_custkey,
    from three 64-value sketches — the statistics pass an optimizer
    (or the X93 ANALYZE twin) runs before choosing a join strategy,
    at sketch cost instead of a full join. The union sketch's K
    smallest hashes decide membership honestly: any union-sketch
    value present in a side is necessarily inside that side's own
    sketch (h <= Kth(A∪B) <= Kth(A)), so the intersection ratio
    needs no second pass. Exact counts ride along as the
    verification columns (at 100 TB you'd drop them — they ARE the
    join being avoided). md5-hash determinism makes both engines
    build identical sketches, so estimates match to the bit."""
    from gmall_spark.operators import sketches

    k = KMV_K
    m = float(KMV_M)
    a = sketches.kmv_hashes(_t(spark, sf_dir, "events"), "user_id")
    b = sketches.kmv_hashes(_t(spark, sf_dir, "customer"), "c_custkey")
    a_sk = sketches.kmv_sketch(a, k)
    b_sk = sketches.kmv_sketch(b, k)
    u_sk = sketches.kmv_sketch(a_sk.union(b_sk).distinct(), k)

    def est(n_col, hk_col):
        return F.round(
            F.when(F.col(n_col) < k, F.col(n_col) * 1.0).otherwise(
                (k - 1) * F.lit(m) / F.col(hk_col)
            ),
            6,
        )

    sa = a_sk.agg(F.count("h").alias("n_a"), F.max("h").alias("hk_a"))
    sb = b_sk.agg(F.count("h").alias("n_b"), F.max("h").alias("hk_b"))
    su = (
        u_sk.join(a_sk.withColumn("in_a", F.lit(1)), "h", "left")
        .join(b_sk.withColumn("in_b", F.lit(1)), "h", "left")
        .agg(
            F.count("h").alias("n_u"),
            F.max("h").alias("hk_u"),
            F.sum(
                F.when(
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_both"),
        )
    )
    ex = (
        a.agg(F.count("h").alias("n_a_exact"))
        .crossJoin(b.agg(F.count("h").alias("n_b_exact")))
        .crossJoin(a.join(b, "h").agg(F.count("h").alias("n_inter_exact")))
    )
    return (
        sa.crossJoin(sb)
        .crossJoin(su)
        .crossJoin(ex)
        .select(
            F.lit(k).cast("bigint").alias("k"),
            F.col("n_a_exact").cast("bigint").alias("n_a_exact"),
            est("n_a", "hk_a").alias("n_a_est"),
            F.col("n_b_exact").cast("bigint").alias("n_b_exact"),
            est("n_b", "hk_b").alias("n_b_est"),
            F.col("n_inter_exact").cast("bigint").alias("n_inter_exact"),
            F.round(
                F.col("n_both")
                * F.when(F.col("n_u") < k, F.col("n_u") * 1.0).otherwise(
                    (k - 1) * F.lit(m) / F.col("hk_u")
                )
                / F.col("n_u"),
                6,
            ).alias("n_inter_est"),
        )
    )


# --- frozen-vocabulary OOV report (X144) ------------------------------------

VOCAB_MIN_COUNT = 2


@query(
    "llm_vocab_oov",
    rf"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM tok WHERE doc_id % 2 = 0
  GROUP BY w HAVING count(*) >= {VOCAB_MIN_COUNT}
), hold AS (
  SELECT t.lang, t.w, v.w IS NOT NULL AS known
  FROM tok t LEFT JOIN vocab v ON v.w = t.w
  WHERE t.doc_id % 2 = 1
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS oov_tokens,
       round(sum(CASE WHEN known THEN 0 ELSE 1 END) * 1.0 / count(*), 6)
         AS oov_token_rate,
       CAST(count(DISTINCT w) AS BIGINT) AS n_types,
       CAST(count(DISTINCT CASE WHEN known THEN NULL ELSE w END) AS BIGINT)
         AS oov_types,
       round(count(DISTINCT CASE WHEN known THEN NULL ELSE w END) * 1.0
             / count(DISTINCT w), 6) AS oov_type_rate
FROM hold GROUP BY lang
""",
)
def q_llm_vocab_oov(spark, sf_dir):
    """Frozen-vocabulary OOV report (X144): the closed word vocabulary
    is trained on the even-doc half (count >= 2 — hapaxes excluded,
    the classic min-count cut) and FROZEN; the odd half is the
    deployment traffic, reported per language as token- and
    type-weighted OOV rates — the preprocessing acceptance table that
    decides between a closed vocab and the X139 BPE fallback (whose
    whole point is an OOV rate of zero). Vocab is count-bounded and
    joins the holdout token stream on the word key; two hash
    aggregates plus one join, everything else rides the same
    exchange."""
    d = _docs(spark, sf_dir)
    tok = d.selectExpr(
        "doc_id",
        "lang",
        r"explode(filter(split(lower(text), '[^a-z0-9]+'), x -> x != ''))"
        " AS w",
    )
    vocab = (
        tok.filter("doc_id % 2 = 0")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= VOCAB_MIN_COUNT)
        .select("w")
    )
    hold = (
        tok.filter("doc_id % 2 = 1")
        .join(vocab.withColumn("known", F.lit(True)), "w", "left")
        .select("lang", "w", F.coalesce("known", F.lit(False)).alias("known"))
    )
    return hold.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("known"), 0).otherwise(1))
        .cast("bigint")
        .alias("oov_tokens"),
        F.round(
            F.sum(F.when(F.col("known"), 0).otherwise(1)) * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("oov_token_rate"),
        F.countDistinct("w").cast("bigint").alias("n_types"),
        F.countDistinct(F.when(~F.col("known"), F.col("w")))
        .cast("bigint")
        .alias("oov_types"),
        F.round(
            F.countDistinct(F.when(~F.col("known"), F.col("w"))) * 1.0
            / F.countDistinct("w"),
            6,
        ).alias("oov_type_rate"),
    )


# --- audio spectral features (X141) -----------------------------------------


@query(
    "multimodal_wav_spectral",
    """
SELECT doc_id,
       CAST(2000 AS BIGINT) AS n_samples,
       CASE WHEN doc_id % 1000 = 0 THEN NULL
            ELSE CAST(101 + 2 * (doc_id % 10) AS BIGINT) END AS dominant_bin,
       CASE WHEN doc_id % 1000 = 0 THEN NULL
            ELSE CAST(4 * (101 + 2 * (doc_id % 10)) AS BIGINT) END AS dominant_hz,
       CASE WHEN doc_id % 1000 = 0 THEN NULL
            ELSE CAST(doc_id % 1000 AS BIGINT) END AS amp_est
FROM documents
""",
)
def q_multimodal_wav_spectral(spark, sf_dir):
    """Audio spectral analysis end to end (X141): a deterministic
    sine-tone corpus (amplitude doc_id%1000 at DFT bin 101+2(doc%10),
    REAL RIFF encoding; tones on EXACT bins COPRIME to the frame so a
    rectangular window has zero leakage AND the int16 quantization
    error decorrelates — see synth_sine_wav_blobs for the measured
    coherent-bias failure on a round-number grid) rides encode ->
    decode -> numpy rfft -> dominant-bin detection, and the oracle
    states the CLOSED FORM the chain must recover: bin, hz = 4·bin,
    amplitude = 2|X[k]|/N rounded back to the exact integer (worst
    measured deviation 103 vs the 500 rounding boundary).
    Zero-amplitude docs stay below the noise floor and carry NULLs,
    pinning the silence gate too
    (operators/multimodal.wav_spectral_features)."""
    blobs = multimodal.synth_sine_wav_blobs(_docs(spark, sf_dir))
    return multimodal.wav_spectral_features(blobs).select(
        "doc_id", "n_samples", "dominant_bin", "dominant_hz", "amp_est"
    )


# --- audio fingerprint near-dup groups (X197) --------------------------------


def _audio_fp_oracle() -> str:
    """Oracle twin of q_dedup_audio_fingerprint_groups: each of the
    41 melody classes' landmark fingerprints stated CLOSED-FORM
    straight from the planted bin grid (multimodal.melody_fp_hex —
    never through the codec/FFT the Spark side must round-trip).
    Classes use DISJOINT bin sets, so cross-class pair-hash overlap
    is exactly 0 and the group partition IS the class partition."""
    values = ",".join(
        f"({c},'{multimodal.melody_fp_hex(c)}')"
        for c in range(multimodal.MELODY_CLASSES)
    )
    return f"""
WITH fp(cls, fp_hex) AS (VALUES {values}),
g AS (SELECT doc_id, doc_id % {multimodal.MELODY_CLASSES} AS cls FROM documents),
r AS (SELECT cls, min(doc_id) AS rep_id, count(*) AS group_size
      FROM g GROUP BY cls)
SELECT g.doc_id, fp.fp_hex,
       CAST(r.rep_id AS BIGINT) AS rep_id,
       CAST(r.group_size AS BIGINT) AS group_size
FROM g JOIN r USING (cls) JOIN fp USING (cls)
"""


@query("dedup_audio_fingerprint_groups", _audio_fp_oracle())
def q_dedup_audio_fingerprint_groups(spark, sf_dir):
    """Audio near-dup grouping by spectral landmark fingerprints
    (X197, VERDICT r8 item 3; Wang 2003 — the Shazam constellation
    shape): the synthetic melody corpus (per class a 4-frame tone
    sequence on planted coprime-grid DFT bins, amplitude varying
    WITHIN a class so members are near-dups by melody, not bytes)
    rides REAL RIFF encode -> decode -> per-frame rfft peak ->
    landmark pair hashing (anchor bin, target bin, frame delta) ->
    the X136 exact-tier/bucket-join grouping with the pair hash as
    the band and an integer-ratio overlap verify. Loudness never
    enters a hash — the invariance text/image hashes get from
    shingling/DCT-sign. The oracle states every class fingerprint in
    closed form (X141 discipline: on-bin coprime tones keep the
    per-frame argmax provably the planted bin)
    (operators/multimodal.wav_peak_pair_fingerprints,
    audio_near_dup_groups)."""
    blobs = multimodal.synth_melody_wav_blobs(_docs(spark, sf_dir))
    return multimodal.audio_near_dup_groups(
        multimodal.wav_peak_pair_fingerprints(blobs)
    )


