"""PII/contamination/sampling families: PII scan, n-gram novelty, stratified sampling, train/val/test splits, repetition signals, sequence packing, k-anonymity, z-order layout, epoch shards, segment dedup, semantic clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.operators import (
    ivf,
    llm_dedup,
    semdedup,
)
from gmall_spark.functions import text as TX
from gmall_spark.queries import _t, query
from gmall_spark.queries import ORACLES
from gmall_spark.queries_llm.prelude import (
    CONTAM_GRAM_N,
    _docs,
    _emb,
    _trained_centroids,
)

# --- PII / contamination / sampling / repetition --------------------------


def _pii_scan_oracle() -> str:
    # built by concatenation: the regex patterns contain literal {m,n}
    # braces that f-strings would eat
    counts = ",\n       ".join(
        "CAST(len(regexp_extract_all(text, '" + pat + "')) AS BIGINT) AS " + name
        for name, pat in (
            ("email_ct", TX.PII_EMAIL),
            ("url_ct", TX.PII_URL),
            ("phone_ct", TX.PII_PHONE),
            ("ipv4_ct", TX.PII_IPV4),
        )
    )
    redacted = "text"
    for pat, repl in TX.PII_REDACTIONS:
        redacted = (
            "regexp_replace(" + redacted + ", '" + pat + "', '" + repl + "', 'g')"
        )
    return (
        "SELECT doc_id,\n       "
        + counts
        + ",\n       md5("
        + redacted
        + ") AS redacted_md5\nFROM documents"
    )


@query("text_pii_scan", _pii_scan_oracle())
def q_text_pii_scan(spark, sf_dir):
    """PII scan + redaction over the corpus: per-doc hit counts for
    emails/urls/phones/ipv4s and the md5 of the redacted text (typed
    placeholders, fixed order). All JVM regexp — no UDF; the patterns
    are restricted to the Java-regex ∩ RE2 subset so the oracle runs
    the identical strings. Planted-PII behavior is unit-tested (the
    synthetic corpus itself is PII-free)."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        *TX.pii_counts(t),
        F.md5(TX.pii_redact(t)).alias("redacted_md5"),
    )


# deterministic benchmark subset: every doc_id ending in 7 plays the
# role of an eval-benchmark document
_CONTAM_SQL_GRAMS = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), gr AS (
  SELECT DISTINCT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
           || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win
           || ' ' || lead(w,5) OVER win || ' ' || lead(w,6) OVER win
           || ' ' || lead(w,7) OVER win AS gram
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,7) OVER win IS NOT NULL
)
SELECT c.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS overlap_ct
FROM gr c JOIN gr b ON c.gram = b.gram
WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
GROUP BY c.doc_id, b.doc_id
"""


@query(
    "text_ngram_novelty",
    r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), gr AS (
  SELECT DISTINCT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
           || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win
           || ' ' || lead(w,5) OVER win || ' ' || lead(w,6) OVER win
           || ' ' || lead(w,7) OVER win AS gram
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,7) OVER win IS NOT NULL
), ref AS (
  SELECT DISTINCT gram FROM gr WHERE doc_id % 20 = 0
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(r.gram) AS BIGINT) AS seen_ct,
       round(1.0 - count(r.gram) * 1.0 / count(*), 6) AS novelty
FROM gr g LEFT JOIN ref r ON r.gram = g.gram
WHERE g.doc_id % 20 <> 0
GROUP BY g.doc_id
""",
)
def q_text_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty vs the held-out reference
    twentieth (X121): the fraction of a doc's distinct 8-word grams
    UNSEEN in the reference — low novelty marks text the reference
    already contains (memorization/duplication risk; the continuous
    complement of X21's contamination pair flags and X47's near-dup
    drops). Reference gram set is small by definition → broadcast
    into a left join; grams stay per-row HOF arrays (no token
    shuffle); counts integer-exact, ratio rounded."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(llm_dedup.shingle_array("text", CONTAM_GRAM_N)).alias("gram"),
    )
    ref = (
        grams.filter(F.col("doc_id") % 20 == 0)
        .select("gram")
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    return (
        grams.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(ref), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count("__seen").cast("bigint").alias("seen_ct"),
            F.round(
                F.lit(1.0) - F.count("__seen").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "text_frequent_ngrams",
    r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), gr AS (
  SELECT DISTINCT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS gram
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,2) OVER win IS NOT NULL
), df AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS df FROM gr GROUP BY gram
), tot AS (SELECT count(*) AS n_docs FROM documents)
SELECT gram, df, round(df * 1.0 / tot.n_docs, 6) AS doc_share
FROM df CROSS JOIN tot
WHERE df >= 5
""",
)
def q_text_frequent_ngrams(spark, sf_dir):
    """Corpus frequent-n-gram governance report (X125): every 3-word
    gram appearing in >= 5 distinct documents, with its document
    frequency and corpus share — the over-represented-phrase table a
    curation run reviews for boilerplate/template/memorization risk
    (the corpus-level complement of X106's per-span doc-freq and
    X121's per-doc novelty). Grams stay per-row HOF arrays (no token
    shuffle before the agg); the (gram, df) agg is partial-agg
    friendly; corpus doc count joins as a broadcast single row, never
    a driver action."""
    d = _docs(spark, sf_dir)
    grams = d.select(F.explode(llm_dedup.shingle_array("text", 3)).alias("gram"))
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        df.filter(F.col("df") >= 5)
        .crossJoin(F.broadcast(tot))
        .select(
            "gram",
            "df",
            F.round(F.col("df") * 1.0 / F.col("n_docs"), 6).alias("doc_share"),
        )
    )


@query("llm_contamination_check", _CONTAM_SQL_GRAMS)
def q_llm_contamination_check(spark, sf_dir):
    """Benchmark-contamination check (the n-gram overlap test run
    before training): count shared 8-word grams between each corpus
    document and each document of a benchmark set (here the
    deterministic doc_id%10==7 subset stands in for an eval set).
    Scale shape: the benchmark gram set is small by definition ->
    broadcast hash join against the corpus gram stream; no corpus
    shuffle."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(llm_dedup.shingle_array("text", CONTAM_GRAM_N)).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    corpus = grams.filter(F.col("doc_id") % 10 != 7)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap_ct"))
    )


# per-language keep rates for the deterministic stratified sample
SAMPLE_RATES = {"en": 0.1, "zh": 0.5, "es": 0.3, "fr": 0.3, "de": 0.3}
SAMPLE_DEFAULT_RATE = 0.2


def _sample_oracle() -> str:
    cases = "\n            ".join(
        f"WHEN '{lang}' THEN {int(rate * 65536)}"
        for lang, rate in SAMPLE_RATES.items()
    )
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) <
      CASE lang
            {cases}
            ELSE {int(SAMPLE_DEFAULT_RATE * 65536)} END
"""


@query("llm_stratified_sample", _sample_oracle())
def q_llm_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: keep each document iff the
    first 16 bits of md5(doc_id) fall under its language's keep rate.
    Hash-threshold sampling is reproducible across engines and runs
    (unlike rand()), needs NO shuffle, and composes with any
    downstream pipeline — the standard way to cut a 100 TB corpus to
    a target token budget per stratum."""
    d = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    rate = F.lit(int(SAMPLE_DEFAULT_RATE * 65536))
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(int(r * 65536))).otherwise(rate)
    return d.filter(bucket < rate).select("doc_id", "lang", "source")


# train 90% / val 5% / test 5% by the same 16-bit md5 bucket: the
# split is a pure per-row expression — reproducible across engines,
# runs, and cluster sizes, with no shuffle and no rand()
_SPLIT_TRAIN = int(0.90 * 65536)
_SPLIT_VAL = int(0.95 * 65536)


@query(
    "llm_train_val_test_split",
    f"""
SELECT doc_id, lang, source,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                 < {_SPLIT_TRAIN} THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
                 < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_llm_train_val_test_split(spark, sf_dir):
    """Deterministic 90/5/5 train-val-test assignment by md5 bucket
    (the llm_stratified_sample hashing, partitioned into three
    ranges): every engine, run, and re-shard assigns each doc the
    same split — the property leakage audits depend on."""
    d = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return d.select("doc_id", "lang", "source", split.alias("split"))


@query(
    "text_repetition_signals",
    r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), bg AS (
  SELECT doc_id, w || ' ' || lead(w,1) OVER win AS gram
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,1) OVER win IS NOT NULL
), cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS bigram_total,
       CAST(COUNT(*) AS BIGINT) AS bigram_distinct,
       CAST(MAX(c) AS BIGINT) AS top_bigram_ct,
       round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS rep_ratio,
       round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_share
FROM cnt GROUP BY doc_id
""",
)
def q_text_repetition_signals(spark, sf_dir):
    """Repetition quality signals (the Gopher/C4 family): per-doc
    bigram totals, distinct counts, the most-repeated bigram's share,
    and the repeated-bigram ratio. Shape: explode bigrams -> two
    map-side-combining hash aggregates keyed by doc_id — the exchange
    carries per-doc partials, never the token stream."""
    d = _docs(spark, sf_dir)
    bigrams = F.expr(
        """
        CASE WHEN size(split(text, '\\\\s+')) >= 2
             THEN transform(sequence(1, size(split(text, '\\\\s+')) - 1),
                            i -> concat_ws(' ', slice(split(text, '\\\\s+'), i, 2)))
             ELSE array()
        END
        """
    )
    cnt = (
        d.select("doc_id", F.explode(bigrams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("bigram_total"),
        F.count(F.lit(1)).cast("bigint").alias("bigram_distinct"),
        F.max("c").cast("bigint").alias("top_bigram_ct"),
        F.round(
            1.0 - F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6
        ).alias("rep_ratio"),
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("top_share"),
    )


@query(
    "llm_corpus_stats",
    r"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS doc_ct,
       CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_words,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_tokens,
       round(AVG(CAST(length(text) AS DOUBLE)), 6) AS avg_chars
FROM documents
GROUP BY source, lang
""",
)
def q_llm_corpus_stats(spark, sf_dir):
    """Corpus token-budget rollup per (source, lang): doc counts,
    whitespace-word and BPE-ish token totals, average length — the
    reporting layer every corpus-curation run ends with."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_ct"),
        F.sum(TX.word_count(t)).cast("bigint").alias("total_words"),
        F.sum(TX.bpe_token_count(t)).cast("bigint").alias("total_tokens"),
        F.round(F.avg(F.length(t).cast("double")), 6).alias("avg_chars"),
    )


from gmall_spark.operators import inference  # noqa: E402


@query("llm_model_score_stub", inference.score_oracle_sql())
def q_llm_model_score_stub(spark, sf_dir):
    """Batch model-inference plumbing: a (stub) quality classifier
    scored over every document through Arrow mapInPandas — the
    broadcast-model / vectorized-batch contract real inference uses;
    the deterministic stub model makes it oracle-checkable (see
    operators/inference.py)."""
    return inference.score_documents(_docs(spark, sf_dir))


PACK_BUDGET = 2048  # tokens per training sequence


@query(
    "llm_sequence_packing",
    f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(prev_cum // {PACK_BUDGET} AS BIGINT) AS chunk_id,
       CAST(prev_cum % {PACK_BUDGET} AS BIGINT) AS chunk_offset
FROM c
""",
)
def q_llm_sequence_packing(spark, sf_dir):
    """Sequence packing (training-batch assembly): stream documents
    per language stratum in deterministic doc_id order and assign each
    to the fixed-token-budget chunk its running offset lands in — the
    contiguous-fill packing used to build pretraining sequences.
    Shape: one window cumsum per stratum (a single shuffle on lang);
    at 100 TB the stratum substreams range-partition by the ordering
    key so each partition packs independently."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", "lang", TX.bpe_token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("prev_cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("prev_cum") / PACK_BUDGET).cast("bigint").alias("chunk_id"),
        (F.col("prev_cum") % PACK_BUDGET).cast("bigint").alias("chunk_offset"),
    )


K_ANON = 5


@query(
    "events_k_anonymity",
    f"""
SELECT event_type,
       CAST(extract(hour FROM ts) AS BIGINT) AS hr,
       CAST(floor(value / 100) AS BIGINT) AS value_bucket,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2, 3
HAVING count(*) < {K_ANON}
""",
)
def q_events_k_anonymity(spark, sf_dir):
    """K-anonymity release gate (X131): every quasi-identifier
    combination — (event_type, hour-of-day, coarse value bucket) —
    shared by fewer than K_ANON rows, i.e. the groups where a
    released event table would let an attacker with those three
    attributes single out individuals (Sweeney 2002's k-anonymity
    test; the privacy-review complement of X20's direct-identifier
    scan and X89's deletion path — a release suppresses or coarsens
    exactly these rows). ONE hash aggregate with map-side combine;
    output bounded by the quasi-identifier grid, not the corpus."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.hour("ts").cast("bigint").alias("hr"),
            F.floor(F.col("value") / 100).cast("bigint").alias("value_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") < K_ANON)
    )


@query(
    "layout_zorder_orders",
    """
WITH spread AS (
  SELECT v, CAST(sum(((v >> i) & 1) * (1 << (2 * i))) AS BIGINT) AS s
  FROM (SELECT unnest(range(0, 256)) AS v)
  CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
  GROUP BY v
), k AS (
  SELECT o_orderkey,
         o_custkey % 256 AS cb,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) % 256 AS db
  FROM orders
)
SELECT k.o_orderkey,
       CAST(k.cb AS BIGINT) AS cust_bucket,
       CAST(k.db AS BIGINT) AS day_bucket,
       CAST(2 * sc.s + sd.s AS BIGINT) AS zvalue,
       CAST((2 * sc.s + sd.s) // 1024 AS BIGINT) AS file_id
FROM k JOIN spread sc ON sc.v = k.cb JOIN spread sd ON sd.v = k.db
""",
)
def q_layout_zorder_orders(spark, sf_dir):
    """Z-order (Morton-curve) layout assignment (X130): interleave
    the bits of two bucketed clustering keys — customer and order
    day — into one z-value and derive the target file id from its
    high bits, so files become axis-aligned rectangles in (customer,
    date) space and a scan filtered on EITHER key prunes ~sqrt of the
    files (the multi-dimensional data-clustering layout Delta/Iceberg
    OPTIMIZE ZORDER applies before writing 100 TB tables; single-key
    sorts prune only their own dimension). Integer-exact: the 8-bit
    spread table (bit i → bit 2i) materializes once per engine (256
    rows, broadcast) and two joins compose the interleave —
    z = 2·spread(cust) + spread(day); no floats anywhere."""
    o = _t(spark, sf_dir, "orders")
    spread = spark.range(256).select(
        F.col("id").alias("v"),
        F.expr(
            "aggregate(sequence(0, 7), cast(0 as bigint), (acc, i) -> acc"
            " + pmod(shiftright(id, i), 2) * shiftleft(cast(1 as bigint), 2 * i))"
        ).alias("s"),
    )
    k = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("cb"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01"))
            % 256
        ).alias("db"),
    )
    sc = spread.select(F.col("v").alias("cb"), F.col("s").alias("s_c"))
    sd = spread.select(F.col("v").alias("db"), F.col("s").alias("s_d"))
    z = F.lit(2) * F.col("s_c") + F.col("s_d")
    return (
        k.join(F.broadcast(sc), "cb")
        .join(F.broadcast(sd), "db")
        .select(
            "o_orderkey",
            F.col("cb").cast("bigint").alias("cust_bucket"),
            F.col("db").cast("bigint").alias("day_bucket"),
            z.cast("bigint").alias("zvalue"),
            (z / 1024).cast("bigint").alias("file_id"),
        )
    )


@query(
    "llm_segment_pairs",
    r"""
WITH t AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_words,
       array_to_string(list_slice(w, 1, len(w) // 2), ' ') AS context,
       array_to_string(list_slice(w, len(w) // 2 + 1, len(w)), ' ') AS target
FROM t
WHERE len(w) >= 8
""",
)
def q_llm_segment_pairs(spark, sf_dir):
    """Context→continuation training-pair extraction (X129): split
    each document at its word midpoint into (context, target) — the
    segment-pair generation step of contrastive / next-segment
    pretraining data prep (the ICT shape of Lee et al. 2019
    arXiv:1906.00300, with the deterministic midpoint standing in for
    sentence sampling so the pair set is reproducible cross-engine);
    pairs with X116's hard negatives for the contrastive side. Docs
    under 8 words are skipped (degenerate halves). Pure per-row HOF
    slice/join — zero shuffles at any scale."""
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), r"\s+")
    n = F.size(words)
    return (
        d.select("doc_id", words.alias("w"), n.alias("n"))
        .filter(F.col("n") >= 8)
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_words"),
            F.concat_ws(
                " ", F.slice(F.col("w"), 1, (F.col("n") / 2).cast("int"))
            ).alias("context"),
            F.concat_ws(
                " ",
                F.expr("slice(w, cast(n / 2 as int) + 1, cast(n as int))"),
            ).alias("target"),
        )
    )


SEMANTIC_DEDUP_THRESHOLD = 0.4


@query("dedup_semantic_clusters")  # oracle attached below (generated SQL)
def q_dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup-style semantic dedup: spherical k-means clusters
    (the deterministic IVF trainer), then exact-cosine near-dup pairs
    WITHIN each cluster — k·(n/k)² instead of n². The oracle unrolls
    the identical k-means in SQL (ann_oracles.semantic_dedup_oracle)."""
    return semdedup.semantic_dedup_pairs(
        _emb(spark, sf_dir),
        SEMANTIC_DEDUP_THRESHOLD,
        centroids=_trained_centroids(spark, sf_dir),
    )


from gmall_spark.ann_oracles import semantic_dedup_oracle  # noqa: E402

ORACLES["dedup_semantic_clusters"] = semantic_dedup_oracle(SEMANTIC_DEDUP_THRESHOLD)


# --- cluster-balanced (diversity-capped) sampling (X199) ----------------------

CLUSTER_SAMPLE_PCT = 25

from gmall_spark.ann_oracles import cluster_capped_sample_oracle  # noqa: E402


@query(
    "llm_cluster_capped_sample",
    cluster_capped_sample_oracle(CLUSTER_SAMPLE_PCT),
)
def q_llm_cluster_capped_sample(spark, sf_dir):
    """Cluster-balanced training-data selection (X199, VERDICT r8
    item 6): a pct% sample whose per-centroid picks are capped at the
    balanced share — near-dup clusters are exactly the over-dense
    ones (the SemDeDup observation, Abbas et al. 2023), so the cap is
    the selection-side counter to their over-representation, beside
    X25's pruning and X119's soft down-weighting. Reuses the shared
    X11/X25 k-means fixture; rank within a cluster is the md5 order
    (the corpus-sampling idiom), the cap is all-integer
    (ceil(ceil(n*pct/100)/n_lists)), and the emitted cap/capped
    columns make the binding clusters auditable. Scale shape: one
    shuffle on list_id serves rank + cluster size; the 1-row total
    broadcasts (operators/semdedup.cluster_capped_sample)."""
    emb = _emb(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    assign = ivf.build_index(emb, cents).select("vec_id", "list_id")
    return semdedup.cluster_capped_sample(
        assign, n_lists=len(cents), pct=CLUSTER_SAMPLE_PCT
    )


SEG_WORDS = 10  # words per block for block-level dedup
SEG_BOILERPLATE_FREQ = 3  # C4 rule: drop units occurring >= 3 times


@query(
    "llm_segment_dedup",
    rf"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), seg AS (
  SELECT doc_id, CAST((pos - 1) // {SEG_WORDS} AS BIGINT) AS seg_idx,
         md5(string_agg(w, ' ' ORDER BY pos)) AS seg_md5
  FROM tok GROUP BY doc_id, (pos - 1) // {SEG_WORDS}
), freq AS (
  SELECT seg_md5, CAST(count(*) AS BIGINT) AS corpus_freq FROM seg GROUP BY seg_md5
)
SELECT s.doc_id, s.seg_idx, s.seg_md5, f.corpus_freq,
       f.corpus_freq < {SEG_BOILERPLATE_FREQ} AS kept
FROM seg s JOIN freq f ON f.seg_md5 = s.seg_md5
""",
)
def q_llm_segment_dedup(spark, sf_dir):
    """Block-level boilerplate removal — the C4 rule ("we discarded
    any line that occurred [three or more times]", arXiv:1910.10683
    §2.2) at fixed 10-word block granularity (this corpus has
    no line boundaries): hash every block, count corpus-wide
    occurrences, mark blocks kept iff their frequency is under the
    threshold. Shape: per-row block hashing (HOF, zero shuffles), one
    map-side-combining hash agg on block hash, one equi-join back —
    at 100 TB the frequency table is block-hash-keyed and joins
    shuffle-on-hash; nothing is quadratic."""
    d = _docs(spark, sf_dir)
    n_seg = (
        f"cast(ceil(size(split(text, '\\\\s+')) / {SEG_WORDS}.0) as int)"
    )
    segs = F.expr(
        f"""
        transform(sequence(0, {n_seg} - 1),
                  i -> md5(concat_ws(' ',
                         slice(split(text, '\\\\s+'), i * {SEG_WORDS} + 1, {SEG_WORDS}))))
        """
    )
    seg = d.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg_md5")
    ).select("doc_id", F.col("seg_idx").cast("bigint").alias("seg_idx"), "seg_md5")
    freq = seg.groupBy("seg_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("corpus_freq")
    )
    return seg.join(freq, "seg_md5").select(
        "doc_id",
        "seg_idx",
        "seg_md5",
        "corpus_freq",
        (F.col("corpus_freq") < SEG_BOILERPLATE_FREQ).alias("kept"),
    )


SPAN_N = 8  # word n-gram length for repeated-substring detection


@query(
    "dedup_repeated_ngram_spans",
    rf"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), g AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(w[i + 1 : i + {SPAN_N}], ' ')) AS gh
  FROM ws, LATERAL unnest(range(0, len(w) - {SPAN_N} + 1)) AS t(i)
), dup AS (
  SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2
), didx AS (
  SELECT DISTINCT g.doc_id, g.start + u AS idx
  FROM g JOIN dup USING (gh), LATERAL unnest(range(0, {SPAN_N})) AS t(u)
), isl AS (
  SELECT doc_id, idx,
         CASE WHEN lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) = idx - 1
              THEN 0 ELSE 1 END AS run_start
  FROM didx
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_tokens,
         CAST(sum(run_start) AS BIGINT) AS dup_spans
  FROM isl GROUP BY doc_id
)
SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_tokens,
       COALESCE(a.dup_tokens, 0) AS dup_tokens,
       COALESCE(a.dup_spans, 0) AS dup_spans,
       round(COALESCE(a.dup_tokens, 0) / CAST(len(ws.w) AS DOUBLE), 6) AS dup_frac
FROM ws LEFT JOIN agg a ON a.doc_id = ws.doc_id
""",
)
def q_dedup_repeated_ngram_spans(spark, sf_dir):
    """Repeated-substring dedup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    ExactSubstr): mark, per document, the maximal token spans covered
    by any SPAN_N(=8)-word n-gram that occurs ≥2 times ANYWHERE in the
    corpus (including within the same document), reporting the
    duplicated-token fraction a curation pass would strip. The paper
    builds a suffix array; the distributed re-expression is the
    standard fixed-n sliding-gram equivalent: per-row gram hashing
    (HOF over sequence, zero shuffles), ONE map-side-combining count
    by gram hash, one shuffle join back on gram hash (duplicate grams
    only — at real duplication rates the dup side is a small fraction
    of the gram stream), then per-doc island-counting over duplicated
    token indices (one window). Nothing is quadratic; cost tracks
    corpus token count, so the plan survives 100 TB."""
    d = _docs(spark, sf_dir)
    w = F.split(F.col("text"), r"\s+")
    # sequence(0, k) DESCENDS when k < 0, so short docs need an
    # explicit empty-array branch (CASE coerces array() to the struct
    # element type of the other side)
    grams = F.expr(
        f"""
        CASE WHEN size(split(text, '\\\\s+')) >= {SPAN_N} THEN
          transform(sequence(0, size(split(text, '\\\\s+')) - {SPAN_N}),
                    i -> struct(i AS start,
                                md5(concat_ws(' ',
                                  slice(split(text, '\\\\s+'), i + 1, {SPAN_N}))) AS gh))
        ELSE array() END
        """
    )
    g = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))
    )
    dup = g.groupBy("gh").count().filter(F.col("count") >= 2).select("gh")
    didx = (
        g.join(dup, "gh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + SPAN_N - 1)).alias(
                "idx"
            ),
        )
        .distinct()
    )
    win = Window.partitionBy("doc_id").orderBy("idx")
    isl = didx.withColumn(
        "run_start",
        F.when(F.lag("idx").over(win) == F.col("idx") - 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    agg = isl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dup_tokens"),
        F.sum("run_start").cast("bigint").alias("dup_spans"),
    )
    return (
        d.select("doc_id", F.size(w).cast("bigint").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("bigint").alias("dup_spans"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


@query(
    "llm_exact_substr_trim",
    rf"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(0, len(w))) AS idx FROM ws
), g AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(w[i + 1 : i + {SPAN_N}], ' ')) AS gh
  FROM ws, LATERAL unnest(range(0, len(w) - {SPAN_N} + 1)) AS t(i)
), dup AS (
  SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2
), didx AS (
  SELECT DISTINCT g.doc_id, g.start + u AS idx
  FROM g JOIN dup USING (gh), LATERAL unnest(range(0, {SPAN_N})) AS t(u)
), kept AS (
  SELECT t.doc_id, t.idx, t.w
  FROM tok t LEFT JOIN didx d ON d.doc_id = t.doc_id AND d.idx = t.idx
  WHERE d.idx IS NULL
), trimmed AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY idx) AS trimmed_text,
         CAST(count(*) AS BIGINT) AS trimmed_tokens
  FROM kept GROUP BY doc_id
)
SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_tokens,
       COALESCE(t.trimmed_tokens, 0) AS trimmed_tokens,
       COALESCE(t.trimmed_text, '') AS trimmed_text
FROM ws LEFT JOIN trimmed t ON t.doc_id = ws.doc_id
""",
)
def q_llm_exact_substr_trim(spark, sf_dir):
    """The ACTION step of ExactSubstr dedup (arXiv:2107.06499 removes
    the duplicated substring itself, not the whole document):
    reconstruct each document WITHOUT the tokens covered by any
    corpus-duplicated 8-gram — dedup_repeated_ngram_spans is the
    report, this emits the cleaned text a training pipeline actually
    feeds forward. Shape: the same linear gram chain (per-row gram
    HOF → one gram count → join back on duplicated hashes only) plus
    one anti-join of the token stream against duplicated indices and
    one order-preserving per-doc re-assembly (array_sort over
    collected (idx, token) structs — deterministic, matching
    string_agg ORDER BY); nothing quadratic, text payload shuffles
    once for the reassembly."""
    d = _docs(spark, sf_dir)
    w = F.split(F.col("text"), r"\s+")
    toks = d.select(
        "doc_id", F.posexplode(w).alias("idx", "w")
    )
    grams = F.expr(
        f"""
        CASE WHEN size(split(text, '\\\\s+')) >= {SPAN_N} THEN
          transform(sequence(0, size(split(text, '\\\\s+')) - {SPAN_N}),
                    i -> struct(i AS start,
                                md5(concat_ws(' ',
                                  slice(split(text, '\\\\s+'), i + 1, {SPAN_N}))) AS gh))
        ELSE array() END
        """
    )
    g = d.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh")
    )
    dup = g.groupBy("gh").count().filter(F.col("count") >= 2).select("gh")
    didx = (
        g.join(dup, "gh")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + SPAN_N - 1)).alias(
                "idx"
            ),
        )
        .distinct()
    )
    kept = toks.join(didx, ["doc_id", "idx"], "left_anti")
    trimmed = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "w"))), lambda s: s["w"]
            ),
            " ",
        ).alias("trimmed_text"),
        F.count(F.lit(1)).cast("bigint").alias("trimmed_tokens"),
    )
    return (
        d.select("doc_id", F.size(w).cast("bigint").alias("n_tokens"))
        .join(trimmed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("trimmed_tokens"), F.lit(0))
            .cast("bigint")
            .alias("trimmed_tokens"),
            F.coalesce(F.col("trimmed_text"), F.lit("")).alias("trimmed_text"),
        )
    )


@query(
    "text_langid_confusion",
    f"""
SELECT lang,
       CASE WHEN regexp_matches(lower(text), '{TX.CJK_RANGE}') THEN 'zh'
            WHEN regexp_matches(lower(text), '{TX.EN_MARKERS}') THEN 'en'
            WHEN regexp_matches(lower(text), '{TX.ES_MARKERS}') THEN 'es'
            WHEN regexp_matches(lower(text), '{TX.FR_MARKERS}') THEN 'fr'
            WHEN regexp_matches(lower(text), '{TX.DE_MARKERS}') THEN 'de'
            ELSE 'unknown' END AS lang_pred,
       CAST(count(*) AS BIGINT) AS doc_ct
FROM documents
GROUP BY lang, lang_pred
""",
)
def q_text_langid_confusion(spark, sf_dir):
    """Heuristic-quality evaluation: the lang-ID rule's confusion
    matrix against the labeled ``lang`` column — the eval loop every
    heuristic classifier in the pipeline needs (X12's rule chain IS
    the predictor here, marker-for-marker). One hash agg; the matrix
    is at most |langs|² rows."""
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", TX.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_ct"))
    )


CHUNK_N = 64  # tokens per chunk
CHUNK_S = 48  # stride (25% overlap)


@query(
    "llm_doc_chunking",
    rf"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
)
SELECT doc_id, CAST(s // {CHUNK_S} AS BIGINT) AS chunk_idx,
       array_to_string(w[s + 1 : s + {CHUNK_N}], ' ') AS chunk_text,
       CAST(len(w[s + 1 : s + {CHUNK_N}]) AS BIGINT) AS chunk_tokens
FROM ws, LATERAL unnest(range(0, greatest(len(w), 1), {CHUNK_S})) AS t(s)
""",
)
def q_llm_doc_chunking(spark, sf_dir):
    """Overlapping document chunking (64-token windows, stride 48 —
    25% overlap): the splitter feeding a RAG embedder or a
    fixed-context training tokenizer, the inverse companion of
    sequence packing (X26 packs short docs together; this splits
    long ones). Pure per-row HOF (transform over a stride sequence +
    slices) and one explode — zero shuffles beyond the scan fan-out;
    the chunk stream inherits the doc's partitioning, ready for
    X27-style batch inference."""
    d = _docs(spark, sf_dir)
    chunks = F.expr(
        f"""
        transform(sequence(0, greatest(size(split(text, '\\\\s+')), 1) - 1, {CHUNK_S}),
                  s -> struct(
                    CAST(s div {CHUNK_S} AS BIGINT) AS chunk_idx,
                    concat_ws(' ', slice(split(text, '\\\\s+'), s + 1, {CHUNK_N})) AS chunk_text,
                    CAST(size(slice(split(text, '\\\\s+'), s + 1, {CHUNK_N})) AS BIGINT) AS chunk_tokens))
        """
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
    )


WSAMPLE_K = 100


@query(
    "llm_weighted_sample",
    rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents
), keyed AS (
  SELECT doc_id, source, n_tokens,
         round(pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5) / 16777216.0,
                   1.0 / GREATEST(n_tokens, 1)), 6) AS es_key
  FROM t
)
SELECT doc_id, source, n_tokens, es_key
FROM keyed ORDER BY es_key DESC, doc_id ASC LIMIT {WSAMPLE_K}
""",
)
def q_llm_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis & Spirakis 2006: key = u^(1/w), take the top-k keys)
    with weight = BPE token count — the sampler a mixture builder
    uses to draw token-proportional subsets. u is an md5-derived
    rational (no rand(): the llm_train_val_test_split discipline), so
    the draw is identical across engines/runs/shards; keys round to
    6 dp with doc_id tiebreak before ranking (the ANN convention for
    float-ordered selections). One per-row projection +
    TakeOrderedAndProject — no shuffle beyond the scan fan-out."""
    d = _docs(spark, sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(16777216.0)
    n_tokens = TX.bpe_token_count(F.col("text"))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.greatest(n_tokens, F.lit(1)).cast("double")), 6
    )
    return (
        d.select(
            "doc_id",
            "source",
            n_tokens.alias("n_tokens"),
            key.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )


@query(
    "llm_doclen_quantiles",
    r"""
WITH t AS (
  SELECT source, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS doc_ct,
       round(quantile_cont(n_words, 0.5), 6) AS p50,
       round(quantile_cont(n_words, 0.9), 6) AS p90,
       round(quantile_cont(n_words, 0.99), 6) AS p99
FROM t GROUP BY source
""",
)
def q_llm_doclen_quantiles(spark, sf_dir):
    """Per-source document-length distribution (the reporting layer a
    curation run uses to pick length cutoffs): exact interpolated
    p50/p90/p99 of word counts. Spark's exact ``percentile`` and
    DuckDB's ``quantile_cont`` share the p*(n-1) linear-interpolation
    definition, so the oracle matches to float tolerance. One hash
    agg; at 100 TB swap percentile for approx_percentile (t-digest)
    and the plan shape is unchanged."""
    d = _docs(spark, sf_dir)
    t = d.select("source", TX.word_count(F.col("text")).alias("n_words"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_ct"),
        F.round(F.expr("percentile(n_words, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_words, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_words, 0.99)"), 6).alias("p99"),
    )


@query(
    "llm_temperature_mix_weights",
    r"""
WITH d AS (
  SELECT lang,
         CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
), t AS (
  SELECT lang, lang_tokens,
         CAST(lang_tokens AS DOUBLE) / SUM(lang_tokens) OVER () AS p
  FROM d
), s AS (
  SELECT lang, lang_tokens, p,
         pow(p, 0.3) / SUM(pow(p, 0.3)) OVER () AS q
  FROM t
)
SELECT lang, lang_tokens,
       round(p, 6) AS natural_share,
       round(q, 6) AS temp_share,
       round(q / p, 6) AS boost
FROM s
""",
)
def q_llm_temperature_mix_weights(spark, sf_dir):
    """Temperature-scaled language sampling weights (X117, XLM-R
    §5.1 / mC4: q_i = p_i^α / Σ p_j^α with α = 0.3): flattens the
    language distribution so low-resource languages are upsampled
    without drowning the head. Emits each language's natural share,
    temperature share, and the boost factor a sampler applies —
    the multilingual complement of X33's uniform-target domain
    weights. Shape: one lang-bounded hash agg, then windows over the
    HANDFUL of language rows."""
    d = _docs(spark, sf_dir)
    agg = (
        d.select("lang", TX.bpe_token_count(F.col("text")).alias("__tok"))
        .groupBy("lang")
        .agg(F.sum("__tok").cast("bigint").alias("lang_tokens"))
    )
    w = Window.partitionBy()
    p = F.col("lang_tokens").cast("double") / F.sum("lang_tokens").over(w)
    q_ = F.pow(p, F.lit(0.3)) / F.sum(F.pow(p, F.lit(0.3))).over(w)
    return agg.select(
        "lang",
        "lang_tokens",
        F.round(p, 6).alias("natural_share"),
        F.round(q_, 6).alias("temp_share"),
        F.round(q_ / p, 6).alias("boost"),
    )


MIX_TOKEN_BUDGET = 1_000_000


@query(
    "llm_token_budget_plan",
    rf"""
WITH d AS (
  SELECT lang,
         CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
), t AS (
  SELECT lang, lang_tokens,
         CAST(lang_tokens AS DOUBLE) / SUM(lang_tokens) OVER () AS p
  FROM d
), s AS (
  SELECT lang, lang_tokens,
         pow(p, 0.3) / SUM(pow(p, 0.3)) OVER () AS q
  FROM t
)
SELECT lang, lang_tokens,
       CAST(round(q * {MIX_TOKEN_BUDGET}) AS BIGINT) AS token_quota,
       round(q * {MIX_TOKEN_BUDGET} / lang_tokens, 6) AS epochs,
       (q * {MIX_TOKEN_BUDGET} > 4 * lang_tokens) AS over_epoch_cap
FROM s
""",
)
def q_llm_token_budget_plan(spark, sf_dir):
    """Training token-budget allocation plan (X134): turn the X117
    temperature mix into the table a run actually executes against a
    fixed token budget — per language: its token quota, the implied
    EPOCH count over available data (quota/available), and a flag
    where the plan exceeds the 4-epoch repetition cap (Muennighoff
    2023, arXiv:2305.16264: value decays fast past ~4 epochs — the
    flagged languages are where a data-constrained run either caps
    and reallocates or goes get more data). Same lang-bounded
    agg + handful-of-rows windows as X117; pow ulp drift falls in the
    accepted boundary class, the cap test is float-vs-float on the
    same rounded quantities both engines compute."""
    d = _docs(spark, sf_dir)
    agg = (
        d.select("lang", TX.bpe_token_count(F.col("text")).alias("__tok"))
        .groupBy("lang")
        .agg(F.sum("__tok").cast("bigint").alias("lang_tokens"))
    )
    w = Window.partitionBy()
    p = F.col("lang_tokens").cast("double") / F.sum("lang_tokens").over(w)
    q_ = F.pow(p, F.lit(0.3)) / F.sum(F.pow(p, F.lit(0.3))).over(w)
    quota = q_ * MIX_TOKEN_BUDGET
    return agg.select(
        "lang",
        "lang_tokens",
        F.round(quota).cast("bigint").alias("token_quota"),
        F.round(quota / F.col("lang_tokens"), 6).alias("epochs"),
        (quota > 4 * F.col("lang_tokens")).alias("over_epoch_cap"),
    )


@query(
    "llm_domain_mix_weights",
    r"""
WITH d AS (
  SELECT source,
         CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS domain_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT source, domain_tokens,
         SUM(domain_tokens) OVER () AS total_tokens,
         COUNT(*) OVER () AS n_domains
  FROM d
)
SELECT source, domain_tokens,
       round(CAST(domain_tokens AS DOUBLE) / total_tokens, 6) AS natural_share,
       round(1.0 / n_domains, 6) AS target_share,
       round(least(1.0, (CAST(total_tokens AS DOUBLE) / n_domains) / domain_tokens), 6) AS keep_rate
FROM t
""",
)
def q_llm_domain_mix_weights(spark, sf_dir):
    """Domain-mixture rebalancing weights (the data-mixing step of a
    pretraining pipeline, cf. DoReMi/The Pile's per-source weights):
    per source, the token count, its natural share of the corpus, a
    uniform target share, and the downsampling keep-rate that hits the
    target (capped at 1 — under-represented domains keep everything;
    upsampling is an epoch decision, not a filter). Compose the rate
    with the md5-threshold filter of llm_stratified_sample for a
    deterministic resample. Shape: one hash agg to per-domain tokens
    (map-side combining), then an unpartitioned window over the HANDFUL
    of domain rows — the corpus itself is touched once."""
    d = _docs(spark, sf_dir)
    agg = (
        d.select("source", TX.bpe_token_count(F.col("text")).alias("__tok"))
        .groupBy("source")
        .agg(F.sum("__tok").cast("bigint").alias("domain_tokens"))
    )
    w = Window.partitionBy()
    t = agg.select(
        "source",
        "domain_tokens",
        F.sum("domain_tokens").over(w).alias("__total"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    return t.select(
        "source",
        "domain_tokens",
        F.round(F.col("domain_tokens").cast("double") / F.col("__total"), 6).alias(
            "natural_share"
        ),
        F.round(F.lit(1.0) / F.col("__n"), 6).alias("target_share"),
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("__total").cast("double") / F.col("__n"))
                / F.col("domain_tokens"),
            ),
            6,
        ).alias("keep_rate"),
    )

