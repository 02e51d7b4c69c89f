"""Document dedup families: exact, prefix, n-gram Jaccard, MinHash+LSH, transitive groups/keepers, embedding cosine/LSH, winnowing fingerprints.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from gmall_spark.operators import (
    components,
    llm_dedup,
    similarity,
)
from gmall_spark.functions import text as TX
from gmall_spark.queries import _t, query
from gmall_spark.queries_llm.prelude import (
    NEAR_DUP_THRESHOLD,
    SQL_MINHASH,
    SQL_SHINGLES,
    _SQL_GROUP_CTES,
    _SQL_JACCARD_VERIFY,
    _docs,
    _emb,
    _emb_dim,
    _transitive_groups,
)

# --- deduplication --------------------------------------------------------


@query(
    "dedup_exact_documents",
    r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact_documents(spark, sf_dir):
    """Exact dedup via canonical-hash groupBy (one shuffle of
    (hash, id) pairs; map-side partial aggregation)."""
    return llm_dedup.exact_dedup_groups(_docs(spark, sf_dir))


@query(
    "dedup_prefix_groups",
    r"""
WITH p AS (
  SELECT doc_id,
         md5(array_to_string(string_split_regex(text, '\s+')[1:8], ' ')) AS prefix_hash
  FROM documents
)
SELECT prefix_hash, CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id
FROM p GROUP BY prefix_hash
""",
)
def q_dedup_prefix_groups(spark, sf_dir):
    """Leading-boilerplate dedup: group by hash of the first 8 words."""
    d = _docs(spark, sf_dir)
    prefix = F.concat_ws(" ", F.slice(TX.words(F.col("text")), 1, 8))
    return (
        d.select(F.md5(prefix).alias("prefix_hash"), "doc_id")
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_count"),
            F.min("doc_id").cast("bigint").alias("keeper_id"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    SQL_SHINGLES
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
{_SQL_JACCARD_VERIFY}
""",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard near-dup detection (5-gram
    shingles, shared-shingle join; threshold 0.8)."""
    sh = llm_dedup.word_shingles(_docs(spark, sf_dir))
    return llm_dedup.jaccard_pairs(sh, NEAR_DUP_THRESHOLD)


@query("dedup_minhash_lsh", SQL_MINHASH + _SQL_JACCARD_VERIFY)
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(4 bands) near-dup detection with exact
    Jaccard verification of candidates — the 100 TB scale path."""
    return llm_dedup.minhash_lsh_dedup(_docs(spark, sf_dir), NEAR_DUP_THRESHOLD)


@query("dedup_minhash_lsh_capped", SQL_MINHASH + _SQL_JACCARD_VERIFY)
def q_dedup_minhash_lsh_capped(spark, sf_dir):
    """The PRODUCTION configuration of the MinHash pipeline: the
    mega-bucket cap armed at DEFAULT_MAX_BUCKET. Sharing the uncapped
    oracle is the point — wherever no band bucket exceeds the cap
    (every non-pathological corpus, including the driver's SFs) the
    capped pipeline is bit-identical to the exact all-pairs
    expansion; only a boilerplate mega-bucket switches that bucket to
    the linear chain+skip layout (planted-bucket behavior covered by
    tests/test_llm_ops.py, observability via capped_bucket_stats)."""
    return llm_dedup.minhash_lsh_dedup(
        _docs(spark, sf_dir),
        NEAR_DUP_THRESHOLD,
        max_bucket=llm_dedup.DEFAULT_MAX_BUCKET,
    )


@query(
    "dedup_groups_keeper",
    SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
    + _SQL_GROUP_CTES
    + r"""
, wc AS (
  SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words
  FROM documents
), ranked AS (
  SELECT g.group_id, g.doc_id,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY w.n_words DESC, g.doc_id ASC) AS rn
  FROM grp g JOIN wc w ON w.doc_id = g.doc_id
), sizes AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS group_size FROM grp GROUP BY group_id
)
SELECT r.group_id, s.group_size, CAST(r.doc_id AS BIGINT) AS keeper_id
FROM ranked r JOIN sizes s ON s.group_id = r.group_id
WHERE r.rn = 1
""",
)
def q_dedup_groups_keeper(spark, sf_dir):
    """Quality-aware dedup keeper policy: per transitive duplicate
    group, keep the member with the MOST words (ties to the lower id)
    — what a real curation run does instead of keep-min-id. One
    max_by hash aggregate over groups ⋈ word counts; the oracle ranks
    with a window over the same recursive grouping."""
    d = _docs(spark, sf_dir)
    groups = _transitive_groups(spark, sf_dir)
    scores = d.select("doc_id", TX.word_count(F.col("text")).alias("n_words"))
    return components.keeper_by_score(groups, scores, "n_words")


@query(
    "dedup_soft_weights",
    SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
    + _SQL_GROUP_CTES
    + """
, sizes AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS sz FROM grp GROUP BY group_id
)
SELECT d.doc_id,
       CAST(coalesce(s.sz, 1) AS BIGINT) AS group_size,
       round(1.0 / coalesce(s.sz, 1), 6) AS weight
FROM documents d
LEFT JOIN grp g ON g.doc_id = d.doc_id
LEFT JOIN sizes s ON s.group_id = g.group_id
""",
)
def q_dedup_soft_weights(spark, sf_dir):
    """Soft deduplication (X124): instead of DROPPING near-duplicates,
    every doc gets a training sampling weight 1/|duplicate group|
    (singletons weigh 1.0) — the down-weighting alternative that keeps
    coverage while removing the duplicated-content bias. Composes the
    shared transitive-grouping fixture with one tiny group-size agg
    and a LEFT join back to the corpus; the join shuffles on doc_id
    (dup membership can be 30-50% of a web corpus — NOT broadcastable
    at 100 TB; AQE picks broadcast when it fits at small SF)."""
    d = _docs(spark, sf_dir)
    groups = _transitive_groups(spark, sf_dir)
    sizes = groups.groupBy("group_id").agg(F.count(F.lit(1)).alias("sz"))
    g = groups.join(sizes, "group_id").select("doc_id", "sz")
    return d.select("doc_id").join(g, "doc_id", "left").select(
        "doc_id",
        F.coalesce("sz", F.lit(1)).cast("bigint").alias("group_size"),
        F.round(F.lit(1.0) / F.coalesce("sz", F.lit(1)), 6).alias("weight"),
    )


@query(
    "dedup_groups_transitive",
    SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
    + _SQL_GROUP_CTES
    + "SELECT doc_id, group_id FROM grp",
)
def q_dedup_groups_transitive(spark, sf_dir):
    """Transitive near-dup grouping: connected components over the
    verified MinHash+LSH pair output (large-star/small-star joins, no
    driver-side union-find — operators/components.py). Emits
    (doc_id, group_id = min id of the duplicate group) for every doc
    in at least one pair; the oracle replays the identical pipeline
    and closes the pair graph with a recursive min-label CTE."""
    return _transitive_groups(spark, sf_dir)


@query(
    "dedup_group_size_report",
    SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
    + _SQL_GROUP_CTES
    + """
SELECT CAST(sz AS BIGINT) AS group_size, CAST(count(*) AS BIGINT) AS n_groups
FROM (SELECT group_id, count(*) AS sz FROM grp GROUP BY group_id)
GROUP BY sz
""",
)
def q_dedup_group_size_report(spark, sf_dir):
    """Duplicate-group size histogram (how clustered is the corpus'
    redundancy — the first chart of every dedup report): component
    sizes from the shared transitive-grouping run, two tiny hash
    aggs on top."""
    groups = _transitive_groups(spark, sf_dir)
    sizes = groups.groupBy("group_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("bigint").alias("group_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups")
    )


EMB_NEAR_DUP_THRESHOLD = 0.4


@query(
    "dedup_embedding_cosine",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         unnest(a.embedding)::DOUBLE AS ax, unnest(b.embedding)::DOUBLE AS bx
  FROM e a JOIN e b ON a.vec_id < b.vec_id
), s AS (
  SELECT id_a, id_b,
         round(SUM(ax*bx)/(sqrt(SUM(ax*ax))*sqrt(SUM(bx*bx))), 6) AS cos_sim
  FROM p GROUP BY id_a, id_b
)
SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= {EMB_NEAR_DUP_THRESHOLD}
""",
)
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact upper-triangle scan;
    LSH-prefiltered variant is the 100 TB path — see
    similarity.embedding_near_dup docstring)."""
    return similarity.embedding_near_dup(_emb(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD)


@query(
    "dedup_embedding_lsh",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         unnest(a.embedding)::DOUBLE AS ax, unnest(b.embedding)::DOUBLE AS bx
  FROM e a JOIN e b ON a.vec_id < b.vec_id
), s AS (
  SELECT id_a, id_b,
         round(SUM(ax*bx)/(sqrt(SUM(ax*ax))*sqrt(SUM(bx*bx))), 6) AS cos_sim
  FROM p GROUP BY id_a, id_b
)
SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= {EMB_NEAR_DUP_THRESHOLD}
""",
)
def q_dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup via multi-table hyperplane LSH + exact
    verify — the registered 100 TB path. The oracle is the EXACT
    all-pairs SQL: with L=32/b=3 tables the per-pair miss probability
    at cos>=0.4 is ~6e-5 and the deterministic (md5-derived) planes
    recover every true pair at the driver's SFs, so the outputs
    coincide; ``tests/test_llm_ops.py`` asserts that parity."""
    return similarity.embedding_near_dup_lsh(
        _emb(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD, dim=_emb_dim(spark, sf_dir)
    )


@query(
    "doc_fingerprint_winnow",
    r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), gram AS (
  SELECT doc_id, pos,
         md5(w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win) AS h
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,2) OVER win IS NOT NULL
), sel AS (
  SELECT doc_id,
         min(h)  OVER roll AS fp,
         count(h) OVER roll AS cnt
  FROM gram
  WINDOW roll AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
)
SELECT DISTINCT doc_id, fp FROM sel WHERE cnt = 4
""",
)
def q_doc_fingerprint_winnow(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprints: min-of-window k-gram
    hash selection, the MOSS scheme."""
    return llm_dedup.winnow_fingerprints(_docs(spark, sf_dir))


