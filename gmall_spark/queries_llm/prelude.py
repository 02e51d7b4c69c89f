"""Shared helpers for the LLM query families: corpus loaders, session-scoped fixture caches, and the minhash/shingle oracle SQL fragments every dedup family composes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.operators import (
    components,
    dsir,
    ivf,
    llm_dedup,
    multimodal,
    similarity,
)
from gmall_spark import fixtures_audit
from gmall_spark.queries import _t, query

NEAR_DUP_THRESHOLD = 0.8

# --- shared oracle fragments ----------------------------------------------

SQL_SHINGLES = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws
), sh AS (
  SELECT DISTINCT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
           || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win AS shingle
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,4) OVER win IS NOT NULL
), szs AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
)
"""

# Numeric MinHash twin: one md5 per shingle split into two 32-bit
# halves; the identical lane-mix SQL text (llm_dedup.lane_expr_sql)
# is baked into both the Spark plan and this oracle.
_SIGS = ",\n         ".join(
    f"min({llm_dedup.lane_expr_sql(i)}) AS sig_{i}"
    for i in range(llm_dedup.MINHASH_K)
)
_BANDS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {bi} AS band_idx, sig_{a}::VARCHAR || ':' || sig_{b}::VARCHAR || ':' || sig_{c}::VARCHAR || ':' || sig_{d}::VARCHAR AS band_hash FROM sig".format(
        bi=bi, a=bi * 4, b=bi * 4 + 1, c=bi * 4 + 2, d=bi * 4 + 3
    )
    for bi in range(llm_dedup.LSH_BANDS)
)

# shingles -> minhash signatures -> banded hashes, no candidate CTE
# yet (shared by the self-join dedup oracles and the cross-corpus
# decontamination oracle, which pair different subsets)
SQL_BANDED = (
    SQL_SHINGLES
    + f"""
, shh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS h2
  FROM sh
), sig AS (
  SELECT doc_id, {_SIGS}
  FROM shh GROUP BY doc_id
), banded AS (
{_BANDS}
)"""
)

SQL_MINHASH = (
    SQL_BANDED
    + """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
"""
)

# The Jaccard-verified near-dup pairs as a CTE (shared by the
# transitive-grouping and curation oracles; the standalone pair
# queries use _SQL_JACCARD_VERIFY, the SELECT form of the same).
_SQL_NEARDUP_CTES = f"""
, inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
), neardup AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN szs sa ON sa.doc_id = i.doc_a
  JOIN szs sb ON sb.doc_id = i.doc_b
  WHERE round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6)
        >= {NEAR_DUP_THRESHOLD}
)
"""

# Min-label transitive closure over the symmetric pair graph: the
# recursive-CTE twin of operators.components.connected_components
# (group_id = min doc_id of the component). Needs WITH RECURSIVE on
# the enclosing statement.
_SQL_GROUP_CTES = (
    _SQL_NEARDUP_CTES
    + """
, cc_edges AS (
  SELECT doc_a AS a, doc_b AS b FROM neardup
  UNION
  SELECT doc_b AS a, doc_a AS b FROM neardup
), reach(lab, node) AS (
  SELECT a, a FROM cc_edges
  UNION
  SELECT r.lab, e.b FROM reach r JOIN cc_edges e ON e.a = r.node
), grp AS (
  SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(lab) AS BIGINT) AS group_id
  FROM reach GROUP BY node
)
"""
)


_SQL_JACCARD_VERIFY = f"""
, inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
       round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN szs sa ON sa.doc_id = i.doc_a
JOIN szs sb ON sb.doc_id = i.doc_b
WHERE round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) >= {NEAR_DUP_THRESHOLD}
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings")


def _artifact(kind: str, key: str, sf_dir: str, train):
    """Cross-session reuse (VERDICT r3 stretch): with
    $SPARK_GRAFT_CENTROID_DIR set, a trained quantizer is published as
    the fingerprinted artifact ``<kind>_<sf tag>.json`` (payload under
    ``key``, :func:`ivf.save_artifact`) and later sessions (or
    parallel jobs) load it instead of retraining. Only training is
    timed (under ``kind``)."""
    import os

    art_dir = os.environ.get("SPARK_GRAFT_CENTROID_DIR")
    src = [f"{sf_dir}/embeddings.parquet"]
    art = None
    if art_dir:
        tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
        art = os.path.join(art_dir, f"{kind}_{tag}.json")
        loaded = ivf.load_artifact(art, key, src)
        if loaded is not None:
            return loaded
    with fixtures_audit.timer(kind):
        value = train()
    if art is not None:
        os.makedirs(art_dir, exist_ok=True)
        ivf.save_artifact(art, key, value, src)
    return value


# k-means centroids are deterministic per (session, sf_dir) — the IVF
# index and the SemDeDup clustering train the IDENTICAL model, so one
# training run serves both queries (the analog of a shared model/
# index table in a production pipeline).
@fixtures_audit.memoized("centroids")
def _trained_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    _oracle_dim_check(spark, sf_dir)
    return _artifact(
        "centroids",
        "centroids",
        sf_dir,
        lambda: ivf.train_centroids(_emb(spark, sf_dir)),
    )


# Embedding width per (session, sf_dir): a metadata-scale .first()
# probe, memoized so repeated query builds don't re-run it (ADVICE r2).
@fixtures_audit.memoized("emb_dim")
def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    return similarity.infer_dim(_emb(spark, sf_dir))


# PQ codebooks per (session, sf_dir): shared by the PQ and IVF-PQ
# queries (training collects the same bounded sample either way).
@fixtures_audit.memoized("pq_codebooks")
def _trained_books(spark: SparkSession, sf_dir: str) -> list:
    from gmall_spark.operators import pq as _pq

    return _artifact(
        "pq_codebooks",
        "codebooks",
        sf_dir,
        lambda: _pq.train_codebooks(
            _emb(spark, sf_dir), _oracle_dim_check(spark, sf_dir)
        ),
    )


# Transitive dedup groups per (session, sf_dir): three queries consume
# the SAME connected-components result (transitive, keeper, curation);
# the CC iterations run driver-side actions, so share one run like the
# centroids.
@fixtures_audit.memoized("dedup_groups", timed=True)
def _transitive_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = llm_dedup.minhash_lsh_dedup(_docs(spark, sf_dir), NEAR_DUP_THRESHOLD)
    return components.connected_components(pairs)


# Exact kNN(5) cosine edge list per (session, sf_dir): the pagerank
# query's graph-build dominates its cost (the iterations only shuffle
# (node, rank) pairs), and a production pipeline materializes the kNN
# graph once as a table anyway. Same shared-fixture pattern as the
# centroids; eagerly checkpointed so consumers never re-run the
# brute-force build. (r4's repeat-run speed here came from the
# pagerank cache LEAK — this is the intentional replacement.)
@fixtures_audit.memoized("knn_edges", timed=True)
def _knn_edges(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    # blocked-GEMM self-join (r7): row-identical to
    # brute_force_topk(emb, emb, k) — asserted by
    # test_gemm_topk_equals_hof — at BLAS speed instead of one HOF
    # lambda per element (the build was the pagerank query's entire
    # first-run cost). cos_sim rides the checkpoint (same build cost):
    # the graph consumers select (src, dst); the X244 semantic chain
    # reads the weights
    knn = similarity.gemm_allpairs_topk(_emb(spark, sf_dir), k=k)
    return knn.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"), "cos_sim"
    ).localCheckpoint(eager=True)


# Per-document char-bigram LM scores per (session, sf_dir): the scored
# relation feeds FOUR registered consumers (the raw-score query, the
# bucket assignment, curation v2/v3, and the agreement matrix), and
# perplexity_buckets alone reads it twice (histogram + assignment
# join) — Spark evaluates each DataFrame consumer as its own subtree,
# so without a shared materialization the explode+model+reduce scoring
# pipeline ran up to 4x per bench (VERDICT r6 item 1). A CCNet-style
# production pipeline scores once and reads the table everywhere
# downstream; this fixture is that table.
@fixtures_audit.memoized("lm_scores", timed=True)
def _lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators import lm

    return lm.bigram_logprob_scores(_docs(spark, sf_dir)).localCheckpoint(eager=True)


# The other stage outputs the curation compositions share (VERDICT r6
# "composition queries recompute every stage they compose"): the
# containment pair set and the boilerplate-cleaned rollup each feed
# their own registered query AND curation v3, and v3 additionally
# re-derives all of v2 (which re-derives v1). A production pipeline
# materializes each stage's output table once and composes READS, so
# these fixtures are that table, per (session, sf_dir).
@fixtures_audit.memoized("xmatch", timed=True)
def _xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X47 decontamination drop set (corpus docs near-duplicating
    the frozen doc_id%20==0 holdout) — shared by curation v2 AND the
    governance-aware v5 (r12), which would otherwise each re-run the
    cross-corpus LSH."""
    from gmall_spark.queries_llm.corpus_lm import DECONTAM_THRESHOLD

    d = _docs(spark, sf_dir)
    return (
        llm_dedup.cross_corpus_near_dups(
            d.filter(F.col("doc_id") % 20 != 0),
            d.filter(F.col("doc_id") % 20 == 0),
            DECONTAM_THRESHOLD,
        )
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )


@fixtures_audit.memoized("contain_pairs", timed=True)
def _contain_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return llm_dedup.containment_pairs_rare_blocking(
        _docs(spark, sf_dir)
    ).localCheckpoint(eager=True)


@fixtures_audit.memoized("boiler_clean", timed=True)
def _boiler_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return llm_dedup.boilerplate_span_clean(
        _docs(spark, sf_dir), SPAN_CLEAN_W, BOILER_DOC_FREQ
    ).localCheckpoint(eager=True)


# DSIR weights (X114): the scored relation feeds the weights query
# AND both consumers inside the resample cut (histogram + assignment
# join) — without the materialization the feature-explode + model
# pipeline evaluates once per consumer, the same subtree class as
# _lm_scores.
@fixtures_audit.memoized("dsir_weights", timed=True)
def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return dsir.importance_weights(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
    ).localCheckpoint(eager=True)


# Frozen-model LM scores per (session, sf_dir): the add-one scored
# relation feeds X112 AND the X219 tier-diff; the KN scored relation
# feeds X218 AND X219 (and perplexity_buckets reads its input twice —
# histogram + assignment join). A CCNet-style pipeline scores once
# and reads the table everywhere downstream; these fixtures are that
# table, same lifecycle as _lm_scores.
@fixtures_audit.memoized("frozen_lm", timed=True)
def _frozen_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators import lm

    d = _docs(spark, sf_dir)
    return lm.score_with_model(
        d.filter(F.col("doc_id") % 2 == 1),
        lm.bigram_model(d.filter(F.col("doc_id") % 2 == 0)),
    ).localCheckpoint(eager=True)


@fixtures_audit.memoized("frozen_kn", timed=True)
def _frozen_kn_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators import lm

    d = _docs(spark, sf_dir)
    return lm.kn_score_with_model(
        d.filter(F.col("doc_id") % 2 == 1),
        lm.kn_model(d.filter(F.col("doc_id") % 2 == 0)),
    ).localCheckpoint(eager=True)


# X212 shot-boundary detector output per (session, sf_dir): the
# boundary table feeds TWO registered queries (the detector itself and
# the X214 shots rollup) — without the materialization each consumer
# re-runs the full AVI synth + chunk-walk + consecutive-DIB-decode of
# every frame pair (VERDICT r9 item 2: the bench paid the decode
# twice). A video pipeline materializes the detector output as a
# table; this fixture is that table.
@fixtures_audit.memoized("shot_bounds", timed=True)
def _shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.avi_shot_boundaries(
        multimodal.synth_shot_avi_blobs(_docs(spark, sf_dir))
    ).localCheckpoint(eager=True)


def _oracle_dim_check(spark: SparkSession, sf_dir: str) -> int:
    """The generated ANN/SemDeDup oracles bake plane and k-means
    literals whose width is PROBED from the testdata at import
    (ann_oracles.probe_embed_dim, VERDICT r4 item 2); a regenerated
    corpus regenerates matching SQL automatically. This guard only
    fires in the residual case — a *specific* sf_dir whose width
    disagrees with the probed global (mixed-width testdata) — and
    fails LOUDLY at query-build time instead of surfacing as a
    mysterious parity mismatch (ADVICE r3)."""
    from gmall_spark.ann_oracles import EMBED_DIM

    dim = _emb_dim(spark, sf_dir)
    if dim != EMBED_DIM:
        raise RuntimeError(
            f"embeddings at {sf_dir} are {dim}-wide but the generated "
            f"ANN oracles were built for the probed width {EMBED_DIM} "
            "(mixed-width testdata?); rebuild the oracle SQL with dim="
            f"{dim} (lsh_topk_oracle/ivf_topk_oracle/semantic_dedup_oracle)"
        )
    return dim


# family-shared tuning constants (defined here, with the shared
# fixture builders that read them, so every family module imports one
# prelude): C4 span-dedup window, boilerplate doc-frequency cut, and
# the benchmark-contamination shingle width
SPAN_CLEAN_W = 10
BOILER_DOC_FREQ = llm_dedup.BOILER_DOC_FREQ
CONTAM_GRAM_N = 8


