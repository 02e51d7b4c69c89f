"""Multimodal plumbing: image/audio/video codec stubs, EXIF/metadata profiles, frame sampling, bloom/CMS sketch scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.operators import (
    components,
    ivf,
    llm_dedup,
    multimodal,
    similarity,
)
from gmall_spark.functions import text as TX
from gmall_spark.queries import _t, query
from gmall_spark.ann_oracles import ivf_topk_oracle
from gmall_spark.ann_oracles import lsh_topk_oracle
from gmall_spark.queries import ORACLES
from gmall_spark.queries_llm.prelude import (
    CONTAM_GRAM_N,
    NEAR_DUP_THRESHOLD,
    SQL_MINHASH,
    _SQL_NEARDUP_CTES,
    _docs,
    _emb,
    _lm_scores,
    _oracle_dim_check,
    _trained_centroids,
)
from gmall_spark.queries_llm.text_signals import (
    SIMHASH_MAX_HAMMING,
    _simhash64_pairs_oracle,
    _simhash_pairs_oracle,
)
from gmall_spark.queries_llm.curation import q_llm_corpus_curation_v3

# --- multimodal plumbing --------------------------------------------------


@query(
    "multimodal_decode_stub",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       -- first UTF-8 BYTE (not code point): decode via the hex dump so
       -- multibyte-leading documents (zh bucket) agree with blob[0]
       CAST((strpos('0123456789abcdef', substr(lower(to_hex(encode(text))), 1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(lower(to_hex(encode(text))), 2, 1)) - 1)
            AS BIGINT) AS header_byte,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height,
       'text' AS modality
FROM documents
""",
)
def q_multimodal_decode_stub(spark, sf_dir):
    """Binary-column decode plumbing: utf-8 blobs through an
    Arrow-batched mapInPandas stub decoder (real schema/partitioning,
    fake features — codecs aren't in this container)."""
    return multimodal.decode_features(
        multimodal.documents_as_blobs(_docs(spark, sf_dir))
    )


@query(
    "multimodal_resize",
    """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
), dims AS (
  SELECT doc_id, n,
         greatest(n % 640, 1) AS src_width,
         greatest(n % 480, 1) AS src_height
  FROM b
)
SELECT doc_id,
       CAST(src_width AS BIGINT) AS src_width,
       CAST(src_height AS BIGINT) AS src_height,
       CAST(224 AS BIGINT) AS out_width,
       CAST(greatest(src_height * 224 // src_width, 1) AS BIGINT) AS out_height,
       md5(n::VARCHAR || ':' || '224' || 'x' ||
           greatest(src_height * 224 // src_width, 1)::VARCHAR) AS resized_hash
FROM dims
""",
)
def q_multimodal_resize(spark, sf_dir):
    """Image-resize plumbing: aspect-preserving integer letterbox stub
    through Arrow mapInPandas (real batch contract, fake pixels)."""
    return multimodal.resize_images(
        multimodal.documents_as_blobs(_docs(spark, sf_dir))
    )


@query(
    "multimodal_frame_sample",
    """
WITH base AS (
  SELECT doc_id, text,
         length(text) % 4 + 1 AS n_frames,
         length(text) // (length(text) % 4 + 1) AS stride
  FROM documents
), frames AS (
  SELECT doc_id, text, n_frames, stride, unnest(range(0, n_frames)) AS i
  FROM base
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(n_frames AS BIGINT) AS n_frames,
       md5(substr(text, CAST(i * stride + 1 AS INT), 16)) AS frame_hash
FROM frames
""",
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: 1 blob -> N frame rows inside an
    Arrow batch (stub sampler; the fan-out contract is the real part)."""
    return multimodal.frame_sample(
        multimodal.documents_as_blobs(_docs(spark, sf_dir))
    )


# Registration complete: finalize the shared registry (order-
# independent choreography — see queries._finalize_registry).
@query(
    "text_bm25_topk",
    """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), t AS (
  SELECT doc_id, len(toks) AS dl,
         len(list_filter(toks, x -> x = 'vector')) AS tf0,
         len(list_filter(toks, x -> x = 'hash'))   AS tf1,
         len(list_filter(toks, x -> x = 'merge'))  AS tf2
  FROM d
), s AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM t
), scored AS (
  SELECT doc_id,
         ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
           / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
           / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
           / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS raw
  FROM t, s
  WHERE tf0 + tf1 + tf2 > 0
)
SELECT doc_id, round(raw, 6) AS bm25
FROM scored ORDER BY raw DESC, doc_id LIMIT 20
""",
)
def q_text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for the fixed term set (vector, hash,
    merge): the lexical-retrieval arm alongside the ANN operators.
    Per-row HOF term frequencies (zero shuffle), one single-row
    stats aggregate broadcast back, TakeOrderedAndProject top-k
    (operators/ranking.py)."""
    from gmall_spark.operators import ranking

    return ranking.bm25_topk(_t(spark, sf_dir, "documents"), ("vector", "hash", "merge"))


def _bloom_oracle_sql(n_hashes: int, bits: int) -> str:
    from gmall_spark.operators.bloom import bloom_pos_sql

    pos_list = ", ".join(bloom_pos_sql(i) for i in range(n_hashes))
    return rf"""
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
), refg AS (
  SELECT DISTINCT gram FROM gr WHERE doc_id % 10 = 7
), refh AS (
  SELECT CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2
  FROM refg
), bpos AS (
  SELECT unnest([{pos_list}]) AS bp FROM refh
), bloom AS (
  SELECT CAST(bp // 32 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(bp % 32 AS INTEGER)) AS word
  FROM bpos GROUP BY word_idx
), pr AS (
  SELECT doc_id, gram,
         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2
  FROM gr WHERE doc_id % 10 <> 7
), ppos AS (
  SELECT doc_id, gram, unnest([{pos_list}]) AS bp FROM pr
), chk AS (
  SELECT p.doc_id, p.gram,
         CASE WHEN (COALESCE(b.word, 0)
                    & (CAST(1 AS BIGINT) << CAST(p.bp % 32 AS INTEGER))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM (SELECT doc_id, gram, bp, CAST(bp // 32 AS BIGINT) AS word_idx FROM ppos) p
  LEFT JOIN bloom b ON b.word_idx = p.word_idx
), ga AS (
  SELECT doc_id, gram, (min(hit) = 1) AS bloom_hit
  FROM chk GROUP BY doc_id, gram
), ex AS (
  SELECT pr.doc_id, pr.gram, (r.gram IS NOT NULL) AS exact_hit
  FROM pr LEFT JOIN refg r ON r.gram = pr.gram
)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS probed_grams,
       CAST(sum(CASE WHEN g.bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hit_grams,
       CAST(sum(CASE WHEN e.exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS exact_hit_grams
FROM ga g JOIN ex e ON e.doc_id = g.doc_id AND e.gram = g.gram
GROUP BY g.doc_id
"""


from gmall_spark.operators.bloom import BLOOM_BITS, BLOOM_HASHES  # noqa: E402


@query("bloom_decontam_probe", _bloom_oracle_sql(BLOOM_HASHES, BLOOM_BITS))
def q_bloom_decontam_probe(spark, sf_dir):
    """Bloom-filter membership pre-filter for decontamination: build
    a 65536-bit filter over the benchmark split's 8-word grams (the
    llm_contamination_check convention, doc_id%10==7), probe every
    training document's grams, and report per doc (probed_grams,
    bloom_hit_grams, exact_hit_grams) — every exact hit is a bloom
    hit by construction; the gap between the two counts IS the
    observable false-positive rate. The point at 100 TB: the
    broadcast payload is capped at 2048 words NO MATTER how big the
    benchmark set gets (llm_contamination_check broadcasts the exact
    gram SET, which grows with it); exact verification then runs only
    on bloom-positive grams. Build = one map-side-combining bit_or
    agg; the probe side never shuffles before its per-doc rollup
    (operators/bloom.py — bit-exact md5 lane-mix family shared with
    the oracle; 32-bit words because DuckDB raises on 1::BIGINT<<63)."""
    from gmall_spark.operators import bloom

    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(llm_dedup.shingle_array("text", CONTAM_GRAM_N)).alias("gram"),
    )
    ref = grams.filter(F.col("doc_id") % 10 == 7).select("gram").distinct()
    probes = grams.filter(F.col("doc_id") % 10 != 7)
    filt = bloom.bloom_build(ref, "gram")
    # Probe FIRST, verify second (VERDICT r5): the exact-set broadcast
    # join runs on the post-probe distinct (doc_id, gram) rows, not on
    # every raw gram instance before the 7-lane explode — the r5
    # ride-through pre-joined the whole probe stream and was 2.8x
    # slower. An exact hit is a bloom hit by construction, so the
    # plain left join counts exactly the bloom-positive members.
    # (An inline variant with the 2048-word table as a literal array
    # was measured 2.5x SLOWER than the broadcast join — codegen does
    # not fold the per-lane array lookups well — so the join stays.)
    hits = bloom.bloom_probe(filt, probes, "gram", ["doc_id", "gram"])
    return (
        hits.join(F.broadcast(ref.withColumn("__m", F.lit(1))), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("probed_grams"),
            F.sum(F.col("bloom_hit").cast("int")).cast("bigint").alias(
                "bloom_hit_grams"
            ),
            F.sum(F.col("__m").isNotNull().cast("int")).cast("bigint").alias(
                "exact_hit_grams"
            ),
        )
    )


def _cms_oracle_sql(depth: int, width: int, k: int) -> str:
    from gmall_spark.operators.sketches import cms_pos_sql

    pos_list = ", ".join(cms_pos_sql(i, width=width) for i in range(depth))
    lane_list = ", ".join(str(i) for i in range(depth))
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
), th AS (
  SELECT tok,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS h2
  FROM toks
), lanes AS (
  SELECT unnest([{lane_list}]) AS lane, unnest([{pos_list}]) AS col FROM th
), cells AS (
  SELECT lane, col, CAST(count(*) AS BIGINT) AS cell_ct
  FROM lanes GROUP BY lane, col
), cand AS (
  SELECT DISTINCT tok, h1, h2 FROM th
), probes AS (
  SELECT tok, unnest([{lane_list}]) AS lane, unnest([{pos_list}]) AS col FROM cand
), est AS (
  SELECT p.tok, CAST(min(COALESCE(c.cell_ct, 0)) AS BIGINT) AS est_ct
  FROM probes p LEFT JOIN cells c ON c.lane = p.lane AND c.col = p.col
  GROUP BY p.tok
), exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_ct FROM toks GROUP BY tok
)
SELECT e.tok, e.est_ct, x.exact_ct
FROM est e JOIN exact x ON x.tok = e.tok
ORDER BY e.est_ct DESC, e.tok ASC LIMIT {k}
"""


from gmall_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH  # noqa: E402


@query("vocab_freq_cms", _cms_oracle_sql(CMS_DEPTH, CMS_WIDTH, 25))
def q_vocab_freq_cms(spark, sf_dir):
    """Count-min-sketch token frequencies (Cormode & Muthukrishnan
    2005) with the exact count carried beside: est_ct >= exact_ct
    ALWAYS (overestimate-only — collisions add, never subtract), and
    the top-25 shows how tight the d=4 x w=1024 sketch is on this
    vocabulary. The 100 TB story this demonstrates: the frequency
    summary is <= d*w cells NO MATTER the vocabulary size — one
    map-side-combining (lane, col) hash agg over the token stream,
    then candidate estimation joins against the BROADCAST cell table
    (the exact top-k path shuffles the full vocabulary instead).
    Bit-exact vs the oracle: cells and estimates are pure integer
    arithmetic over the shared md5 lane-mix family
    (operators/sketches.py cms_build/cms_estimate)."""
    from gmall_spark.operators.ranking import _toks
    from gmall_spark.operators.sketches import cms_build, cms_estimate

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(_toks(F.col("text"))).alias("tok")
    )
    sketch = cms_build(toks, "tok")
    est = cms_estimate(sketch, toks, "tok")
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_ct")
    )
    return (
        est.join(exact, "tok")
        .select("tok", F.col("est_ct").cast("bigint").alias("est_ct"), "exact_ct")
        .orderBy(F.desc("est_ct"), F.asc("tok"))
        .limit(25)
    )


FUZZY_PREFIX = 40  # pseudo-title length
FUZZY_BLOCK = 8  # exact-prefix blocking key length
FUZZY_MAX_EDITS = 5


@query(
    "dedup_fuzzy_titles",
    f"""
WITH t AS (
  SELECT doc_id, lower(substr(text, 1, {FUZZY_PREFIX})) AS title FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS edit_dist
FROM t a JOIN t b
  ON substr(a.title, 1, {FUZZY_BLOCK}) = substr(b.title, 1, {FUZZY_BLOCK})
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= {FUZZY_MAX_EDITS}
""",
)
def q_dedup_fuzzy_titles(spark, sf_dir):
    """Entity-resolution-style fuzzy dedup: BLOCK on an exact 8-char
    title prefix, then verify candidate pairs by Levenshtein edit
    distance ≤5 over the 40-char pseudo-title — the classic
    blocking+verify shape record-linkage systems use (and a
    textual-noise complement to MinHash: edit distance catches
    character-level corruption that word-shingle Jaccard misses).
    Scale shape: the self-join pairs ONLY within a block (one shuffle
    on the block key); blocks are bounded by prefix diversity, and a
    boilerplate-prefix mega-block would get the same cap-to-chain
    treatment as LSH mega-buckets (operators/llm_dedup.py:204).
    Edit distance is integer-exact in both engines — no float
    tolerance anywhere. Pairs feed the same connected-components
    grouping (X28) as every other dedup operator."""
    t = _docs(spark, sf_dir).select(
        "doc_id", F.lower(F.substring("text", 1, FUZZY_PREFIX)).alias("title")
    )
    a = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        F.substring("title", 1, FUZZY_BLOCK).alias("blk"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        F.substring("title", 1, FUZZY_BLOCK).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("edit_dist", F.levenshtein("title_a", "title_b").cast("bigint"))
        .filter(F.col("edit_dist") <= FUZZY_MAX_EDITS)
        .select("doc_a", "doc_b", "edit_dist")
    )


_SQL_MULTI_SIGNAL_GROUPS = f"""
, fz AS (
  SELECT doc_id, lower(substr(text, 1, {FUZZY_PREFIX})) AS title FROM documents
), fpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fz a JOIN fz b
    ON substr(a.title, 1, {FUZZY_BLOCK}) = substr(b.title, 1, {FUZZY_BLOCK})
   AND a.doc_id < b.doc_id
  WHERE levenshtein(a.title, b.title) <= {FUZZY_MAX_EDITS}
), all_pairs AS (
  SELECT doc_a, doc_b FROM neardup
  UNION
  SELECT doc_a, doc_b FROM fpairs
), cc_edges AS (
  SELECT doc_a AS a, doc_b AS b FROM all_pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM all_pairs
), reach(lab, node) AS (
  SELECT a, a FROM cc_edges
  UNION
  SELECT r.lab, e.b FROM reach r JOIN cc_edges e ON e.a = r.node
), grp AS (
  SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(lab) AS BIGINT) AS group_id
  FROM reach GROUP BY node
)
"""


@query(
    "dedup_groups_multi_signal",
    SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
    + _SQL_NEARDUP_CTES
    + _SQL_MULTI_SIGNAL_GROUPS
    + "SELECT doc_id, group_id FROM grp",
)
def q_dedup_groups_multi_signal(spark, sf_dir):
    """Multi-signal duplicate grouping — what a production dedup pass
    actually runs: the pair streams of SEVERAL detectors (here
    MinHash+LSH word-level near-dups ∪ blocking+Levenshtein
    character-level fuzzy matches; any other pair source unions in
    identically) merged into ONE edge set, closed transitively by the
    shared connected-components operator. A doc pair missed by
    shingle Jaccard but caught by edit distance (or vice versa) still
    lands in the same group — per-signal grouping would keep both
    copies. Edges are (id, id) pairs regardless of signal count, so
    the union costs one distinct; the closure is the same
    large-star/small-star join loop as X28."""
    d = _docs(spark, sf_dir)
    minhash_pairs = llm_dedup.minhash_lsh_dedup(d, NEAR_DUP_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    fuzzy_pairs = q_dedup_fuzzy_titles(spark, sf_dir).select("doc_a", "doc_b")
    edges = minhash_pairs.unionByName(fuzzy_pairs).distinct()
    return components.connected_components(edges)


RRF_K = 60  # the standard reciprocal-rank-fusion constant


@query(
    "hybrid_rrf_fusion",
    """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), t AS (
  SELECT doc_id, len(toks) AS dl,
         len(list_filter(toks, x -> x = 'vector')) AS tf0,
         len(list_filter(toks, x -> x = 'hash'))   AS tf1,
         len(list_filter(toks, x -> x = 'merge'))  AS tf2
  FROM d
), s AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM t
), scored AS (
  SELECT doc_id,
         ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
           / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
           / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
           / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS raw
  FROM t, s
  WHERE tf0 + tf1 + tf2 > 0
), lex AS (
  SELECT doc_id, round(raw, 6) AS bm25
  FROM scored ORDER BY raw DESC, doc_id LIMIT 20
), lexr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS lex_rank
  FROM lex
), pairs AS (
  SELECT b.vec_id AS neighbor_id,
         unnest(a.embedding)::DOUBLE AS qx, unnest(b.embedding)::DOUBLE AS nx
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id = 0 AND b.vec_id <> 0
), asc_ AS (
  SELECT neighbor_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY neighbor_id
), annr AS (
  SELECT neighbor_id AS doc_id, CAST(rnk AS BIGINT) AS ann_rank FROM (
    SELECT neighbor_id,
           row_number() OVER (ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
    FROM asc_
  ) WHERE rnk <= 20
), f AS (
  SELECT COALESCE(l.doc_id, a.doc_id) AS doc_id, l.lex_rank, a.ann_rank,
         round(COALESCE(1.0 / (60 + l.lex_rank), 0)
             + COALESCE(1.0 / (60 + a.ann_rank), 0), 6) AS rrf
  FROM lexr l FULL OUTER JOIN annr a ON a.doc_id = l.doc_id
)
SELECT doc_id, lex_rank, ann_rank, rrf
FROM f ORDER BY rrf DESC, doc_id LIMIT 10
""",
)
def q_hybrid_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
    SIGIR'09 — the standard used by every hybrid search stack) of the
    lexical BM25 arm and the dense ANN arm over the same corpus
    (``vec_id`` IS the document id — one embedding per document).
    RRF(d) = Σ_arms 1/(60 + rank_arm(d)); a doc absent from an arm
    contributes nothing there. Both arms run k=20, fusion keeps the
    top-10. Shape: each arm is its existing operator (BM25: zero-
    shuffle scoring + TakeOrdered; ANN: broadcast query); fusion
    itself is a 20∪20-row full outer join — driver-free, trivially
    scale-safe, and at 100 TB the dense arm swaps to IVFPQ with the
    identical (id, rank) contract."""
    from gmall_spark.operators import ranking

    docs = _t(spark, sf_dir, "documents")
    emb = _emb(spark, sf_dir)
    lex = ranking.bm25_topk(docs, ("vector", "hash", "merge"), k=20)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(wl).cast("bigint").alias("lex_rank")
    )
    ann = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
    ann_r = ann.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("ann_rank"),
    )
    fused = lex_r.join(ann_r, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "ann_rank",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("ann_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


@query(
    "text_quality_gopher",
    r"""
WITH m AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS toks,
         list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS nonws_chars,
         CAST(len(regexp_extract_all(text, '(#|\.\.\.|…)')) AS BIGINT) AS symbol_ct,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS BIGINT) AS stopword_ct
  FROM documents
), c AS (
  SELECT doc_id, nonws_chars, symbol_ct, stopword_ct,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS ellipsis_lines
  FROM m
), r AS (
  SELECT doc_id, n_words, stopword_ct,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE round(CAST(nonws_chars AS DOUBLE) / n_words, 6) END AS mean_word_len,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE round(CAST(symbol_ct AS DOUBLE) / n_words, 6) END AS symbol_ratio,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE round(CAST(alpha_words AS DOUBLE) / n_words, 6) END AS alpha_word_ratio,
         CASE WHEN n_lines = 0 THEN 0.0
              ELSE round(CAST(bullet_lines AS DOUBLE) / n_lines, 6) END AS bullet_line_ratio,
         CASE WHEN n_lines = 0 THEN 0.0
              ELSE round(CAST(ellipsis_lines AS DOUBLE) / n_lines, 6) END AS ellipsis_line_ratio
  FROM c
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
       bullet_line_ratio, ellipsis_line_ratio, stopword_ct,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3 AND 10
        AND symbol_ratio < 0.1
        AND bullet_line_ratio < 0.9
        AND ellipsis_line_ratio < 0.3
        AND alpha_word_ratio > 0.8
        AND stopword_ct >= 2) AS gopher_keep
FROM r
""",
)
def q_text_quality_gopher(spark, sf_dir):
    """Gopher-style composite quality rules (Rae et al. 2021 §A1.1),
    the standard rule-based pre-filter ahead of model scoring:
    word-count bounds, mean word length 3–10, symbol-to-word ratio
    (#/ellipsis), bullet-start and ellipsis-end line fractions,
    alphabetic-word fraction, minimum stopword hits. Unlike
    ``text_quality_scores`` (raw signals), this emits the per-rule
    ratios AND the final keep verdict (TX.gopher_signals). All
    signals are per-row higher-order-function / regexp expressions —
    whole-stage codegen, zero shuffles, no UDFs; at 100 TB this is a
    pure map over the corpus scan."""
    return TX.gopher_signals(_docs(spark, sf_dir))


def _ann_recall_oracle() -> str:
    """Twin of q_similarity_eval_ann_recall: the brute-force, LSH and
    IVF top-k oracles as scoped subqueries, reduced to one recall row."""
    from gmall_spark.queries import ORACLES

    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({ORACLES["similarity_topk_cosine"]})),
lsh AS (SELECT query_id, neighbor_id FROM ({lsh_topk_oracle()})),
ivf AS (SELECT query_id, neighbor_id FROM ({ivf_topk_oracle()}))
SELECT CAST((SELECT count(*) FROM bf) AS BIGINT) AS bf_pairs,
       CAST((SELECT count(*) FROM bf JOIN lsh USING (query_id, neighbor_id)) AS BIGINT) AS lsh_hits,
       CAST((SELECT count(*) FROM bf JOIN ivf USING (query_id, neighbor_id)) AS BIGINT) AS ivf_hits,
       round(CAST((SELECT count(*) FROM bf JOIN lsh USING (query_id, neighbor_id)) AS DOUBLE)
             / (SELECT count(*) FROM bf), 6) AS lsh_recall_at_10,
       round(CAST((SELECT count(*) FROM bf JOIN ivf USING (query_id, neighbor_id)) AS DOUBLE)
             / (SELECT count(*) FROM bf), 6) AS ivf_recall_at_10
"""


@query("similarity_eval_ann_recall", None)
def q_similarity_eval_ann_recall(spark, sf_dir):
    """ANN evaluation harness (the ann-benchmarks report): recall@10
    of the two production index tiers — multi-probe LSH and IVF —
    against the exact brute-force ground truth, as one exact-integer
    + rounded-ratio row. All three arms reuse the registered
    operators; the oracle composes their generated SQL twins as
    scoped subqueries. This is the acceptance gate a pipeline runs
    before swapping its exact kNN stage for an index."""
    from pyspark.sql import functions as _F

    emb = _emb(spark, sf_dir)
    qs = emb.filter(_F.col("vec_id") < 5)
    dim = _oracle_dim_check(spark, sf_dir)
    bf = similarity.brute_force_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    lsh = similarity.lsh_bucketed_topk(emb, qs, k=10, dim=dim).select(
        "query_id", "neighbor_id", _F.lit(1).alias("in_lsh")
    )
    iv = ivf.ivf_topk(
        emb, qs, k=10, centroids=_trained_centroids(spark, sf_dir)
    ).select("query_id", "neighbor_id", _F.lit(1).alias("in_ivf"))
    j = (
        bf.join(lsh, ["query_id", "neighbor_id"], "left")
        .join(iv, ["query_id", "neighbor_id"], "left")
        .select(
            _F.coalesce("in_lsh", _F.lit(0)).alias("in_lsh"),
            _F.coalesce("in_ivf", _F.lit(0)).alias("in_ivf"),
        )
    )
    return j.agg(
        _F.count(_F.lit(1)).cast("bigint").alias("bf_pairs"),
        _F.sum("in_lsh").cast("bigint").alias("lsh_hits"),
        _F.sum("in_ivf").cast("bigint").alias("ivf_hits"),
        _F.round(_F.sum("in_lsh") / _F.count(_F.lit(1)), 6).alias("lsh_recall_at_10"),
        _F.round(_F.sum("in_ivf") / _F.count(_F.lit(1)), 6).alias("ivf_recall_at_10"),
    )


IVF_SWEEP_NPROBES = (4, 8, 12, 16)


def _ivf_sweep_oracle() -> str:
    """Twin of q_similarity_eval_ivf_nprobe_sweep: one IVF oracle arm
    per nprobe against the shared brute-force truth. bf is
    MATERIALIZED — DuckDB re-inlines CTEs per reference and four arms
    would re-run the brute-force scan four times otherwise."""
    from gmall_spark.queries import ORACLES

    withs = ",\n".join(
        f"i{n} AS (SELECT query_id, neighbor_id FROM ({ivf_topk_oracle(nprobe=n)}))"
        for n in IVF_SWEEP_NPROBES
    )
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({n} AS BIGINT) AS nprobe,
       CAST((SELECT count(*) FROM bf) AS BIGINT) AS bf_pairs,
       CAST((SELECT count(*) FROM bf JOIN i{n} USING (query_id, neighbor_id)) AS BIGINT) AS ivf_hits,
       round(CAST((SELECT count(*) FROM bf JOIN i{n} USING (query_id, neighbor_id)) AS DOUBLE)
             / (SELECT count(*) FROM bf), 6) AS ivf_recall_at_10"""
        for n in IVF_SWEEP_NPROBES
    )
    return (
        f"WITH bf AS MATERIALIZED (SELECT query_id, neighbor_id "
        f"FROM ({ORACLES['similarity_topk_cosine']})),\n{withs}\n{arms}"
    )


@query("similarity_eval_ivf_nprobe_sweep", None)
def q_similarity_eval_ivf_nprobe_sweep(spark, sf_dir):
    """IVF recall-vs-cost curve (VERDICT r5 item 4): recall@10 of the
    IVF tier at nprobe in {4, 8, 12, 16} against the brute-force
    ground truth, one row per operating point. Measured on this
    corpus: 0.58-0.62 / 0.84-0.88 / 0.94-0.96 / 1.0 — the basis for
    the nprobe=12 default (the first point clearing the 0.9 gate the
    LSH tier meets). The 16-list demo needs 12/16 probes because the
    synthetic embeddings are quasi-uniform (weak cluster structure);
    at 100 TB the index runs n_lists ~ sqrt(N) (thousands of lists),
    where the same >=0.9 recall costs nprobe/n_lists of a few percent
    — the curve, not the constant, is what transfers."""
    from pyspark.sql import functions as _F

    from pyspark import StorageLevel

    emb = _emb(spark, sf_dir)
    qs = emb.filter(_F.col("vec_id") < 5)
    cents = _trained_centroids(spark, sf_dir)
    # bf (≤ 5·k rows) feeds all four nprobe arms' left joins — persist
    # it so the cross-join+window subtree runs once, not 4x (r13)
    bf = (
        similarity.brute_force_topk(emb, qs, k=10)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    arms = []
    for n in IVF_SWEEP_NPROBES:
        iv = ivf.ivf_topk(emb, qs, k=10, nprobe=n, centroids=cents).select(
            "query_id", "neighbor_id", _F.lit(1).alias("in_ivf")
        )
        hits = _F.sum(_F.coalesce(_F.col("in_ivf"), _F.lit(0)))
        arms.append(
            bf.join(_F.broadcast(iv), ["query_id", "neighbor_id"], "left")
            .agg(
                _F.count(_F.lit(1)).cast("bigint").alias("bf_pairs"),
                hits.cast("bigint").alias("ivf_hits"),
                _F.round(hits / _F.count(_F.lit(1)), 6).alias("ivf_recall_at_10"),
            )
            .select(_F.lit(n).cast("bigint").alias("nprobe"), "*")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def _dedup_eval_oracle() -> str:
    """Twin of q_dedup_eval_simhash_vs_jaccard: both arm oracles as
    scoped subqueries (their private WITH names cannot collide), then
    one full-outer set comparison."""
    from gmall_spark.queries import ORACLES

    return f"""
WITH sim AS ({_simhash_pairs_oracle()}),
ex AS ({ORACLES["dedup_ngram_jaccard"]}),
j AS (
  SELECT CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sim,
         CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_ex
  FROM (SELECT doc_a, doc_b FROM sim) s
  FULL OUTER JOIN (SELECT doc_a, doc_b FROM ex) e
    ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
)
SELECT CAST(sum(in_sim) AS BIGINT) AS n_simhash,
       CAST(sum(in_ex) AS BIGINT) AS n_exact,
       CAST(sum(in_sim * in_ex) AS BIGINT) AS n_both,
       round(CAST(sum(in_sim * in_ex) AS DOUBLE) / sum(in_sim), 6) AS precision_vs_jaccard,
       round(CAST(sum(in_sim * in_ex) AS DOUBLE) / sum(in_ex), 6) AS recall_vs_jaccard
FROM j
"""


@query("dedup_eval_simhash_vs_jaccard", None)
def q_dedup_eval_simhash_vs_jaccard(spark, sf_dir):
    """Dedup-method evaluation harness: precision/recall of the
    SimHash hamming<=3 pair set against the exact n-gram-Jaccard-0.8
    ground truth — the report every pipeline needs before committing
    to a cheaper near-dup detector (the two methods genuinely
    disagree: hamming tolerance ≠ shingle overlap). One full-outer
    join of two already-small pair sets; both arms reuse the
    registered operators unchanged. Output is a single exact-integer
    + rounded-ratio row."""
    from pyspark.sql import functions as _F

    docs = _docs(spark, sf_dir)
    sim = llm_dedup.simhash_near_dup_pairs(docs, SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", _F.lit(1).alias("in_sim")
    )
    ex = llm_dedup.jaccard_pairs(
        llm_dedup.word_shingles(docs), NEAR_DUP_THRESHOLD
    ).select("doc_a", "doc_b", _F.lit(1).alias("in_ex"))
    j = sim.join(ex, ["doc_a", "doc_b"], "full_outer").select(
        _F.coalesce("in_sim", _F.lit(0)).alias("in_sim"),
        _F.coalesce("in_ex", _F.lit(0)).alias("in_ex"),
    )
    return j.agg(
        _F.sum("in_sim").cast("bigint").alias("n_simhash"),
        _F.sum("in_ex").cast("bigint").alias("n_exact"),
        _F.sum(_F.col("in_sim") * _F.col("in_ex")).cast("bigint").alias("n_both"),
        _F.round(
            _F.sum(_F.col("in_sim") * _F.col("in_ex")) / _F.sum("in_sim"), 6
        ).alias("precision_vs_jaccard"),
        _F.round(
            _F.sum(_F.col("in_sim") * _F.col("in_ex")) / _F.sum("in_ex"), 6
        ).alias("recall_vs_jaccard"),
    )


def _dedup_eval64_oracle() -> str:
    """64-bit arm of the X98 harness — same set comparison against
    the n-gram-Jaccard ground truth, sim arm swapped to the 64-bit
    pair oracle so the width's precision jump is measured cross-
    engine, not asserted."""
    from gmall_spark.queries import ORACLES

    return f"""
WITH sim AS ({_simhash64_pairs_oracle()}),
ex AS ({ORACLES["dedup_ngram_jaccard"]}),
j AS (
  SELECT CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sim,
         CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_ex
  FROM (SELECT doc_a, doc_b FROM sim) s
  FULL OUTER JOIN (SELECT doc_a, doc_b FROM ex) e
    ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
)
SELECT CAST(sum(in_sim) AS BIGINT) AS n_simhash,
       CAST(sum(in_ex) AS BIGINT) AS n_exact,
       CAST(sum(in_sim * in_ex) AS BIGINT) AS n_both,
       round(CAST(sum(in_sim * in_ex) AS DOUBLE) / sum(in_sim), 6) AS precision_vs_jaccard,
       round(CAST(sum(in_sim * in_ex) AS DOUBLE) / sum(in_ex), 6) AS recall_vs_jaccard
FROM j
"""


@query("dedup_eval_simhash64_vs_jaccard", None)
def q_dedup_eval_simhash64_vs_jaccard(spark, sf_dir):
    """X98 harness, 64-bit arm: precision/recall of the 64-bit
    SimHash hamming<=3 pair set against the same exact n-gram-Jaccard
    ground truth, schema-identical to the 16-bit row so the width
    comparison is one side-by-side read. The 16-bit row measured
    precision ~0.002 on this corpus (hamming<=3 out of 16 bits admits
    ~80%-different fingerprints); 64 bits makes the same tolerance
    ~95% bit agreement."""
    from pyspark.sql import functions as _F

    docs = _docs(spark, sf_dir)
    sim = llm_dedup.simhash64_near_dup_pairs(docs, SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", _F.lit(1).alias("in_sim")
    )
    ex = llm_dedup.jaccard_pairs(
        llm_dedup.word_shingles(docs), NEAR_DUP_THRESHOLD
    ).select("doc_a", "doc_b", _F.lit(1).alias("in_ex"))
    j = sim.join(ex, ["doc_a", "doc_b"], "full_outer").select(
        _F.coalesce("in_sim", _F.lit(0)).alias("in_sim"),
        _F.coalesce("in_ex", _F.lit(0)).alias("in_ex"),
    )
    return j.agg(
        _F.sum("in_sim").cast("bigint").alias("n_simhash"),
        _F.sum("in_ex").cast("bigint").alias("n_exact"),
        _F.sum(_F.col("in_sim") * _F.col("in_ex")).cast("bigint").alias("n_both"),
        _F.round(
            _F.sum(_F.col("in_sim") * _F.col("in_ex")) / _F.sum("in_sim"), 6
        ).alias("precision_vs_jaccard"),
        _F.round(
            _F.sum(_F.col("in_sim") * _F.col("in_ex")) / _F.sum("in_ex"), 6
        ).alias("recall_vs_jaccard"),
    )


# the oracle needs ORACLES["dedup_ngram_jaccard"], which is registered
# above in this module's import — attach it after the function body
from gmall_spark.queries import ORACLES as _OR  # noqa: E402

_OR["dedup_eval_simhash_vs_jaccard"] = _dedup_eval_oracle()
_OR["dedup_eval_simhash64_vs_jaccard"] = _dedup_eval64_oracle()
_OR["similarity_eval_ann_recall"] = _ann_recall_oracle()
_OR["similarity_eval_ivf_nprobe_sweep"] = _ivf_sweep_oracle()

from gmall_spark.operators import bpe as _bpe  # noqa: E402


@query("llm_bpe_merge_step", _bpe.merge_step_oracle_sql())
def q_llm_bpe_merge_step(spark, sf_dir):
    """One FULL BPE training iteration (Sennrich et al. 2016 §3.2):
    pick the winning pair, APPLY the merge with BPE's greedy
    left-to-right non-overlap rule (runs of consecutive matches via
    pos - row_number(), merge at even offsets — pure window algebra,
    no sequential fold), and emit the next iteration's top-10 ranked
    candidates. Completes X100 (candidate counting) into observable
    tokenizer training; corpus collapses to the vocab-sized word
    table first, so the merge half is corpus-size-independent
    (operators/bpe.py)."""
    return _bpe.merge_step(_docs(spark, sf_dir))


@query("text_quality_agreement", None)  # oracle attached below
def q_text_quality_agreement(spark, sf_dir):
    """Quality-signal agreement matrix — the governance report a
    curation run reads before composing filters: contingency counts
    over (gopher_keep, rep_keep, lang_match, lm_keep) where lm_keep
    is CCNet's 'not tail' tier. The three per-row signal families
    (gopher rules, repetition folds, lang-ID) FUSE into one
    projection chain via the signal functions' ``keep`` passthrough —
    one corpus scan, zero joins between them; the LM tier is the only
    inherently multi-pass input and contributes the single doc_id
    join (boolean-only exchange). Output is <= 24 rows."""
    from gmall_spark.operators import lm

    d = _docs(spark, sf_dir)
    g = TX.gopher_signals(d, keep=("text", "lang")).withColumn(
        "lang_match", TX.lang_id(F.col("text")) == F.col("lang")
    )
    flags = TX.repetition_signals(
        g, keep=("gopher_keep", "lang_match")
    ).select("doc_id", "gopher_keep", "rep_keep", "lang_match")
    b = lm.perplexity_buckets(d, scored=_lm_scores(spark, sf_dir)).select(
        "doc_id", (F.col("bucket") != "tail").alias("lm_keep")
    )
    return (
        flags.join(b, "doc_id")
        .groupBy("gopher_keep", "rep_keep", "lang_match", "lm_keep")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_ct"))
    )


# the agreement oracle wraps the already-registered oracle texts as
# subqueries, so the two stay in lockstep by construction
from gmall_spark.queries import ORACLES as _OR2  # noqa: E402

_OR2["llm_corpus_curation_v3"] = f"""
SELECT v.doc_id, v.lang_pred, v.n_words, v.bigram_logprob, b.bucket,
       s.n_spans, s.removed_spans, s.clean_md5
FROM ({_OR2["llm_corpus_curation_v2"]}) v
JOIN ({_OR2["text_perplexity_buckets"]}) b
  ON b.doc_id = v.doc_id AND b.bucket <> 'tail'
JOIN ({_OR2["dedup_boilerplate_clean"]}) s ON s.doc_id = v.doc_id
WHERE v.doc_id NOT IN (
  SELECT DISTINCT CASE WHEN c.sz_a < c.sz_b THEN c.doc_a
                       WHEN c.sz_b < c.sz_a THEN c.doc_b
                       ELSE greatest(c.doc_a, c.doc_b) END
  FROM ({_OR2["dedup_ngram_containment"]}) c
)
"""

_OR2["text_quality_agreement"] = f"""
SELECT g.gopher_keep, r.rep_keep, (l.lang_pred = l.lang) AS lang_match,
       (b.bucket <> 'tail') AS lm_keep,
       CAST(count(*) AS BIGINT) AS doc_ct
FROM ({_OR2["text_quality_gopher"]}) g
JOIN ({_OR2["text_gopher_repetition"]}) r ON r.doc_id = g.doc_id
JOIN ({_OR2["text_lang_id"]}) l ON l.doc_id = g.doc_id
JOIN ({_OR2["text_perplexity_buckets"]}) b ON b.doc_id = g.doc_id
GROUP BY g.gopher_keep, r.rep_keep, lang_match, lm_keep
"""

@query("llm_curation_release_report", None)  # oracle attached below
def q_llm_curation_release_report(spark, sf_dir):
    """Dataset release-delta report (X120): what this curation
    release did to the corpus, per language — docs in/kept/dropped,
    kept docs whose TEXT changed (boilerplate spans removed), token
    counts before/after, keep rate. The release-notes table every
    corpus versioning pipeline publishes next to the data. Composes
    the v3 OUTPUT (shared fixtures make it a checkpoint-read join)
    against the raw corpus — one left join + one lang-bounded agg."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", TX.bpe_token_count(F.col("text")).alias("tok")
    )
    kept = q_llm_corpus_curation_v3(spark, sf_dir).select(
        "doc_id", "removed_spans"
    ).withColumn("__kept", F.lit(1))
    j = d.join(kept, "doc_id", "left")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_in"),
        F.count("__kept").cast("bigint").alias("docs_kept"),
        (F.count(F.lit(1)) - F.count("__kept"))
        .cast("bigint")
        .alias("docs_dropped"),
        F.sum(
            F.when(F.col("removed_spans") > 0, 1).otherwise(0)
        ).cast("bigint").alias("docs_text_modified"),
        F.sum("tok").cast("bigint").alias("tokens_in"),
        F.sum(F.when(F.col("__kept").isNotNull(), F.col("tok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.round(
            F.count("__kept").cast("double") / F.count(F.lit(1)), 6
        ).alias("keep_rate"),
    )


_OR2["llm_curation_release_report"] = f"""
WITH raw AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS tok
  FROM documents
), kept AS (
  SELECT doc_id, removed_spans FROM ({_OR2["llm_corpus_curation_v3"]})
)
SELECT raw.lang,
       CAST(count(*) AS BIGINT) AS docs_in,
       CAST(count(k.doc_id) AS BIGINT) AS docs_kept,
       CAST(count(*) - count(k.doc_id) AS BIGINT) AS docs_dropped,
       CAST(sum(CASE WHEN k.removed_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_text_modified,
       CAST(sum(raw.tok) AS BIGINT) AS tokens_in,
       CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN raw.tok ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       round(count(k.doc_id) * 1.0 / count(*), 6) AS keep_rate
FROM raw LEFT JOIN kept k ON k.doc_id = raw.doc_id
GROUP BY raw.lang
"""

