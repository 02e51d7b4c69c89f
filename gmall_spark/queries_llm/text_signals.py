"""Text-quality signal families: quality scores, language ID, simhash fingerprints, Gopher repetition, span/boilerplate cleaning, n-gram containment (X-series: simhash/containment tiers).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from gmall_spark.operators import (
    llm_dedup,
)
from gmall_spark.functions import text as TX
from gmall_spark.queries import _t, query
from gmall_spark.queries_llm.prelude import (
    BOILER_DOC_FREQ,
    SPAN_CLEAN_W,
    SQL_SHINGLES,
    _boiler_clean,
    _contain_pairs,
    _docs,
)

# --- text analysis --------------------------------------------------------


@query(
    "text_quality_scores",
    r"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_actual,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS BIGINT) AS stopword_ct,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct_ct,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS alpha_ct
  FROM documents
)
SELECT doc_id, n_chars_actual, n_words, bpe_tokens, stopword_ct, punct_ct, alpha_ct,
       round(CAST(stopword_ct AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS stopword_ratio,
       round(CAST(punct_ct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE), 6) AS punct_ratio,
       round(CAST(alpha_ct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE), 6) AS alpha_ratio
FROM m
""",
)
def q_text_quality_scores(spark, sf_dir):
    """Quality scoring: length / token / stopword / punctuation stats
    (BASELINE text-analysis mandate; all JVM-side regex counts)."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    m = d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars_actual"),
        TX.word_count(t).alias("n_words"),
        TX.bpe_token_count(t).alias("bpe_tokens"),
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


@query(
    "text_lang_id",
    f"""
SELECT doc_id, lang,
       CASE WHEN regexp_matches(lower(text), '{TX.CJK_RANGE}') THEN 'zh'
            WHEN regexp_matches(lower(text), '{TX.EN_MARKERS}') THEN 'en'
            WHEN regexp_matches(lower(text), '{TX.ES_MARKERS}') THEN 'es'
            WHEN regexp_matches(lower(text), '{TX.FR_MARKERS}') THEN 'fr'
            WHEN regexp_matches(lower(text), '{TX.DE_MARKERS}') THEN 'de'
            ELSE 'unknown' END AS lang_pred
FROM documents
""",
)
def q_text_lang_id(spark, sf_dir):
    """Heuristic language-ID (marker words + CJK script)."""
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_pred")
    )


@query(
    "doc_fingerprint_simhash",
    None,  # oracle attached below (generated SQL)
)
def q_doc_fingerprint_simhash(spark, sf_dir):
    """Canonical md5 + 16-bit SimHash fingerprints per document
    (hash-aggregate form — see text.simhash_fingerprints)."""
    return TX.simhash_fingerprints(_docs(spark, sf_dir))


def _simhash_oracle() -> str:
    votes = ",\n         ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), {pos}, 1)) - 1) // {div}) % 2 = 1 "
        "THEN 1 ELSE -1 END) AS v{bit}".format(pos=bit // 4 + 1, div=2 ** (bit % 4), bit=bit)
        for bit in range(16)
    )
    fp = " + ".join(f"CASE WHEN v{bit} > 0 THEN {2**bit} ELSE 0 END" for bit in range(16))
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents
), votes AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
), canon AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS canonical_md5
  FROM documents
)
SELECT c.doc_id, c.canonical_md5, CAST({fp} AS BIGINT) AS simhash
FROM canon c JOIN votes v ON c.doc_id = v.doc_id
"""


from gmall_spark.queries import ORACLES  # noqa: E402

ORACLES["doc_fingerprint_simhash"] = _simhash_oracle()


SIMHASH_MAX_HAMMING = 3


def _simhash_pairs_oracle(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    """DuckDB twin of llm_dedup.simhash_near_dup_pairs: the same
    generated fingerprint SQL, the 4x4-bit chunk pigeonhole buckets,
    and bit_count(xor) verification."""
    votes = ",\n         ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), {pos}, 1)) - 1) // {div}) % 2 = 1 "
        "THEN 1 ELSE -1 END) AS v{bit}".format(pos=bit // 4 + 1, div=2 ** (bit % 4), bit=bit)
        for bit in range(16)
    )
    fp = " + ".join(f"CASE WHEN v{bit} > 0 THEN {2**bit} ELSE 0 END" for bit in range(16))
    bits_per = 16 // llm_dedup.SIMHASH_CHUNKS
    mask = (1 << bits_per) - 1
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents
), votes AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
), ch AS (
  SELECT doc_id, t.i AS chunk_idx, (simhash >> (t.i * {bits_per})) & {mask} AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest(range(0, {llm_dedup.SIMHASH_CHUNKS})) AS i) t
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ch a JOIN ch b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.doc_a
JOIN fp fb ON fb.doc_id = c.doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {max_hamming}
"""


@query("dedup_simhash_hamming", _simhash_pairs_oracle())
def q_dedup_simhash_hamming(spark, sf_dir):
    """SimHash hamming-distance near-dup pairs (Manku et al., WWW'07
    pigeonhole chunks + integer verify) — upgrades X5 from
    fingerprint-equality to true hamming<=3 pairing."""
    return llm_dedup.simhash_near_dup_pairs(
        _docs(spark, sf_dir), SIMHASH_MAX_HAMMING
    )


@query(
    "text_gopher_repetition",
    r"""
WITH ws AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS tl,
         string_split_regex(text, '\s+') AS w
  FROM documents
), g AS (
  SELECT doc_id, tl, n, array_to_string(w[i + 1 : i + n], ' ') AS g
  FROM ws,
       LATERAL unnest([2, 3, 4, 5]) AS tn(n),
       LATERAL unnest(range(0, greatest(len(w) - n + 1, 0))) AS ti(i)
), c AS (
  SELECT doc_id, tl, n, g, count(*) AS cnt,
         CAST(count(*) * length(g) AS BIGINT) AS cover
  FROM g GROUP BY doc_id, tl, n, g
), s AS (
  SELECT doc_id,
         CAST(COALESCE(max(CASE WHEN n = 2 THEN cover END), 0) AS BIGINT) AS c2,
         CAST(COALESCE(max(CASE WHEN n = 3 THEN cover END), 0) AS BIGINT) AS c3,
         CAST(COALESCE(max(CASE WHEN n = 4 THEN cover END), 0) AS BIGINT) AS c4,
         CAST(COALESCE(sum(CASE WHEN n = 5 AND cnt >= 2 THEN cover END), 0) AS BIGINT) AS c5
  FROM c GROUP BY doc_id
)
SELECT w.doc_id,
       round(least(1.0, COALESCE(s.c2, 0) / CAST(w.tl AS DOUBLE)), 6) AS top2_gram_char_frac,
       round(least(1.0, COALESCE(s.c3, 0) / CAST(w.tl AS DOUBLE)), 6) AS top3_gram_char_frac,
       round(least(1.0, COALESCE(s.c4, 0) / CAST(w.tl AS DOUBLE)), 6) AS top4_gram_char_frac,
       round(least(1.0, COALESCE(s.c5, 0) / CAST(w.tl AS DOUBLE)), 6) AS dup5_gram_char_frac,
       (COALESCE(s.c2, 0) * 5 <= w.tl AND COALESCE(s.c3, 0) * 50 <= w.tl * 9
        AND COALESCE(s.c4, 0) * 25 <= w.tl * 4
        AND COALESCE(s.c5, 0) * 20 <= w.tl * 3) AS rep_keep
FROM ws w LEFT JOIN s ON s.doc_id = w.doc_id
""",
)
def q_text_gopher_repetition(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 §A1.1) — the
    intra-document half the rule-based gopher_signals pass does not
    cover: top-{2,3,4}-gram and duplicated-5-gram character
    fractions with the paper's keep thresholds as integer-exact
    comparisons (functions/text.repetition_signals). Pure per-row
    sorted-run-length folds — ZERO shuffles at any scale; complements
    the CROSS-corpus dedup_repeated_ngram_spans signal."""
    return TX.repetition_signals(_docs(spark, sf_dir))


@query(
    "dedup_span_clean",
    rf"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), sp AS (
  SELECT doc_id, i AS idx,
         array_to_string(w[i * {SPAN_CLEAN_W} + 1 : i * {SPAN_CLEAN_W} + {SPAN_CLEAN_W}], ' ') AS span
  FROM ws, LATERAL unnest(range(0, CAST(ceil(len(w) / {SPAN_CLEAN_W}.0) AS BIGINT))) AS t(i)
), fk AS (
  SELECT doc_id, idx, span,
         row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, idx) AS rn
  FROM sp
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_spans,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY idx), '')) AS clean_md5
FROM fk GROUP BY doc_id
""",
)
def q_dedup_span_clean(spark, sf_dir):
    """C4-style global span dedup as the corpus-CLEANING transform
    (Raffel et al. 2020 §2.2: dedup spans corpus-wide, keep one
    occurrence): non-overlapping 10-word spans, keep-first in global
    (doc_id, idx) order, documents reassembled from their kept spans
    — the write path whose dry-run REPORT is
    dedup_repeated_ngram_spans. Per-row span HOF, one span-hash
    window pass, one doc reassembly shuffle; corpus-linear
    (llm_dedup.span_dedup_clean)."""
    return llm_dedup.span_dedup_clean(_docs(spark, sf_dir), SPAN_CLEAN_W)


@query(
    "dedup_boilerplate_clean",
    rf"""
WITH ws AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
), sp AS (
  SELECT doc_id, i AS idx,
         array_to_string(w[i * {SPAN_CLEAN_W} + 1 : i * {SPAN_CLEAN_W} + {SPAN_CLEAN_W}], ' ') AS span
  FROM ws, LATERAL unnest(range(0, CAST(ceil(len(w) / {SPAN_CLEAN_W}.0) AS BIGINT))) AS t(i)
), freq AS (
  SELECT md5(span) AS h, count(DISTINCT doc_id) AS dfreq FROM sp GROUP BY md5(span)
), fk AS (
  SELECT s.doc_id, s.idx, s.span, (f.dfreq < {BOILER_DOC_FREQ}) AS kept
  FROM sp s JOIN freq f ON f.h = md5(s.span)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS removed_spans,
       md5(COALESCE(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY idx), '')) AS clean_md5
FROM fk GROUP BY doc_id
""",
)
def q_dedup_boilerplate_clean(spark, sf_dir):
    """CCNet/RefinedWeb boilerplate removal by CORPUS doc-frequency
    (Wenzek et al. 2020 §3.1, Penedo et al. 2023): spans occurring in
    >= {k} distinct documents are dropped from EVERY document — the
    policy contrast to dedup_span_clean's C4 keep-first (one copy
    survives). Frequent-span set is tiny -> broadcast back; one
    span-hash agg + one doc reassembly shuffle, no content-keyed
    window (llm_dedup.boilerplate_span_clean). Reads the shared
    per-(session, sf_dir) stage fixture — curation v3 composes the
    same rollup."""
    return _boiler_clean(spark, sf_dir)


q_dedup_boilerplate_clean.__doc__ = q_dedup_boilerplate_clean.__doc__.format(
    k=BOILER_DOC_FREQ
)


@query(
    "dedup_ngram_containment",
    SQL_SHINGLES
    + f"""
, dfreq AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), rare AS (
  SELECT shingle FROM dfreq WHERE df BETWEEN 2 AND {llm_dedup.CONTAIN_MAX_DF}
), postings AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN rare r ON r.shingle = s.shingle
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM postings a JOIN postings b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
       CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
       round(CAST(i.inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment,
       round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN szs sa ON sa.doc_id = i.doc_a
JOIN szs sb ON sb.doc_id = i.doc_b
WHERE {llm_dedup.CONTAIN_DEN} * i.inter >= {llm_dedup.CONTAIN_NUM} * least(sa.sz, sb.sz)
""",
)
def q_dedup_ngram_containment(spark, sf_dir):
    """Asymmetric containment near-dups (Broder 1997 §4:
    |A∩B|/min(|A|,|B|)) via rare-shingle blocking — catches a short
    doc quoted inside a long one, which has low Jaccard and so
    structurally escapes the MinHash-LSH tier (band collisions track
    Jaccard). Candidates share a shingle with corpus df in [2, {df}];
    the df cap bounds the blocking self-join to df²/2 pairs per
    shingle (corpus-linear); verify is exact and integer-thresholded
    (llm_dedup.containment_pairs_rare_blocking). Reads the shared
    per-(session, sf_dir) stage fixture — curation v3 composes the
    same pair set."""
    return _contain_pairs(spark, sf_dir)


q_dedup_ngram_containment.__doc__ = q_dedup_ngram_containment.__doc__.format(
    df=llm_dedup.CONTAIN_MAX_DF
)


def _simhash64_votes_sql() -> tuple[str, str, str]:
    """(votes, fp_lo, fp_hi) SQL fragments for the 64-bit fingerprint
    — bit b reads bit b%4 of md5 hex nibble b//4 (chars 1..16), the
    16-bit convention extended across the first 64 digest bits."""
    votes = ",\n         ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), {pos}, 1)) - 1) // {div}) % 2 = 1 "
        "THEN 1 ELSE -1 END) AS v{bit}".format(pos=bit // 4 + 1, div=2 ** (bit % 4), bit=bit)
        for bit in range(64)
    )
    fp_lo = " + ".join(f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(32))
    fp_hi = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**(b-32)} ELSE 0 END" for b in range(32, 64)
    )
    return votes, fp_lo, fp_hi


def _simhash64_pairs_oracle(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    """DuckDB twin of llm_dedup.simhash64_near_dup_pairs: the same
    64-bit fingerprint as two 32-bit halves (DuckDB raises on
    1::BIGINT<<63), 4x16-bit chunk pigeonhole, summed bit_count
    verification."""
    votes, fp_lo, fp_hi = _simhash64_votes_sql()
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents
), votes AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fp_lo} AS BIGINT) AS sim_lo, CAST({fp_hi} AS BIGINT) AS sim_hi
  FROM votes
), ch AS (
  SELECT doc_id, t.i AS chunk_idx,
         ((CASE WHEN t.i < 2 THEN sim_lo ELSE sim_hi END) >> ((t.i % 2) * 16)) & 65535 AS chunk_val
  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS i) t
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ch a JOIN ch b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(fa.sim_lo, fb.sim_lo))
            + bit_count(xor(fa.sim_hi, fb.sim_hi)) AS BIGINT) AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.doc_a
JOIN fp fb ON fb.doc_id = c.doc_b
WHERE bit_count(xor(fa.sim_lo, fb.sim_lo)) + bit_count(xor(fa.sim_hi, fb.sim_hi)) <= {max_hamming}
"""


@query("dedup_simhash64_hamming", _simhash64_pairs_oracle())
def q_dedup_simhash64_hamming(spark, sf_dir):
    """64-bit SimHash hamming<=3 near-dup pairs — SURVEY X5b's own
    at-scale recommendation made real (VERDICT r5 item 3): the width
    Manku et al. ran in production, with the 4-chunk pigeonhole now
    over 16-bit chunks so buckets track corpus / 2^16. The 16-bit
    variant stays registered as the contrast arm; the X98 eval
    harness quantifies the precision jump."""
    return llm_dedup.simhash64_near_dup_pairs(
        _docs(spark, sf_dir), SIMHASH_MAX_HAMMING
    )




# --- unicode NFKC-lite normalization tier (X258, r12) -------------------------

from gmall_spark.operators import unicode_norm as UN  # noqa: E402


def _un_nchars_sql(which: int) -> str:
    """length(text) + the per-doc planted-segment char constant
    (0 = corrupted, 1 = normalized)."""
    consts = [
        len(seg[2 + which]) for seg in UN.SEGMENTS
    ]
    return f"length(text) + {UN._const_case_sum(consts)}"


@query(
    "text_unicode_normalize",
    f"""
SELECT doc_id,
       CAST({UN.nonascii_const_sql()} AS BIGINT) AS n_nonascii,
       CAST({_un_nchars_sql(0)} AS BIGINT) AS n_chars_before,
       CAST({_un_nchars_sql(1)} AS BIGINT) AS n_chars_after,
       ({UN.nonascii_const_sql()}) > 0 AS changed,
       md5({UN.normalized_oracle_expr()}) AS normalized_md5
FROM documents
""",
)
def q_text_unicode_normalize(spark, sf_dir):
    """Unicode NFKC-lite normalization (X258; VERDICT r11 item 5) —
    the SentencePiece-default normalizer ahead of tokenization
    (Kudo & Richardson 2018): compatibility forms (ligatures,
    fullwidth letters/digits, width spaces, curly quotes, dashes,
    ellipsis) fold to ASCII through the FROZEN rule table in
    operators/unicode_norm.py (one translate + six replaces, order-
    free by the all-ASCII-outputs invariant). The deterministic synth
    plants every rule class by doc_id mods over the honestly-ASCII
    corpus, so the oracle states the normalized text CLOSED-FORM and
    the md5 catches any table/ordering/width bug. The non-ASCII count
    is MEASURED from the corrupted text (one regex scan); per-row
    expressions end to end, scan fan-out only."""
    synth = UN.synth_unicode(_docs(spark, sf_dir))
    t = F.col("text")
    fixed = UN.normalize(t)
    n_bad = F.regexp_count(t, F.lit(r"[^\x00-\x7F]")).cast("bigint")
    return synth.select(
        "doc_id",
        n_bad.alias("n_nonascii"),
        F.length(t).cast("bigint").alias("n_chars_before"),
        F.length(fixed).cast("bigint").alias("n_chars_after"),
        (n_bad > 0).alias("changed"),
        F.md5(fixed).alias("normalized_md5"),
    )


def _un_rollup_oracle() -> str:
    rows = []
    for name, pat in UN.CLASSES:
        hits = UN.class_hits_const(pat)
        occ = UN._const_case_sum(hits)
        doc_pred = " OR ".join(
            f"(doc_id % {m} = {r})"
            for (m, r, _b, _g), c in zip(UN.SEGMENTS, hits)
            if c
        )
        rows.append(
            f"""
SELECT '{name}' AS rule_class,
       CAST({f"sum(CASE WHEN {doc_pred} THEN 1 ELSE 0 END)" if doc_pred else "0"} AS BIGINT) AS n_docs,
       CAST(sum({occ}) AS BIGINT) AS n_hits
FROM documents"""
        )
    return " UNION ALL ".join(rows)


def rule_class_counts(docs):
    """(rule_class, n_docs, n_hits) over ``docs.text``: one
    regexp_count per normalization rule class, stacked into ONE pass
    (8-row grid) — the census the batch query and its streaming twin
    both run."""
    t = F.col("text")
    stacked = docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule_class"),
                        F.regexp_count(t, F.lit(pat))
                        .cast("bigint")
                        .alias("hits"),
                    )
                    for name, pat in UN.CLASSES
                ]
            )
        ).alias("s")
    ).select("s.rule_class", "s.hits")
    return stacked.groupBy("rule_class").agg(
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
        F.sum("hits").cast("bigint").alias("n_hits"),
    )


@query("text_unicode_rollup", _un_rollup_oracle())
def q_text_unicode_rollup(spark, sf_dir):
    """Normalization census (X258b, the X230 mojibake-rollup shape):
    per rule CLASS, how many documents carry at least one artifact and
    the total artifact-char count — measured from the corrupted corpus
    with one stacked pass (regexp_count per class, 8-row grid), while
    the oracle states the closed form from the planted constants. The
    'separator' class is never planted, so its zero row is genuine
    (X173: the census is never blind to a silent class)."""
    return rule_class_counts(UN.synth_unicode(_docs(spark, sf_dir)))


@query(
    "text_unicode_fertility_delta",
    f"""
WITH raw AS (
  SELECT lang,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tok_text,
         CAST({UN._const_case_sum(UN.SEG_TOK_BAD)} AS BIGINT) AS tok_bad,
         CAST({UN._const_case_sum(UN.SEG_TOK_GOOD)} AS BIGINT) AS tok_good
  FROM documents
)
SELECT lang,
       CAST(sum(tok_text + tok_bad) AS BIGINT) AS tokens_corrupted,
       CAST(sum(tok_text + tok_good) AS BIGINT) AS tokens_normalized,
       CAST(sum(tok_bad - tok_good) AS BIGINT) AS tokens_saved,
       round(sum(tok_text + tok_bad) * 1.0 / sum(tok_text + tok_good), 6)
         AS fertility_ratio
FROM raw GROUP BY lang
""",
)
def q_text_unicode_fertility_delta(spark, sf_dir):
    """Fertility impact of normalization (X258c): per language, the
    BPE pre-token count over the corrupted corpus vs the normalized
    one — every unfolded compatibility char is its own pre-token, so
    skipping the normalizer inflates the X115/X196/X206 fertility
    tables exactly by this delta. Spark MEASURES both counts on the
    actual strings (two regexp_counts per row); the oracle states them
    as text-tokens plus per-segment constants, valid because every
    planted segment starts space-class (no pre-token spans the append
    junction — asserted in the operator module). One lang-keyed
    aggregate."""
    synth = UN.synth_unicode(_docs(spark, sf_dir))
    t = F.col("text")
    return (
        synth.select(
            "lang",
            TX.bpe_token_count(t).alias("tc"),
            TX.bpe_token_count(UN.normalize(t)).alias("tn"),
        )
        .groupBy("lang")
        .agg(
            F.sum("tc").cast("bigint").alias("tokens_corrupted"),
            F.sum("tn").cast("bigint").alias("tokens_normalized"),
            (F.sum("tc") - F.sum("tn")).cast("bigint").alias("tokens_saved"),
            F.round(
                F.sum("tc") * F.lit(1.0) / F.sum("tn"), 6
            ).alias("fertility_ratio"),
        )
    )
