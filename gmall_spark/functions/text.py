"""Text-analysis functions for the training-data pipeline.

All pure Column expressions (JVM-side, codegen'd — no Python UDFs in
the hot path), each with an exact ANSI-SQL twin so the DuckDB oracle
can replay them:

- tokenization (whitespace + BPE-ish regex token count)
- quality scoring (length / punctuation / stopword / alpha ratios)
- language-ID (marker-word + script heuristic)
- document fingerprinting (md5 canonical hash + 16-bit SimHash)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the heuristic lang-ID. On the
# synthetic corpus (uniform vocab) the signal is the English articles;
# real corpora would extend the marker lists.
EN_MARKERS = r"\b(the|a|of|and|to)\b"
ES_MARKERS = r"\b(el|la|de|los|las)\b"
FR_MARKERS = r"\b(le|les|des|une|est)\b"
DE_MARKERS = r"\b(der|die|das|und|ist)\b"
# literal CJK chars (not a \\u escape) so the same pattern string works
# in both Java regex (Spark) and RE2 (DuckDB oracle)
CJK_RANGE = "[一-鿿]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


# Keyword-segmentation run extractor: a run is either a maximal CJK
# span or a maximal non-CJK non-whitespace span. Literal CJK chars so
# the identical pattern compiles under Java regex (Spark) and RE2
# (DuckDB oracle).
SEGMENT_RUNS = "[一-鿿]+|[^一-鿿\\s]+"


def segment_keywords(text: Column) -> Column:
    """Tokenize a search phrase with a deterministic CJK fallback
    (array<string>, SURVEY F1).

    The reference runs the IK Chinese analyzer
    (gmall-realtime/.../app/func/SplitFunction.java:12-28,
    utils/KeywordUtil.java:13-34) because search keywords are Chinese;
    byte-parity with its dictionary is a declared non-goal (SURVEY
    §7.3), but splitting on ``\\s+`` alone emits a whole Chinese
    phrase as one token. Deterministic replacement, pure JVM exprs:

    - lower-case, extract runs: maximal CJK spans / maximal non-CJK
      non-space spans (ASCII behavior identical to ``split('\\s+')``);
    - non-CJK runs pass through whole;
    - CJK runs emit overlapping character bigrams (the classic CJK
      bigram indexing fallback), single char when the run is length 1.

    Everything stays inside whole-stage codegen: regexp_extract_all +
    transform/sequence/flatten, no Python UDF.
    """
    runs = F.regexp_extract_all(F.lower(text), F.lit(SEGMENT_RUNS), 0)
    return F.flatten(F.transform(runs, _segment_run))


def _segment_run(r: Column) -> Column:
    """One run -> array of tokens (see segment_keywords)."""
    is_cjk = r.rlike("^[一-鿿]")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.length(r) - 1), lambda i: r.substr(i, F.lit(2))
    )
    return F.when(
        is_cjk, F.when(F.length(r) == 1, F.array(r)).otherwise(bigrams)
    ).otherwise(F.array(r))


def segment_keywords_oracle(expr: str) -> str:
    """DuckDB twin of :func:`segment_keywords` as a SQL fragment
    evaluating to LIST(VARCHAR) over ``expr``."""
    return (
        f"flatten(list_transform(regexp_extract_all(lower({expr}), '{SEGMENT_RUNS}'), "
        "r -> CASE WHEN regexp_matches(r, '^[一-鿿]') THEN "
        "  CASE WHEN length(r) = 1 THEN [r] "
        "       ELSE list_transform(range(1, length(r)), i -> r[i:i+1]) END "
        "ELSE [r] END))"
    )


def words(text: Column) -> Column:
    """Whitespace tokens (array<string>)."""
    return F.split(text, r"\s+")


def word_count(text: Column) -> Column:
    return F.size(words(text)).cast("bigint")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-style pre-tokens (regexp occurrences)."""
    return F.regexp_count(text, F.lit(BPE_PATTERN)).cast("bigint")


def stopword_count(text: Column) -> Column:
    pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat)).cast("bigint")


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]")).cast("bigint")


def alpha_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"[A-Za-z]")).cast("bigint")


# PII patterns (training-corpus scrubbing). Deliberately restricted to
# the Java-regex ∩ RE2 dialect subset (no lookarounds) so the Spark
# expressions and the DuckDB oracle run the IDENTICAL pattern strings.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# Redaction order matters (emails/IPs can appear inside URLs): URL
# first, then email, phone, IP. Shared by redact() and the oracle SQL.
PII_REDACTIONS = (
    (PII_URL, "<URL>"),
    (PII_EMAIL, "<EMAIL>"),
    (PII_PHONE, "<PHONE>"),
    (PII_IPV4, "<IP>"),
)


def pii_counts(text: Column) -> list[Column]:
    """Per-document PII hit counts (emails, urls, phones, ipv4s) —
    JVM regexp_count, no UDF."""
    return [
        F.regexp_count(text, F.lit(PII_EMAIL)).cast("bigint").alias("email_ct"),
        F.regexp_count(text, F.lit(PII_URL)).cast("bigint").alias("url_ct"),
        F.regexp_count(text, F.lit(PII_PHONE)).cast("bigint").alias("phone_ct"),
        F.regexp_count(text, F.lit(PII_IPV4)).cast("bigint").alias("ipv4_ct"),
    ]


def pii_redact(text: Column) -> Column:
    """Text with every PII match replaced by a typed placeholder, in
    the fixed :data:`PII_REDACTIONS` order."""
    out = text
    for pat, repl in PII_REDACTIONS:
        out = F.regexp_replace(out, pat, repl)
    return out


def gopher_signals(
    docs, id_col: str = "doc_id", text_col: str = "text", keep: tuple = ()
):
    """Gopher-style composite quality rules (Rae et al. 2021 §A1.1):
    per-rule ratios + the final ``gopher_keep`` verdict. All signals
    are per-row higher-order-function / regexp Column expressions —
    whole-stage codegen, zero shuffles; a pure map over the corpus
    scan at any scale. DuckDB twin lives in the
    ``text_quality_gopher`` registered oracle. ``keep`` threads
    passthrough columns so per-row signal families can FUSE into one
    projection instead of re-scanning and joining (X110)."""
    t = F.col(text_col)
    toks = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    lines = F.filter(F.split(t, r"\n"), lambda l: l != "")
    c = docs.select(
        id_col,
        *keep,
        F.size(toks).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace(t, r"\s", "")).cast("bigint").alias("nonws_chars"),
        F.regexp_count(t, F.lit(r"(#|\.\.\.|…)")).cast("bigint").alias("symbol_ct"),
        stopword_count(t).alias("stopword_ct"),
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
        .cast("bigint")
        .alias("alpha_words"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
        .cast("bigint")
        .alias("bullet_lines"),
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        .cast("bigint")
        .alias("ellipsis_lines"),
    )

    def ratio(num, den):
        return F.when(F.col(den) == 0, F.lit(0.0)).otherwise(
            F.round(F.col(num).cast("double") / F.col(den), 6)
        )

    r = c.select(
        id_col,
        *keep,
        "n_words",
        "stopword_ct",
        ratio("nonws_chars", "n_words").alias("mean_word_len"),
        ratio("symbol_ct", "n_words").alias("symbol_ratio"),
        ratio("alpha_words", "n_words").alias("alpha_word_ratio"),
        ratio("bullet_lines", "n_lines").alias("bullet_line_ratio"),
        ratio("ellipsis_lines", "n_lines").alias("ellipsis_line_ratio"),
    )
    return r.select(
        id_col,
        *keep,
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_word_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "stopword_ct",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("symbol_ratio") < 0.1)
            & (F.col("bullet_line_ratio") < 0.9)
            & (F.col("ellipsis_line_ratio") < 0.3)
            & (F.col("alpha_word_ratio") > 0.8)
            & (F.col("stopword_ct") >= 2)
        ).alias("gopher_keep"),
    )


def lang_id(text: Column) -> Column:
    """Marker-based language guess (CJK script beats word markers)."""
    low = F.lower(text)
    return (
        F.when(low.rlike(CJK_RANGE), F.lit("zh"))
        .when(low.rlike(EN_MARKERS), F.lit("en"))
        .when(low.rlike(ES_MARKERS), F.lit("es"))
        .when(low.rlike(FR_MARKERS), F.lit("fr"))
        .when(low.rlike(DE_MARKERS), F.lit("de"))
        .otherwise(F.lit("unknown"))
    )


def canonical_hash(text: Column) -> Column:
    """Fingerprint of whitespace-normalized lowercase text (md5)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


def _rep_rle(n: int, text_col: str) -> str:
    """(best, dup) covers for width-``n`` grams of one document as a
    single expression: sort the gram array, then one run-length fold
    — best = max over runs of run_len x gram_chars (the n-gram with
    maximal repeated-character coverage; identical to the group-by
    max(count*len) form), dup = the same summed over runs with
    count >= 2. Struct accumulator + finish lambda; greatest() skips
    the NULL seed."""
    w = f"split({text_col}, '\\\\s+')"
    grams = (
        f"CASE WHEN size({w}) >= {n} THEN "
        f"array_sort(transform(sequence(0, size({w}) - {n}), "
        f"i -> concat_ws(' ', slice({w}, i + 1, {n})))) "
        "ELSE array() END"
    )
    close_best = "greatest(acc.best, acc.run * length(acc.prev))"
    close_dup = (
        "acc.dup + IF(acc.run >= 2, acc.run * length(acc.prev), cast(0 as bigint))"
    )
    return f"""aggregate(
      {grams},
      named_struct('prev', cast(null as string), 'run', cast(0 as bigint),
                   'best', cast(0 as bigint), 'dup', cast(0 as bigint)),
      (acc, g) -> IF(acc.prev IS NOT NULL AND g = acc.prev,
        named_struct('prev', g, 'run', acc.run + cast(1 as bigint),
                     'best', acc.best, 'dup', acc.dup),
        named_struct('prev', g, 'run', cast(1 as bigint),
                     'best', {close_best}, 'dup', {close_dup})),
      acc -> named_struct('best', {close_best}, 'dup', {close_dup}))"""


def repetition_signals(
    docs, id_col: str = "doc_id", text_col: str = "text", keep: tuple = ()
):
    """Gopher repetition filters (Rae et al. 2021 §A1.1, the half of
    the rule set :func:`gopher_signals` does not cover): per document,
    the character fraction covered by the single maximally-repeating
    word n-gram (n = 2, 3, 4; the gram maximizing count x chars — the
    deterministic form of the paper's "most frequent n-gram" chars)
    and by all DUPLICATED 5-grams, reported capped at 1.0.
    ``rep_keep`` applies the paper's thresholds (top2 <= 0.20,
    top3 <= 0.18, top4 <= 0.16, dup5 <= 0.15) as INTEGER-EXACT
    comparisons (5*cover <= tl etc.) so Spark and the DuckDB oracle
    can never disagree on a boundary.

    Shape: entirely PER-ROW — each width's grams are sorted and
    run-length folded inside one whole-stage-codegen expression, so
    the operator is a pure map over the corpus scan (zero shuffles at
    any scale). A (doc, n, gram) count-aggregate formulation was
    measured first: its gram-string shuffle made it the slowest new
    bench line and its high-cardinality keys defeat map-side
    combining; the oracle keeps that readable group-by form — the
    semantics, not the plan, are what it pins.
    """
    covers = {n: F.expr(_rep_rle(n, text_col)) for n in (2, 3, 4, 5)}
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        *keep,
        F.length(text_col).cast("bigint").alias("tl"),
        *[covers[n].alias(f"r{n}") for n in (2, 3, 4, 5)],
    ).select(
        "doc_id",
        *keep,
        "tl",
        F.col("r2.best").alias("c2"),
        F.col("r3.best").alias("c3"),
        F.col("r4.best").alias("c4"),
        F.col("r5.dup").alias("c5"),
    )

    def _frac(col: str):
        return F.round(F.least(F.lit(1.0), F.col(col) / F.col("tl")), 6)

    return base.select(
        "doc_id",
        *keep,
        _frac("c2").alias("top2_gram_char_frac"),
        _frac("c3").alias("top3_gram_char_frac"),
        _frac("c4").alias("top4_gram_char_frac"),
        _frac("c5").alias("dup5_gram_char_frac"),
        (
            (F.col("c2") * 5 <= F.col("tl"))        # 0.20
            & (F.col("c3") * 50 <= F.col("tl") * 9)  # 0.18
            & (F.col("c4") * 25 <= F.col("tl") * 4)  # 0.16
            & (F.col("c5") * 20 <= F.col("tl") * 3)  # 0.15
        ).alias("rep_keep"),
    )


def simhash64_fingerprints(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, sim_lo, sim_hi) — the PRODUCTION 64-bit SimHash
    (Manku et al. WWW'07 run 64-bit tables; the repo's own X98 eval
    harness measures 16-bit precision ~0.002 on this corpus, which is
    the documented argument for this width at scale).

    Bit ``b`` of the fingerprint reads bit ``b % 4`` of md5 hex
    nibble ``b // 4`` (chars 1..16) — the same nibble/bit convention
    as the 16-bit :func:`simhash_fingerprints`, extended across the
    first 64 bits of the digest. The fingerprint is carried as TWO
    32-bit halves in BIGINT (``sim_lo`` = bits 0..31 from hex chars
    1-8, ``sim_hi`` = bits 32..63 from chars 9-16): DuckDB raises on
    ``1::BIGINT << 63``, so a single signed 64-bit word could not be
    reproduced by the oracle; hamming is the sum of the two halves'
    ``bit_count(xor)`` which is bit-identical to the one-word form.

    Single pass per row: each word is md5'd ONCE into two 32-bit
    ints, then ONE ``aggregate`` folds a 64-slot vote array with a
    ``zip_with`` per word — not 64 separate re-hashing folds (the
    16-bit lesson, measured there at ~2x). Zero shuffles,
    embarrassingly parallel at 100 TB.
    """
    hs = F.expr(
        f"transform(split({text_col}, '\\\\s+'), "
        "w -> named_struct("
        "'h1', cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint), "
        "'h2', cast(conv(substring(md5(w), 9, 8), 16, 10) as bigint)))"
    )
    # vote slot b: +1/-1 on bit (7 - (b%32) div 4)*4 + b%4 of the
    # half word (char b//4 is the most-significant nibble first)
    votes = F.expr(
        "aggregate(__h, array_repeat(0, 64), (acc, h) -> "
        "zip_with(acc, sequence(0, 63), (a, b) -> "
        "a + cast(2 * ((if(b < 32, h.h1, h.h2) >> "
        "(((7 - (b % 32) div 4) * 4) + (b % 4))) & 1) - 1 as int)))"
    )
    half = (
        "aggregate(sequence(0, 31), cast(0 as bigint), (acc, i) -> "
        "acc + if(element_at(__v, i + {off}) > 0, "
        "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), hs.alias("__h"))
        .select("doc_id", votes.alias("__v"))
        .select(
            "doc_id",
            F.expr(half.format(off=1)).alias("sim_lo"),
            F.expr(half.format(off=33)).alias("sim_hi"),
        )
    )


def simhash_fingerprints(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, canonical_md5, simhash) per document — the scale path.

    16-bit SimHash: bit b of the fingerprint is the majority vote of
    bit ``b % 4`` of hex nibble ``b // 4`` of each word's md5, i.e. bit
    ``(3 - b//4)*4 + b%4`` of the leading-16-bit word hash. Each word
    is md5'd ONCE into a 16-bit int; the 16 per-bit votes then fold
    pure integer shifts/masks over that int array. Entirely per-row —
    ZERO shuffles, embarrassingly parallel at 100 TB — and measured
    ~2x faster than re-hashing each word per bit and 5-7x faster than
    an exploded hash-aggregate formulation at 200k docs. Equality
    with the DuckDB oracle is asserted by the tests.
    """
    hs = F.expr(
        f"transform(split({text_col}, '\\\\s+'), "
        "w -> cast(conv(substring(md5(w), 1, 4), 16, 10) as int))"
    )
    total = F.lit(0)
    for bit in range(16):
        shift = (3 - bit // 4) * 4 + bit % 4
        vote = F.expr(
            f"aggregate(__h, 0, (acc, h) -> acc + 2 * ((h >> {shift}) & 1) - 1)"
        )
        total = total + F.when(vote > 0, F.lit(2**bit)).otherwise(F.lit(0))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            canonical_hash(F.col(text_col)).alias("canonical_md5"),
            hs.alias("__h"),
        )
        .select("doc_id", "canonical_md5", total.cast("bigint").alias("simhash"))
    )


def lcs_length(ta: Column, tb: Column) -> Column:
    """Longest-common-subsequence LENGTH of two token arrays — the
    ROUGE-L core (Lin 2004): the classic integer DP
    (dp[i][j] = max of skip-a, skip-b, diagonal+match), row-vectorized
    over ``tb`` inside ONE Arrow-batched pandas UDF. The within-row
    dependency dp[i][j-1] folds via a running max
    (np.maximum.accumulate over t[j] = max(prev[j], prev[j-1]+match)
    — dp[j] = max over t[1..j], the standard vectorization of this
    recurrence). Pure integer arithmetic, so the answer is exactly
    the textbook DP's (pinned in tests/test_sft.py against a Python
    reference AND the DuckDB recursive-CTE twin).

    r13: this replaced a nested aggregate() higher-order-function
    fold — HigherOrderFunctions are CodegenFallback (interpreted),
    and the inner fold's concat(acc, array(...)) allocated a fresh
    O(|tb|) array per DP cell: O(|ta|·|tb|²) interpreted work per
    pair. The Arrow batch form is O(|ta|·|tb|) numpy ops (guide §4.2:
    hand whole batches to vectorized native code when the per-row
    expression path is the bottleneck). Intended for BLOCKED
    candidate pairs (prompts, titles) — never all-pairs, and never
    megabyte documents. Empty sides score the mathematical 0.

    Boundary note (ADVICE r13): this puts Python workers + Arrow
    serialization of both token arrays on a previously JVM-only path
    — a config surface (arrow.maxRecordsPerBatch, worker reuse) the
    old fold did not have. Justified because the expression path was
    the measured bottleneck and the pair sets are prefix-block-
    bounded; re-measure if block sizes ever grow."""
    global _LCS_BATCH_UDF
    if _LCS_BATCH_UDF is None:
        _LCS_BATCH_UDF = F.pandas_udf("bigint")(_lcs_batch)
    return _LCS_BATCH_UDF(ta, tb)


def _lcs_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    out = np.zeros(len(a), dtype=np.int64)
    for idx in range(len(a)):
        xa, xb = a.iloc[idx], b.iloc[idx]
        if xa is None or xb is None or len(xa) == 0 or len(xb) == 0:
            continue
        B = np.asarray(xb, dtype=object)
        prev = np.zeros(len(xb) + 1, dtype=np.int64)
        for tok in xa:
            t = np.maximum(prev[1:], prev[:-1] + (B == tok))
            np.maximum.accumulate(t, out=t)
            prev[1:] = t
        out[idx] = prev[-1]
    return pd.Series(out)


# Process-wide UDF object (ADVICE r13): lcs_length is invoked from
# batch AND streaming call sites — constructing a fresh pandas UDF
# per call re-pickled the function and re-registered it per call.
# Built LAZILY on first driver call (not at import: pandas_udf with a
# DDL-string return type parses the type through the active session,
# and executor Python workers import this module sessionless); the
# plain module-level _lcs_batch body is what workers import by
# reference (guide §4.5).
_LCS_BATCH_UDF = None
