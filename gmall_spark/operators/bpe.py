"""One full BPE training iteration: select the winning merge AND
apply it (Sennrich et al. 2016, arXiv:1508.07909 §3.2).

``llm_bpe_merge_candidates`` (X100) counts the first iteration's
candidate pairs; this module completes the loop — apply the winning
merge to the symbol sequences with BPE's greedy LEFT-TO-RIGHT
non-overlapping rule, then re-count adjacencies to produce the next
iteration's ranked candidates. Two iterations of tokenizer training
observable in one deterministic, oracle-checkable query.

The greedy non-overlap rule is the subtle part: in a run of
consecutive matches (``a a a a`` merging ``(a,a)``), BPE merges
positions 0-1 and 2-3, not 1-2. Rather than a sequential fold, runs
of consecutive matching positions are grouped with the classic
``pos - row_number()`` trick and every EVEN offset within a run is a
merge start — identical semantics, pure window algebra, so Spark and
the DuckDB oracle execute the same definition (no UDF, no lambda
dialect drift).

Scale shape (100 TB): the corpus collapses to the DISTINCT-word
frequency table first (map-side combining hash agg — the only
corpus-sized pass, shared with X100); everything after runs on the
vocabulary-sized symbol table: char explode is |vocab|·avg_len rows,
the windows partition by word, the single-row winning pair
broadcasts. Iterating to a full merge table repeats the cheap half
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gmall_spark.operators.ranking import _toks


def _word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Vocabulary-sized (w, wfreq); single-char words never form
    pairs in any iteration, so they are dropped up front."""
    return (
        docs.select(F.explode(_toks(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wfreq"))
        .filter(F.length("w") >= 2)
    )


def merge_step(docs: DataFrame, top_n: int = 10, text_col: str = "text") -> DataFrame:
    """Apply the best merge, return the NEXT iteration's top
    ``top_n`` candidates: (rnk, pair_left, pair_right, pair_count,
    applied_pair)."""
    wc = _word_freq(docs, text_col)
    sym = wc.select(
        "w",
        "wfreq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.struct(
                    i.alias("pos"), F.col("w").substr(i, F.lit(1)).alias("s")
                ),
            )
        ).alias("cs"),
    ).select("w", "wfreq", F.col("cs.pos").alias("pos"), F.col("cs.s").alias("s"))

    w_word = Window.partitionBy("w").orderBy("pos")
    adj = sym.withColumn("s2", F.lead("s").over(w_word))

    pc = (
        adj.filter(F.col("s2").isNotNull())
        .groupBy(F.col("s").alias("c1"), F.col("s2").alias("c2"))
        .agg(F.sum("wfreq").cast("bigint").alias("cnt"))
    )
    best = pc.orderBy(
        F.desc("cnt"), F.asc(F.concat("c1", "c2"))
    ).limit(1)

    m = adj.crossJoin(F.broadcast(best)).withColumn(
        "mt", (F.col("s") == F.col("c1")) & (F.col("s2") == F.col("c2"))
    )
    # greedy left-to-right: group consecutive matching positions into
    # runs, merge at even offsets within each run
    matches = m.filter("mt").select("w", "pos")
    runs = matches.withColumn(
        "grp", F.col("pos") - F.row_number().over(w_word)
    )
    starts = runs.withColumn(
        "is_start",
        ((F.col("pos") - F.min("pos").over(Window.partitionBy("w", "grp"))) % 2)
        == 0,
    ).select("w", "pos", "is_start")

    star = m.join(starts, ["w", "pos"], "left").withColumn(
        "st", F.coalesce("is_start", F.lit(False))
    )
    fl = star.withColumn(
        "consumed", F.coalesce(F.lag("st").over(w_word), F.lit(False))
    )
    ns = fl.filter(~F.col("consumed")).select(
        "w",
        "wfreq",
        "pos",
        F.when(F.col("st"), F.concat("c1", "c2")).otherwise(F.col("s")).alias(
            "tok"
        ),
        F.concat("c1", "c2").alias("applied_pair"),
    )
    adj2 = ns.withColumn("tok2", F.lead("tok").over(w_word)).filter(
        F.col("tok2").isNotNull()
    )
    pc2 = adj2.groupBy(
        F.col("tok").alias("pair_left"),
        F.col("tok2").alias("pair_right"),
        "applied_pair",
    ).agg(F.sum("wfreq").cast("bigint").alias("pair_count"))
    w_rank = Window.orderBy(
        F.desc("pair_count"), F.asc("pair_left"), F.asc("pair_right")
    )
    return (
        pc2.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rnk") <= top_n)
        .select("rnk", "pair_left", "pair_right", "pair_count", "applied_pair")
    )


def merge_step_oracle_sql(top_n: int = 10) -> str:
    """DuckDB twin — the same run/offset window algebra."""
    return rf"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wfreq FROM toks
  GROUP BY w HAVING length(w) >= 2
), sym AS (
  SELECT w, wfreq, CAST(i AS BIGINT) AS pos, w[CAST(i AS INTEGER):CAST(i AS INTEGER)] AS s
  FROM wc, LATERAL unnest(range(1, length(w) + 1)) AS t(i)
), adj AS (
  SELECT w, wfreq, pos, s, lead(s) OVER (PARTITION BY w ORDER BY pos) AS s2
  FROM sym
), pc AS (
  SELECT s AS c1, s2 AS c2, CAST(sum(wfreq) AS BIGINT) AS cnt
  FROM adj WHERE s2 IS NOT NULL GROUP BY s, s2
), best AS (
  SELECT c1, c2 FROM pc ORDER BY cnt DESC, c1 || c2 ASC LIMIT 1
), m AS (
  SELECT a.w, a.wfreq, a.pos, a.s, a.s2, b.c1, b.c2,
         (a.s = b.c1 AND a.s2 = b.c2) AS mt
  FROM adj a CROSS JOIN best b
), matches AS (
  SELECT w, pos FROM m WHERE mt
), runs AS (
  SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
  FROM matches
), starts AS (
  SELECT w, pos,
         ((pos - min(pos) OVER (PARTITION BY w, grp)) % 2 = 0) AS is_start
  FROM runs
), star AS (
  SELECT m.w, m.wfreq, m.pos, m.s, m.c1, m.c2,
         COALESCE(s.is_start, FALSE) AS st
  FROM m LEFT JOIN starts s ON s.w = m.w AND s.pos = m.pos
), fl AS (
  SELECT *, COALESCE(lag(st) OVER (PARTITION BY w ORDER BY pos), FALSE) AS consumed
  FROM star
), ns AS (
  SELECT w, wfreq, pos,
         CASE WHEN st THEN c1 || c2 ELSE s END AS tok,
         c1 || c2 AS applied_pair
  FROM fl WHERE NOT consumed
), adj2 AS (
  SELECT w, wfreq, applied_pair, tok,
         lead(tok) OVER (PARTITION BY w ORDER BY pos) AS tok2
  FROM ns
), pc2 AS (
  SELECT tok AS pair_left, tok2 AS pair_right, applied_pair,
         CAST(sum(wfreq) AS BIGINT) AS pair_count
  FROM adj2 WHERE tok2 IS NOT NULL GROUP BY tok, tok2, applied_pair
)
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair_left ASC, pair_right ASC) AS BIGINT) AS rnk,
       pair_left, pair_right, pair_count, applied_pair
FROM pc2
QUALIFY rnk <= {top_n}
"""


# ---------------------------------------------------------------------------
# Frozen-tokenizer encoding (X139): apply a TRAINED merge list in rank
# order — the deployment shape of the X100/X109 training loop (train
# once, encode every batch under the frozen artifact, like the frozen
# LM/DSIR models). Reference parity: tokenizer application is the step
# between corpus curation and token-budget planning (X115/X134).
# ---------------------------------------------------------------------------

# A frozen merge table (rank-ordered, later merges may consume earlier
# outputs — ('th','e') builds on ('t','h')). In production this literal
# is the artifact the X109 training iterations emit.
FROZEN_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("an", "d"), ("o", "n"), ("r", "e"),
)

# Applying ONE merge (l, r) is a greedy left-to-right fold over the
# token list: if the accumulator's last token is l and the next is r,
# replace the tail with lr, else append. One pass is exhaustive for a
# single pair (a new (l, r) adjacency would need lr == l or lr == r,
# impossible for non-empty halves), and the fold reproduces BPE's
# non-overlap rule ('aaaa' + (a,a) -> [aa, aa]) — the same definition
# X109's window algebra pins. k merges = k nested folds, pure per-row
# compute: ZERO shuffles at any corpus size.


def _merge_fold_spark(units: str, merges) -> str:
    """Spark SQL expression: a token-array expression ``units`` ->
    tokens under the rank-ordered ``merges``, one greedy fold per
    merge. CASE branches (not AND chains) guard the empty accumulator
    — CASE is contractually lazy, so ANSI element_at can never see an
    empty array."""
    e = units
    for l, r in merges:
        e = (
            f"aggregate({e}, cast(array() as array<string>), (acc, x) -> "
            f"CASE WHEN size(acc) = 0 THEN array(x) "
            f"WHEN element_at(acc, -1) = '{l}' AND x = '{r}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array('{l}{r}')) "
            f"ELSE concat(acc, array(x)) END)"
        )
    return e


def _merge_fold_duckdb(units: str, merges) -> str:
    """DuckDB twin of :func:`_merge_fold_spark`. list_reduce has no
    initial-value overload, so elements ride as singleton lists and the
    first singleton IS the initial accumulator — which matches the fold
    exactly (out = [t1], then process the rest)."""
    e = f"list_transform({units}, t -> [t])"
    for l, r in merges:
        e = (
            f"list_transform(list_reduce({e}, (acc, x) -> "
            f"CASE WHEN acc[-1] = '{l}' AND x[1] = '{r}' "
            f"THEN acc[1:len(acc)-1] || ['{l}{r}'] ELSE acc || x END), "
            f"t -> [t])"
        )
    return f"list_transform({e}, s -> s[1])"


def encode_expr_spark(word: str, merges=FROZEN_MERGES) -> str:
    """Spark SQL expression: ``word`` (a column/lambda-var reference)
    -> token array under the frozen merges, over its chars."""
    return _merge_fold_spark(
        f"transform(sequence(1, length({word})), i -> substring({word}, i, 1))",
        merges,
    )


def encode_expr_duckdb(word: str, merges=FROZEN_MERGES) -> str:
    """DuckDB twin of :func:`encode_expr_spark`."""
    return _merge_fold_duckdb(
        f"list_transform(range(1, length({word}) + 1), i -> {word}[i:i])",
        merges,
    )


def frozen_encode_oracle_sql() -> str:
    """DuckDB twin of the registered frozen-encode query."""
    enc = encode_expr_duckdb("w")
    return rf"""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS words
  FROM documents
), agg AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words, w -> length(w)), 'sum')
         END AS n_base_tokens,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words, w -> len({enc})), 'sum')
         END AS n_tokens
  FROM ws
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_base_tokens AS BIGINT) AS n_base_tokens,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN n_tokens = 0 THEN NULL
            ELSE round(n_base_tokens * 1.0 / n_tokens, 6) END AS compression
FROM agg
"""


# Decode = the merge list replayed in REVERSE (X175-adjacent, VERDICT
# r7 item 6): every multi-char token was produced by exactly one
# frozen merge (products are distinct strings), so expanding tokens
# equal to l||r back into (l, r) in reverse merge order, innermost
# last, restores the original character sequence; concatenation then
# restores the word. A token that survives the full replay as
# anything but a single alphabet char was never producible by this
# tokenizer — it decodes to the OOV marker instead of corrupting the
# text silently.
BPE_OOV_MARKER = "#"  # outside the [a-z0-9] alphabet by construction


def decode_expr_spark(tokens: str, merges=FROZEN_MERGES) -> str:
    """Spark SQL expression: token array -> decoded word string."""
    e = tokens
    for l, r in reversed(merges):
        e = (
            f"flatten(transform({e}, t -> "
            f"CASE WHEN t = '{l}{r}' THEN array('{l}', '{r}') "
            f"ELSE array(t) END))"
        )
    return (
        f"array_join(transform({e}, t -> "
        f"CASE WHEN t rlike '^[a-z0-9]$' THEN t "
        f"ELSE '{BPE_OOV_MARKER}' END), '')"
    )


def decode_expr_duckdb(tokens: str, merges=FROZEN_MERGES) -> str:
    """DuckDB twin of :func:`decode_expr_spark`."""
    e = tokens
    for l, r in reversed(merges):
        e = (
            f"flatten(list_transform({e}, t -> "
            f"CASE WHEN t = '{l}{r}' THEN ['{l}', '{r}'] "
            f"ELSE [t] END))"
        )
    return (
        f"array_to_string(list_transform({e}, t -> "
        f"CASE WHEN regexp_matches(t, '^[a-z0-9]$') THEN t "
        f"ELSE '{BPE_OOV_MARKER}' END), '')"
    )


def frozen_decode_oracle_sql() -> str:
    """DuckDB twin of the registered decode round-trip query."""
    enc = encode_expr_duckdb("w")
    dec = decode_expr_duckdb(f"({enc})")
    return rf"""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS words
  FROM documents
), rt AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words,
             w -> CASE WHEN ({dec}) = w THEN 1 ELSE 0 END), 'sum')
         END AS n_roundtrip
  FROM ws
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_roundtrip AS BIGINT) AS n_roundtrip,
       n_roundtrip = n_words AS roundtrip_exact
FROM rt
"""


# --- byte-fallback BPE (GPT-2 class, X222-X224) -----------------------------

# The fourth deployment shape (GPT-2 / SentencePiece byte_fallback):
# base units are UTF-8 BYTES, so the vocabulary covers EVERY string by
# construction — zero OOV, the coverage contrast to WordPiece's
# word-level UNK (X205/X206). An ASCII character IS its byte, so its
# unit token is the character itself; a multi-byte character
# decomposes into '<0xNN>' byte-marker tokens (uppercase hex — both
# engines' hex() casing). The frozen merge list extends the ASCII
# merges with one learned BYTE merge (the UTF-8 pair of 'é'), so the
# fallback path has a merge that genuinely fires on planted non-ASCII
# words while the ASCII corpus exercises the shared merges.
BYTE_MERGES: tuple[tuple[str, str], ...] = FROZEN_MERGES + (
    ("<0xC3>", "<0xA9>"),  # é = 0xC3 0xA9
)

_BYTE_TOKEN_RE = "^(<0x[0-9A-F]{2}>)+$"


def byte_units_expr_spark(word: str) -> str:
    """Spark SQL: ``word`` -> array of byte-unit tokens (ASCII char
    or '<0xNN>' markers)."""
    enc = "encode({c}, 'utf-8')"
    one = enc.format(c="c")
    return (
        f"flatten(transform("
        f"transform(sequence(1, length({word})), i -> substring({word}, i, 1)),"
        f" c -> CASE WHEN length({one}) = 1 THEN array(c) "
        f"ELSE transform(sequence(1, length({one})), "
        f"j -> concat('<0x', substr(hex({one}), 2*j - 1, 2), '>')) END))"
    )


def byte_units_expr_duckdb(word: str) -> str:
    """DuckDB twin of :func:`byte_units_expr_spark`."""
    one = "encode(c)"
    return (
        f"flatten(list_transform("
        f"list_transform(range(1, length({word}) + 1), i -> {word}[i:i]),"
        f" c -> CASE WHEN octet_length({one}) = 1 THEN [c] "
        f"ELSE list_transform(range(1, octet_length({one}) + 1), "
        f"j -> '<0x' || substr(hex({one}), 2*j - 1, 2) || '>') END))"
    )


def byte_encode_expr_spark(word: str, merges=BYTE_MERGES) -> str:
    """Byte-fallback encode: the frozen-merge greedy fold of
    :func:`_merge_fold_spark` over BYTE units instead of chars."""
    return _merge_fold_spark(byte_units_expr_spark(word), merges)


def byte_encode_expr_duckdb(word: str, merges=BYTE_MERGES) -> str:
    """DuckDB twin of :func:`byte_encode_expr_spark`."""
    return _merge_fold_duckdb(byte_units_expr_duckdb(word), merges)


def byte_decode_expr_spark(tokens: str) -> str:
    """Byte-level decode is TOTAL — no OOV marker exists in this
    tier: every token is either a run of byte markers (its hex is
    written in the token text) or literal text (its hex is its UTF-8
    encoding), so the whole token list re-hexes, un-hexes, and
    UTF-8-decodes back to the word. No reverse-merge replay needed:
    hex('th') is the same bytes whether or not the merge fired."""
    return (
        f"decode(unhex(array_join(transform({tokens}, t -> "
        f"CASE WHEN t rlike '{_BYTE_TOKEN_RE}' "
        f"THEN replace(replace(t, '<0x', ''), '>', '') "
        f"ELSE hex(encode(t, 'utf-8')) END), '')), 'utf-8')"
    )


def byte_decode_expr_duckdb(tokens: str) -> str:
    """DuckDB twin of :func:`byte_decode_expr_spark`."""
    return (
        f"decode(from_hex(array_to_string(list_transform({tokens}, t -> "
        f"CASE WHEN regexp_matches(t, '{_BYTE_TOKEN_RE}') "
        f"THEN replace(replace(t, '<0x', ''), '>', '') "
        f"ELSE hex(encode(t)) END), '')))"
    )


def byte_frozen_encode_oracle_sql() -> str:
    """DuckDB twin of the registered byte-fallback encode query."""
    enc = byte_encode_expr_duckdb("w")
    units = byte_units_expr_duckdb("w")
    return rf"""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS words
  FROM documents
), agg AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words, w -> octet_length(encode(w))), 'sum')
         END AS n_units,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words,
             w -> len(list_filter({units}, u -> u LIKE '<0x%'))), 'sum')
         END AS n_fallback_units,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words, w -> len({enc})), 'sum')
         END AS n_tokens
  FROM ws
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_units AS BIGINT) AS n_units,
       CAST(n_fallback_units AS BIGINT) AS n_fallback_units,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN n_tokens = 0 THEN NULL
            ELSE round(n_units * 1.0 / n_tokens, 6) END AS compression
FROM agg
"""


def byte_frozen_decode_oracle_sql() -> str:
    """DuckDB twin of the registered byte-fallback round-trip query."""
    enc = byte_encode_expr_duckdb("w")
    dec = byte_decode_expr_duckdb(f"({enc})")
    return rf"""
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS words
  FROM documents
), rt AS (
  SELECT doc_id,
         len(words) AS n_words,
         CASE WHEN len(words) = 0 THEN 0 ELSE
           list_aggregate(list_transform(words,
             w -> CASE WHEN ({dec}) = w THEN 1 ELSE 0 END), 'sum')
         END AS n_roundtrip
  FROM ws
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_roundtrip AS BIGINT) AS n_roundtrip,
       n_roundtrip = n_words AS roundtrip_exact
FROM rt
"""
