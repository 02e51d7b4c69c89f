"""SFT conversation tier (X231-X234), packed-row boundary offsets
(X238), hashing-trick classifier (X239-X240).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark import fixtures_audit
from gmall_spark.functions import text as TX
from gmall_spark.queries import _t, query
from gmall_spark.session import local_rows
from gmall_spark.queries_llm.prelude import _docs
from gmall_spark.queries_llm.packing_release import (
    SEQ_PACK_CAP,
    _PACK_LEN_SQL,
    _ffd_pack_cte,
    pack_rows,
)

# --- SFT conversation tier (X231-X233) ----------------------------------------

from gmall_spark.operators import sft  # noqa: E402

# rendered string + span arithmetic over the ≤4-turn closed form
_SFT_RENDER_SQL = f"""
, r AS (
  SELECT doc_id, lang, n_turns,
         '{sft.SYSTEM_PREFIX}' || '<|user|>' || t0 || '<|end|>'
           || '<|assistant|>' || t1 || '<|end|>'
           || CASE WHEN n_turns = 4
              THEN '<|user|>' || t2 || '<|end|>'
                   || '<|assistant|>' || t3 || '<|end|>'
              ELSE '' END AS rendered,
         {sft.C0} + {sft.H_USER} + length(t0) + {sft.H_END}
           + {sft.H_ASST} AS a1s,
         length(t1) AS l1,
         length(t0) AS l0,
         CASE WHEN n_turns = 4 THEN length(t2) END AS l2,
         CASE WHEN n_turns = 4 THEN length(t3) END AS l3
  FROM tt
), spans AS (
  SELECT doc_id, lang, n_turns, rendered, l0, l1, l2, l3,
         a1s, a1s + l1 AS a1e,
         CASE WHEN n_turns = 4
              THEN a1s + l1 + {sft.H_END} + {sft.H_USER} + l2
                   + {sft.H_END} + {sft.H_ASST} END AS a3s
  FROM r
)
"""


@query(
    "sft_render_frozen_template",
    sft.turns_oracle_cte()
    + _SFT_RENDER_SQL
    + """
SELECT doc_id, n_turns,
       CAST(length(rendered) AS BIGINT) AS n_rendered_chars,
       md5(rendered) AS rendered_md5,
       CAST(a1s AS VARCHAR) || ':' || CAST(a1e AS VARCHAR)
         || CASE WHEN n_turns = 4
            THEN ';' || CAST(a3s AS VARCHAR) || ':'
                 || CAST(a3s + l3 AS VARCHAR)
            ELSE '' END AS loss_spans,
       CAST(l1 + COALESCE(l3, 0) AS BIGINT) AS n_assistant_chars
FROM spans
""",
)
def q_sft_render_frozen_template(spark, sf_dir):
    """Frozen chat-template rendering with loss-mask offsets (X231) —
    the SFT data-prep step between curation and the trainer: each
    conversation (deterministically derived from a document — 2-turn
    even / 4-turn odd user/assistant alternation over equal word
    slices) renders through the frozen template and emits the
    assistant-span character ranges the loader masks the loss to.
    Offsets come from ONE aggregate() fold maintaining (cursor,
    spans) — by construction during rendering, the general-n
    algorithm (operators/sft.py; searching the rendered string would
    bind to the wrong occurrence when a turn repeats) — while the
    oracle states the ≤4-turn arithmetic closed form. The span
    theorem substring(rendered, start+1, end-start) == turn text is
    pinned in-suite (X208 reassembly discipline). Scale: per-row JVM
    HOF folds, zero shuffle, zero UDF."""
    return sft.render_records(_docs(spark, sf_dir))


def _role_chars(role: str):
    """A conversation's total characters over its ``role`` turns."""
    return F.aggregate(
        F.col("turns"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(x["role"] == role, F.length(x["txt"])).otherwise(F.lit(0)),
    )


@query(
    "sft_turn_stats",
    sft.turns_oracle_cte()
    + """
SELECT lang, n_turns,
       CAST(count(*) AS BIGINT) AS n_convs,
       CAST(sum(length(t0) + COALESCE(length(t2), 0)) AS BIGINT)
         AS total_user_chars,
       CAST(sum(length(t1) + COALESCE(length(t3), 0)) AS BIGINT)
         AS total_assistant_chars,
       round(CAST(sum(length(t1) + COALESCE(length(t3), 0)) AS DOUBLE)
             / CAST(sum(length(t0) + length(t1) + COALESCE(length(t2), 0)
                        + COALESCE(length(t3), 0)) AS DOUBLE), 6)
         AS assistant_share
FROM tt GROUP BY lang, n_turns
""",
)
def q_sft_turn_stats(spark, sf_dir):
    """Conversation-shape census (X232): per (lang, turn-count), how
    many conversations and how the characters split between roles —
    the balance table an SFT mix is tuned against (assistant share IS
    the fraction of rendered bytes the loss sees). Integer sums
    divide once at the end. One grid-bounded aggregate."""
    m = sft.turns(_docs(spark, sf_dir)).select(
        "lang",
        "n_turns",
        _role_chars("user").alias("uc"),
        _role_chars("assistant").alias("ac"),
    )
    return m.groupBy("lang", "n_turns").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_convs"),
        F.sum("uc").cast("bigint").alias("total_user_chars"),
        F.sum("ac").cast("bigint").alias("total_assistant_chars"),
        F.round(
            F.sum("ac").cast("double")
            / (F.sum("uc") + F.sum("ac")).cast("double"),
            6,
        ).alias("assistant_share"),
    )


def prompt_candidates(docs):
    """(doc_id, prompt, asst_len) per conversation: its first user
    turn and its total assistant characters."""
    return sft.turns(docs).select(
        "doc_id",
        F.col("turns").getItem(0)["txt"].alias("prompt"),
        _role_chars("assistant").alias("asst_len"),
    )


def prompt_keepers(cands):
    """Per prompt of :func:`prompt_candidates` rows, the keeper (the
    richest response: asst_len DESC, then min doc_id) with its group
    size: (prompt, doc_id, asst_len, n_convs). The argmax under that
    total order is associative over any split of the rows."""
    w = Window.partitionBy("prompt")
    return (
        cands.select(
            "*",
            F.count(F.lit(1)).over(w).alias("n_convs"),
            F.row_number()
            .over(w.orderBy(F.col("asst_len").desc(), F.col("doc_id")))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("prompt", "doc_id", "asst_len", "n_convs")
    )


@query(
    "sft_prompt_dedup",
    sft.turns_oracle_cte()
    + """
, conv2 AS (
  SELECT doc_id, t0 AS prompt,
         length(t1) + COALESCE(length(t3), 0) AS asst_len
  FROM tt
), g AS (
  SELECT prompt, count(*) AS n FROM conv2 GROUP BY prompt
), k AS (
  SELECT prompt, doc_id, asst_len,
         row_number() OVER (PARTITION BY prompt
                            ORDER BY asst_len DESC, doc_id) AS rn
  FROM conv2
)
SELECT md5(k.prompt) AS prompt_md5,
       CAST(g.n AS BIGINT) AS n_convs,
       CAST(k.doc_id AS BIGINT) AS keeper_doc_id,
       CAST(k.asst_len AS BIGINT) AS keeper_assistant_chars
FROM k JOIN g ON g.prompt = k.prompt
WHERE k.rn = 1 AND g.n >= 2
""",
)
def q_sft_prompt_dedup(spark, sf_dir):
    """Prompt-level conversation dedup (X233): SFT sets dedup by the
    PROMPT (first user turn), not the whole text — two answers to one
    question bias the loss toward that question — keeping the richest
    response (longest assistant text, tie → min doc_id: a
    deterministic keep-best, the X6 keeper discipline upgraded from
    keep-first). Scale: one prompt-keyed window (rank inside the
    group agg's exchange) — group size bounds nothing quadratic."""
    keepers = prompt_keepers(prompt_candidates(_docs(spark, sf_dir)))
    return keepers.filter(F.col("n_convs") >= 2).select(
        F.md5("prompt").alias("prompt_md5"),
        "n_convs",
        F.col("doc_id").cast("bigint").alias("keeper_doc_id"),
        F.col("asst_len").cast("bigint").alias("keeper_assistant_chars"),
    )


@query(
    "sft_preference_pairs",
    sft.turns_oracle_cte()
    + """
, conv2 AS (
  SELECT doc_id, t0 AS prompt,
         length(t1) + COALESCE(length(t3), 0) AS asst_len
  FROM tt
), rk AS (
  SELECT doc_id, prompt, asst_len,
         first_value(doc_id) OVER w AS chosen_doc_id,
         first_value(asst_len) OVER w AS chosen_chars,
         count(*) OVER (PARTITION BY prompt) AS n
  FROM conv2
  WINDOW w AS (PARTITION BY prompt ORDER BY asst_len DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT md5(prompt) AS prompt_md5,
       CAST(chosen_doc_id AS BIGINT) AS chosen_doc_id,
       CAST(doc_id AS BIGINT) AS rejected_doc_id,
       CAST(chosen_chars AS BIGINT) AS chosen_chars,
       CAST(asst_len AS BIGINT) AS rejected_chars,
       CAST(chosen_chars - asst_len AS BIGINT) AS margin,
       CAST(CASE WHEN chosen_chars = asst_len THEN 1 ELSE 0 END AS BIGINT)
         AS is_tie
FROM rk WHERE n >= 2 AND doc_id <> chosen_doc_id
""",
)
def q_sft_preference_pairs(spark, sf_dir):
    """Preference-pair construction (X234) — the DPO/RLHF data-prep
    step downstream of the X233 dedup: within each prompt-collision
    group, the keeper (richest response) becomes `chosen` and every
    other member a `rejected` row, with the length margin riding
    along (a zero margin is a TIE pair — emitted flagged, not
    silently dropped, so the downstream filter decides; X173).
    Production shape: top-1-vs-others, LINEAR in group size — never
    the quadratic all-pairs. Scale: ONE prompt-keyed exchange shared
    by the chosen-value and count windows; no self-join."""
    conv = prompt_candidates(_docs(spark, sf_dir))
    w = (
        Window.partitionBy("prompt")
        .orderBy(F.col("asst_len").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rk = conv.select(
        "*",
        F.first("doc_id").over(w).alias("chosen_doc_id"),
        F.first("asst_len").over(w).alias("chosen_chars"),
        F.count(F.lit(1)).over(Window.partitionBy("prompt")).alias("n"),
    )
    return rk.filter(
        (F.col("n") >= 2) & (F.col("doc_id") != F.col("chosen_doc_id"))
    ).select(
        F.md5("prompt").alias("prompt_md5"),
        F.col("chosen_doc_id").cast("bigint").alias("chosen_doc_id"),
        F.col("doc_id").cast("bigint").alias("rejected_doc_id"),
        F.col("chosen_chars").cast("bigint").alias("chosen_chars"),
        F.col("asst_len").cast("bigint").alias("rejected_chars"),
        (F.col("chosen_chars") - F.col("asst_len"))
        .cast("bigint")
        .alias("margin"),
        F.when(F.col("chosen_chars") == F.col("asst_len"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_tie"),
    )


# --- packed-sequence boundary offsets (X238) ----------------------------------


@query(
    "llm_packed_boundaries",
    _ffd_pack_cte(f"SELECT doc_id, {_PACK_LEN_SQL} AS n_tok FROM documents")
    + """
, pk AS (
  SELECT doc_id, n_tok, bucket_len, pack_no,
         row_number() OVER win2 AS bi,
         sum(n_tok) OVER win2 - n_tok AS seq_start
  FROM a
  WINDOW win2 AS (PARTITION BY bucket_len, pack_no
                  ORDER BY n_tok DESC, doc_id ASC)
)
SELECT doc_id,
       bucket_len::VARCHAR || '_' || pack_no::VARCHAR AS pack_id,
       CAST(bi AS BIGINT) AS boundary_index,
       CAST(seq_start AS BIGINT) AS seq_start,
       CAST(seq_start + n_tok AS BIGINT) AS seq_end
FROM pk
""",
)
def q_llm_packed_boundaries(spark, sf_dir):
    """Packed-row boundary offsets (X238) — the loader-facing half
    the X175 packed table was missing: within each training row the
    member documents' [seq_start, seq_end) token offsets, in the
    deterministic FFD member order — exactly what the collator needs
    to reset positions and block cross-document attention at pack
    boundaries (the X231 loss-span discipline one level up: offsets
    by construction from the same prefix sums that placed the docs,
    never by searching the concatenated row). The cap is a theorem
    at OFFSET grain too: max seq_end == pack_fill <= cap, boundaries
    contiguous, first starts at 0 (pinned in-suite). Scale: the X175
    bucket_len exchange plus ONE (bucket_len, pack_no)-keyed window —
    integer-exact everywhere."""
    cap = SEQ_PACK_CAP
    d = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        rf"least(greatest(size(filter(split(text, '\\s+'), x -> x != '')), 1),"
        rf" {cap}) AS n_tok",
    )
    packed = pack_rows(d, cap).withColumn(
        "n_tok_l", F.col("n_tok").cast("long")
    )
    win2 = Window.partitionBy("pack_id").orderBy(
        F.desc("n_tok"), F.asc("doc_id")
    )
    return packed.select(
        "doc_id",
        "pack_id",
        F.row_number().over(win2).cast("bigint").alias("boundary_index"),
        (F.sum("n_tok_l").over(win2) - F.col("n_tok_l"))
        .cast("bigint")
        .alias("seq_start"),
        F.sum("n_tok_l").over(win2).cast("bigint").alias("seq_end"),
    )


# --- hashing-trick linear classifier (X239-X240) -------------------------------

HASH_BUCKETS = 64  # fixed model width — the hashing trick's entire point

# engine-portable bucket expression over a word column (the X4 md5
# idiom: Spark spells hex→int as conv(), DuckDB as CAST('0x…'))
_BUCKET_SPARK = (
    f"cast(conv(substring(md5({{w}}), 1, 4), 16, 10) as bigint)"
    f" % {HASH_BUCKETS}"
)
_BUCKET_SQL = (
    f"CAST(('0x' || substr(md5({{w}}), 1, 4)) AS BIGINT) % {HASH_BUCKETS}"
)

_HASHED_NB_ORACLE = f"""
WITH wd AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM documents
), g AS (
  SELECT doc_id, lang, {_BUCKET_SQL.format(w='w')} AS b FROM wd
), tr AS (
  SELECT * FROM g WHERE doc_id % 2 = 0
), cls AS (
  SELECT b,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_rest
  FROM tr GROUP BY b
), tots AS (
  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_en,
         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS t_rest
  FROM tr
), wts AS (
  -- frozen in FIXED POINT (1e-9 units, floor(x*1e9+0.5) so both
  -- engines round identically): the scored sum is then an exact
  -- integer, immune to summation order, and pred_en's sign is
  -- bit-reproducible (ADVICE r10)
  SELECT r.range AS b,
         CAST(floor((
           ln((COALESCE(c.c_en, 0) + 1.0) / (t.t_en + {HASH_BUCKETS}.0))
           - ln((COALESCE(c.c_rest, 0) + 1.0) / (t.t_rest + {HASH_BUCKETS}.0))
         ) * 1000000000.0 + 0.5) AS BIGINT) AS w
  FROM range(0, {HASH_BUCKETS}) r LEFT JOIN cls c ON c.b = r.range, tots t
), scored AS (
  SELECT e.doc_id, e.lang, count(*) AS n_words, sum(w.w) AS s
  FROM g e JOIN wts w ON w.b = e.b
  WHERE e.doc_id % 2 = 1
  GROUP BY e.doc_id, e.lang
)
"""


# fixed-point weight scale: weights freeze as BIGINTs in 1e-9 units
# via floor(x*SCALE+0.5) (identical rounding in Python and DuckDB —
# Python round() is banker's, DuckDB round() is half-away, floor+0.5
# is the one expression both compute bit-identically), so the scored
# per-doc sum is an exact integer and pred_en's sign can never flip
# between engines or across summation orders (ADVICE r10).
#
# Residual assumption (ADVICE r11): the Spark side freezes weights
# from Python math.log while the oracle freezes from DuckDB ln() —
# the two must agree to the last double ulp for the fixed-point
# floor to land on the same integer. Both call the platform libm's
# correctly-rounded-ish log on IEEE-754 doubles, and a divergence
# would need a 1-ulp libm disagreement EXACTLY where x*1e9+0.5 sits
# on an integer boundary (probability ~2^-30 per weight, none
# observed across r10-r12 sweeps). Baking Python-computed weights
# into the oracle text instead is not possible here: oracle strings
# are corpus-independent (the driver replays the SAME string at
# several sf_dirs), while the weights are trained per corpus.
WEIGHT_SCALE = 10**9


@fixtures_audit.memoized("hashed_wts")
def _hashed_nb_weights(spark: SparkSession, sf_dir: str) -> list[int]:
    """Train the hashed-feature NB linear model on the even half:
    per-bucket log-likelihood-ratio weights, Laplace-smoothed —
    multinomial NB IS a linear model over the hashed counts, so
    training is two integer aggregates and a log, closed-form in the
    corpus (no iterations, no optimizer). Returns the
    HASH_BUCKETS-long fixed-point weight vector (the deployable
    artifact — its size is FIXED at any corpus scale; collect is
    constant-bounded, the quantizer-training precedent)."""
    tr = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
        .selectExpr("lang", _BUCKET_SPARK.format(w="w") + " AS b")
    )
    cls = (
        tr.groupBy("b")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_en"),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("c_rest"),
        )
        .collect()
    )
    c_en = {r.b: r.c_en for r in cls}
    c_rest = {r.b: r.c_rest for r in cls}
    t_en = sum(c_en.values())
    t_rest = sum(c_rest.values())
    import math

    B = HASH_BUCKETS
    return [
        math.floor(
            (
                math.log((c_en.get(b, 0) + 1.0) / (t_en + float(B)))
                - math.log((c_rest.get(b, 0) + 1.0) / (t_rest + float(B)))
            )
            * WEIGHT_SCALE
            + 0.5
        )
        for b in range(B)
    ]


@query(
    "text_hashed_ngram_classifier",
    _HASHED_NB_ORACLE
    + """
SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
       round((s / 1000000000.0) / n_words, 6) AS score,
       CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred_en,
       CAST(CASE WHEN (s > 0) = (lang = 'en') THEN 1 ELSE 0 END AS BIGINT)
         AS correct
FROM scored
""",
)
def q_text_hashed_ngram_classifier(spark, sf_dir):
    """Hashing-trick linear classifier (X239; Weinberger 2009, the
    fastText/Vowpal-Wabbit deployment shape — the model family the
    CCNet/RefinedWeb quality and language filters actually ship):
    word features hash into a FIXED HASH_BUCKETS-wide vector, so the
    model size is bounded at ANY corpus scale (at 100 TB the
    vocabulary is unbounded; the model is not — the trick's entire
    point), and multinomial-NB training is closed-form: per-bucket
    Laplace-smoothed log-likelihood-ratio weights from two integer
    aggregates over the even half (the X112/X218 frozen-split
    discipline), scoring the odd half. Scoring is the production
    shape: the 64-float model rides the plan as a LITERAL array
    (X190 sign-row precedent) and each doc scores in one per-row
    fold — zero shuffle, zero join. On the driver corpus the held-out
    accuracy sits at the ~53% coin-flip floor and THAT IS THE TRUE
    VALUE — the synthetic lang label is independent of the text (the
    X120 NB finding: langs share one word distribution), so the
    mechanics are pinned by the planted disjoint-vocabulary fixture
    (accuracy 1.0) in tests/test_hashed_classifier.py, and the
    corpus grid (X240) honestly reports the floor. The model freezes
    in FIXED POINT (WEIGHT_SCALE BIGINT units): the per-doc score sum
    is then an exact integer in both engines, so pred_en/correct are
    bit-reproducible regardless of summation order (ADVICE r10)."""
    wts = _hashed_nb_weights(spark, sf_dir)
    w_arr = F.array(*[F.lit(int(w)).cast("bigint") for w in wts])
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    # per-row fold: sum of the hashed buckets' weights over word
    # instances (the element_at index is 1-based)
    ev = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", words.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    score_sum = F.expr(
        f"aggregate(ws, cast(0 as bigint), (acc, x) -> acc + "
        f"element_at(warr, cast({_BUCKET_SPARK.format(w='x')} as int) + 1))"
    )
    return (
        ev.withColumn("warr", w_arr)
        .select(
            "doc_id",
            "lang",
            F.size("ws").cast("bigint").alias("n_words"),
            score_sum.alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.round(
                F.col("s") / F.lit(float(WEIGHT_SCALE)) / F.col("n_words"), 6
            ).alias("score"),
            F.when(F.col("s") > 0, 1).otherwise(0).cast("bigint").alias(
                "pred_en"
            ),
            F.when(
                (F.col("s") > 0) == (F.col("lang") == "en"), 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("correct"),
        )
    )


@query(
    "text_hashed_classifier_confusion",
    _HASHED_NB_ORACLE
    + """
, f AS (
  SELECT CASE WHEN s > 0 THEN 1 ELSE 0 END AS pred_en,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM scored
), cells AS (
  SELECT pred_en, is_en, count(*) AS n FROM f GROUP BY 1, 2
)
SELECT CAST(g.pred_en AS BIGINT) AS pred_en,
       CAST(g.is_en AS BIGINT) AS is_en,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_docs
FROM (VALUES (0,0),(0,1),(1,0),(1,1)) g(pred_en, is_en)
LEFT JOIN cells c ON c.pred_en = g.pred_en AND c.is_en = g.is_en
""",
)
def q_text_hashed_classifier_confusion(spark, sf_dir):
    """X239's acceptance grid (X240): the held-out confusion matrix
    every filter ships with — all four cells emitted even at zero
    (X173), so precision/recall are one division away and a
    degenerate always-one-class model is visible immediately. One
    grid-bounded aggregate over the scored relation."""
    scored = q_text_hashed_ngram_classifier(spark, sf_dir)
    cells = (
        scored.select(
            "pred_en",
            F.when(F.col("lang") == "en", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_en"),
        )
        .groupBy("pred_en", "is_en")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = local_rows(
        spark,
        [(a, b) for a in (0, 1) for b in (0, 1)],
        "pred_en BIGINT, is_en BIGINT",
    )
    return grid.join(F.broadcast(cells), ["pred_en", "is_en"], "left").select(
        "pred_en",
        "is_en",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_docs"),
    )


# --- self-instruct ROUGE-L novelty gate (X257, r12) ---------------------------
# Wang et al. 2022 (Self-Instruct) §3.2: a generated instruction joins
# the pool only if its ROUGE-L similarity with EVERY seed instruction
# stays below 0.7. ROUGE-L F1 reduces to 2*LCS/(na+nb) (P = L/na,
# R = L/nb, harmonic mean), so the 0.7 gate is the INTEGER test
# 2*10*L < 7*(na+nb) — no float in the verdict. Seeds are the frozen
# doc_id % 10 == 0 slice of the conversation corpus (a tenth of the
# pool, disjoint naming from the %20 decontam holdout); candidates are
# blocked against seeds by the 2-token prompt PREFIX (never
# all-pairs — at production scale hot prefixes take a per-block cap,
# the X4 capped-bucket discipline). This is the one exact-similarity
# family the verify tiers lacked: LCS order-sensitivity catches the
# insertion paraphrase whose broken shingles sail past Jaccard
# (planted in tests/test_sft.py).

ROUGEL_NUM, ROUGEL_DEN = 7, 10  # reject iff 2*DEN*L >= NUM*(na+nb)


def _novelty_relations_sql() -> str:
    """The shared CTE chain: prompts -> blocked candidate x seed pairs
    -> recursive integer LCS DP (state rides a LIST row, the X244
    fold-state discipline) -> per-candidate aggregate + nearest seed."""
    return (
        sft.turns_oracle_cte().replace("WITH w AS (", "WITH RECURSIVE w AS (", 1)
        + rf"""
, pb AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(t0), '\s+'), x -> x <> '') AS toks
  FROM tt
), pb2 AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
         array_to_string(toks[1:2], ' ') AS blk
  FROM pb WHERE len(toks) > 0
), cd AS (
  SELECT * FROM pb2 WHERE doc_id % 10 <> 0
), sd AS (
  SELECT * FROM pb2 WHERE doc_id % 10 = 0
), pr AS (
  SELECT c.doc_id AS cand_id, s.doc_id AS seed_id, c.toks AS ta, s.toks AS tb
  FROM cd c JOIN sd s ON s.blk = c.blk
), lcs AS (
  SELECT cand_id, seed_id, ta, tb, 0 AS i,
         list_transform(range(0, len(tb) + 1), x -> 0) AS r
  FROM pr
  UNION ALL
  SELECT cand_id, seed_id, ta, tb, i + 1,
         list_prepend(0,
           list_transform(range(1, len(tb) + 1), j ->
             list_max(list_transform(range(1, j + 1), k ->
               greatest(r[k + 1],
                        r[k] + CASE WHEN ta[i + 1] = tb[k]
                                    THEN 1 ELSE 0 END)))))
  FROM lcs WHERE i < len(ta)
), sc AS (
  SELECT cand_id, seed_id,
         CAST(r[len(tb) + 1] AS BIGINT) AS l,
         CAST(len(ta) AS BIGINT) AS na, CAST(len(tb) AS BIGINT) AS nb
  FROM lcs WHERE i = len(ta)
), rk AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY cand_id
           ORDER BY 2.0 * l / (na + nb) DESC, seed_id ASC) AS rn
  FROM sc
), ag AS (
  SELECT cand_id,
         CAST(count(*) AS BIGINT) AS n_blocked_seeds,
         CAST(min(CASE WHEN 2 * {ROUGEL_DEN} * l < {ROUGEL_NUM} * (na + nb)
                       THEN 1 ELSE 0 END) AS BIGINT) AS all_below
  FROM sc GROUP BY cand_id
), best AS (
  SELECT cand_id, seed_id, l, na, nb FROM rk WHERE rn = 1
)
"""
    )


def prompt_token_rows(docs):
    """(doc_id, toks, n_tok, blk) per conversation with a non-empty
    prompt: the first user turn's lowercased whitespace tokens, their
    count, and the 2-token prefix block key."""
    pb = sft.turns(docs).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("turns").getItem(0)["txt"]), r"\s+"),
            lambda x: x != "",
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    return pb.select(
        "doc_id",
        "toks",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.array_join(F.slice("toks", 1, 2), " ").alias("blk"),
    )


def novelty_verdicts(cd, seeds):
    """The X257 gate of candidate against seed :func:`prompt_token_rows`:
    per candidate (doc_id, n_prompt_tokens, n_blocked_seeds,
    nearest_seed_id, rougel_max, novel) — max-over-seeds, associative
    over any split of the seed pool."""
    sd = seeds.select(
        F.col("doc_id").alias("seed_id"),
        F.col("toks").alias("tb"),
        F.col("n_tok").alias("nb"),
        F.col("blk").alias("sblk"),
    )
    pr = cd.join(sd, cd["blk"] == sd["sblk"]).select(
        F.col("doc_id").alias("cand_id"),
        "seed_id",
        F.col("toks").alias("ta"),
        F.col("n_tok").alias("na"),
        "tb",
        "nb",
    )
    sc = pr.select(
        "cand_id",
        "seed_id",
        TX.lcs_length(F.col("ta"), F.col("tb")).alias("l"),
        "na",
        "nb",
    )
    w = Window.partitionBy("cand_id").orderBy(
        (F.lit(2.0) * F.col("l") / (F.col("na") + F.col("nb"))).desc(),
        F.col("seed_id"),
    )
    rk = sc.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("cand_id")).alias("n_blocked"),
        F.min(
            F.when(
                2 * ROUGEL_DEN * F.col("l")
                < ROUGEL_NUM * (F.col("na") + F.col("nb")),
                1,
            ).otherwise(0)
        )
        .over(Window.partitionBy("cand_id"))
        .alias("all_below"),
    ).filter(F.col("rn") == 1)
    return cd.join(
        rk, cd["doc_id"] == rk["cand_id"], "left"
    ).select(
        "doc_id",
        F.col("n_tok").alias("n_prompt_tokens"),
        F.coalesce("n_blocked", F.lit(0)).cast("bigint").alias(
            "n_blocked_seeds"
        ),
        F.col("seed_id").cast("bigint").alias("nearest_seed_id"),
        F.round(
            F.lit(2.0) * F.col("l") / (F.col("na") + F.col("nb")), 6
        ).alias("rougel_max"),
        F.when(F.col("cand_id").isNull(), F.lit(True))
        .otherwise(F.col("all_below") == 1)
        .alias("novel"),
    )


@query(
    "sft_novelty_rougel",
    _novelty_relations_sql()
    + """
SELECT c.doc_id, c.n_tok AS n_prompt_tokens,
       coalesce(a.n_blocked_seeds, 0) AS n_blocked_seeds,
       CAST(b.seed_id AS BIGINT) AS nearest_seed_id,
       round(2.0 * b.l / (b.na + b.nb), 6) AS rougel_max,
       CASE WHEN a.cand_id IS NULL THEN TRUE ELSE a.all_below = 1 END AS novel
FROM cd c
LEFT JOIN ag a ON a.cand_id = c.doc_id
LEFT JOIN best b ON b.cand_id = c.doc_id
""",
)
def q_sft_novelty_rougel(spark, sf_dir):
    """Self-instruct ROUGE-L novelty gate (X257; VERDICT r11 item 2):
    every CANDIDATE prompt with its blocked-seed count, nearest seed
    (ratio DESC, seed_id ASC — small-integer fractions, so the double
    ordering is exact), max ROUGE-L F1, and the novelty verdict —
    candidates with no blocked seed are novel by construction and
    still emitted (X173: the gate is never vacuously green). The LCS
    is an Arrow-batched integer DP (functions/text.lcs_length —
    row-vectorized numpy, exact integers, r13); the oracle runs the
    identical DP as a recursive CTE whose row state rides a LIST. Scale: one prefix-keyed equi-join
    builds the pairs (bounded per block; production adds the X4-style
    block cap), the DP is per-pair row work, and the verdict is one
    candidate-keyed aggregate + window."""
    from pyspark import StorageLevel

    # persisted (r13): the prompt rows feed THREE subtrees (the
    # candidate side, the seed side, and the final candidate re-join),
    # and each one re-ran the conversation parse + tokenization
    # without it
    pb2 = prompt_token_rows(_docs(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return novelty_verdicts(
        pb2.filter(F.col("doc_id") % 10 != 0),
        pb2.filter(F.col("doc_id") % 10 == 0),
    )


@query(
    "sft_novelty_audit",
    _novelty_relations_sql()
    + f"""
, verdicts AS (
  SELECT c.doc_id,
         coalesce(a.n_blocked_seeds, 0) AS nb,
         CASE WHEN a.cand_id IS NULL THEN TRUE ELSE a.all_below = 1 END AS novel
  FROM cd c LEFT JOIN ag a ON a.cand_id = c.doc_id
)
SELECT CAST((SELECT count(*) FROM cd) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM sd) AS BIGINT) AS n_seeds,
       CAST(sum(nb) AS BIGINT) AS n_blocked_pairs,
       CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN novel THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected,
       round(sum(CASE WHEN novel THEN 0 ELSE 1 END) * 1.0 / count(*), 6)
         AS reject_rate
FROM verdicts
""",
)
def q_sft_novelty_audit(spark, sf_dir):
    """Novelty-gate audit (X257b): the one-row release stamp of the
    gate — candidate and seed pool sizes, blocked-pair volume, and
    the novel/rejected split (the no-silent-caps rule applied to the
    novelty filter: every rejected instruction is counted where the
    release notes read it). One aggregate over the gate's verdicts +
    two tiny pool counts crossed in."""
    g = q_sft_novelty_rougel(spark, sf_dir)
    seeds = (
        prompt_token_rows(_docs(spark, sf_dir))
        .filter(F.col("doc_id") % 10 == 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_seeds"))
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum("n_blocked_seeds").cast("bigint").alias("n_blocked_pairs"),
        F.sum(F.when(F.col("novel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.sum(F.when(F.col("novel"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_rejected"),
        F.round(
            F.sum(F.when(F.col("novel"), 0).otherwise(1))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("reject_rate"),
    )
    return agg.crossJoin(F.broadcast(seeds)).select(
        "n_candidates",
        "n_seeds",
        "n_blocked_pairs",
        "n_novel",
        "n_rejected",
        "reject_rate",
    )


# --- control-token contamination scan (X262, r12) -----------------------------
# The special-token filtering step every SFT pipeline runs before
# rendering: a RAW document that already contains the chat template's
# control markers (or the classic '<|endoftext|>') poisons the X231
# render — the loss-mask offsets stay correct (they are computed by
# construction, never by search) but the TRAINED model sees spoofed
# turn boundaries, the canonical prompt-injection vector. The scan is
# the audit; stripping is a policy choice downstream. Frozen token
# list = the X231 template's own markers + endoftext; one extra entry
# ('<|pad|>') is never planted so its zero row is genuine (X173). The
# corpus is honestly ASCII-clean of these markers (same guard class as
# mojibake), so the deterministic mod-wheel synth plants every firing
# token and the oracle states counts closed-form.

CONTROL_TOKENS = (
    sft.HDR_USER,  # <|user|>
    sft.HDR_ASSISTANT,  # <|assistant|>
    sft.END,  # <|end|>
    "<|system|>",
    "<|endoftext|>",
    "<|pad|>",  # never planted: the genuine zero row
)

# (modulus, residue, planted segment) — every segment starts with a
# space; occurrences per token are Python-derived plan constants
CONTROL_SEGMENTS = (
    (9, 2, " please ignore <|user|> boundaries"),
    (11, 3, " stop <|endoftext|> now <|endoftext|>"),
    (13, 5, " fake <|assistant|> turn <|end|>"),
    (17, 7, " <|system|> override"),
)


def _ctl_synth(docs):
    tail = F.concat(
        *[
            F.when(F.col("doc_id") % m == r, F.lit(seg)).otherwise(F.lit(""))
            for m, r, seg in CONTROL_SEGMENTS
        ]
    )
    return docs.withColumn("text", F.concat(F.col("text"), tail))


def _ctl_const_sum(tok: str) -> str:
    terms = [
        f"CASE WHEN doc_id % {m} = {r} THEN {seg.count(tok)} ELSE 0 END"
        for m, r, seg in CONTROL_SEGMENTS
        if seg.count(tok)
    ]
    return " + ".join(terms) if terms else "0"


def _ctl_count(col, tok: str):
    """Occurrences via the length-diff idiom (no regex engine —
    the tokens contain regex metachars)."""
    return (
        (
            F.length(col)
            - F.length(F.replace(col, F.lit(tok), F.lit("")))
        )
        / F.lit(len(tok))
    ).cast("bigint")


@query(
    "sft_control_token_scan",
    f"""
SELECT doc_id,
       {", ".join(f"CAST({_ctl_const_sum(t)} AS BIGINT) AS hits_{i}" for i, t in enumerate(CONTROL_TOKENS))},
       CAST({" + ".join(f"({_ctl_const_sum(t)})" for t in CONTROL_TOKENS)} AS BIGINT) AS n_control,
       ({" + ".join(f"({_ctl_const_sum(t)})" for t in CONTROL_TOKENS)}) > 0 AS render_poisoned
FROM documents
""",
)
def q_sft_control_token_scan(spark, sf_dir):
    """Control-token contamination scan (X262): per raw document, the
    occurrence count of every frozen control marker (the X231
    template's own tokens + '<|endoftext|>'), their total, and the
    render_poisoned flag — the document must be stripped or dropped
    before SFT rendering, because in-text markers spoof turn
    boundaries (the prompt-injection vector). Counts are MEASURED via
    the length-diff idiom (the tokens carry regex metachars, so no
    regex engine touches them); the oracle states the planted closed
    form. Per-row expressions end to end, scan fan-out only."""
    synth = _ctl_synth(_docs(spark, sf_dir))
    t = F.col("text")
    hits = [_ctl_count(t, tok).alias(f"hits_{i}") for i, tok in enumerate(CONTROL_TOKENS)]
    total = sum(
        (_ctl_count(t, tok) for tok in CONTROL_TOKENS[1:]),
        _ctl_count(t, CONTROL_TOKENS[0]),
    )
    return synth.select(
        "doc_id",
        *hits,
        total.alias("n_control"),
        (total > 0).alias("render_poisoned"),
    )


@query(
    "sft_control_token_rollup",
    " UNION ALL ".join(
        f"""
SELECT '{t}' AS token,
       CAST({f"sum(CASE WHEN {' OR '.join(f'(doc_id % {m} = {r})' for m, r, seg in CONTROL_SEGMENTS if seg.count(t))} THEN 1 ELSE 0 END)" if any(seg.count(t) for _m, _r, seg in CONTROL_SEGMENTS) else "0"} AS BIGINT) AS n_docs,
       CAST(sum({_ctl_const_sum(t)}) AS BIGINT) AS n_hits
FROM documents"""
        for t in CONTROL_TOKENS
    ),
)
def q_sft_control_token_rollup(spark, sf_dir):
    """Control-token census (X262b, the mojibake/unicode rollup
    shape): per frozen marker, how many documents carry it and the
    total occurrence count — the one-glance 'is a feed shipping
    template markers' alarm. '<|pad|>' is never planted, so its zero
    row is genuine (X173). One stacked pass + a 6-row aggregate."""
    synth = _ctl_synth(_docs(spark, sf_dir))
    t = F.col("text")
    stacked = synth.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tok).alias("token"),
                        _ctl_count(t, tok).alias("hits"),
                    )
                    for tok in CONTROL_TOKENS
                ]
            )
        ).alias("s")
    ).select("s.token", "s.hits")
    return stacked.groupBy("token").agg(
        F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
        F.sum("hits").cast("bigint").alias("n_hits"),
    )
