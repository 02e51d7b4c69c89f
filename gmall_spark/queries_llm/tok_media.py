"""WordPiece tokenizer tier (X205-X206), edit-distance verify + FIM transform (X207-X208), leakage-safe group split (X210), shot boundaries/canary/rollup (X212-X214).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from gmall_spark.operators import (
    llm_dedup,
    multimodal,
)
from gmall_spark.queries import _t, query
from gmall_spark.operators import unigram as _uni
from gmall_spark.queries_llm.prelude import (
    SQL_MINHASH,
    _SQL_GROUP_CTES,
    _docs,
    _shot_boundaries,
    _transitive_groups,
)
from gmall_spark.queries_llm.tok_frozen import _unigram_word_stream
from gmall_spark.queries_llm.packing_release import (
    _SPLIT_SQL_DUCK,
    _SPLIT_SQL_SPARK,
)

# --- frozen WordPiece (BERT-class) tokenizer tier (X205-X206) -------------

from gmall_spark.operators import wordpiece as _wp  # noqa: E402


@query("llm_wordpiece_encode_frozen", _wp.encode_oracle_sql())
def q_llm_wordpiece_encode_frozen(spark, sf_dir):
    """Frozen WordPiece segmentation (X205; Schuster & Nakajima 2012,
    Wu et al. 2016 — the BERT tokenizer): greedy longest-match-first
    under a frozen initial/continuation vocab, word-level [UNK] when
    no piece matches. The third tokenizer family next to BPE greedy
    merges (X139) and unigram-LM Viterbi (X194); greedy matching is
    already a total order, so unlike the Viterbi key strings there is
    no tie to break — pure string membership, no costs, no libm
    (operators/wordpiece.wordpiece_key_expr_spark). Digits are
    initial-only in the frozen vocab, so numbers and mid-word digits
    hit the [UNK] path; the synthetic corpus is a fixed letters-only
    31-word vocabulary, so n_unk_words is legitimately 0 here and
    the UNK branch is carried by the hypothesis suite + a planted
    unit test (the X187-class discipline). Scale shape: the fold
    runs on the
    DISTINCT-WORD table only (Heaps-bounded, the X109 discipline),
    broadcast join back; docs with zero [a-z0-9] words are emitted
    with zeroed counts and NULL fertility (the X187 discipline)."""
    tok, _ = _unigram_word_stream(spark, sf_dir, "doc_id")
    key = _wp.wordpiece_key_expr_spark("w")
    segc = tok.select("w").distinct().selectExpr(
        "w",
        f"substring({key}, 8) AS pieces",
    ).selectExpr(
        "w",
        f"CASE WHEN pieces = '{_wp.UNK}' THEN 1L ELSE 0L END AS unk",
        "cast(size(split(pieces, ' ')) as bigint) AS n_pieces",
    )
    out = (
        tok.join(F.broadcast(segc), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("unk")).cast("bigint").alias("n_unk_words"),
            F.sum(F.col("cnt") * F.col("n_pieces")).cast("bigint").alias("n_pieces"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_pieces")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("fertility"),
        )
    )
    zero = (
        _docs(spark, sf_dir)
        .filter(~F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_words"),
            F.lit(0).cast("bigint").alias("n_unk_words"),
            F.lit(0).cast("bigint").alias("n_pieces"),
            F.lit(None).cast("double").alias("fertility"),
        )
    )
    return out.unionByName(zero)


@query("llm_tokenizer_fertility_triple", _wp.fertility_triple_oracle_sql())
def q_llm_tokenizer_fertility_triple(spark, sf_dir):
    """Three-tokenizer fertility comparison (X206): BPE greedy merges
    (X139), unigram-LM Viterbi (X194), and WordPiece greedy
    longest-match (X205) over the SAME per-language word stream — the
    X115 harness completed across all three segmentation families a
    tokenizer evaluation compares, plus the WordPiece UNK rate (the
    coverage-vs-compression trade the other two don't have: BPE and
    unigram degrade to single chars, WordPiece refuses the word).
    One distinct-word pass computes all three segmentations; each is
    a per-row fold, zero shuffle beyond the word count."""
    from gmall_spark.operators.bpe import encode_expr_spark

    tok, _ = _unigram_word_stream(spark, sf_dir, "lang")
    uni = _uni.viterbi_key_expr_spark("w")
    bpe = encode_expr_spark("w")
    wp = _wp.wordpiece_key_expr_spark("w")
    segc = tok.select("w").distinct().selectExpr(
        "w",
        f"cast(size({bpe}) as bigint) AS n_bpe",
        f"cast(size(split(substring({uni}, 14), ' ')) as bigint) AS n_uni",
        f"substring({wp}, 8) AS wp",
    ).selectExpr(
        "w", "n_bpe", "n_uni",
        "cast(size(split(wp, ' ')) as bigint) AS n_wp",
        f"CASE WHEN wp = '{_wp.UNK}' THEN 1L ELSE 0L END AS unk",
    )
    return (
        tok.join(F.broadcast(segc), "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_bpe")).cast("bigint").alias("n_subwords_bpe"),
            F.sum(F.col("cnt") * F.col("n_uni")).cast("bigint").alias("n_subwords_unigram"),
            F.sum(F.col("cnt") * F.col("n_wp")).cast("bigint").alias("n_subwords_wordpiece"),
            F.sum(F.col("cnt") * F.col("unk")).cast("bigint").alias("n_unk_words"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_bpe")).cast("double") / F.sum("cnt"), 6
            ).alias("fertility_bpe"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_uni")).cast("double") / F.sum("cnt"), 6
            ).alias("fertility_unigram"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_wp")).cast("double") / F.sum("cnt"), 6
            ).alias("fertility_wordpiece"),
        )
    )


# --- edit-distance verify tier + FIM transform (X207-X208) ----------------

# edit-sim >= 0.8 <=> 100*lev <= 20*max_len: the integer-exact
# threshold form (no float enters the verdict, the X88 discipline)
EDIT_SIM_MAX_PCT = 20


def edit_verify_rows(cand, texts):
    """(doc_a, doc_b) candidates x (doc_id, text) rows -> every
    candidate with its Levenshtein distance, max length, edit
    similarity and integer near-dup verdict (doc_a, doc_b, lev,
    max_len, edit_sim, is_near_dup)."""
    return (
        F.broadcast(cand)
        .join(texts.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("text", "text_a"), "doc_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("text", "text_b"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b",
            "cast(levenshtein(text_a, text_b) as bigint) AS lev",
            "cast(greatest(length(text_a), length(text_b)) as bigint)"
            " AS max_len",
            "round(1.0D - cast(levenshtein(text_a, text_b) as double)"
            " / greatest(length(text_a), length(text_b)), 6) AS edit_sim",
            f"100 * levenshtein(text_a, text_b)"
            f" <= {EDIT_SIM_MAX_PCT} * greatest(length(text_a),"
            f" length(text_b)) AS is_near_dup",
        )
    )


@query(
    "dedup_edit_distance_verify",
    SQL_MINHASH
    + f"""
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
       CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len,
       round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                   / greatest(length(da.text), length(db.text)), 6) AS edit_sim,
       100 * levenshtein(da.text, db.text)
         <= {EDIT_SIM_MAX_PCT} * greatest(length(da.text), length(db.text))
         AS is_near_dup
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
""",
)
def q_dedup_edit_distance_verify(spark, sf_dir):
    """Edit-distance verification of LSH candidates (X207): the
    OTHER exact verify tier next to Jaccard (X4) — Levenshtein
    distance over the candidate pairs the MinHash bands surface,
    with the near-dup verdict as an INTEGER comparison
    (100*lev <= 20*max_len <=> edit similarity >= 0.8; no float in
    the verdict, the X88 discipline). Character-grain edit distance
    catches what shingle Jaccard is blind to (heavy local edits that
    keep most 5-grams intact score high Jaccard but low edit-sim,
    and vice versa for global reorderings of intact sentences) —
    the second opinion a production fuzzy-dedup verify pass runs.
    EVERY candidate is emitted with its flag (X173 discipline).
    Scale shape: candidates come from the X4 band join (corpus never
    self-joined); the tiny pair set broadcast-joins the corpus text
    twice; Levenshtein is O(len^2) per pair but pairs are
    band-collision-bounded. Both engines run their built-in
    Wagner-Fischer (integer output — the hash compare would catch
    any semantic divergence; the property suite cross-checks both
    against a Python DP on random strings)."""
    from gmall_spark.operators import llm_dedup

    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "doc_id",
        F.explode(llm_dedup.shingle_array("text")).alias("shingle"),
    )
    sigs = llm_dedup.minhash_signatures(sh)
    cand = llm_dedup.lsh_candidate_pairs(sigs)
    return edit_verify_rows(cand, docs.select("doc_id", "text"))


# FIM gating/split constants: 50% of docs transformed, mode split
# evenly; all randomness is md5-derived (reproducible across engines,
# runs, and cluster sizes — the llm_stratified_sample discipline)
FIM_RATE_16BIT = 32768  # 50% of 65536


def _fim_exprs(dialect: str) -> dict[str, str]:
    """The shared FIM expression set. ``dialect`` picks the hex->int
    idiom; every other fragment is identical SQL text in Spark and
    DuckDB (substring/length/md5/concat semantics agree)."""
    if dialect == "spark":
        def hx(salt: str, width: int) -> str:
            return (
                f"cast(conv(substring(md5(concat('{salt}|',"
                f" cast(doc_id as string))), 1, {width}), 16, 10)"
                f" as bigint)"
            )
    else:
        def hx(salt: str, width: int) -> str:
            return (
                f"CAST(('0x' || substr(md5('{salt}|' ||"
                f" CAST(doc_id AS VARCHAR)), 1, {width})) AS BIGINT)"
            )
    gate = f"{hx('fim', 4)} < {FIM_RATE_16BIT}"
    mode = f"CASE WHEN {hx('fimmode', 4)} % 2 = 0 THEN 'psm' ELSE 'spm' END"
    p1 = f"{hx('fimlo', 8)} % (length(text) + 1)"
    p2 = f"{hx('fimhi', 8)} % (length(text) + 1)"
    return {
        "gate": gate,
        "mode": mode,
        "lo": f"least({p1}, {p2})",
        "hi": f"greatest({p1}, {p2})",
    }


def _fim_oracle_sql() -> str:
    e = _fim_exprs("duckdb")
    return f"""
WITH base AS (
  SELECT doc_id, text, {e['gate']} AS fim_applied,
         {e['mode']} AS mode0, {e['lo']} AS lo0, {e['hi']} AS hi0
  FROM documents
), cut AS (
  SELECT doc_id, text, fim_applied,
         CASE WHEN fim_applied THEN mode0 ELSE 'plain' END AS fim_mode,
         CASE WHEN fim_applied THEN lo0 ELSE 0 END AS lo,
         CASE WHEN fim_applied THEN hi0 ELSE 0 END AS hi
  FROM base
), pieces AS (
  SELECT doc_id, fim_applied, fim_mode,
         CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
         substring(text, 1, CAST(lo AS INTEGER)) AS pre,
         substring(text, CAST(lo + 1 AS INTEGER),
                   CAST(hi - lo AS INTEGER)) AS mid,
         substring(text, CAST(hi + 1 AS INTEGER)) AS suf,
         text
  FROM cut
)
SELECT doc_id, fim_applied, fim_mode, lo, hi,
       CAST(length(mid) AS BIGINT) AS n_middle_chars,
       md5(CASE fim_mode
           WHEN 'psm' THEN '<|pre|>' || pre || '<|suf|>' || suf
                           || '<|mid|>' || mid
           WHEN 'spm' THEN '<|suf|>' || suf || '<|pre|>' || pre
                           || '<|mid|>' || mid
           ELSE text END) AS out_md5
FROM pieces
"""


@query("llm_fim_transform", _fim_oracle_sql())
def q_llm_fim_transform(spark, sf_dir):
    """Fill-in-the-middle training transform (X208; Bavarian et al.
    2022, arXiv:2207.14255): split each gated document at two
    md5-derived character positions into (prefix, middle, suffix)
    and re-emit with sentinels — PSM order
    ``<|pre|> p <|suf|> s <|mid|> m`` or SPM order
    ``<|suf|> s <|pre|> p <|mid|> m``, 50/50 by hash; ungated docs
    pass through as 'plain'. All randomness is md5-derived (gate,
    mode, both cut points), so the transform is REPRODUCIBLE across
    engines, runs, and cluster sizes — the llm_stratified_sample
    discipline; rand() never appears. The reassembly theorem
    (prefix||middle||suffix == text, any lo<=hi) is pinned by a unit
    test; the registered output carries the md5 of the transformed
    text plus the cut geometry, so the oracle hash-checks the WHOLE
    transform, not a summary. Scale shape: pure per-row expressions,
    zero shuffle, no UDF."""
    e = _fim_exprs("spark")
    return (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id", "text",
            f"{e['gate']} AS fim_applied",
            f"{e['mode']} AS mode0",
            f"{e['lo']} AS lo0",
            f"{e['hi']} AS hi0",
        )
        .selectExpr(
            "doc_id", "text", "fim_applied",
            "CASE WHEN fim_applied THEN mode0 ELSE 'plain' END AS fim_mode",
            "cast(CASE WHEN fim_applied THEN lo0 ELSE 0 END as bigint) AS lo",
            "cast(CASE WHEN fim_applied THEN hi0 ELSE 0 END as bigint) AS hi",
        )
        .selectExpr(
            "doc_id", "fim_applied", "fim_mode", "lo", "hi",
            "substring(text, 1, cast(lo as int)) AS pre",
            "substring(text, cast(lo + 1 as int), cast(hi - lo as int))"
            " AS mid",
            "substring(text, cast(hi + 1 as int)) AS suf",
            "text",
        )
        .selectExpr(
            "doc_id", "fim_applied", "fim_mode", "lo", "hi",
            "cast(length(mid) as bigint) AS n_middle_chars",
            "md5(CASE fim_mode"
            " WHEN 'psm' THEN concat('<|pre|>', pre, '<|suf|>', suf,"
            " '<|mid|>', mid)"
            " WHEN 'spm' THEN concat('<|suf|>', suf, '<|pre|>', pre,"
            " '<|mid|>', mid)"
            " ELSE text END) AS out_md5",
        )
    )


# --- group-aware (leakage-safe) train/val/test split (X210) ----------------


def _group_split_oracle() -> str:
    doc_split = _SPLIT_SQL_DUCK
    grp_split = _SPLIT_SQL_DUCK.replace("doc_id", "group_key")
    return (
        SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
        + _SQL_GROUP_CTES
        + f"""
, keyed AS (
  SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_key,
         g.group_id IS NOT NULL AS is_grouped
  FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id
)
SELECT k.doc_id, k.group_key, k.is_grouped,
       {grp_split} AS split,
       ({grp_split}) <> ({doc_split.replace("doc_id", "k.doc_id")}) AS moved
FROM keyed k
"""
    )


@query("llm_split_by_group", _group_split_oracle())
def q_llm_split_by_group(spark, sf_dir):
    """Group-aware train/val/test split (X210) — the REMEDIATION for
    what the X189 audit measures: hash the SPLIT decision on the
    transitive near-dup group representative (singletons: the doc
    itself), so a group can never span two splits — leakage-free BY
    CONSTRUCTION, not by audit (the reason production pipelines
    split by group, not by document; Lee et al. 2021 §6). Same md5
    thresholds and hash form as the doc-level split, so ungrouped
    docs keep their X189 assignment bit-for-bit and `moved` fires
    exactly on the grouped docs whose group rep hashes elsewhere —
    true on the real corpus (X189 finds leaked groups at sf0.01).
    The zero-leak theorem (one distinct split per group) is pinned
    by a unit test re-running the X189 audit grouping on this
    output. Scale shape: the shared X6 components fixture
    (broadcast-scale group table) left-joined to the corpus; the
    split itself is a per-row expression."""
    doc_split = _SPLIT_SQL_SPARK
    grp_split = _SPLIT_SQL_SPARK.replace("doc_id", "group_key")
    groups = _transitive_groups(spark, sf_dir)
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(F.broadcast(groups), "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(group_id, doc_id) AS group_key",
            "group_id IS NOT NULL AS is_grouped",
        )
        .selectExpr(
            "doc_id", "group_key", "is_grouped",
            f"{grp_split} AS split",
            f"({grp_split}) <> ({doc_split}) AS moved",
        )
    )


# --- shot-boundary detection + canary scan (X212-X213) ---------------------


@query(
    "multimodal_shot_boundaries",
    f"""
SELECT d.doc_id, CAST(i.f AS BIGINT) AS frame_idx,
       CAST(((CASE WHEN i.f = 3 + d.doc_id % 2 OR i.f = 6
                   THEN {multimodal.SHOT_JUMP} ELSE 0 END) + 3) * 256
            AS BIGINT) AS total_abs_diff,
       (CASE WHEN i.f = 3 + d.doc_id % 2 OR i.f = 6
             THEN {multimodal.SHOT_JUMP} ELSE 0 END) + 3
         >= {multimodal.SHOT_MIN_DIFF} AS is_cut
FROM documents d
JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS i(f)
  ON i.f < {multimodal.SHOT_BASE_FRAMES} + d.doc_id % 3
""",
)
def q_multimodal_shot_boundaries(spark, sf_dir):
    """Video shot-boundary detection end to end (X212): a
    deterministic multi-shot corpus of REAL RIFF/AVI containers
    (three shots per doc — within a shot the R channel drifts
    +1/frame, at each planted cut it jumps SHOT_JUMP) rides the
    genuine container path — encode → chunk walk → consecutive DIB
    decode → EXACT total absolute pixel difference — with the cut
    verdict as an INTEGER comparison (total >= min_diff·w·h; no
    float anywhere, the X88 discipline). The oracle states the
    closed form every adjacent pair must reproduce: drift pairs read
    (1+2)·256, cut pairs (SHOT_JUMP+3)·256 — both branches fire on
    every document. Every adjacent pair is emitted with its flag
    (X173). This is the scene-segmentation pass a video pretraining
    pipeline runs before captioning/frame selection (PySceneDetect's
    content detector shape). Scale: Arrow-batched mapInPandas, blobs
    never leave the executors, zero shuffles
    (operators/multimodal.avi_shot_boundaries). The detector output is
    a shared per-(session, sf_dir) fixture — the X214 rollup reads the
    SAME table, so the frame decode runs once per corpus, not once per
    consumer (VERDICT r9 item 2)."""
    return _shot_boundaries(spark, sf_dir)


# Canary phrases: two that genuinely occur in the corpus (so hit
# counting is exercised by data) and one that can never occur (the
# actual canary use-case: a planted secret that MUST report zero —
# emitted with its zero row, the X173 discipline).
CANARY_PHRASES = ("data stream", "hash join", "zq9 canary zq9")


def phrase_counts(docs, phrases, key: str):
    """(key, docs_hit, total_hits) per phrase over ``docs.text``: the
    docs holding it and its non-overlapping occurrences, counted with
    the length-diff idiom (replace-diff over phrase length — no regex,
    no explode) in ONE stack() pass, never per-phrase unions. Every
    phrase reports, zero rows included. The canary scan, the mojibake
    census and their streaming twins all count through this."""
    stack_args = ", ".join(
        f"'{p}', (length(text) - length(replace(text, '{p}', '')))"
        f" div length('{p}')"
        for p in phrases
    )
    return (
        docs.selectExpr(f"stack({len(phrases)}, {stack_args}) AS ({key}, n)")
        .groupBy(key)
        .agg(
            F.sum(F.when(F.col("n") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_hit"),
            F.sum("n").cast("bigint").alias("total_hits"),
        )
    )


def _canary_oracle() -> str:
    vals = ", ".join(f"('{c}')" for c in CANARY_PHRASES)
    return f"""
WITH canaries(canary) AS (VALUES {vals}),
hits AS (
  SELECT c.canary, d.doc_id,
         (length(d.text) - length(replace(d.text, c.canary, '')))
           // length(c.canary) AS n
  FROM canaries c CROSS JOIN documents d
)
SELECT canary,
       CAST(count(*) FILTER (n > 0) AS BIGINT) AS docs_hit,
       CAST(sum(n) AS BIGINT) AS total_hits
FROM hits GROUP BY canary
"""


@query("llm_canary_scan", _canary_oracle())
def q_llm_canary_scan(spark, sf_dir):
    """Memorization-canary scan (X213; Carlini et al. 2019 'secret
    sharer' shape): count exact occurrences of each watched phrase
    across the corpus — the extraction-test bookkeeping a training
    run does for planted canaries, and the cheap 'did the secret
    leak into the corpus?' sweep before release. Occurrence counting
    is pure integer string arithmetic (replace-diff over phrase
    length — no regex, no explode); two watched phrases genuinely
    occur in the corpus and the true canary reports its zero row
    (X173: an empty alarm table would be vacuously green). Scale:
    |canaries| × corpus per-row expressions, one grid-bounded
    aggregate, zero extra shuffle."""
    return phrase_counts(_docs(spark, sf_dir), CANARY_PHRASES, "canary")


# --- shot segments rollup (X214) -------------------------------------------


@query(
    "multimodal_video_shots",
    f"""
WITH p AS (
  SELECT doc_id,
         3 + doc_id % 2 AS c1,
         {multimodal.SHOT_BASE_FRAMES} + doc_id % 3 AS n
  FROM documents
)
SELECT doc_id, CAST(0 AS BIGINT) AS shot_idx, CAST(0 AS BIGINT) AS start_frame,
       CAST(c1 - 1 AS BIGINT) AS end_frame, CAST(c1 AS BIGINT) AS n_frames
FROM p
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), CAST(c1 AS BIGINT),
       CAST(5 AS BIGINT), CAST(6 - c1 AS BIGINT)
FROM p
UNION ALL
SELECT doc_id, CAST(2 AS BIGINT), CAST(6 AS BIGINT),
       CAST(n - 1 AS BIGINT), CAST(n - 6 AS BIGINT)
FROM p
""",
)
def q_multimodal_video_shots(spark, sf_dir):
    """Shot segments rollup (X214): the X212 boundary flags turned
    into the (shot, span) table a video curation pipeline actually
    consumes (one keyframe per shot, per-shot captioning). ONE pass
    over the detector output: per doc, collect the sorted cut
    positions, bracket them with [0, n], and unfold the spans with a
    transform/inline HOF — the detector (and its real DIB decode of
    every frame pair) runs exactly once; a two-consumer formulation
    (frame grid + windowed cut count) would decode every video
    TWICE, the orders_ingest_gaps multi-consumer trap. Composes the
    REGISTERED detector's shared fixture table (_shot_boundaries), so
    a container or decode bug upstream breaks this hash too AND the
    frame decode runs once per corpus across both consumers (VERDICT
    r9 item 2); the oracle states the three planted shots' spans in
    closed form per document. Docs with no cuts degrade to one
    full-length shot (sequence(0, size(cuts)) handles any cut
    count)."""
    b = _shot_boundaries(spark, sf_dir)
    return (
        b.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("is_cut"), F.col("frame_idx")))
            ).alias("cuts"),
            (F.max("frame_idx") + 1).alias("n"),
        )
        .selectExpr(
            "doc_id",
            "concat(array(0L), cuts, array(n)) AS bounds",
        )
        .selectExpr(
            "doc_id",
            "inline(transform(sequence(0, size(bounds) - 2), i -> named_struct("
            "'shot_idx', cast(i as bigint), "
            "'start_frame', cast(element_at(bounds, i + 1) as bigint), "
            "'end_frame', cast(element_at(bounds, i + 2) - 1 as bigint), "
            "'n_frames', cast(element_at(bounds, i + 2)"
            " - element_at(bounds, i + 1) as bigint))))",
        )
    )


