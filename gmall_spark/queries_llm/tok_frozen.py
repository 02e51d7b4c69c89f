"""Frozen tokenizer tier (X139) and the unigram-LM (SentencePiece-class) tokenizer tier (X194-X196).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.queries import _t, query
from gmall_spark.session import local_rows
from gmall_spark.queries_llm.prelude import _docs

# --- frozen-tokenizer encoding (X139) ---------------------------------------

from gmall_spark.operators import bpe as _bpe_ops  # noqa: E402


@query("llm_bpe_encode_frozen", _bpe_ops.frozen_encode_oracle_sql())
def q_llm_bpe_encode_frozen(spark, sf_dir):
    """Frozen-tokenizer encoding (X139): every document tokenized
    under a TRAINED rank-ordered merge list — the deployment shape of
    the X109 BPE training loop (train once, encode every batch under
    the frozen artifact; the per-doc token counts are what the X134
    budget plan and X115 fertility report consume). Applying one merge
    is a greedy left-to-right fold (the X109-pinned non-overlap rule);
    k merges are k NESTED per-row folds over the word array — no
    explode, no token shuffle, zero exchanges at any corpus size. Both
    engines run the same fold from the same merge literal
    (operators/bpe.encode_expr_spark / encode_expr_duckdb)."""
    enc = _bpe_ops.encode_expr_spark("w")
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS words",
    ).selectExpr(
        "doc_id",
        "cast(size(words) as bigint) AS n_words",
        "cast(aggregate(words, 0L, (a, w) -> a + length(w)) as bigint)"
        " AS n_base_tokens",
        f"cast(aggregate(words, 0L, (a, w) -> a + size({enc})) as bigint)"
        " AS n_tokens",
    ).selectExpr(
        "doc_id",
        "n_words",
        "n_base_tokens",
        "n_tokens",
        "CASE WHEN n_tokens = 0 THEN NULL"
        " ELSE round(n_base_tokens * 1.0 / n_tokens, 6) END AS compression",
    )


@query("llm_bpe_decode_frozen", _bpe_ops.frozen_decode_oracle_sql())
def q_llm_bpe_decode_frozen(spark, sf_dir):
    """Frozen-tokenizer DECODE + round-trip audit (X176, VERDICT r7
    item 6 — closes the X109/X139 loop): every word re-encoded under
    the frozen merge list, decoded back by replaying the merges in
    REVERSE (each multi-char token expands to its unique (l, r)
    producer, innermost last), and compared — the invariant
    decode(encode(w)) == w is additionally hypothesis-tested over
    random alphabet words, and a token NOT producible by the frozen
    tokenizer decodes to the OOV marker instead of silently
    corrupting text (planted-fixture test). Same zero-shuffle nested
    per-row fold shape as the encode pass; both engines replay the
    identical merge literal (operators/bpe.decode_expr_*)."""
    enc = _bpe_ops.encode_expr_spark("w")
    dec = _bpe_ops.decode_expr_spark(f"({enc})")
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        r"filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS words",
    ).selectExpr(
        "doc_id",
        "cast(size(words) as bigint) AS n_words",
        f"cast(aggregate(words, 0L,"
        f" (a, w) -> a + CASE WHEN ({dec}) = w THEN 1L ELSE 0L END)"
        f" as bigint) AS n_roundtrip",
    ).selectExpr(
        "doc_id", "n_words", "n_roundtrip",
        "n_roundtrip = n_words AS roundtrip_exact",
    )


# --- frozen unigram-LM (SentencePiece-class) tokenizer tier (X194-X196) ----

from gmall_spark.operators import unigram as _uni  # noqa: E402


def _unigram_word_stream(spark, sf_dir, group_col: str):
    """(group_col, w, cnt) word counts + the distinct-word Viterbi
    segmentation table — the shared scaffolding of the X194-X196
    queries. The word-count relation feeds both the distinct-word
    derivation and the final rollup join, so it is persisted (and
    registered for the plan-budget suite)."""
    from pyspark import StorageLevel

    from gmall_spark.operators.ranking import _toks

    tok = (
        _docs(spark, sf_dir)
        .select(group_col, F.explode(_toks(F.col("text"))).alias("w"))
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    key = _uni.viterbi_key_expr_spark("w")
    seg = tok.select("w").distinct().selectExpr("w", f"{key} AS key")
    return tok, seg


@query("llm_unigram_encode_frozen", _uni.encode_oracle_sql())
def q_llm_unigram_encode_frozen(spark, sf_dir):
    """Frozen unigram-LM segmentation (X194, Kudo 2018; VERDICT r8
    item 2): every word segmented by Viterbi under the frozen
    integer-cost vocab — the SentencePiece deployment shape beside
    the BPE tier (X139). The DP is ONE aggregate() fold per word
    whose per-prefix state is a sortable key string (zero-padded
    cost | pieces), so "best" is a plain lexicographic MIN — total
    order, integer-exact, no libm, identical in Spark, DuckDB, and
    the hypothesis suite's Python reference
    (operators/unigram.viterbi_key_expr_spark). Scale shape: Viterbi
    runs on the DISTINCT-WORD table only (Heaps-bounded, the X109
    discipline — one corpus-sized explode/count, vocabulary-sized
    DP, broadcast join back; at 100 TB the join falls back to a hash
    join on w). Docs with zero [a-z0-9] words are emitted with zeroed
    counts and NULL compression (the X187 zero-char discipline)."""
    tok, seg = _unigram_word_stream(spark, sf_dir, "doc_id")
    segc = seg.selectExpr(
        "w",
        "cast(substring(key, 1, 12) as bigint) AS wcost",
        "cast(size(split(substring(key, 14), ' ')) as bigint) AS n_pieces",
    )
    out = (
        tok.join(F.broadcast(segc), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(F.col("cnt") * F.col("n_pieces")).cast("bigint").alias("n_pieces"),
            F.sum(F.col("cnt") * F.col("wcost")).cast("bigint").alias("unigram_cost"),
            F.round(
                F.sum(F.col("cnt") * F.length("w")).cast("double")
                / F.sum(F.col("cnt") * F.col("n_pieces")),
                6,
            ).alias("compression"),
        )
    )
    zero = (
        _docs(spark, sf_dir)
        .filter(~F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_words"),
            F.lit(0).cast("bigint").alias("n_chars"),
            F.lit(0).cast("bigint").alias("n_pieces"),
            F.lit(0).cast("bigint").alias("unigram_cost"),
            F.lit(None).cast("double").alias("compression"),
        )
    )
    return out.unionByName(zero)


@query("llm_unigram_decode_frozen", _uni.decode_oracle_sql())
def q_llm_unigram_decode_frozen(spark, sf_dir):
    """Unigram decode + round-trip/OOV audit (X195): unigram decode
    is piece concatenation, so decode(encode(w)) == w is a THEOREM
    whenever the winning path emits only true substrings — what this
    audits cross-engine is the sentinel-never-wins property (an OOV
    piece costs SENTINEL_COST, always beaten by its single chars, so
    n_oov_pieces must be 0 on every winning segmentation; the
    companion hypothesis test proves it over random words). Same
    distinct-word scaffolding as X194."""
    tok, seg = _unigram_word_stream(spark, sf_dir, "doc_id")
    member = _uni.in_vocab_case("p")
    segc = seg.selectExpr(
        "w",
        "CASE WHEN replace(substring(key, 14), ' ', '') = w"
        " THEN 1L ELSE 0L END AS rt",
        f"cast(size(filter(split(substring(key, 14), ' '),"
        f" p -> ({member}) = 0)) as bigint) AS n_oov",
    )
    out = (
        tok.join(F.broadcast(segc), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("rt")).cast("bigint").alias("n_roundtrip"),
            F.sum(F.col("cnt") * F.col("n_oov")).cast("bigint").alias("n_oov_pieces"),
        )
        .withColumn(
            "roundtrip_exact", F.col("n_roundtrip") == F.col("n_words")
        )
    )
    zero = (
        _docs(spark, sf_dir)
        .filter(~F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_words"),
            F.lit(0).cast("bigint").alias("n_roundtrip"),
            F.lit(0).cast("bigint").alias("n_oov_pieces"),
            F.lit(True).alias("roundtrip_exact"),
        )
    )
    return out.unionByName(zero)


@query("llm_unigram_vocab_prune", _uni.prune_oracle_sql())
def q_llm_unigram_vocab_prune(spark, sf_dir):
    """Unigram vocab prune scoring (X202) — the M-step observable of
    the SentencePiece training loop (Kudo 2018 §3.2 prunes the pieces
    whose removal least increases corpus cost): for every prunable
    (multi-char) vocab piece, its corpus-weighted usage and the exact
    cost increase if it were dropped — each affected word re-segmented
    LEAVE-ONE-OUT (the excluded piece priced at the sentinel, so the
    DP routes around it; single chars guarantee a route exists).
    prune_rank orders the report cheapest-to-drop first; UNUSED vocab
    pieces surface at delta 0 — the prime candidates. Scale shape:
    the re-segmentation runs once per (distinct word, distinct used
    piece) — bounded by pieces-per-word x distinct words, a small
    multiple of the X194 encode pass; everything else is the piece-
    grid rollup. All-integer deltas; oracle replays the identical
    leave-one-out fold."""
    from pyspark import StorageLevel

    from gmall_spark.operators.ranking import _toks

    tok = (
        _docs(spark, sf_dir)
        .select(F.explode(_toks(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    key = _uni.viterbi_key_expr_spark("w")
    seg = tok.selectExpr("w", "cnt", f"{key} AS key").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pw = (
        seg.selectExpr(
            "w", "explode(split(substring(key, 14), ' ')) AS piece"
        )
        .groupBy("w", "piece")
        .agg(F.count(F.lit(1)).alias("uses"))
        .filter(F.length("piece") >= 2)
    )
    key_x = _uni.viterbi_key_expr_spark("w", excl="piece")
    ex = pw.join(seg, "w").selectExpr(
        "piece",
        "cnt",
        "uses",
        f"cast(substring({key_x}, 1, 12) as bigint)"
        " - cast(substring(key, 1, 12) as bigint) AS delta",
    )
    agg = ex.groupBy("piece").agg(
        F.count(F.lit(1)).alias("usage_words"),
        F.sum(F.col("cnt") * F.col("uses")).alias("usage_occs"),
        F.sum(F.col("cnt") * F.col("delta")).alias("cost_delta"),
    )
    vocab = local_rows(
        spark,
        [(p,) for p in sorted(_uni.FROZEN_UNIGRAM_VOCAB) if len(p) >= 2],
        "piece string",
    )
    w_rank = Window.orderBy(
        F.coalesce("cost_delta", F.lit(0)), F.asc("piece")
    )
    return (
        vocab.join(agg, "piece", "left")
        .select(
            "piece",
            F.coalesce("usage_words", F.lit(0)).cast("bigint").alias("usage_words"),
            F.coalesce("usage_occs", F.lit(0)).cast("bigint").alias("usage_occs"),
            F.coalesce("cost_delta", F.lit(0)).cast("bigint").alias("cost_delta"),
        )
        .withColumn("prune_rank", F.row_number().over(w_rank).cast("bigint"))
    )


@query("text_tokenizer_fertility_frozen", _uni.fertility_oracle_sql())
def q_text_tokenizer_fertility_frozen(spark, sf_dir):
    """BPE-vs-unigram fertility comparison (X196): the X115 harness
    re-run over the two FROZEN tokenizers — per language, subwords
    per word under the frozen BPE merge list (X139) and under the
    frozen unigram vocab (X194), from the SAME word stream, plus
    their ratio (unigram_vs_bpe < 1 where Viterbi's global optimum
    beats greedy merges) — the standard artifact-selection report a
    multilingual pipeline reads before committing a tokenizer. Both
    segmenters run once per DISTINCT word; ratios divide integer
    sums (one IEEE divide + round, identical cross-engine)."""
    tok, seg = _unigram_word_stream(spark, sf_dir, "lang")
    bpe = _bpe_ops.encode_expr_spark("w")
    segc = seg.selectExpr(
        "w",
        "cast(size(split(substring(key, 14), ' ')) as bigint) AS n_pieces",
    ).selectExpr("w", "n_pieces", f"cast(size({bpe}) as bigint) AS n_bpe")
    return (
        tok.join(F.broadcast(segc), "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_bpe")).cast("bigint").alias("n_subwords_bpe"),
            F.sum(F.col("cnt") * F.col("n_pieces"))
            .cast("bigint")
            .alias("n_subwords_unigram"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_bpe")).cast("double") / F.sum("cnt"), 6
            ).alias("fertility_bpe"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_pieces")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("fertility_unigram"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_pieces")).cast("double")
                / F.sum(F.col("cnt") * F.col("n_bpe")),
                6,
            ).alias("unigram_vs_bpe"),
        )
    )


