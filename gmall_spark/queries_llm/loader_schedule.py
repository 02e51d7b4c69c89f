"""Loader-schedule family: the deterministic epoch/shard deal (X128),
curriculum ordering (X249), staged mixture schedule (X250),
quality-tier repeat plan (X251), the epoch-shard manifest (X252), the
repeat-expanded stream (X256) and the final per-doc sampling weight
(X263).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gmall_spark.functions import text as TX
from gmall_spark.queries import query
from gmall_spark.queries_llm.prelude import _docs

SHARD_N = 8
SHARD_EPOCHS = 2


@query(
    "llm_epoch_shards",
    f"""
WITH e AS (
  SELECT d.doc_id, ep.epoch,
         CAST(('0x' || substr(md5(ep.epoch || ':' || d.doc_id), 1, 8)) AS BIGINT)
           AS h
  FROM documents d
  CROSS JOIN (SELECT unnest(range(1, {SHARD_EPOCHS + 1})) AS epoch) ep
)
SELECT doc_id,
       CAST(epoch AS BIGINT) AS epoch,
       CAST(h % {SHARD_N} AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY epoch, h % {SHARD_N}
                               ORDER BY h, doc_id) AS BIGINT) AS pos
FROM e
""",
)
def q_llm_epoch_shards(spark, sf_dir):
    """Deterministic epoch shuffling + shard assignment (X128): the
    reproducible data-ORDER layer of a training run — per epoch, each
    doc hashes (md5 of epoch:doc_id, the repo's engine-portable
    bucket) to one of SHARD_N loader shards and takes its position
    from the hash order, so every re-run (and every engine) deals the
    exact same deal, and consecutive epochs get independent orders
    without any stored permutation. Scale shape: position is a window
    per (epoch, shard) — the corpus-wide sort decomposes into
    SHARD_N independent partition sorts, exactly how a distributed
    loader shards; no global sort, no driver state."""
    d = _docs(spark, sf_dir)
    e = d.select("doc_id").crossJoin(
        spark.range(1, SHARD_EPOCHS + 1).select(F.col("id").alias("epoch"))
    ).select(
        "doc_id",
        "epoch",
        F.expr(
            "cast(conv(substring(md5(concat(epoch, ':', doc_id)), 1, 8), 16, 10)"
            " as bigint)"
        ).alias("h"),
    )
    w = Window.partitionBy("epoch", F.col("h") % SHARD_N).orderBy("h", "doc_id")
    return e.select(
        "doc_id",
        F.col("epoch").cast("bigint").alias("epoch"),
        (F.col("h") % SHARD_N).cast("bigint").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )



# --- curriculum data ordering (X249, r11) -------------------------------------


@query(
    "llm_curriculum_order",
    f"""
WITH sh AS (
  SELECT d.doc_id, ep.epoch,
         CAST(('0x' || substr(md5(ep.epoch || ':' || d.doc_id), 1, 8)) AS BIGINT)
           AS h
  FROM documents d
  CROSS JOIN (SELECT unnest(range(1, {SHARD_EPOCHS + 1})) AS epoch) ep
), bk AS (
  SELECT doc_id, bucket_id FROM ({{BUCKETS}})
), j AS (
  SELECT sh.doc_id, sh.epoch, sh.h, COALESCE(bk.bucket_id, 2) AS bucket_id
  FROM sh LEFT JOIN bk ON bk.doc_id = sh.doc_id
)
SELECT doc_id,
       CAST(epoch AS BIGINT) AS epoch,
       CAST(h % {SHARD_N} AS BIGINT) AS shard,
       CAST(bucket_id AS BIGINT) AS bucket_id,
       CAST(row_number() OVER (
         PARTITION BY epoch, h % {SHARD_N}
         ORDER BY CASE WHEN epoch = 1 THEN bucket_id ELSE 0 END, h, doc_id
       ) AS BIGINT) AS pos
FROM j
""",
)
def q_llm_curriculum_order(spark, sf_dir):
    """Curriculum data ordering (X249; Bengio et al. 2009 curriculum
    learning, the warmup-then-anneal recipe production runs use): the
    X128 deterministic epoch/shard deal with a DIFFICULTY-AWARE first
    epoch — within each (epoch 1, shard), documents sort easy-first
    by their CCNet tier (head=1 before middle before tail; the X108
    registered bucketing is the difficulty score), then the hash
    order breaks ties; later epochs fall back to the pure X128 hash
    order (the anneal — curriculum only warms up, it never biases the
    steady state). Unscored docs (no bigram) take the middle tier by
    the stated rule, so no document vanishes from an epoch. Scale:
    the corpus-wide sort still decomposes into SHARD_N independent
    partition sorts per epoch (one window, conditional sort key);
    the tier attach is a doc_id join against the shared scored
    fixture."""
    from gmall_spark.queries_llm.corpus_lm import q_text_perplexity_buckets

    d = _docs(spark, sf_dir)
    sh = d.select("doc_id").crossJoin(
        spark.range(1, SHARD_EPOCHS + 1).select(F.col("id").alias("epoch"))
    ).select(
        "doc_id",
        "epoch",
        F.expr(
            "cast(conv(substring(md5(concat(epoch, ':', doc_id)), 1, 8), 16, 10)"
            " as bigint)"
        ).alias("h"),
    )
    bk = q_text_perplexity_buckets(spark, sf_dir).select(
        F.col("doc_id").alias("b_doc_id"), "bucket_id"
    )
    j = sh.join(bk, sh["doc_id"] == bk["b_doc_id"], "left").select(
        "doc_id",
        "epoch",
        "h",
        F.coalesce("bucket_id", F.lit(2)).alias("bucket_id"),
    )
    w = Window.partitionBy("epoch", F.col("h") % SHARD_N).orderBy(
        F.when(F.col("epoch") == 1, F.col("bucket_id")).otherwise(F.lit(0)),
        "h",
        "doc_id",
    )
    return j.select(
        "doc_id",
        F.col("epoch").cast("bigint").alias("epoch"),
        (F.col("h") % SHARD_N).cast("bigint").alias("shard"),
        F.col("bucket_id").cast("bigint").alias("bucket_id"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


from gmall_spark.queries import ORACLES as _OR_CURR  # noqa: E402

_OR_CURR["llm_curriculum_order"] = _OR_CURR["llm_curriculum_order"].replace(
    "{BUCKETS}", _OR_CURR["text_perplexity_buckets"]
)


# --- staged domain-mixture schedule (X250, r11) -------------------------------

MIX_SCHEDULE_EPOCHS = 4


@query(
    "llm_mix_schedule",
    rf"""
WITH d AS (
  SELECT source,
         CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS domain_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT source, domain_tokens,
         SUM(domain_tokens) OVER () AS total_tokens,
         COUNT(*) OVER () AS n_domains
  FROM d
), ep AS (
  SELECT unnest(range(1, {MIX_SCHEDULE_EPOCHS + 1})) AS epoch
)
SELECT t.source, CAST(ep.epoch AS BIGINT) AS epoch, t.domain_tokens,
       round(CAST(t.domain_tokens AS DOUBLE) / t.total_tokens, 6)
         AS natural_share,
       round(1.0 / t.n_domains, 6) AS target_share,
       round(
         (({MIX_SCHEDULE_EPOCHS} - ep.epoch)
            * (CAST(t.domain_tokens AS DOUBLE) / t.total_tokens)
          + (ep.epoch - 1) * (1.0 / t.n_domains))
         / {MIX_SCHEDULE_EPOCHS - 1}.0, 6) AS mix_weight
FROM t CROSS JOIN ep
""",
)
def q_llm_mix_schedule(spark, sf_dir):
    """Staged domain-mixture schedule (X250): the per-epoch sampling
    weights a curriculum-mixed run interpolates from the NATURAL
    corpus composition (epoch 1) to the BALANCED target (final
    epoch) — the two-phase/midtraining mixing knob, stated as one
    table so the loader and the audit read the same numbers (the X117
    temperature mix is the stationary special case; this is its
    schedule). Linear interpolation in the shares, computed from the
    same integers in both engines (token counts / totals), rounded at
    emission. Scale: one source-keyed token aggregate (corpus touched
    once, map-side combine) crossed with the constant epoch grid —
    the schedule is domains x epochs rows at any corpus size."""
    E = MIX_SCHEDULE_EPOCHS
    d = _docs(spark, sf_dir)
    agg = (
        d.select("source", TX.bpe_token_count(F.col("text")).alias("__tok"))
        .groupBy("source")
        .agg(F.sum("__tok").cast("bigint").alias("domain_tokens"))
    )
    w = Window.partitionBy()
    t = agg.select(
        "source",
        "domain_tokens",
        F.sum("domain_tokens").over(w).alias("__total"),
        F.count(F.lit(1)).over(w).alias("__n"),
    )
    ep = spark.range(1, E + 1).select(F.col("id").alias("epoch"))
    nat = F.col("domain_tokens").cast("double") / F.col("__total")
    uni = F.lit(1.0) / F.col("__n")
    return t.crossJoin(ep).select(
        "source",
        F.col("epoch").cast("bigint").alias("epoch"),
        "domain_tokens",
        F.round(nat, 6).alias("natural_share"),
        F.round(uni, 6).alias("target_share"),
        F.round(
            ((F.lit(E) - F.col("epoch")) * nat + (F.col("epoch") - 1) * uni)
            / F.lit(float(E - 1)),
            6,
        ).alias("mix_weight"),
    )


# --- quality-tier repeat plan (X251, r11) -------------------------------------

# Frozen repeat policy (Muennighoff et al. 2023, arXiv:2305.16264:
# repetition value decays fast past ~4 epochs): head tier repeats 4x,
# middle 2x, tail 1x — the data-constrained budget knob stated as
# integers so both engines compute identical effective tokens.
REPEAT_EPOCHS = {1: 4, 2: 2, 3: 1}


@query(
    "llm_repeat_plan",
    f"""
WITH bk AS (
  SELECT doc_id, lang, bucket_id, bucket FROM ({{BUCKETS}})
), tok AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT bk.lang, CAST(bk.bucket_id AS BIGINT) AS bucket_id, bk.bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok.n_tok) AS BIGINT) AS n_tokens,
       CAST(CASE bk.bucket_id WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END AS BIGINT)
         AS repeat_epochs,
       CAST(sum(tok.n_tok) * CASE bk.bucket_id WHEN 1 THEN 4 WHEN 2 THEN 2
                                               ELSE 1 END AS BIGINT)
         AS effective_tokens
FROM bk JOIN tok ON tok.doc_id = bk.doc_id
GROUP BY bk.lang, bk.bucket_id, bk.bucket
""",
)
def q_llm_repeat_plan(spark, sf_dir):
    """Quality-tier repeat plan (X251; Muennighoff 2023
    data-constrained scaling): how many epochs each CCNet tier
    repeats under the frozen policy (head 4x / middle 2x / tail 1x —
    repetition value decays past ~4 epochs, and the best data earns
    the repeats), with per-(lang, tier) token mass and the resulting
    EFFECTIVE token budget — the one-table answer to 'how much
    training data do we actually have?' under quality-weighted
    repetition. Tiers are the registered X108 bucketing (the
    full-corpus assignment; the X243 KN cut covers the frozen-split
    eval population and migrates here when the corpus-wide model is
    KN — same cut algebra either way). Scale: the tier table joins
    token counts at doc grain, then one (lang, tier)-keyed aggregate;
    the policy is a plan literal."""
    from gmall_spark.queries_llm.corpus_lm import q_text_perplexity_buckets

    bk = q_text_perplexity_buckets(spark, sf_dir).select(
        F.col("doc_id").alias("b_doc_id"), "lang", "bucket_id", "bucket"
    )
    tok = _docs(spark, sf_dir).select(
        "doc_id", TX.bpe_token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    rep = (
        F.when(F.col("bucket_id") == 1, 4)
        .when(F.col("bucket_id") == 2, 2)
        .otherwise(1)
    )
    return (
        bk.join(tok, bk["b_doc_id"] == tok["doc_id"])
        .groupBy("lang", "bucket_id", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.max(rep).cast("bigint").alias("repeat_epochs"),
            (F.sum("n_tok") * F.max(rep)).cast("bigint").alias(
                "effective_tokens"
            ),
        )
    )


from gmall_spark.queries import ORACLES as _OR_REP  # noqa: E402

_OR_REP["llm_repeat_plan"] = _OR_REP["llm_repeat_plan"].replace(
    "{BUCKETS}", _OR_REP["text_perplexity_buckets"]
)


# --- epoch-shard loader manifest (X252, r11) ----------------------------------


@query(
    "llm_shard_manifest",
    f"""
WITH e AS (
  SELECT d.doc_id, ep.epoch,
         CAST(('0x' || substr(md5(ep.epoch || ':' || d.doc_id), 1, 8)) AS BIGINT)
           AS h,
         CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.text), 1, 15)) AS BIGINT) AS ch
  FROM documents d
  CROSS JOIN (SELECT unnest(range(1, {SHARD_EPOCHS + 1})) AS epoch) ep
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(h % {SHARD_N} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(ch) AS DECIMAL(38, 0)) AS content_sum
FROM e GROUP BY 1, 2
""",
)
def q_llm_shard_manifest(spark, sf_dir):
    """Epoch-shard loader manifest (X252): the per-(epoch, shard)
    stamp a distributed loader verifies before training — doc count,
    token mass (balance check: the md5 deal should spread tokens
    evenly), and the X191 order-independent content checksum (plain
    SUM of per-row 60-bit md5 ints in DECIMAL(38,0) — integer
    addition commutes, shuffle order can't flip a digit), so a wrong
    or stale shard is caught by one row compare instead of a
    re-read. One (epoch, shard)-keyed aggregate over the X128 deal;
    everything per-row before it."""
    d = _docs(spark, sf_dir)
    e = d.crossJoin(
        spark.range(1, SHARD_EPOCHS + 1).select(F.col("id").alias("epoch"))
    ).selectExpr(
        "epoch",
        "cast(conv(substring(md5(concat(epoch, ':', doc_id)), 1, 8), 16, 10)"
        " as bigint) AS h",
        "doc_id",
        "text",
    )
    return (
        e.select(
            F.col("epoch").cast("bigint").alias("epoch"),
            (F.col("h") % SHARD_N).cast("bigint").alias("shard"),
            TX.bpe_token_count(F.col("text")).cast("bigint").alias("n_tok"),
            F.expr(
                "cast(conv(substring(md5(concat(cast(doc_id as string), ':',"
                " text)), 1, 15), 16, 10) as decimal(38,0))"
            ).alias("ch"),
        )
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("ch").cast("decimal(38,0)").alias("content_sum"),
        )
    )

# --- repeat-expanded loader stream (X256, r12) --------------------------------


@query(
    "llm_repeat_expanded_shards",
    f"""
WITH bk AS (
  SELECT doc_id, lang, bucket_id, bucket FROM ({{BUCKETS}})
), tok AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok
  FROM documents
), e AS (
  SELECT bk.doc_id, bk.lang, bk.bucket_id, bk.bucket, tok.n_tok,
         unnest(range(1, (CASE bk.bucket_id WHEN 1 THEN 4 WHEN 2 THEN 2
                                            ELSE 1 END) + 1)) AS repeat_idx
  FROM bk JOIN tok ON tok.doc_id = bk.doc_id
), h AS (
  SELECT *,
         CAST(('0x' || substr(md5(repeat_idx || ':' || doc_id), 1, 8)) AS BIGINT)
           AS h
  FROM e
)
SELECT doc_id, lang, CAST(bucket_id AS BIGINT) AS bucket_id, bucket,
       CAST(repeat_idx AS BIGINT) AS repeat_idx, n_tok,
       CAST(h % {SHARD_N} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY repeat_idx, h % {SHARD_N}
         ORDER BY CASE WHEN repeat_idx = 1 THEN bucket_id ELSE 0 END, h, doc_id
       ) AS BIGINT) AS pos
FROM h
""",
)
def q_llm_repeat_expanded_shards(spark, sf_dir):
    """Repeat-expanded loader stream (X256; VERDICT r11 item 4): the
    X251 repeat plan MATERIALIZED — every scored document appears once
    per earned epoch (head 4x, middle 2x, tail 1x, tagged repeat_idx)
    and each copy rides the X249 curriculum deal: repeat_idx plays the
    epoch role in the md5 shard hash (so copy r of doc d lands exactly
    where epoch r of the X128 deal puts it), the first pass orders
    easy-first by tier (the warmup), later passes take the pure hash
    order (the anneal). Token mass CONSERVES by construction — the
    per-(lang, tier) sum over copies equals X251's effective budget,
    pinned as a theorem test. Scale: the tier table joins token counts
    at doc grain, the repeat explode is a bounded per-row sequence
    (max 4), and position is one window per (repeat_idx, shard) —
    SHARD_N x 4 independent partition sorts, no global sort."""
    from gmall_spark.queries_llm.corpus_lm import q_text_perplexity_buckets

    bk = q_text_perplexity_buckets(spark, sf_dir).select(
        F.col("doc_id").alias("b_doc_id"), "lang", "bucket_id", "bucket"
    )
    tok = _docs(spark, sf_dir).select(
        "doc_id", TX.bpe_token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    rep = (
        F.when(F.col("bucket_id") == 1, 4)
        .when(F.col("bucket_id") == 2, 2)
        .otherwise(1)
    )
    e = (
        bk.join(tok, bk["b_doc_id"] == tok["doc_id"])
        .select(
            "doc_id",
            "lang",
            "bucket_id",
            "bucket",
            "n_tok",
            F.explode(F.sequence(F.lit(1), rep)).alias("repeat_idx"),
        )
        .withColumn(
            "h",
            F.expr(
                "cast(conv(substring(md5(concat(repeat_idx, ':', doc_id)),"
                " 1, 8), 16, 10) as bigint)"
            ),
        )
    )
    w = Window.partitionBy("repeat_idx", F.col("h") % SHARD_N).orderBy(
        F.when(F.col("repeat_idx") == 1, F.col("bucket_id")).otherwise(
            F.lit(0)
        ),
        "h",
        "doc_id",
    )
    return e.select(
        "doc_id",
        "lang",
        F.col("bucket_id").cast("bigint").alias("bucket_id"),
        "bucket",
        F.col("repeat_idx").cast("bigint").alias("repeat_idx"),
        "n_tok",
        (F.col("h") % SHARD_N).cast("bigint").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


from gmall_spark.queries import ORACLES as _OR_EXP  # noqa: E402

_OR_EXP["llm_repeat_expanded_shards"] = _OR_EXP[
    "llm_repeat_expanded_shards"
].replace("{BUCKETS}", _OR_EXP["text_perplexity_buckets"])


# --- final per-doc sampling weight (X263, r12) --------------------------------


def _final_weights_oracle() -> str:
    from gmall_spark.queries import ORACLES as _O

    return f"""
SELECT d.doc_id, d.source,
       s.weight AS dedup_weight,
       m.keep_rate,
       CAST(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS dsir_kept,
       round(s.weight * m.keep_rate
             * CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END, 6)
         AS sample_weight
FROM documents d
JOIN ({_O["dedup_soft_weights"]}) s ON s.doc_id = d.doc_id
JOIN ({_O["llm_domain_mix_weights"]}) m ON m.source = d.source
LEFT JOIN ({_O["llm_dsir_resample"]}) r ON r.doc_id = d.doc_id
WHERE d.doc_id % 20 <> 0
"""


@query("llm_final_sample_weights", None)  # oracle attached below
def q_llm_final_sample_weights(spark, sf_dir):
    """Final per-doc sampling weight (X263): the ONE number per
    trainable document a loader's sampler consumes, composed from the
    registered selection/weighting stages exactly the way a DSIR-era
    pipeline multiplies its heuristics — soft-dedup down-weighting
    (X124: 1/|duplicate group|) x the domain-mix keep rate (the
    per-source rebalancing cap) x the DSIR resample verdict (the
    kept-quarter gate; a dropped doc carries weight 0 but is EMITTED,
    X173 — the zero is the honest record, not a missing row). The
    holdout twentieth is excluded by definition (it is never trainable
    data). Every factor is the registered relation's own rounded
    output, so the oracle composes the registered texts and the two
    engines multiply identical doubles. Scale: doc-keyed joins of
    corpus-sized relations (honest shuffles) + the tiny per-source
    table broadcast."""
    from gmall_spark.queries import QUERIES as _Q

    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 20 != 0).select(
        "doc_id", "source"
    )
    soft = _Q["dedup_soft_weights"](spark, sf_dir).select(
        "doc_id", F.col("weight").alias("dedup_weight")
    )
    mix = _Q["llm_domain_mix_weights"](spark, sf_dir).select(
        "source", "keep_rate"
    )
    kept = _Q["llm_dsir_resample"](spark, sf_dir).select("doc_id").withColumn(
        "__r", F.lit(1)
    )
    return (
        d.join(soft, "doc_id")
        .join(F.broadcast(mix), "source")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "dedup_weight",
            "keep_rate",
            F.coalesce("__r", F.lit(0)).cast("bigint").alias("dsir_kept"),
            F.round(
                F.col("dedup_weight")
                * F.col("keep_rate")
                * F.coalesce("__r", F.lit(0)),
                6,
            ).alias("sample_weight"),
        )
    )


from gmall_spark.queries import ORACLES as _OR_FW  # noqa: E402

_OR_FW["llm_final_sample_weights"] = _final_weights_oracle()
