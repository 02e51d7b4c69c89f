"""Governance-aware curation (r12): dedup-keeper re-election under the
X241 licensing/opt-out gate, the v5 release composition, the
release-to-release dataset diff, containment-winner re-election, and
pack-level license propagation (X253-X255, X259-X260).

The gap this closes (VERDICT r11 item "Governance x dedup
composition"): the X241 gate and the X89 takedown drop documents, but
the curation chain's dedup keeper policy never re-elected — if a
duplicate group's representative was governance-dropped, its
(previously pruned) surviving duplicates stayed pruned and the content
vanished from the release entirely. At production scale that is
exactly how a domain blocklist silently deletes content that has a
perfectly releasable mirror. The same bug shape exists at containment
grain (a gated container's contained copy is the content's last
releasable representative), so v5's containment drop also re-elects
(X259). Here the keeper election runs OVER THE
GOVERNANCE-SURVIVING members (X29's quality rule — most words, ties to
the lower id — restricted to the non-dropped set), so a blocked
keeper's surviving duplicate becomes the representative instead.

Blocklist discipline cite: C4 (Raffel et al. 2020) strips a frozen
badlist of domains before any content processing; the keeper policies
composed here are the repo's own X6 (exact canonical-hash groups),
X29 (quality keeper), and X241 (frozen domain gate).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_spark import fixtures_audit
from gmall_spark.functions import text as TX
from gmall_spark.operators import lm, weburl
from gmall_spark.queries import ORACLES as _OR
from gmall_spark.queries import query
from gmall_spark.queries_llm.curation import (
    _SQL_CURATION_V2,
    _replace_must_hit,
)
from gmall_spark.queries_llm.packing_release import (
    SEQ_PACK_CAP,
    _PACK_LEN_SQL,
    _curation_funnel_oracle,
    _ffd_pack_oracle,
    pack_rows,
    q_llm_corpus_curation_v4,
    q_text_char_chisq_gibberish,
)
from gmall_spark.queries_llm.prelude import (
    SQL_MINHASH,
    _SQL_GROUP_CTES,
    _boiler_clean,
    _contain_pairs,
    _docs,
    _lm_scores,
    _transitive_groups,
    _xmatch,
)
from gmall_spark.queries_llm.loader_schedule import SHARD_N
from gmall_spark.queries_llm.web_tier import (
    DOMAIN_BLOCKLIST,
    DOMAIN_OPTOUT,
    q_web_domain_optout_gate,
)

# --- the frozen gate as a pure doc_id predicate (oracle side) -----------------
# The X241 gate verdict is a pure function of the registered domain,
# which the synthetic provenance wheel derives from doc_id — so the
# oracle can state the gate as one closed-form CASE without replaying
# the URL chain (the Spark side runs the GENUINE synth -> canonicalize
# -> frozen-list chain via the registered X241 query).


def _gate_kept_sql(id_col: str = "doc_id") -> str:
    gated = ", ".join(
        f"'{d}'" for d in DOMAIN_BLOCKLIST + DOMAIN_OPTOUT
    )
    rd = weburl.registered_domain_oracle_expr(id_col)
    return f"CASE WHEN {rd} IN ({gated}) THEN 0 ELSE 1 END"


# The gate VERDICT table as a per-(session, sf_dir) stage fixture: a
# real pipeline materializes (doc_id, kept) once and every governance
# consumer reads it. Without this, each consumer re-derives the full
# synth->parse_url->canonicalize chain and Catalyst inlines it into
# every pushed filter — expressions so large whole-stage codegen
# falls back to interpreted execution (the 5 janino failures in the
# r12 bench stderr were exactly this).
@fixtures_audit.memoized("gov_gate", timed=True)
def _gate_verdicts(spark, sf_dir):
    return (
        q_web_domain_optout_gate(spark, sf_dir)
        .select("doc_id", "registered_domain", "kept")
        .localCheckpoint(eager=True)
    )


# --- shared election / containment-pair expressions (ADVICE r12) --------------
# ONE Spark builder + ONE SQL-text builder per duplicated expression,
# consumed by every call site, so the X253 election order and the
# containment winner/loser arithmetic cannot drift between copies
# (previously restated in the keeper audit, the v5 near-dup stage,
# the X259 audit, and the ledger — drift was caught only by the
# lockstep tests).


def _keeper_elect(gated: bool):
    """max_by election for the keeper total order — kept DESC (when
    gated), n_words DESC, doc_id ASC (negated id in the struct).
    Expects columns ``doc_id``, ``n_words`` and (gated) ``kept``."""
    fields = []
    if gated:
        fields.append(F.col("kept").alias("__k"))
    fields += [
        F.col("n_words").alias("__w"),
        (-F.col("doc_id")).alias("__nid"),
    ]
    return F.max_by("doc_id", F.struct(*fields))


def _contain_winner_col():
    """Containment pair's WINNER (more shingles; ties to lower id)."""
    return (
        F.when(F.col("sz_a") < F.col("sz_b"), F.col("doc_b"))
        .when(F.col("sz_b") < F.col("sz_a"), F.col("doc_a"))
        .otherwise(F.least("doc_a", "doc_b"))
    )


def _contain_loser_col():
    """Containment pair's LOSER (fewer shingles; ties to higher id)."""
    return (
        F.when(F.col("sz_a") < F.col("sz_b"), F.col("doc_a"))
        .when(F.col("sz_b") < F.col("sz_a"), F.col("doc_b"))
        .otherwise(F.greatest("doc_a", "doc_b"))
    )


def _contain_winner_sql(alias: str = "c") -> str:
    a = alias
    return (
        f"(CASE WHEN {a}.sz_a < {a}.sz_b THEN {a}.doc_b"
        f" WHEN {a}.sz_b < {a}.sz_a THEN {a}.doc_a"
        f" ELSE least({a}.doc_a, {a}.doc_b) END)"
    )


def _contain_loser_sql(alias: str = "c") -> str:
    a = alias
    return (
        f"CASE WHEN {a}.sz_a < {a}.sz_b THEN {a}.doc_a"
        f" WHEN {a}.sz_b < {a}.sz_a THEN {a}.doc_b"
        f" ELSE greatest({a}.doc_a, {a}.doc_b) END"
    )


# --- X253: governance-gated dedup keeper re-election --------------------------


@query(
    "dedup_groups_keeper_gated",
    SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
    + _SQL_GROUP_CTES
    + rf"""
, wc AS (
  SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words
  FROM documents
), gv AS (
  SELECT doc_id, {_gate_kept_sql()} AS kept FROM documents
), rk AS (
  SELECT g.group_id, g.doc_id, v.kept,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY v.kept DESC, w.n_words DESC, g.doc_id ASC)
           AS rn_g,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY w.n_words DESC, g.doc_id ASC) AS rn_u
  FROM grp g JOIN wc w ON w.doc_id = g.doc_id JOIN gv v ON v.doc_id = g.doc_id
), sz AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS group_size,
         CAST(sum(kept) AS BIGINT) AS n_surviving
  FROM rk GROUP BY group_id
)
SELECT s.group_id, s.group_size, s.n_surviving,
       CAST(u.doc_id AS BIGINT) AS keeper_ungated,
       CAST(CASE WHEN s.n_surviving > 0 THEN k.doc_id END AS BIGINT)
         AS keeper_id,
       (s.n_surviving > 0 AND k.doc_id <> u.doc_id) AS reelected
FROM sz s
JOIN (SELECT group_id, doc_id FROM rk WHERE rn_g = 1) k
  ON k.group_id = s.group_id
JOIN (SELECT group_id, doc_id FROM rk WHERE rn_u = 1) u
  ON u.group_id = s.group_id
""",
)
def q_dedup_groups_keeper_gated(spark, sf_dir):
    """Governance-gated dedup keeper re-election (X253): per
    transitive duplicate group, the keeper elected by the X29 quality
    rule (most words, ties to the lower id) OVER THE GOVERNANCE-
    SURVIVING members of the X241 gate — alongside the ungated keeper
    and a re-election flag, so the audit reads exactly which groups a
    governance drop would have silently deleted (keeper gated but a
    releasable mirror survives). Groups with NO surviving member emit
    keeper_id NULL — those genuinely leave the release. One max_by
    hash aggregate per keeper over groups ⋈ word counts ⋈ gate (the
    kept flag leads the struct order, so survivors dominate without a
    second pass); doc-keyed joins shuffle honestly (dup membership is
    corpus-sized), the group agg is the only other exchange."""
    d = _docs(spark, sf_dir)
    groups = _transitive_groups(spark, sf_dir)
    gate = _gate_verdicts(spark, sf_dir)
    scores = d.select("doc_id", TX.word_count(F.col("text")).alias("n_words"))
    j = groups.join(scores, "doc_id").join(gate, "doc_id")
    agg = j.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        F.sum("kept").cast("bigint").alias("n_surviving"),
        _keeper_elect(gated=False).cast("bigint").alias("keeper_ungated"),
        _keeper_elect(gated=True).cast("bigint").alias("__keeper_any"),
    )
    return agg.select(
        "group_id",
        "group_size",
        "n_surviving",
        "keeper_ungated",
        F.when(F.col("n_surviving") > 0, F.col("__keeper_any"))
        .cast("bigint")
        .alias("keeper_id"),
        (
            (F.col("n_surviving") > 0)
            & (F.col("__keeper_any") != F.col("keeper_ungated"))
        ).alias("reelected"),
    )


def _gated_exact_keepers(spark, sf_dir, gate_kept):
    """Min surviving doc_id per canonical text hash (the gated X6
    stage shared by v5 and the drop ledger)."""
    d = _docs(spark, sf_dir)
    canon = d.select(
        "doc_id", TX.canonical_hash(F.col("text")).alias("h")
    )
    return (
        canon.join(gate_kept, "doc_id", "semi")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def _gated_neardup_drops(spark, sf_dir, gate):
    """Every transitive-group member except the gated-elected X253
    keeper (shared by v5 and the drop ledger)."""
    d = _docs(spark, sf_dir)
    groups = _transitive_groups(spark, sf_dir)
    scores = d.select("doc_id", TX.word_count(F.col("text")).alias("n_words"))
    gk = (
        groups.join(scores, "doc_id")
        .join(gate.select("doc_id", "kept"), "doc_id")
        .groupBy("group_id")
        .agg(_keeper_elect(gated=True).alias("keeper_id"))
    )
    return (
        groups.join(gk, "group_id")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id")
    )


def _gated_containment_drops(spark, sf_dir, gate):
    """Containment losers whose winning container survives the gate
    (shared by v5 and the drop ledger)."""
    pairs = _contain_pairs(spark, sf_dir)
    wl = pairs.select(
        _contain_loser_col().alias("doc_id"),
        _contain_winner_col().alias("winner_id"),
    )
    wgate = gate.select(
        F.col("doc_id").alias("winner_id"),
        F.col("kept").alias("winner_kept"),
    )
    return (
        wl.join(wgate, "winner_id")
        .filter(F.col("winner_kept") == 1)
        .select("doc_id")
        .distinct()
    )


# --- shared v5-chain stage fixtures (r14, VERDICT r13 item 4) -----------------
# The six stage relations the drop ledger attaches (quality features,
# gated exact keepers, gated near-dup drops, gated containment drops,
# non-tail perplexity buckets, gibberish verdicts) were re-derived
# from scratch on EVERY ledger invocation (the bench pays 3x), and
# the v5 release build derived the same six relations again inside
# its own fixture. One per-(session, sf_dir) checkpoint per relation
# — the gov_gate/curation_v5 pattern, build cost line-itemed under
# `fixtures` as "ledger_stages" — and BOTH consumers read the same
# checkpoints, so the lockstep theorem (released == v5 manifest)
# holds structurally: the ledger's stage predicates and v5's stage
# filters are now the same materialized rows, not two evaluations of
# the same expressions. Every relation is narrow (doc_id + at most
# three small columns); xmatch/gate stay on their existing fixtures.
@fixtures_audit.memoized("ledger_stages", timed=True)
def _ledger_stage_fixtures(spark, sf_dir):
    d = _docs(spark, sf_dir)
    t = F.col("text")
    gate = _gate_verdicts(spark, sf_dir)
    gate_kept = gate.filter(F.col("kept") == 1).select("doc_id")

    def ck(df):
        return df.localCheckpoint(eager=True)

    return {
        "feat": ck(
            d.select(
                "doc_id",
                TX.lang_id(t).alias("lang_pred"),
                TX.word_count(t).alias("n_words"),
                F.length(t).cast("bigint").alias("n_chars"),
            )
        ),
        "ek": ck(_gated_exact_keepers(spark, sf_dir, gate_kept)),
        "nd": ck(_gated_neardup_drops(spark, sf_dir, gate).distinct()),
        "cd": ck(_gated_containment_drops(spark, sf_dir, gate)),
        "bk": ck(
            lm.perplexity_buckets(d, scored=_lm_scores(spark, sf_dir))
            .filter(F.col("bucket") != "tail")
            .select("doc_id", "bucket")
        ),
        "gb": ck(
            q_text_char_chisq_gibberish(spark, sf_dir)
            .filter("is_gibberish")
            .select("doc_id")
        ),
    }


# --- X254: corpus curation v5 (governance-aware release) ----------------------
# The v5 base re-states the v1/v2 chain with BOTH dedup stages
# governance-aware, assembled by splicing the registered v2 oracle
# text (the _replace_must_hit discipline: a v1/v2 edit that breaks a
# splice point fails loudly at import):
#   - exact keepers: min doc_id per canonical hash AMONG SURVIVORS
#     (the blocked mirror's surviving copy keeps the hash group alive)
#   - near-dup drops: every group member except the gated-elected X253
#     keeper (kept DESC, n_words DESC, doc_id ASC)
#   - the gate itself: only surviving docs reach the release

_SQL_V5_BASE = _replace_must_hit(
    _SQL_CURATION_V2,
    """, drops AS (
  SELECT doc_id FROM grp WHERE doc_id <> group_id
), canon AS (""",
    rf""", gv5 AS (
  SELECT doc_id, {_gate_kept_sql()} AS kept FROM documents
), wc5 AS (
  SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words
  FROM documents
), rk5 AS (
  SELECT g.group_id, g.doc_id,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY v.kept DESC, w.n_words DESC, g.doc_id ASC)
           AS rn
  FROM grp g JOIN wc5 w ON w.doc_id = g.doc_id JOIN gv5 v ON v.doc_id = g.doc_id
), drops AS (
  SELECT g.doc_id
  FROM grp g LEFT JOIN (SELECT group_id, doc_id FROM rk5 WHERE rn = 1) k5
    ON k5.group_id = g.group_id AND k5.doc_id = g.doc_id
  WHERE k5.doc_id IS NULL
), canon AS (""",
)
_SQL_V5_BASE = _replace_must_hit(
    _SQL_V5_BASE,
    "  SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY h",
    """  SELECT MIN(c.doc_id) AS doc_id
  FROM canon c JOIN gv5 v ON v.doc_id = c.doc_id AND v.kept = 1
  GROUP BY c.h""",
)
_SQL_V5_BASE = _replace_must_hit(
    _SQL_V5_BASE,
    "JOIN lmscore lm ON lm.doc_id = f.doc_id",
    """JOIN lmscore lm ON lm.doc_id = f.doc_id
JOIN gv5 gk5 ON gk5.doc_id = f.doc_id""",
)
_SQL_V5_BASE = _replace_must_hit(
    _SQL_V5_BASE,
    "WHERE dr.doc_id IS NULL AND xm.doc_id IS NULL AND f.doc_id % 20 <> 0",
    "WHERE dr.doc_id IS NULL AND xm.doc_id IS NULL AND f.doc_id % 20 <> 0"
    " AND gk5.kept = 1",
)


# the containment pair's WINNER (more shingles; ties to the lower id) —
# passed into the gate expression so the v5 containment drop only
# fires when the winner actually survives governance (r12: the same
# vanishing-content bug shape as the keeper, at containment grain)
_CONTAIN_WINNER = _contain_winner_sql()


def _v5_kept_oracle() -> str:
    """The v5 release set BEFORE packing: the governance-aware base
    with the v3 policy stages (containment losers out ONLY where the
    winning container survives the gate, CCNet tail cut,
    boilerplate rollup present) and the v4 gibberish gate — composed
    from the registered oracle texts so the stages stay in lockstep by
    construction."""
    return f"""
SELECT v.doc_id, v.lang_pred, b.bucket
FROM ({_SQL_V5_BASE}) v
JOIN ({_OR["text_perplexity_buckets"]}) b
  ON b.doc_id = v.doc_id AND b.bucket <> 'tail'
JOIN ({_OR["dedup_boilerplate_clean"]}) s ON s.doc_id = v.doc_id
WHERE v.doc_id NOT IN (
  SELECT DISTINCT CASE WHEN c.sz_a < c.sz_b THEN c.doc_a
                       WHEN c.sz_b < c.sz_a THEN c.doc_b
                       ELSE greatest(c.doc_a, c.doc_b) END
  FROM ({_OR["dedup_ngram_containment"]}) c
  WHERE {_gate_kept_sql(_CONTAIN_WINNER)} = 1
)
  AND v.doc_id NOT IN (
  SELECT doc_id FROM ({_OR["text_char_chisq_gibberish"]}) WHERE is_gibberish)
"""


def _curation_v5_oracle() -> str:
    lens = f"""
  SELECT d.doc_id, {_PACK_LEN_SQL} AS n_tok
  FROM documents d
  JOIN (SELECT doc_id FROM v5k) kk ON kk.doc_id = d.doc_id
"""
    return f"""
WITH v5k AS MATERIALIZED ({_v5_kept_oracle()}),
packed AS MATERIALIZED ({_ffd_pack_oracle(lens)})
SELECT p.doc_id, v.lang_pred, v.bucket, p.n_tok, p.pack_id, p.pack_fill
FROM packed p JOIN v5k v ON v.doc_id = p.doc_id
"""


@query("llm_corpus_curation_v5", None)  # oracle attached below
@fixtures_audit.memoized("curation_v5", timed=True)
def q_llm_corpus_curation_v5(spark, sf_dir):
    """Corpus curation v5 (X254): the v4 release composition with the
    governance gate composed IN and both dedup keeper stages
    re-electing over the gate's survivors — a blocked keeper's
    releasable mirror becomes the representative instead of the whole
    group vanishing (the VERDICT-r11 composition gap). Stages, in
    chain order: X241 gate -> v1 quality filters -> gated exact-hash
    keeper -> gated near-dup keeper election (X253's rule) -> v2
    decontam + holdout -> v3 containment/tail cut -> v4 gibberish gate
    + X175 packing. Every stage is the registered operator's own
    arithmetic; the oracle splices the registered v2 text (gated
    keepers/drops swapped in) and wraps the registered v3/v4 stage
    oracles. The OUTPUT is a per-(session, sf_dir) stage fixture like
    v2/v3/v4's: the funnel and the release diff compose it, and a
    release manifest is materialized once in any real pipeline."""
    d = _docs(spark, sf_dir)
    gate = _gate_verdicts(spark, sf_dir)
    gate_kept = gate.filter(F.col("kept") == 1).select("doc_id")
    # r14: the six stage relations come from the shared
    # ledger_stages checkpoints (VERDICT r13 item 4) — the
    # drop ledger attaches the SAME materialized rows, so the
    # lockstep theorem holds structurally instead of by two
    # evaluations of the same expressions agreeing.
    stages = _ledger_stage_fixtures(spark, sf_dir)
    ex_keep = stages["ek"]
    drops = stages["nd"]
    feat = stages["feat"]
    qual = feat.filter(
        (F.col("n_words") >= 5)
        & (F.col("n_chars") >= 20)
        & (F.col("lang_pred") != "unknown")
    )
    base = (
        qual.join(gate_kept, "doc_id", "semi")
        .join(ex_keep, "doc_id", "semi")
        .join(drops, "doc_id", "anti")
    )
    # v2 stage: holdout split + decontamination (the shared
    # _xmatch fixture — v2's build computes the same set)
    xmatch = _xmatch(spark, sf_dir)
    v2s = (
        base.filter(F.col("doc_id") % 20 != 0)
        .join(xmatch, "doc_id", "anti")
        .join(
            _lm_scores(spark, sf_dir).select(
                "doc_id", "bigram_logprob"
            ),
            "doc_id",
        )
    )
    # v3 stage: containment losers out — but ONLY where the
    # winning container itself survives the gate (a gated
    # winner's contained copy is the content's last releasable
    # representative, the keeper re-election logic at
    # containment grain); tail cut, boiler present
    cdrops = stages["cd"]
    b = stages["bk"]
    v3s = (
        v2s.join(cdrops, "doc_id", "anti")
        .join(b, "doc_id")
        .join(
            _boiler_clean(spark, sf_dir).select("doc_id"),
            "doc_id",
            "semi",
        )
        .select("doc_id", "lang_pred", "bucket")
    )
    # v4 stage: gibberish gate + X175 packing
    gib = stages["gb"]
    cap = SEQ_PACK_CAP
    lens = (
        d.selectExpr(
            "doc_id",
            rf"least(greatest(size(filter(split(text, '\\s+'),"
            rf" x -> x != '')), 1), {cap}) AS n_tok",
        )
        .join(v3s.select("doc_id"), "doc_id")
        .join(gib, "doc_id", "anti")
    )
    return (
        pack_rows(lens, cap)
        .join(v3s, "doc_id")
        .select(
            "doc_id", "lang_pred", "bucket", "n_tok", "pack_id",
            "pack_fill",
        )
        .localCheckpoint(eager=True)
    )


_OR["llm_corpus_curation_v5"] = _curation_v5_oracle()
# the funnel gains the governance stage (X193 + v5): re-attach the
# composed oracle now that the v5 text exists (packing_release attached
# the 5-stage version at its import, before this module existed)
_OR["llm_curation_funnel"] = _curation_funnel_oracle(
    _OR["llm_corpus_curation_v5"]
)


# --- X255: release-to-release dataset diff ------------------------------------

# the loader reads PACKS, so a release's shard is dealt from pack_id
# (the X128 md5 discipline at pack grain): a repacked doc can land in
# a different shard, and the diff charges it to both
_SHARD_OF_PACK_DUCK = (
    f"CAST(('0x' || substr(md5(pack_id), 1, 8)) AS BIGINT) % {SHARD_N}"
)
_SHARD_OF_PACK_SPARK = (
    "cast(conv(substring(md5(pack_id), 1, 8), 16, 10) as bigint)"
    f" % {SHARD_N}"
)

_CH_DUCK = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))"
    " AS BIGINT)"
)
_CH_SPARK = (
    "cast(conv(substring(md5(concat(cast(doc_id as string), ':', text)),"
    " 1, 15), 16, 10) as decimal(38,0))"
)


def _release_diff_oracle() -> str:
    return f"""
WITH ra AS MATERIALIZED (
  SELECT a.doc_id, a.pack_id, {_SHARD_OF_PACK_DUCK} AS shard,
         {_CH_DUCK} AS ch
  FROM ({_OR["llm_corpus_curation_v4"]}) a JOIN documents d USING (doc_id)
), rb AS MATERIALIZED (
  SELECT b.doc_id, b.pack_id, {_SHARD_OF_PACK_DUCK} AS shard,
         {_CH_DUCK} AS ch
  FROM ({_OR["llm_corpus_curation_v5"]}) b JOIN documents d USING (doc_id)
), st AS (
  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         ra.shard AS shard_a, rb.shard AS shard_b,
         CASE WHEN ra.doc_id IS NULL THEN 'added'
              WHEN rb.doc_id IS NULL THEN 'removed'
              WHEN ra.shard <> rb.shard THEN 'moved'
              WHEN ra.pack_id <> rb.pack_id THEN 'repacked'
              ELSE 'stable' END AS status
  FROM ra FULL OUTER JOIN rb ON rb.doc_id = ra.doc_id
), aa AS (
  SELECT ra.shard,
         CAST(count(*) AS BIGINT) AS n_docs_a,
         CAST(sum(CASE WHEN st.status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed,
         CAST(sum(CASE WHEN st.status = 'moved' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved_out,
         CAST(sum(ra.ch) AS DECIMAL(38, 0)) AS content_sum_a
  FROM ra JOIN st ON st.doc_id = ra.doc_id GROUP BY ra.shard
), bb AS (
  SELECT rb.shard,
         CAST(count(*) AS BIGINT) AS n_docs_b,
         CAST(sum(CASE WHEN st.status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_added,
         CAST(sum(CASE WHEN st.status = 'moved' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved_in,
         CAST(sum(CASE WHEN st.status = 'repacked' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_repacked,
         CAST(sum(rb.ch) AS DECIMAL(38, 0)) AS content_sum_b
  FROM rb JOIN st ON st.doc_id = rb.doc_id GROUP BY rb.shard
)
SELECT coalesce(aa.shard, bb.shard) AS shard,
       coalesce(aa.n_docs_a, 0) AS n_docs_a,
       coalesce(bb.n_docs_b, 0) AS n_docs_b,
       coalesce(bb.n_added, 0) AS n_added,
       coalesce(aa.n_removed, 0) AS n_removed,
       coalesce(bb.n_moved_in, 0) AS n_moved_in,
       coalesce(aa.n_moved_out, 0) AS n_moved_out,
       coalesce(bb.n_repacked, 0) AS n_repacked,
       CAST(coalesce(bb.content_sum_b, 0) - coalesce(aa.content_sum_a, 0)
            AS DECIMAL(38, 0)) AS checksum_delta
FROM aa FULL OUTER JOIN bb ON bb.shard = aa.shard
"""


@query("llm_release_diff", None)  # oracle attached below
def q_llm_release_diff(spark, sf_dir):
    """Release-to-release dataset diff (X255): the "what changed in
    this data release" table a training team reads before a run —
    curation v4 vs the governance-aware v5, at the loader's shard
    grain (shards dealt from pack_id by the X128 md5 discipline,
    because the loader reads packs): per shard, doc counts on both
    sides, added / removed / moved (shard changed) / repacked (same
    shard, different pack) counts, and the X191 order-independent
    checksum delta — a wrong or stale shard shows as one row. Both
    releases are checkpointed stage fixtures, so the diff is two
    checkpoint scans, one doc-keyed full outer join, and two
    shard-keyed aggregates joined on the SHARD_N-row grid."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    ra = (
        q_llm_corpus_curation_v4(spark, sf_dir)
        .select("doc_id", "pack_id")
        .join(d, "doc_id")
        .selectExpr(
            "doc_id",
            "pack_id",
            f"{_SHARD_OF_PACK_SPARK} AS shard",
            f"{_CH_SPARK} AS ch",
        )
    )
    rb = (
        q_llm_corpus_curation_v5(spark, sf_dir)
        .select("doc_id", "pack_id")
        .join(d, "doc_id")
        .selectExpr(
            "doc_id",
            "pack_id",
            f"{_SHARD_OF_PACK_SPARK} AS shard",
            f"{_CH_SPARK} AS ch",
        )
    )
    return release_diff_frames(ra, rb)


def release_diff_frames(ra, rb):
    """The diff core over two release frames of (doc_id, pack_id,
    shard, ch) — factored out so the sensitivity theorem (one doc
    repacked => exactly the two affected shard rows change) can feed
    planted frames directly. ONE pass: the doc-keyed full outer join
    explodes into per-side charge rows (a doc charges its A-shard and
    its B-shard), then a single shard-keyed aggregate splits every
    counter by side — the join is never re-derived for a second
    aggregate branch."""
    a = ra.select(
        F.col("doc_id").alias("a_doc_id"),
        F.col("pack_id").alias("a_pack_id"),
        F.col("shard").alias("shard_a"),
        F.col("ch").alias("ch_a"),
    )
    bdf = rb.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("pack_id").alias("b_pack_id"),
        F.col("shard").alias("shard_b"),
        F.col("ch").alias("ch_b"),
    )
    st = a.join(bdf, a["a_doc_id"] == bdf["b_doc_id"], "full_outer").select(
        "shard_a",
        "shard_b",
        "ch_a",
        "ch_b",
        F.when(F.col("a_doc_id").isNull(), "added")
        .when(F.col("b_doc_id").isNull(), "removed")
        .when(F.col("shard_a") != F.col("shard_b"), "moved")
        .when(F.col("a_pack_id") != F.col("b_pack_id"), "repacked")
        .otherwise("stable")
        .alias("status"),
    )
    zch = F.lit(0).cast("decimal(38,0)")
    charge = st.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("a").alias("side"),
                    F.col("shard_a").alias("shard"),
                    F.col("status"),
                    F.coalesce("ch_a", zch).alias("ch"),
                ),
                F.struct(
                    F.lit("b").alias("side"),
                    F.col("shard_b").alias("shard"),
                    F.col("status"),
                    F.coalesce("ch_b", zch).alias("ch"),
                ),
            )
        ).alias("c")
    ).select("c.side", "c.shard", "c.status", "c.ch").filter(
        F.col("shard").isNotNull()
    )

    def n(side, *statuses):
        cond = F.col("side") == side
        if statuses:
            cond = cond & F.col("status").isin(*statuses)
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return charge.groupBy("shard").agg(
        n("a").alias("n_docs_a"),
        n("b").alias("n_docs_b"),
        n("b", "added").alias("n_added"),
        n("a", "removed").alias("n_removed"),
        n("b", "moved").alias("n_moved_in"),
        n("a", "moved").alias("n_moved_out"),
        n("b", "repacked").alias("n_repacked"),
        F.sum(
            F.when(F.col("side") == "b", F.col("ch")).otherwise(-F.col("ch"))
        )
        .cast("decimal(38,0)")
        .alias("checksum_delta"),
    )


_OR["llm_release_diff"] = _release_diff_oracle()


# --- X259: governance-gated containment winner audit --------------------------


def _containment_gated_oracle() -> str:
    loser = _contain_loser_sql()
    return f"""
SELECT c.doc_a, c.doc_b,
       CAST({_CONTAIN_WINNER} AS BIGINT) AS winner_id,
       CAST({loser} AS BIGINT) AS loser_id,
       CAST({_gate_kept_sql(_CONTAIN_WINNER)} AS BIGINT) AS winner_kept,
       {_gate_kept_sql(_CONTAIN_WINNER)} = 1 AS loser_dropped,
       {_gate_kept_sql(_CONTAIN_WINNER)} = 0
         AND {_gate_kept_sql(f"({loser})")} = 1 AS restored
FROM ({_OR["dedup_ngram_containment"]}) c
"""


@query("dedup_containment_keeper_gated", _containment_gated_oracle())
def q_dedup_containment_keeper_gated(spark, sf_dir):
    """Governance-gated containment audit (X259, the X253 logic at
    containment grain): per verified containment pair, the winner
    (more shingles, ties to the lower id), the loser, whether the
    winner survives the X241 gate — the v5 chain drops the loser ONLY
    then — and the restore flag (winner gated, loser survives: the
    contained copy is the content's last releasable representative,
    so v5 keeps it where v4 silently lost it). One broadcast-scale
    gate attach over the shared containment-pair fixture; pairs are
    bounded by the rare-shingle blocking, never the corpus."""
    pairs = _contain_pairs(spark, sf_dir)
    gate = _gate_verdicts(spark, sf_dir)
    wl = pairs.select(
        "doc_a",
        "doc_b",
        _contain_winner_col().cast("bigint").alias("winner_id"),
        _contain_loser_col().cast("bigint").alias("loser_id"),
    )
    wg = gate.select(
        F.col("doc_id").alias("winner_id"),
        F.col("kept").alias("winner_kept"),
    )
    lg = gate.select(
        F.col("doc_id").alias("loser_id"),
        F.col("kept").alias("loser_kept"),
    )
    return (
        wl.join(wg, "winner_id")
        .join(lg, "loser_id")
        .select(
            "doc_a",
            "doc_b",
            "winner_id",
            "loser_id",
            F.col("winner_kept").cast("bigint").alias("winner_kept"),
            (F.col("winner_kept") == 1).alias("loser_dropped"),
            ((F.col("winner_kept") == 0) & (F.col("loser_kept") == 1)).alias(
                "restored"
            ),
        )
    )


# --- X260: pack-level license propagation -------------------------------------
# The licensing axis ORTHOGONAL to the X241 allow/deny gate: every
# registered domain carries a frozen license tier (the wheel's site
# index names the publisher; a production pipeline reads this column
# off the crawl's license detector), and a PACKED training row is only
# as permissive as its most restrictive member — one tainted doc
# relicenses the whole pack, because the loader consumes packs, not
# docs. Restrictiveness order (ascending): cc0 < cc-by < cc-by-sa <
# unknown < proprietary (unknown is treated as more restrictive than
# any explicit permissive grant — the conservative release posture).

LICENSE_BY_SITE = {
    0: "cc0",
    1: "cc-by",
    2: "cc-by-sa",
    3: "proprietary",
    4: "unknown",
    5: "cc-by",
    6: "cc0",
}
LICENSE_RANK = {
    "cc0": 0,
    "cc-by": 1,
    "cc-by-sa": 2,
    "unknown": 3,
    "proprietary": 4,
}
LICENSE_MAP = {
    f"site{i}.{t}": LICENSE_BY_SITE[i]
    for i in range(7)
    for t in weburl.TLDS
}


def _license_rank_sql(id_col: str = "doc_id") -> str:
    """Closed-form license rank from the wheel's site index."""
    site = f"(({id_col} % 40) % 7)"
    cases = " ".join(
        f"WHEN {i} THEN {LICENSE_RANK[LICENSE_BY_SITE[i]]}"
        for i in range(7)
    )
    return f"CASE {site} {cases} END"


_RANK_TO_NAME_SQL = "CASE {r} " + " ".join(
    f"WHEN {v} THEN '{k}'" for k, v in LICENSE_RANK.items()
) + " END"


@query(
    "llm_pack_license_audit",
    f"""
WITH v5 AS MATERIALIZED (
  SELECT doc_id, pack_id FROM ({{V5}})
), lt AS (
  SELECT v.pack_id, {_license_rank_sql("v.doc_id")} AS rnk
  FROM v5 v
), agg AS (
  SELECT pack_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN rnk = 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_proprietary,
         CAST(sum(CASE WHEN rnk = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unknown,
         CAST(max(rnk) AS BIGINT) AS license_rank
  FROM lt GROUP BY pack_id
)
SELECT pack_id, n_docs, n_proprietary, n_unknown, license_rank,
       {_RANK_TO_NAME_SQL.format(r="license_rank")} AS pack_license,
       license_rank < 4 AS trainable
FROM agg
""",
)
def q_llm_pack_license_audit(spark, sf_dir):
    """Pack-level license propagation (X260): per v5 training pack,
    the member count, restricted-member counts, and the pack's
    EFFECTIVE license — the most restrictive member's tier under the
    frozen domain→license map (one tainted doc relicenses the pack;
    the loader reads packs, so this is the grain the release decision
    is made at), with the trainable verdict (no proprietary member).
    The Spark side runs the GENUINE path — domain from the URL chain,
    tier from the frozen 35-domain map as a plan-literal lookup — and
    the oracle states the closed form off the wheel. One pack-keyed
    aggregate over the v5 checkpoint; the domain attach is per-row."""
    tier_map = F.create_map(
        *[
            x
            for d, t in sorted(LICENSE_MAP.items())
            for x in (F.lit(d), F.lit(t))
        ]
    )
    rank_map = F.create_map(
        *[x for k, v in LICENSE_RANK.items() for x in (F.lit(k), F.lit(v))]
    )
    name_map = F.create_map(
        *[x for k, v in LICENSE_RANK.items() for x in (F.lit(v), F.lit(k))]
    )
    dom = _gate_verdicts(spark, sf_dir).select(
        "doc_id", "registered_domain"
    )
    v5 = q_llm_corpus_curation_v5(spark, sf_dir).select("doc_id", "pack_id")
    lt = v5.join(dom, "doc_id").select(
        "pack_id",
        F.element_at(rank_map, F.element_at(tier_map, F.col("registered_domain")))
        .alias("rnk"),
    )
    agg = lt.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rnk") == 4, 1).otherwise(0))
        .cast("bigint")
        .alias("n_proprietary"),
        F.sum(F.when(F.col("rnk") == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unknown"),
        F.max("rnk").cast("bigint").alias("license_rank"),
    )
    return agg.select(
        "pack_id",
        "n_docs",
        "n_proprietary",
        "n_unknown",
        "license_rank",
        F.element_at(name_map, F.col("license_rank").cast("int")).alias(
            "pack_license"
        ),
        (F.col("license_rank") < 4).alias("trainable"),
    )


from gmall_spark.queries import ORACLES as _OR_LIC  # noqa: E402

_OR_LIC["llm_pack_license_audit"] = _OR_LIC["llm_pack_license_audit"].replace(
    "{V5}", _OR_LIC["llm_corpus_curation_v5"]
)


# --- X261: the drop ledger ------------------------------------------------------
# "Why did my document disappear?" at DOC grain — the debugging table
# every data team builds next to the funnel (the funnel counts stages;
# the ledger names, for every raw document, the FIRST chain stage that
# dropped it, in the chain's own precedence: governance verdicts trump
# everything (a blocked doc's other failures are moot for the release
# report), then quality, the two gated dedup stages, the v2 holdout +
# decontamination, the gated containment cut, the CCNet tail cut, and
# the gibberish gate; survivors are labeled released. The lockstep
# guard is a THEOREM, not trust: the released slice must equal the
# registered v5 manifest's doc set exactly (pinned in-suite), so any
# drift between these stage predicates and the composed chain fails a
# test instead of shipping a wrong story.

_LEDGER_STAGES = (
    "governance",
    "quality",
    "exact_dup",
    "near_dup",
    "holdout",
    "decontam",
    "containment",
    "ppl_tail",
    "gibberish",
    "released",
)

# LOAD-BEARING totality assumption (ADVICE r12): the ledger has NO
# stage for the boilerplate_span_clean semi-join inside the v5 chain.
# released == v5 holds only because that rollup is TOTAL over the
# corpus — every document emits >= 1 cleaned span (the span cleaner
# drops SPANS, never whole docs) — so the semi-join is a no-op
# filter. Same for _lm_scores (every doc gets a bigram score; the
# ppl_tail stage covers the tier cut itself). If either relation ever
# goes partial, add the matching ledger stage; until then the
# in-suite released==v5 equality theorem is the tripwire.


def _drop_ledger_oracle() -> str:
    from gmall_spark.queries_llm.curation import _SQL_XMATCH_CTES

    loser = _contain_loser_sql()
    stage_case = f"""
  CASE WHEN g.kept = 0 THEN 'governance'
       WHEN NOT (f.n_words >= 5 AND f.n_chars >= 20
                 AND f.lang_pred <> 'unknown') THEN 'quality'
       WHEN ek.doc_id IS NULL THEN 'exact_dup'
       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
       WHEN d.doc_id % 20 = 0 THEN 'holdout'
       WHEN xm.doc_id IS NOT NULL THEN 'decontam'
       WHEN cd.doc_id IS NOT NULL THEN 'containment'
       WHEN bk.doc_id IS NULL THEN 'ppl_tail'
       WHEN gb.doc_id IS NOT NULL THEN 'gibberish'
       ELSE 'released' END"""
    stage_no = " ".join(
        f"WHEN '{name}' THEN {i + 1}"
        for i, name in enumerate(_LEDGER_STAGES)
    )
    return (
        SQL_MINHASH.replace("WITH ws", "WITH RECURSIVE ws", 1)
        + _SQL_GROUP_CTES
        + _SQL_XMATCH_CTES
        + rf"""
, gv5 AS (
  SELECT doc_id, {_gate_kept_sql()} AS kept FROM documents
), wc5 AS (
  SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words
  FROM documents
), rk5 AS (
  SELECT g.group_id, g.doc_id,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY v.kept DESC, w.n_words DESC, g.doc_id ASC)
           AS rn
  FROM grp g JOIN wc5 w ON w.doc_id = g.doc_id JOIN gv5 v ON v.doc_id = g.doc_id
), nd AS (
  SELECT g.doc_id
  FROM grp g LEFT JOIN (SELECT group_id, doc_id FROM rk5 WHERE rn = 1) k5
    ON k5.group_id = g.group_id AND k5.doc_id = g.doc_id
  WHERE k5.doc_id IS NULL
), canon AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
  FROM documents
), ek AS (
  SELECT MIN(c.doc_id) AS doc_id
  FROM canon c JOIN gv5 v ON v.doc_id = c.doc_id AND v.kept = 1
  GROUP BY c.h
), feat AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(lower(text), '{TX.CJK_RANGE}') THEN 'zh'
              WHEN regexp_matches(lower(text), '{TX.EN_MARKERS}') THEN 'en'
              WHEN regexp_matches(lower(text), '{TX.ES_MARKERS}') THEN 'es'
              WHEN regexp_matches(lower(text), '{TX.FR_MARKERS}') THEN 'fr'
              WHEN regexp_matches(lower(text), '{TX.DE_MARKERS}') THEN 'de'
              ELSE 'unknown' END AS lang_pred,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
), cdl AS (
  SELECT DISTINCT {loser} AS doc_id
  FROM ({{CONTAIN}}) c
  WHERE {_gate_kept_sql(_CONTAIN_WINNER)} = 1
), bkk AS (
  SELECT doc_id FROM ({{BUCKETS}}) WHERE bucket <> 'tail'
), gbb AS (
  SELECT doc_id FROM ({{GIB}}) WHERE is_gibberish
), lab AS (
  SELECT d.doc_id, {stage_case} AS drop_stage
  FROM documents d
  JOIN gv5 g ON g.doc_id = d.doc_id
  JOIN feat f ON f.doc_id = d.doc_id
  LEFT JOIN ek ON ek.doc_id = d.doc_id
  LEFT JOIN nd ON nd.doc_id = d.doc_id
  LEFT JOIN xmatch xm ON xm.doc_id = d.doc_id
  LEFT JOIN cdl cd ON cd.doc_id = d.doc_id
  LEFT JOIN bkk bk ON bk.doc_id = d.doc_id
  LEFT JOIN gbb gb ON gb.doc_id = d.doc_id
)
SELECT doc_id, drop_stage,
       CAST(CASE drop_stage {stage_no} END AS BIGINT) AS stage_no
FROM lab
"""
    )


@query("llm_drop_ledger", None)  # oracle attached below
def q_llm_drop_ledger(spark, sf_dir):
    """The drop ledger (X261): one row per RAW document naming the
    FIRST v5-chain stage that dropped it — governance, quality,
    exact_dup, near_dup, holdout, decontam, containment, ppl_tail,
    gibberish — or released. The per-doc answer to the funnel's
    per-stage counts, and the audit trail a takedown/appeal process
    reads. Stage predicates are the chain's own building blocks (the
    shared gate/keeper/containment helpers and fixtures), and the
    lockstep guard is a theorem: released == the v5 manifest's doc
    set, pinned in-suite. Scale: one pass over the corpus with six
    doc-keyed attach joins (every right side is a fixture checkpoint
    or a bounded stage set) + per-row exprs.

    r14 (VERDICT r13 item 4): the six stage relations read the shared
    per-(session, sf) ledger_stages checkpoints — previously each
    invocation re-derived all six from scratch (the full
    groups/keeper/containment/LM chains, ~70 exchanges per call); now
    an invocation is the six doc-keyed attach joins over materialized
    narrow relations. v5 reads the SAME checkpoints, so the lockstep
    theorem holds structurally. Build cost stays visible as the
    `ledger_stages` fixtures line item."""
    gate = _gate_verdicts(spark, sf_dir)
    stages_fx = _ledger_stage_fixtures(spark, sf_dir)
    ek = stages_fx["ek"].withColumn("__ek", F.lit(1))
    nd = stages_fx["nd"].withColumn("__nd", F.lit(1))
    xm = _xmatch(spark, sf_dir).withColumn("__xm", F.lit(1))
    cd = stages_fx["cd"].withColumn("__cd", F.lit(1))
    bk = stages_fx["bk"].select("doc_id").withColumn("__bk", F.lit(1))
    gb = stages_fx["gb"].withColumn("__gb", F.lit(1))
    feat = stages_fx["feat"].select(
        "doc_id",
        F.col("lang_pred").alias("__lang"),
        F.col("n_words").alias("__nw"),
        F.col("n_chars").alias("__nc"),
    )
    j = (
        feat.join(gate.select("doc_id", "kept"), "doc_id")
        .join(ek, "doc_id", "left")
        .join(nd, "doc_id", "left")
        .join(xm, "doc_id", "left")
        .join(cd, "doc_id", "left")
        .join(bk, "doc_id", "left")
        .join(gb, "doc_id", "left")
    )
    qual_ok = (
        (F.col("__nw") >= 5)
        & (F.col("__nc") >= 20)
        & (F.col("__lang") != "unknown")
    )
    stage = (
        F.when(F.col("kept") == 0, "governance")
        .when(~qual_ok, "quality")
        .when(F.col("__ek").isNull(), "exact_dup")
        .when(F.col("__nd").isNotNull(), "near_dup")
        .when(F.col("doc_id") % 20 == 0, "holdout")
        .when(F.col("__xm").isNotNull(), "decontam")
        .when(F.col("__cd").isNotNull(), "containment")
        .when(F.col("__bk").isNull(), "ppl_tail")
        .when(F.col("__gb").isNotNull(), "gibberish")
        .otherwise("released")
    )
    no = F.lit(None).cast("bigint")
    for i, name in enumerate(_LEDGER_STAGES):
        no = F.when(F.col("drop_stage") == name, i + 1).otherwise(no)
    return j.select("doc_id", stage.alias("drop_stage")).select(
        "doc_id", "drop_stage", no.cast("bigint").alias("stage_no")
    )


_OR["llm_drop_ledger"] = (
    _drop_ledger_oracle()
    .replace("{CONTAIN}", _OR["dedup_ngram_containment"])
    .replace("{BUCKETS}", _OR["text_perplexity_buckets"])
    .replace("{GIB}", _OR["text_char_chisq_gibberish"])
)
