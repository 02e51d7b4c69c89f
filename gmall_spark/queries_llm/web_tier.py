"""Web provenance tier: URL canonicalization / domain rollup / re-crawl drift (X225-X228), host PageRank (X237), domain caps (X235-X236), mojibake repair (X229-X230).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from gmall_spark.queries import _t, query
from gmall_spark.session import local_rows
from gmall_spark.queries_llm.prelude import _docs

# --- web-provenance URL tier (X225-X228) -------------------------------------

from gmall_spark.operators import weburl  # noqa: E402


def _web_oracle() -> str:
    """Shared CTE: the synthesized messy URL plus the closed forms the
    canonicalization chain must produce (operators/weburl.py — the
    oracle states outcomes, it never parses a URL)."""
    return f"""
WITH w AS (
  SELECT doc_id,
         {weburl.synth_url_oracle_expr()} AS url,
         {weburl.canonical_oracle_expr()} AS url_canonical,
         {weburl.canonical_host_oracle_expr()} AS host,
         {weburl.registered_domain_oracle_expr()} AS registered_domain,
         md5(text) AS text_md5,
         n_chars, lang
  FROM documents
)
"""


@query(
    "web_url_canonicalize",
    _web_oracle()
    + """
SELECT doc_id,
       CAST(length(url) AS BIGINT) AS n_raw_chars,
       url_canonical, host, registered_domain,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 0 END
            + CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS BIGINT)
         AS n_tracking_dropped,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS had_fragment,
       CAST(CASE WHEN doc_id % 6 = 0 AND (doc_id % 40) % 13 <> 7
            THEN 1 ELSE 0 END AS BIGINT) AS had_default_port,
       md5(url_canonical) AS url_md5
FROM w
""",
)
def q_web_url_canonicalize(spark, sf_dir):
    """URL canonicalization (X225) — the provenance step every web
    corpus runs before content processing (C4/RefinedWeb; reference
    tie: the per-source topic routing at BaseLogApp.java:60-71
    extracts the provenance key the same way). A deterministic messy
    URL per document (uppercase scheme/host, www., default and real
    ports, duplicate-'/' and '/./' segments, trailing slashes,
    tracking params interleaved in scrambled order, fragments — page
    identity from doc_id % 40, noise from doc_id, so distinct docs
    GENUINELY collide only after every rule fires) rides the genuine
    chain — parse_url built-ins + regexp/HOF steps
    (operators/weburl.py, rule order documented there) — and the
    oracle states the closed form canonicalization must recover.
    Noise stats are MEASURED from the raw string. Registered domain
    via a frozen public-suffix mini-list with a two-level suffix
    ('co.uk'), longest-match-wins. Scale: per-row JVM expressions,
    zero shuffle, zero UDF — the map-only stage in front of the
    URL-level dedup/rollup chain."""
    return weburl.canonicalize(weburl.synth_url(_docs(spark, sf_dir)))


@query(
    "web_domain_rollup",
    _web_oracle()
    + """
SELECT registered_domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT url_canonical) AS BIGINT) AS n_urls,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM w GROUP BY registered_domain
""",
)
def q_web_domain_rollup(spark, sf_dir):
    """Registered-domain rollup (X226): the grain crawl quality
    priors, blocklists, and per-domain caps live at — docs, distinct
    hosts and canonical pages, text volume, language spread per
    registered domain. The two-level suffix rows ('site*.co.uk')
    prove the rollup key is the PSL-derived domain, not a
    last-two-labels shortcut. Scale: one hash aggregate keyed by
    registered domain (count-distincts expand inside the same
    exchange); the domain key is low-cardinality by construction at
    any corpus size."""
    can = weburl.canonicalize(
        weburl.synth_url(_docs(spark, sf_dir)),
        passthrough=("n_chars", "lang"),
    )
    return can.groupBy("registered_domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
        F.countDistinct("url_canonical").cast("bigint").alias("n_urls"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


@query(
    "web_url_dedup_venn",
    _web_oracle()
    + """
, f AS (
  SELECT doc_id,
         CASE WHEN count(*) OVER (PARTITION BY url_canonical) > 1
              THEN 1 ELSE 0 END AS url_dup,
         CASE WHEN count(*) OVER (PARTITION BY text_md5) > 1
              THEN 1 ELSE 0 END AS text_dup
  FROM w
), cells AS (
  SELECT url_dup, text_dup, count(*) AS n FROM f GROUP BY 1, 2
)
SELECT CAST(g.url_dup AS BIGINT) AS url_dup,
       CAST(g.text_dup AS BIGINT) AS text_dup,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_docs
FROM (VALUES (0,0),(0,1),(1,0),(1,1)) g(url_dup, text_dup)
LEFT JOIN cells c
  ON c.url_dup = g.url_dup AND c.text_dup = g.text_dup
""",
)
def q_web_url_dedup_venn(spark, sf_dir):
    """URL-identity vs content-identity Venn (X227, the X133/X221
    detector-diversity principle applied to provenance): per document,
    does it share a canonical URL with another doc, and does it share
    exact text — url_dup-only docs are re-crawl drift (same page,
    content changed), text_dup-only docs are mirrors (same content
    under different pages), and neither detector subsumes the other.
    All four cells emitted even at zero (X173). Scale: two window
    counts (url and text-hash keyed exchanges) + a 4-row grid join —
    doc-grain flags, never a pair enumeration, so group size can't go
    quadratic."""
    can = weburl.canonicalize(
        weburl.synth_url(_docs(spark, sf_dir)).withColumn(
            "text_md5", F.md5("text")
        ),
        passthrough=("text_md5",),
    )
    f = (
        can
        .select(
            "doc_id",
            F.when(
                F.count(F.lit(1)).over(
                    Window.partitionBy("url_canonical")
                )
                > 1,
                1,
            )
            .otherwise(0)
            .alias("url_dup"),
            F.when(
                F.count(F.lit(1)).over(Window.partitionBy("text_md5")) > 1,
                1,
            )
            .otherwise(0)
            .alias("text_dup"),
        )
    )
    cells = f.groupBy("url_dup", "text_dup").agg(
        F.count(F.lit(1)).alias("n")
    )
    grid = local_rows(
        spark, [(a, b) for a in (0, 1) for b in (0, 1)], "url_dup INT, text_dup INT"
    )
    return (
        grid.join(F.broadcast(cells), ["url_dup", "text_dup"], "left")
        .select(
            F.col("url_dup").cast("bigint").alias("url_dup"),
            F.col("text_dup").cast("bigint").alias("text_dup"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_docs"),
        )
    )


@query(
    "web_url_recrawl_drift",
    _web_oracle()
    + """
SELECT url_canonical,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT text_md5) AS BIGINT) AS n_texts,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(CASE WHEN count(DISTINCT text_md5) > 1 THEN 1 ELSE 0 END
            AS BIGINT) AS is_drift
FROM w GROUP BY url_canonical HAVING count(*) >= 2
""",
)
def q_web_url_recrawl_drift(spark, sf_dir):
    """Re-crawl drift report (X228): for every canonical URL crawled
    more than once, how many captures and how many DISTINCT contents
    — n_texts > 1 means the page changed between crawls (keep-newest
    policy territory); n_texts = 1 is a pure duplicate fetch the
    URL-level dedup removes for free. Keeper = min doc_id (the X6
    keeper discipline). Scale: one hash aggregate keyed by canonical
    URL; the distinct-count expands inside the same exchange."""
    can = weburl.canonicalize(
        weburl.synth_url(_docs(spark, sf_dir)).withColumn(
            "text_md5", F.md5("text")
        ),
        passthrough=("text_md5",),
    )
    return (
        can
        .groupBy("url_canonical")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("text_md5").cast("bigint").alias("n_texts"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.when(F.countDistinct("text_md5") > 1, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_drift"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- mojibake repair tier (X229-X230) ----------------------------------------

from gmall_spark.operators import mojibake  # noqa: E402
from gmall_spark.queries_llm.tok_media import phrase_counts  # noqa: E402


@query(
    "text_mojibake_repair",
    f"""
WITH c AS (
  SELECT doc_id,
         {mojibake.synth_oracle_expr()} AS corrupted,
         {mojibake.repaired_oracle_expr()} AS repaired
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 0 END
            + CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 0 END
            + CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS BIGINT)
         AS n_mojibake,
       CAST(CASE WHEN doc_id % 3 = 0 OR doc_id % 4 = 1 OR doc_id % 5 = 2
                   OR doc_id % 2 = 0 OR doc_id % 7 = 3
            THEN 1 ELSE 0 END AS BIGINT) AS is_mojibake,
       CAST(length(corrupted) AS BIGINT) AS n_chars_before,
       CAST(length(repaired) AS BIGINT) AS n_chars_after,
       md5(repaired) AS repaired_md5
FROM c
""",
)
def q_text_mojibake_repair(spark, sf_dir):
    """Mojibake detection + repair (X229) — the ftfy step a web
    corpus runs before tokenization/lang-ID/dedup see a byte (UTF-8
    decoded as Latin-1/CP-1252 leaves 'Ã©'-class artifacts that
    poison every downstream hash; reference tie: the dirty-data side
    output at BaseLogApp.java:35-41 routes malformed payloads the
    same way). A frozen six-pattern repair table rides a
    deterministic corruption: doc_id-mod segments append known
    artifacts (some docs stay clean — the zero row is genuine, X173)
    and the oracle states the repaired closed form; artifact counts
    are MEASURED from the corrupted text (length-diff idiom, no
    regex). The chain is order-free BY INVARIANT: no replacement char
    occurs inside any pattern (operators/mojibake.py). Scale: per-row
    JVM replaces, zero shuffle, zero UDF."""
    return mojibake.scan_and_repair(
        mojibake.synth_mojibake(_docs(spark, sf_dir))
    )


def _mojibake_rollup_oracle() -> str:
    vals = ", ".join(f"('{bad}')" for bad, _ in mojibake.PATTERNS)
    return f"""
WITH pats(pattern) AS (VALUES {vals}),
c AS (
  SELECT doc_id, {mojibake.synth_oracle_expr()} AS t FROM documents
), hits AS (
  SELECT p.pattern, c.doc_id,
         (length(c.t) - length(replace(c.t, p.pattern, '')))
           // length(p.pattern) AS n
  FROM pats p CROSS JOIN c
)
SELECT pattern,
       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       CAST(sum(n) AS BIGINT) AS total_hits
FROM hits GROUP BY pattern
"""


@query("text_mojibake_rollup", _mojibake_rollup_oracle())
def q_text_mojibake_rollup(spark, sf_dir):
    """Per-artifact mojibake census (X230): which encoding damage the
    corpus actually carries and how widely — the table that decides
    whether a feed needs a transcoding fix upstream or a repair pass
    downstream. ONE corpus pass via stack() (the X213 canary
    discipline — never per-pattern unions), counts measured with the
    length-diff idiom. Every pattern reports even at zero hits."""
    return phrase_counts(
        mojibake.synth_mojibake(_docs(spark, sf_dir)),
        [bad for bad, _ in mojibake.PATTERNS],
        "pattern",
    )


DOMAIN_CAP = 8  # max docs kept per registered domain (X235/X236)


@query(
    "web_domain_capped_sample",
    _web_oracle()
    + f"""
SELECT doc_id, registered_domain, CAST(rk AS BIGINT) AS sample_rank
FROM (
  SELECT doc_id, registered_domain,
         row_number() OVER (PARTITION BY registered_domain
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM w
) WHERE rk <= {DOMAIN_CAP}
""",
)
def q_web_domain_capped_sample(spark, sf_dir):
    """Domain-balanced sampling (X235) — the RefinedWeb/C4 cap that
    keeps one domain from dominating the mix: at most DOMAIN_CAP docs
    per registered domain, chosen by md5(doc_id) order (deterministic
    'random' — the X199 displacement discipline at domain grain, so
    the kept set is reproducible and insertion-order-free). Scale:
    ONE domain-keyed window; the rank is computed inside the same
    exchange the rollup would use."""
    can = weburl.canonicalize(weburl.synth_url(_docs(spark, sf_dir)))
    w = Window.partitionBy("registered_domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        can.select(
            "doc_id", "registered_domain", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= DOMAIN_CAP)
        .select(
            "doc_id",
            "registered_domain",
            F.col("rk").cast("bigint").alias("sample_rank"),
        )
    )


@query(
    "web_domain_cap_report",
    _web_oracle()
    + f"""
SELECT registered_domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(least(count(*), {DOMAIN_CAP}) AS BIGINT) AS n_kept,
       CAST(greatest(count(*) - {DOMAIN_CAP}, 0) AS BIGINT) AS n_dropped,
       CAST(CASE WHEN count(*) > {DOMAIN_CAP} THEN 1 ELSE 0 END AS BIGINT)
         AS cap_hit
FROM w GROUP BY registered_domain
""",
)
def q_web_domain_cap_report(spark, sf_dir):
    """Domain-cap audit (X236): what the X235 cap costs each domain —
    docs seen, kept, dropped, and whether the cap binds (the no-silent-
    caps rule as a registered query: the sampler's coverage loss is a
    first-class report, not a footnote). One domain-keyed aggregate;
    the kept/dropped arithmetic needs no second pass over the sample."""
    can = weburl.canonicalize(weburl.synth_url(_docs(spark, sf_dir)))
    return can.groupBy("registered_domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.least(F.count(F.lit(1)), F.lit(DOMAIN_CAP))
        .cast("bigint")
        .alias("n_kept"),
        F.greatest(F.count(F.lit(1)) - DOMAIN_CAP, F.lit(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.when(F.count(F.lit(1)) > DOMAIN_CAP, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("cap_hit"),
    )


def _host_graph_oracle() -> str:
    from gmall_spark.ann_oracles import pagerank_from_edges_sql
    from gmall_spark.operators.graph import PR_SCALE

    return (
        f"""
WITH pages AS (
  SELECT DISTINCT doc_id % 40 AS u FROM documents
), edges AS (
  SELECT u AS src, (u * 7 + 3) % 40 AS dst FROM pages
  UNION ALL
  SELECT u AS src, (u * 11 + 5) % 40 AS dst FROM pages
)"""
        + pagerank_from_edges_sql()
        + f"""
, dom AS (
  SELECT DISTINCT doc_id % 40 AS u,
         {weburl.registered_domain_oracle_expr()} AS registered_domain
  FROM documents
)
SELECT r.node_id,
       d.registered_domain,
       CAST(r.r AS BIGINT) AS rank_micro,
       round(r.r / {float(PR_SCALE)}, 6) AS rank
FROM r5 r LEFT JOIN dom d ON d.u = r.node_id
"""
    )


def link_edges(pages):
    """(src, dst): the X237 synthetic link closed form over a (u) page
    set — two out-links per page, self-loop- and multi-edge-free."""
    return pages.select(
        F.col("u").alias("src"), ((F.col("u") * 7 + 3) % 40).alias("dst")
    ).unionAll(
        pages.select(
            F.col("u").alias("src"),
            ((F.col("u") * 11 + 5) % 40).alias("dst"),
        )
    )


@query("web_host_pagerank", _host_graph_oracle())
def q_web_host_pagerank(spark, sf_dir):
    """Link-graph page centrality (X237) — the crawl-frontier quality
    prior (CommonCrawl publishes exactly this: a host-level rank that
    seeds crawl priority and domain quality weighting): PageRank over
    the deterministic synthetic link graph 'page u links to pages
    (7u+3) % 40 and (11u+5) % 40' (u is the SAME page identity the
    X225 URL tier synthesizes — self-loop- and multi-edge-free by the
    modular arithmetic, documented in the test), joined back to the
    provenance relation's registered domain as the prior consumers
    read. Reuses the X146 integer fixed-point pagerank
    (operators/graph.py — BIGINT div, bit-identical across engines,
    no float accumulation). Scale: iterations shuffle only (node,
    rank) pairs; the page->domain attach is a broadcast join."""
    from gmall_spark.operators import graph

    pages = (
        _docs(spark, sf_dir)
        .select((F.col("doc_id") % 40).alias("u"))
        .distinct()
    )
    ranks = graph.pagerank(link_edges(pages))
    dom = (
        weburl.canonicalize(weburl.synth_url(_docs(spark, sf_dir)))
        .select(
            (F.col("doc_id") % 40).alias("u"), "registered_domain"
        )
        .distinct()
    )
    return ranks.join(
        F.broadcast(dom), ranks["node_id"] == dom["u"], "left"
    ).select("node_id", "registered_domain", "rank_micro", "rank")


# --- per-domain licensing/opt-out governance gate (X241-X242) -----------------

# Frozen governance lists at the X226 registered-domain grain — the
# C4-blocklist discipline (Raffel et al. 2020 strip a frozen badlist
# of domains before any content processing) plus the licensing/robots
# OPT-OUT register every production crawl honors (the governance
# sibling of the X89 GDPR takedown pass, which operates at user
# grain). Frozen literals so the oracle states the same gate; one
# entry per list never matches ('absent.example') so the no-hit path
# is exercised on the real corpus, and the others carry real mass
# under the synth wheel (u%7 names the site, u%5 the TLD).
DOMAIN_BLOCKLIST = ("site0.com", "site3.io", "absent.example")
DOMAIN_OPTOUT = ("site2.net", "site4.co.uk")


def _gate_sql() -> str:
    bl = ", ".join(f"'{d}'" for d in DOMAIN_BLOCKLIST)
    oo = ", ".join(f"'{d}'" for d in DOMAIN_OPTOUT)
    return (
        _web_oracle()
        + f"""
, gated AS (
  SELECT doc_id, registered_domain, n_chars,
         CASE WHEN registered_domain IN ({bl}) THEN 1 ELSE 0 END AS on_blocklist,
         CASE WHEN registered_domain IN ({oo}) THEN 1 ELSE 0 END AS opted_out
  FROM w
)
"""
    )


def optout_gate(docs, passthrough: tuple[str, ...] = ()):
    """Per document of (doc_id, text, ...) rows: (doc_id,
    registered_domain, *passthrough, on_blocklist, opted_out, kept) —
    the synth URL's registered domain checked against the frozen
    lists."""
    can = weburl.canonicalize(weburl.synth_url(docs), passthrough=passthrough)
    on_bl = F.col("registered_domain").isin(*DOMAIN_BLOCKLIST)
    on_oo = F.col("registered_domain").isin(*DOMAIN_OPTOUT)
    return can.select(
        "doc_id",
        "registered_domain",
        *passthrough,
        F.when(on_bl, 1).otherwise(0).cast("bigint").alias("on_blocklist"),
        F.when(on_oo, 1).otherwise(0).cast("bigint").alias("opted_out"),
        F.when(~on_bl & ~on_oo, 1).otherwise(0).cast("bigint").alias("kept"),
    )


@query(
    "web_domain_optout_gate",
    _gate_sql()
    + """
SELECT doc_id, registered_domain,
       CAST(on_blocklist AS BIGINT) AS on_blocklist,
       CAST(opted_out AS BIGINT) AS opted_out,
       CAST(CASE WHEN on_blocklist = 0 AND opted_out = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS kept
FROM gated
""",
)
def q_web_domain_optout_gate(spark, sf_dir):
    """Per-domain licensing/opt-out governance gate (X241; VERDICT
    r10 item 3) — the release decision C4 runs as a frozen-badlist
    strip and a modern crawl additionally runs against the opt-out
    register, BOTH at the registered-domain grain the X226 rollup
    established: every document carries its gate verdict (blocklist
    hit, opt-out hit, kept), so the release is the kept=1 slice and
    the audit is one aggregate away. Scale: the lists ride the plan
    as literals (IN-list → per-row predicate, zero join, zero
    shuffle); a production-size PSL blocklist becomes a broadcast
    anti-join on the same key with the identical semantics."""
    return optout_gate(_docs(spark, sf_dir))


@query(
    "web_domain_optout_audit",
    _gate_sql()
    + """
SELECT registered_domain,
       CASE WHEN max(on_blocklist) = 1 THEN 'blocklist'
            WHEN max(opted_out) = 1 THEN 'optout'
            ELSE 'kept' END AS gate,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN on_blocklist = 0 AND opted_out = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN on_blocklist = 1 OR opted_out = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM gated GROUP BY registered_domain
""",
)
def q_web_domain_optout_audit(spark, sf_dir):
    """Domain-gate audit (X242a): what the X241 gate costs each
    domain — the no-silent-caps rule applied to governance (every
    dropped doc is charged to a named domain and a named list). The
    gate is domain-constant, so max() per domain IS the domain's
    verdict; kept/dropped split inside one domain-keyed aggregate."""
    gate = q_web_domain_optout_gate(spark, sf_dir)
    chars = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return (
        gate.join(chars, "doc_id")
        .groupBy("registered_domain")
        .agg(
            F.when(F.max("on_blocklist") == 1, F.lit("blocklist"))
            .when(F.max("opted_out") == 1, F.lit("optout"))
            .otherwise(F.lit("kept"))
            .alias("gate"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("kept"))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


def drop_counts():
    """Aggregates over optout_gate rows: n_dropped_blocklist and
    n_dropped_optout. A domain on both lists counts as blocklisted, so
    the two counts partition the drops."""
    return [
        F.sum("on_blocklist").cast("bigint").alias("n_dropped_blocklist"),
        F.sum(
            F.when((F.col("on_blocklist") == 0) & (F.col("opted_out") == 1), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_dropped_optout"),
    ]


@query(
    "web_optout_release_delta",
    _gate_sql()
    + """
SELECT CAST(count(*) AS BIGINT) AS n_docs_before,
       CAST(sum(CASE WHEN on_blocklist = 0 AND opted_out = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_after,
       CAST(sum(on_blocklist) AS BIGINT) AS n_dropped_blocklist,
       CAST(sum(CASE WHEN on_blocklist = 0 AND opted_out = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_optout,
       CAST(count(DISTINCT CASE WHEN on_blocklist = 1 OR opted_out = 1
                                THEN registered_domain END) AS BIGINT)
         AS n_domains_gated,
       round(sum(CASE WHEN on_blocklist = 1 OR opted_out = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS drop_frac
FROM gated
""",
)
def q_web_optout_release_delta(spark, sf_dir):
    """Release-delta stamp (X242b, the X120/X191 release-report
    shape): one row stating what the governance gate changed between
    the raw crawl and the releasable corpus — docs before/after, the
    split of drops by list, gated-domain count, drop fraction.
    Blocklist WINS when a domain is on both lists (the CASE order in
    both engines), so the two drop counts partition the drops.
    Scale: one global aggregate over the per-row gate."""
    gate = q_web_domain_optout_gate(spark, sf_dir)
    dropped = (F.col("on_blocklist") == 1) | (F.col("opted_out") == 1)
    return gate.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_before"),
        F.sum("kept").cast("bigint").alias("n_docs_after"),
        *drop_counts(),
        F.countDistinct(
            F.when(dropped, F.col("registered_domain"))
        )
        .cast("bigint")
        .alias("n_domains_gated"),
        F.round(
            F.sum(F.when(dropped, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("drop_frac"),
    )
