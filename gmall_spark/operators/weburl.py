"""Web-provenance URL tier (X225-X228).

Every web-scale corpus carries a URL per document, and the curation
steps C4/RefinedWeb run FIRST are URL-level: canonicalize (so two
crawls of the same page collide), roll up to the registered domain
(the grain quality priors and blocklists live at), and cross URL
identity with content identity (same URL + different text = re-crawl
drift; same text + different URL = mirror). Reference tie: the
per-source topic routing at BaseLogApp.java:60-71 is the structural
sibling (provenance key extracted before any content processing).

Design per the repo's codec discipline (operators/markup.py,
multimodal.py): a deterministic synthetic messy URL wraps each
document's provenance in real-world noise — uppercase scheme/host,
'www.' prefixes, default and non-default ports, duplicate '/' and
'/./' path segments, trailing slashes, tracking parameters
(utm_*/gclid/fbclid) interleaved with real ones in scrambled order,
fragments — so the canonical form has a CLOSED FORM the DuckDB
oracle states without parsing a URL. The page IDENTITY derives from
u = doc_id % 40 (so distinct docs genuinely collide on the canonical
URL — the dedup Venn has real mass), while the NOISE derives from
doc_id itself (so docs sharing a page differ in the raw string and
every rule has to fire to merge them).

Canonicalization rule chain (RFC 3986 normalization + the tracking
strip every crawler runs; order documented because it is the
semantics):
  1. scheme and host lowercase; userinfo ('user:pw@') dropped from
     the authority (credentials are never page identity)
  2. 'www.' host prefix stripped
  3. default port stripped (80 for http, 443 for https); any other
     port kept
  4. path: runs of '/' collapse to one, '/./' dot-segments removed
     (including consecutive runs '/././' and a trailing '/.', via a
     single run-greedy pass — see canonicalize), trailing '/'
     stripped (non-root)
  5. query: tracking params dropped (utm_*, gclid, fbclid),
     survivors sorted lexicographically
  6. fragment dropped

The Spark side runs the GENUINE chain — parse_url() built-ins plus
regexp/HOF steps over the raw string, per-row JVM expressions, zero
shuffle, zero UDF; the oracle states what the chain must produce.
Registered-domain extraction uses a frozen public-suffix mini-list
with a two-level suffix ('co.uk') so the longest-suffix-wins
algorithm is exercised, not just a last-two-labels shortcut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_spark import fixtures_audit

# frozen TLD wheel (u % 5): index 4 is the two-level public suffix
TLDS = ("com", "org", "net", "io", "co.uk")

# frozen public-suffix mini-list, LONGEST FIRST (the match order IS
# the algorithm: 'a.co.uk' must bind to 'co.uk', not 'uk'→absent→'co.uk')
PUBLIC_SUFFIXES = ("co.uk", "com", "org", "net", "io")

TRACKING_RE = r"^(utm_[^=]*|gclid|fbclid)="


def _tld_case_sql(u: str) -> str:
    return (
        f"CASE {u} % 5 "
        + " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(TLDS))
        + " END"
    )


def _tld_case_col(u: Column) -> Column:
    out = F.lit(TLDS[0])
    for i, t in list(enumerate(TLDS))[1:]:
        out = F.when(u % 5 == i, F.lit(t)).otherwise(out)
    return out


# --- synthesis ---------------------------------------------------------------


# Column memos (r14, guide §7.3 driver work): synth_url builds ~100
# Column ops and canonicalize ~150 (the PSL when-chain alone is ~40)
# — ~110 ms of pure py4j time per call, 31 calls per bench run each
# (measured in the sf0.001 cProfile: 13.7 s + 9.9 s cumulative). The
# select lists are pure functions of their parameters, so the built
# Column objects are memoized per (applicationId, params) — immutable
# expression trees, the queries._t plan-memo argument at expression
# grain; no data cached.
def synth_url(docs: DataFrame) -> DataFrame:
    """(doc_id, ...) → (doc_id, url): deterministic messy URL; pure
    per-row concat expressions. Identity from u = doc_id % 40, noise
    from doc_id (docstring table)."""
    return docs.select(
        "*", fixtures_audit.memo(docs.sparkSession, ("url_col",), _synth_url_col)
    )


def _synth_url_col() -> Column:
    d = F.col("doc_id")
    u = d % 40
    sch_base = F.when(u % 2 == 0, F.lit("https")).otherwise(F.lit("http"))
    sch_raw = F.when(d % 4 < 2, F.upper(sch_base)).otherwise(sch_base)
    host = F.concat(
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(u % 3 == 0, F.lit("news.")).otherwise(F.lit("")),
        F.lit("site"),
        (u % 7).cast("string"),
        F.lit("."),
        _tld_case_col(u),
    )
    host_raw = F.when(d % 5 == 0, F.upper(host)).otherwise(host)
    port = F.when(u % 13 == 7, F.lit(":8080")).otherwise(
        F.when(
            d % 6 == 0,
            F.when(u % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/p"),
        (u % 11).cast("string"),
        F.when(d % 2 == 0, F.lit("//")).otherwise(F.lit("/")),
        F.when(d % 9 == 0, F.lit("./")).otherwise(F.lit("")),
        F.lit("item"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    # concat_ws skips NULLs in BOTH engines — absent params just vanish
    query = F.concat_ws(
        "&",
        F.when(d % 2 == 1, F.lit("utm_source=feed&utm_campaign=x")),
        F.when(d % 2 == 0, F.concat(F.lit("b="), (u % 5).cast("string"))).otherwise(
            F.concat(F.lit("a="), (u % 3).cast("string"))
        ),
        F.when(d % 3 == 1, F.concat(F.lit("gclid=g"), d.cast("string"))),
        F.when(d % 2 == 0, F.concat(F.lit("a="), (u % 3).cast("string"))).otherwise(
            F.concat(F.lit("b="), (u % 5).cast("string"))
        ),
        F.when(d % 5 == 2, F.lit("fbclid=f")),
    )
    frag = F.when(
        d % 5 == 0, F.concat(F.lit("#sec"), (d % 4).cast("string"))
    ).otherwise(F.lit(""))
    url = F.concat(
        sch_raw, F.lit("://"), host_raw, port, path, F.lit("?"), query, frag
    )
    return url.alias("url")


def synth_url_oracle_expr(id_col: str = "doc_id") -> str:
    """The DuckDB expression mirroring synth_url (the synthesis
    closed form, restated so the oracle can measure raw length
    without parsing)."""
    d = id_col
    u = f"({d} % 40)"
    sch_base = f"CASE WHEN {u} % 2 = 0 THEN 'https' ELSE 'http' END"
    sch_raw = f"CASE WHEN {d} % 4 < 2 THEN upper({sch_base}) ELSE {sch_base} END"
    host = (
        f"CASE WHEN {d} % 3 = 0 THEN 'www.' ELSE '' END || "
        f"CASE WHEN {u} % 3 = 0 THEN 'news.' ELSE '' END || "
        f"'site' || CAST({u} % 7 AS VARCHAR) || '.' || {_tld_case_sql(u)}"
    )
    host_raw = f"CASE WHEN {d} % 5 = 0 THEN upper({host}) ELSE {host} END"
    port = (
        f"CASE WHEN {u} % 13 = 7 THEN ':8080' "
        f"WHEN {d} % 6 = 0 THEN (CASE WHEN {u} % 2 = 0 THEN ':443' ELSE ':80' END) "
        "ELSE '' END"
    )
    path = (
        f"'/p' || CAST({u} % 11 AS VARCHAR) || "
        f"CASE WHEN {d} % 2 = 0 THEN '//' ELSE '/' END || "
        f"CASE WHEN {d} % 9 = 0 THEN './' ELSE '' END || 'item' || "
        f"CASE WHEN {d} % 7 = 0 THEN '/' ELSE '' END"
    )
    query = (
        "concat_ws('&', "
        f"CASE WHEN {d} % 2 = 1 THEN 'utm_source=feed&utm_campaign=x' END, "
        f"CASE WHEN {d} % 2 = 0 THEN 'b=' || CAST({u} % 5 AS VARCHAR) "
        f"ELSE 'a=' || CAST({u} % 3 AS VARCHAR) END, "
        f"CASE WHEN {d} % 3 = 1 THEN 'gclid=g' || CAST({d} AS VARCHAR) END, "
        f"CASE WHEN {d} % 2 = 0 THEN 'a=' || CAST({u} % 3 AS VARCHAR) "
        f"ELSE 'b=' || CAST({u} % 5 AS VARCHAR) END, "
        f"CASE WHEN {d} % 5 = 2 THEN 'fbclid=f' END)"
    )
    frag = (
        f"CASE WHEN {d} % 5 = 0 THEN '#sec' || CAST({d} % 4 AS VARCHAR) "
        "ELSE '' END"
    )
    return (
        f"{sch_raw} || '://' || {host_raw} || {port} || {path} || '?' || "
        f"{query} || {frag}"
    )


def canonical_oracle_expr(id_col: str = "doc_id") -> str:
    """The canonical URL the rule chain must produce, closed-form in
    u = doc_id % 40 alone (every noise rule erased)."""
    u = f"({id_col} % 40)"
    return (
        f"CASE WHEN {u} % 2 = 0 THEN 'https' ELSE 'http' END || '://' || "
        f"CASE WHEN {u} % 3 = 0 THEN 'news.' ELSE '' END || "
        f"'site' || CAST({u} % 7 AS VARCHAR) || '.' || {_tld_case_sql(u)} || "
        f"CASE WHEN {u} % 13 = 7 THEN ':8080' ELSE '' END || "
        f"'/p' || CAST({u} % 11 AS VARCHAR) || '/item' || "
        f"'?a=' || CAST({u} % 3 AS VARCHAR) || '&b=' || CAST({u} % 5 AS VARCHAR)"
    )


def canonical_host_oracle_expr(id_col: str = "doc_id") -> str:
    u = f"({id_col} % 40)"
    return (
        f"CASE WHEN {u} % 3 = 0 THEN 'news.' ELSE '' END || "
        f"'site' || CAST({u} % 7 AS VARCHAR) || '.' || {_tld_case_sql(u)}"
    )


def registered_domain_oracle_expr(id_col: str = "doc_id") -> str:
    u = f"({id_col} % 40)"
    return f"'site' || CAST({u} % 7 AS VARCHAR) || '.' || {_tld_case_sql(u)}"


# --- canonicalization (the genuine chain) ------------------------------------


def registered_domain(host: Column) -> Column:
    """Longest-matching public suffix + one label, over the frozen
    mini-PSL. A real PSL is this exact algorithm with a bigger
    frozen table — the match order (longest first) is what makes
    'a.co.uk' bind to 'co.uk' and not a shorter suffix."""
    out = F.lit(None).cast("string")
    for s in reversed(PUBLIC_SUFFIXES):  # build when() chain longest-first
        pat = "([^.]+[.]" + s.replace(".", "[.]") + ")$"
        out = F.when(
            host.endswith("." + s), F.regexp_extract(host, pat, 1)
        ).otherwise(out)
    return out


def canonicalize(
    urls: DataFrame, url_col: str = "url", passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, url) → per-document provenance record: the canonical
    URL via the genuine rule chain (module docstring), the host and
    registered domain, and the noise stats a crawl audit reports —
    all MEASURED from the raw string (parse_url/regexp), not assumed
    from synthesis. ``passthrough`` columns ride along unchanged (the
    rollups group provenance against document attributes without a
    join back)."""
    passthrough = tuple(passthrough)
    return urls.select(
        *fixtures_audit.memo(
            urls.sparkSession,
            ("canon_cols", url_col, passthrough),
            lambda: _canonical_cols(url_col, passthrough),
        )
    )


def _canonical_cols(url_col: str, passthrough: tuple[str, ...]) -> list:
    url = F.col(url_col)
    proto = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    # userinfo stripped before host/port extraction: 'User:pw@Host'
    # would otherwise leak credentials into host and registered_domain
    # (rule 1; ADVICE r10)
    auth = F.regexp_replace(
        F.lower(F.parse_url(url, F.lit("AUTHORITY"))), r"^[^@]*@", ""
    )
    port_digits = F.regexp_extract(auth, r":(\d+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(auth, r":\d+$", ""), r"^www\.", ""
    )
    is_default_port = (
        (proto == F.lit("http")) & (port_digits == F.lit("80"))
    ) | ((proto == F.lit("https")) & (port_digits == F.lit("443")))
    keep_port = (port_digits != F.lit("")) & ~is_default_port
    # dot segments: one pass of '(/\.)+(/|$)' → '/' removes whole
    # RUNS ('/a/././b' → '/a/b') and a trailing '/a/.' ('→ /a/', then
    # the trailing-slash rule finishes it) — the naive single
    # non-overlapping '/\./' pass leaves residue on consecutive
    # segments because the closing '/' of one match is the opener of
    # the next (ADVICE r10). Greedy '+' consumes a run whole, so no
    # two matches ever need to share a character and one pass IS the
    # fixed point.
    path = F.regexp_replace(
        F.regexp_replace(F.parse_url(url, F.lit("PATH")), "/{2,}", "/"),
        r"(/\.)+(/|$)",
        "/",
    )
    path = F.when(
        F.length(path) > 1, F.regexp_replace(path, "/$", "")
    ).otherwise(path)
    qparts = F.split(F.parse_url(url, F.lit("QUERY")), "&")
    kept = F.filter(qparts, lambda p: ~p.rlike(TRACKING_RE))
    qcanon = F.array_join(F.array_sort(kept), "&")
    canonical = F.concat(
        proto,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port_digits)).otherwise(
            F.lit("")
        ),
        path,
        F.when(
            qcanon != F.lit(""), F.concat(F.lit("?"), qcanon)
        ).otherwise(F.lit("")),
    )
    return [
        "doc_id",
        F.length(url).cast("bigint").alias("n_raw_chars"),
        canonical.alias("url_canonical"),
        host.alias("host"),
        registered_domain(host).alias("registered_domain"),
        (F.size(qparts) - F.size(kept)).cast("bigint").alias(
            "n_tracking_dropped"
        ),
        F.when(F.parse_url(url, F.lit("REF")).isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("had_fragment"),
        F.when((port_digits != F.lit("")) & is_default_port, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("had_default_port"),
        F.md5(canonical).alias("url_md5"),
        *passthrough,
    ]
