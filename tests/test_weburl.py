"""X225-X228 web-provenance URL tier: planted rule-by-rule fixtures.

The registered queries pin canonicalize(synth(doc_id)) against the
closed-form oracle; these fixtures pin the canonicalizer's behavior
on URLs the synth corpus does NOT produce (tracking-only queries,
no query at all, root path, unknown TLDs, bare registered domains),
one planted case per documented rule in operators/weburl.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_spark.operators import weburl as W

CASES = [
    # (raw url, expected canonical)
    # rule 1+2: scheme/host lowercase, www. stripped
    ("HTTP://WWW.Site1.COM/a?x=1", "http://site1.com/a?x=1"),
    # rule 3: default port stripped per scheme; other ports kept
    ("http://h.com:80/a?x=1", "http://h.com/a?x=1"),
    ("https://h.com:443/a?x=1", "https://h.com/a?x=1"),
    ("http://h.com:443/a?x=1", "http://h.com:443/a?x=1"),
    ("https://h.com:8080/a?x=1", "https://h.com:8080/a?x=1"),
    # rule 1: userinfo dropped before host extraction (ADVICE r10)
    ("http://User:pw@Host.com/a?x=1", "http://host.com/a?x=1"),
    ("https://alice@www.h.com:443/a?x=1", "https://h.com/a?x=1"),
    # rule 4: slash runs collapse, '/./' removed, trailing '/' stripped
    ("http://h.com/a///b?x=1", "http://h.com/a/b?x=1"),
    ("http://h.com/a/./b?x=1", "http://h.com/a/b?x=1"),
    ("http://h.com/a/b/?x=1", "http://h.com/a/b?x=1"),
    # rule 4 runs: consecutive '/./' segments collapse in ONE pass
    # ('/a/././b' must not leave '/a/./b' residue — ADVICE r10), and a
    # trailing '/a/.' is removed like a trailing slash
    ("http://h.com/a/././b?x=1", "http://h.com/a/b?x=1", ),
    ("http://h.com/a/./././b?x=1", "http://h.com/a/b?x=1"),
    ("http://h.com/a/.?x=1", "http://h.com/a?x=1"),
    ("http://h.com/a/./?x=1", "http://h.com/a?x=1"),
    ("http://h.com/./a/.?x=1", "http://h.com/a?x=1"),
    # dotFILE segments are path identity, not dot-segments
    ("http://h.com/a/.b/c?x=1", "http://h.com/a/.b/c?x=1"),
    # root path survives as '/'
    ("http://h.com/?x=1", "http://h.com/?x=1"),
    # rule 5: tracking dropped, survivors sorted; tracking-only query
    # leaves NO '?' at all
    ("http://h.com/a?utm_source=s&b=2&a=1", "http://h.com/a?a=1&b=2"),
    ("http://h.com/a?gclid=g&fbclid=f&utm_campaign=c", "http://h.com/a"),
    # utm prefix matches the whole family, not a frozen name list
    ("http://h.com/a?utm_anything=z&k=v", "http://h.com/a?k=v"),
    # a non-tracking param NAMED LIKE a value keeps: 'gclidx' != 'gclid'
    ("http://h.com/a?gclidx=1", "http://h.com/a?gclidx=1"),
    # rule 6: fragment dropped
    ("http://h.com/a?x=1#frag", "http://h.com/a?x=1"),
    ("http://h.com/a#only-frag", "http://h.com/a"),
]

PSL_CASES = [
    # (host, expected registered domain) — longest-suffix-wins over
    # the frozen mini-PSL; None for a host with no known suffix
    ("a.b.site1.co.uk", "site1.co.uk"),
    ("site1.co.uk", "site1.co.uk"),
    ("news.site2.com", "site2.com"),
    ("site2.com", "site2.com"),
    ("deep.sub.chain.site3.io", "site3.io"),
    ("unknown.tld.xyz", None),
]


def test_canonicalize_rules_planted(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)], "doc_id long, url string"
    )
    got = {
        r.doc_id: r.url_canonical
        for r in W.canonicalize(df).collect()
    }
    for i, (url, want) in enumerate(CASES):
        assert got[i] == want, (url, got[i], want)


def test_registered_domain_planted(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(PSL_CASES)],
        "i long, host string",
    )
    got = {
        r.i: r.rd
        for r in df.select(
            "i", W.registered_domain(F.col("host")).alias("rd")
        ).collect()
    }
    for i, (host, want) in enumerate(PSL_CASES):
        assert got[i] == want, (host, got[i], want)


def test_tracking_only_query_has_no_question_mark(spark):
    """The '?'-suffix must vanish with the last param — 'http://h/a?'
    and 'http://h/a' are different strings and would split a dedup
    group."""
    df = spark.createDataFrame(
        [(0, "http://h.com/x?utm_source=a&utm_medium=b")],
        "doc_id long, url string",
    )
    row = W.canonicalize(df).collect()[0]
    assert row.url_canonical == "http://h.com/x"
    assert row.n_tracking_dropped == 2


def test_canonicalize_idempotent(spark):
    """canonicalize(canonical) == canonical over the whole synth
    corpus — a true canonical form is a fixed point (a second pass
    that changes anything means some rule left un-normalized residue
    for another rule to find; the classic rule-ordering bug)."""
    docs = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    once = W.canonicalize(W.synth_url(docs)).select(
        "doc_id", F.col("url_canonical").alias("url")
    )
    n = (
        W.canonicalize(once)
        .join(once, "doc_id")
        .filter(F.col("url_canonical") != F.col("url"))
        .count()
    )
    assert n == 0


def test_host_graph_is_simple(spark):
    """The X237 synthetic link graph has no self-loops and no
    multi-edges, by the modular arithmetic: (7u+3) ≡ u and
    (11u+5) ≡ u (mod 40) have no solutions (gcd obstructions), and
    the two targets never coincide (4u ≡ 2 mod 40 is unsolvable).
    Checked exhaustively — the claim the docstring makes."""
    for u in range(40):
        a, b = (7 * u + 3) % 40, (11 * u + 5) % 40
        assert a != u and b != u and a != b, u


def test_domain_cap_binds_and_is_deterministic(spark, plant):
    """Planted over-dense domain: 20 docs in one doc_id%40 class all
    land on one registered domain — the cap keeps exactly DOMAIN_CAP
    of them, the report charges the rest as dropped, and the kept set
    is deterministic (re-run identical)."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm import web_tier

    planted = spark.createDataFrame(
        [(40 * i, f"doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    sf_dir = plant(documents=planted)
    a = {
        r.doc_id
        for r in QUERIES["web_domain_capped_sample"](spark, sf_dir).collect()
    }
    b = {
        r.doc_id
        for r in QUERIES["web_domain_capped_sample"](spark, sf_dir).collect()
    }
    assert a == b and len(a) == web_tier.DOMAIN_CAP
    rep = QUERIES["web_domain_cap_report"](spark, sf_dir).collect()
    assert len(rep) == 1
    assert rep[0].n_docs == 20 and rep[0].n_dropped == 12
    assert rep[0].cap_hit == 1 and rep[0].n_kept == len(a)


def test_synth_identity_is_u_mod_40(spark):
    """Two docs with doc_id ≡ (mod 40) canonicalize to the SAME url
    even though their raw strings differ (the noise rules genuinely
    had to fire); docs in different classes never collide."""
    docs = spark.range(0, 120).withColumnRenamed("id", "doc_id")
    out = W.canonicalize(W.synth_url(docs)).collect()
    raw = {
        r.doc_id: r
        for r in W.synth_url(docs).collect()
    }
    by_id = {r.doc_id: r.url_canonical for r in out}
    for d in range(80):
        assert by_id[d] == by_id[d + 40], d
        assert raw[d].url != raw[d + 40].url, d  # noise differs
    classes = {}
    for d, cu in by_id.items():
        classes.setdefault(cu, set()).add(d % 40)
    for cu, us in classes.items():
        assert len(us) == 1, (cu, us)


def test_optout_gate_drops_planted_domain(spark, plant):
    """X241/X242 planted fixture: docs landing on a blocklisted
    domain (u=0 -> site0.com) and an opted-out domain (u=2 ->
    site2.net) must vanish from the kept release, the audit must
    charge them to the right list, and the delta row must balance
    exactly (before = after + blocklist + optout)."""
    from gmall_spark.queries import QUERIES

    # u = doc_id % 40: 0 -> site0.com (blocklist), 2 -> site2.net
    # (optout), 1 -> site1.org (kept)
    planted = spark.createDataFrame(
        [(40 * i + u, f"doc {i}", 10) for i in range(5) for u in (0, 1, 2)],
        "doc_id long, text string, n_chars long",
    )
    sf_dir = plant(documents=planted)
    gate = {r.doc_id: r for r in
            QUERIES["web_domain_optout_gate"](spark, sf_dir).collect()}
    for d, r in gate.items():
        u = d % 40
        assert r.on_blocklist == (1 if u == 0 else 0), r
        assert r.opted_out == (1 if u == 2 else 0), r
        assert r.kept == (1 if u == 1 else 0), r
    audit = {r.registered_domain: r for r in
             QUERIES["web_domain_optout_audit"](spark, sf_dir).collect()}
    assert audit["site0.com"].gate == "blocklist"
    assert audit["site0.com"].n_dropped == 5 and audit["site0.com"].n_kept == 0
    assert audit["site2.net"].gate == "optout"
    assert audit["site2.net"].n_dropped == 5
    assert audit["site1.org"].gate == "kept" and audit["site1.org"].n_kept == 5
    d = QUERIES["web_optout_release_delta"](spark, sf_dir).collect()[0]
    assert d.n_docs_before == 15 and d.n_docs_after == 5
    assert d.n_dropped_blocklist == 5 and d.n_dropped_optout == 5
    assert d.n_docs_before == (
        d.n_docs_after + d.n_dropped_blocklist + d.n_dropped_optout
    )
    assert d.n_domains_gated == 2
