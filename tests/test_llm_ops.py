"""Unit tests for the LLM-data-pipeline operators beyond oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_spark.operators import llm_dedup, similarity


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_lsh_finds_planted_near_dups(spark, sf_dir):
    """LSH candidates must recover (essentially all) true near-dup
    pairs found by the exact all-pairs Jaccard at the 0.8 threshold —
    at j>=0.8 with 16/4-band minhash, miss probability per pair < 1e-3."""
    docs = _docs(spark, sf_dir)
    sh = llm_dedup.word_shingles(docs)
    exact = {
        (r.doc_a, r.doc_b)
        for r in llm_dedup.jaccard_pairs(sh, 0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in llm_dedup.minhash_lsh_dedup(docs, 0.8).collect()
    }
    assert lsh <= exact  # verification guarantees no false positives
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.95, f"LSH recall {recall:.2f} over {len(exact)} pairs"


def test_gopher_repetition_planted_spam_and_clean_doc(spark):
    """Repetition signals on planted fixtures with hand-computable
    fractions: a one-word spam doc is wholly covered by its top
    n-grams (fractions ~1, rejected); a doc of 30 distinct words has
    zero repeated grams (all fractions 0, kept)."""
    from gmall_spark.functions.text import repetition_signals

    spam = " ".join(["spam"] * 40)           # tl = 199 chars
    clean = " ".join(f"w{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, spam), (2, clean)], "doc_id long, text string"
    )
    got = {r.doc_id: r.asDict() for r in repetition_signals(docs).collect()}
    # spam: top 2-gram "spam spam" occurs 39x, 9 chars -> 351/199 capped
    assert got[1]["top2_gram_char_frac"] == 1.0
    assert got[1]["dup5_gram_char_frac"] == 1.0
    assert got[1]["rep_keep"] is False
    assert got[2]["top2_gram_char_frac"] > 0  # one occurrence still covers
    assert got[2]["dup5_gram_char_frac"] == 0.0
    assert got[2]["rep_keep"] is True


def test_span_dedup_clean_keeps_first_and_empties_exact_dups(spark):
    """C4-style span clean on a planted fixture: an exact duplicate
    of an earlier doc loses ALL its spans (clean_md5 = md5('')), a
    doc sharing only its first 10-word span loses exactly that one,
    and the earliest occurrence keeps everything."""
    import hashlib

    base = " ".join(f"w{i}" for i in range(30))  # 3 spans of 10
    other = " ".join(f"w{i}" for i in range(10)) + " " + " ".join(
        f"x{i}" for i in range(20)
    )
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in llm_dedup.span_dedup_clean(docs, 10).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (3, 0, md5(base))
    assert got[2] == (3, 3, md5(""))
    kept3 = " ".join(f"x{i}" for i in range(20))
    assert got[3] == (3, 1, md5(kept3))


def test_simhash64_planted_near_dups_precision_and_recall(spark):
    """64-bit SimHash (X5b's at-scale width, VERDICT r5 item 3) on a
    planted fixture: 8 near-identical pairs (one word swapped in a
    400-word doc) among 60 unrelated docs. The 64-bit hamming<=3 pass
    must recover EXACTLY the planted pairs (precision = recall = 1.0)
    while the 16-bit demo width on the same fixture emits dozens of
    false pairs — the measured argument for 64 bits at 100 TB."""
    rows = []
    pid = 0
    planted = set()
    for c in range(8):
        base = [f"c{c}w{i % 97}x{i % 13}" for i in range(400)]
        rows.append((pid, " ".join(base)))
        var = list(base)
        var[200] = f"c{c}swapped"
        rows.append((pid + 1, " ".join(var)))
        planted.add((pid, pid + 1))
        pid += 2
    for u in range(60):
        rows.append(
            (pid, " ".join(f"u{u}t{i * 7 % 101}y{i % 17}" for i in range(120)))
        )
        pid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    p64 = {
        (r.doc_a, r.doc_b)
        for r in llm_dedup.simhash64_near_dup_pairs(docs, 3).collect()
    }
    assert p64 == planted, f"64-bit: got {sorted(p64)}"

    p16 = {
        (r.doc_a, r.doc_b)
        for r in llm_dedup.simhash_near_dup_pairs(docs, 3).collect()
    }
    assert planted <= p16  # 16-bit recalls them too (coarser buckets)
    assert len(p16 - planted) > 10, (
        f"expected the 16-bit width to false-positive on this fixture, got "
        f"{len(p16 - planted)} extras"
    )


def test_lsh_topk_subset_of_brute_force_scores(spark, sf_dir):
    """Bucketed ANN returns true cosine scores (same scoring fn), and
    each query's bucket always contains itself -> nonempty results."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    bf = similarity.brute_force_topk(emb, queries, k=50)
    ann = similarity.lsh_bucketed_topk(emb, queries, k=10)
    bf_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in bf.collect()}
    ann_rows = ann.collect()
    assert ann_rows, "LSH ANN returned nothing"
    for r in ann_rows:
        key = (r.query_id, r.neighbor_id)
        if key in bf_scores:
            assert abs(bf_scores[key] - r.cos_sim) < 1e-9


def test_minhash_lsh_stable_in_warmed_session(spark, sf_dir):
    """Regression for the r1 AQE wrong-result: the banded self-join
    returned 26/28 pairs when run after other queries in a long-lived
    AQE session. The bucket-grouping rewrite must return the same
    count on consecutive executions in one warmed session."""
    docs = _docs(spark, sf_dir)
    first = llm_dedup.minhash_lsh_dedup(docs, 0.8).count()
    second = llm_dedup.minhash_lsh_dedup(docs, 0.8).count()
    assert first == second
    exact = llm_dedup.jaccard_pairs(llm_dedup.word_shingles(docs), 0.8).count()
    assert first == exact


def test_embedding_lsh_matches_exact_near_dup(spark, sf_dir):
    """The registered LSH near-dup operator must (at test SFs) return
    exactly the exact-scan pairs: verification kills false positives,
    and L=32/b=3 tables make a miss at cos>=0.4 ~6e-5 per pair."""
    emb = _emb(spark, sf_dir)
    exact = {(r.id_a, r.id_b) for r in similarity.embedding_near_dup(emb, 0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in similarity.embedding_near_dup_lsh(emb, 0.4).collect()}
    assert lsh == exact
    assert exact, "fixture should contain near-dup pairs"


def test_ann_recall_at_10(spark, sf_dir):
    """Multi-table multi-probe ANN must hit recall@10 >= 0.9 per
    query (deterministic planes + fixed data -> deterministic)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    ann = similarity.lsh_bucketed_topk(emb, queries, k=10).collect()
    bf_sets: dict = {}
    ann_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(bf_sets[q] & ann_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert min(recalls) >= 0.9
    assert sum(recalls) / len(recalls) >= 0.95


def test_exact_dedup_total_count(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    groups = llm_dedup.exact_dedup_groups(docs)
    total = groups.agg(F.sum("doc_count")).collect()[0][0]
    assert total == docs.count()


def test_bucket_signatures_match_expression_path(spark, sf_dir):
    """The Arrow/gemm bucket UDF must produce the same buckets as the
    pure-expression hyperplane_signature (same md5-derived planes,
    float64 math) — the expression version stays as the documented
    JVM-side reference implementation."""
    emb = _emb(spark, sf_dir)
    dim = similarity.infer_dim(emb)
    n_tables, n_planes = 4, 3
    sig = similarity.bucket_signatures(n_tables, n_planes, dim)
    udf_rows = {
        r["vec_id"]: list(r["b"])
        for r in emb.select("vec_id", sig(F.col("embedding")).alias("b")).collect()
    }
    expr_cols = [
        similarity.hyperplane_signature(
            F.col("embedding"), n_planes, dim, salt=f"t{t}:"
        ).alias(f"s{t}")
        for t in range(n_tables)
    ]
    expr_rows = {
        r["vec_id"]: [r[f"s{t}"] for t in range(n_tables)]
        for r in emb.select("vec_id", *expr_cols).collect()
    }
    assert udf_rows == expr_rows


def test_minhash_mega_bucket_cap_bounds_pairs(spark):
    """A planted boilerplate corpus (one giant near-identical group)
    must produce linearly many candidate pairs under the cap, while
    the uncapped path goes quadratic; and on a mixed corpus the cap
    must leave normal-sized buckets' output unchanged."""
    n_big = 300
    rows = [(i, "the same boilerplate text repeated for every doc in this corpus") for i in range(n_big)]
    rows += [(1000 + i, f"unique document number {i} with its own distinct words here {i * 7}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = llm_dedup.minhash_signatures(llm_dedup.word_shingles(docs))

    capped = llm_dedup.lsh_candidate_pairs(sigs, max_bucket=100)
    n_capped = capped.count()
    # chain: <= bands * (n_big - 1) pairs from the mega-group (the
    # distinct collapses identical chains across bands)
    assert n_capped <= llm_dedup.LSH_BANDS * n_big
    # connectivity: every planted duplicate doc appears in some pair
    ids = {
        r[0]
        for c in ("doc_a", "doc_b")
        for r in capped.select(F.col(c)).distinct().collect()
    }
    assert set(range(n_big)) <= ids

    uncapped = llm_dedup.lsh_candidate_pairs(sigs, max_bucket=None)
    assert uncapped.count() >= n_big * (n_big - 1) // 2


def test_embedding_lsh_cap_bounds_megagroup_and_keeps_connectivity(spark):
    """The cap's intended regime (production threshold, mega-group of
    near-identical vectors): a planted group of 200 tiny-perturbation
    copies must NOT go quadratic under the cap, every verified pair
    must still be exact (verification forbids false positives), and
    the mega-group must stay fully connected through the chain pairs
    (transitive closure == the clique, which is what dedup keep/drop
    decisions consume)."""
    import math

    n_big, dim = 200, 16
    base = [math.sin(i + 1) for i in range(dim)]
    rows = [
        (i, [x + 1e-4 * ((i * 31 + j) % 7) for j, x in enumerate(base)])
        for i in range(n_big)
    ]
    # plus a few isolated far-away vectors (one-hot-ish)
    for i in range(10):
        v = [0.0] * dim
        v[i % dim] = 1.0
        rows.append((1000 + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    capped = similarity.embedding_near_dup_lsh(
        emb, 0.99, dim=dim, max_bucket=50
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # bounded: way below the ~20k-pair clique
    assert len(pairs) <= 32 * n_big
    # no false positives and no leakage outside the planted group
    assert all(a < n_big and b < n_big for a, b in pairs)
    # connectivity: union-find over the chain pairs -> one component
    parent = list(range(n_big))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n_big)}) == 1


def test_all_pairs_baselines_refuse_oversized_corpus(spark, sf_dir):
    """VERDICT r4 item 6: the two quadratic oracle baselines (X3
    shared-shingle Jaccard, X7 embedding cosine) must fail LOUDLY
    above their row bound, naming the scale-path twin, and run
    normally below it / with the guard disabled."""
    docs = _docs(spark, sf_dir)
    sh = llm_dedup.word_shingles(docs)
    with pytest.raises(RuntimeError, match="minhash_lsh_dedup"):
        llm_dedup.jaccard_pairs(sh, 0.8, max_docs=10).count()
    assert llm_dedup.jaccard_pairs(sh, 0.8, max_docs=None).count() > 0

    emb = _emb(spark, sf_dir)
    with pytest.raises(RuntimeError, match="embedding_near_dup_lsh"):
        similarity.embedding_near_dup(emb, 0.4, max_vectors=10).count()
    assert similarity.embedding_near_dup(emb, 0.4, max_vectors=None).count() > 0


@pytest.mark.slow
def test_capped_bucket_survives_isolated_verify_failure(spark):
    """VERDICT r4 item 5 planted case: a capped bucket whose ADJACENT
    chain pair fails exact-Jaccard verify must stay one connected
    group — the hop-2 skip link carries the connectivity.

    Members 0,1,2 share a band bucket (hand-built signatures); the
    planted shingle sets give J(0,1) ≈ 0.67 (< 0.8, the failing
    adjacent link) but J(0,2) and J(1,2) ≈ 0.82 (pass)."""
    from gmall_spark.operators import components

    k = llm_dedup.MINHASH_K
    # band 0 = sig_0..sig_3 identical across all three docs -> one bucket
    rows = []
    for d in range(3):
        rows.append(tuple([d] + [7] * 4 + [100 * d + s for s in range(k - 4)]))
    cols = "doc_id long, " + ", ".join(f"sig_{i} long" for i in range(k))
    sigs = spark.createDataFrame(rows, cols)

    cand = llm_dedup.lsh_candidate_pairs(sigs, max_bucket=2)
    got_pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert got_pairs == {(0, 1), (1, 2), (0, 2)}  # chain + skip

    # shingle sets: C=s0..s29; A drops 3 adds a0..a2; B drops 3 others
    # adds b0..b2 -> J(A,C)=J(B,C)=27/33≈0.818, J(A,B)=24/36≈0.667
    c_set = [f"s{i}" for i in range(30)]
    a_set = [f"s{i}" for i in range(3, 30)] + ["a0", "a1", "a2"]
    b_set = [f"s{i}" for i in range(27)] + ["b0", "b1", "b2"]
    with_arr = spark.createDataFrame(
        [(0, a_set), (1, b_set), (2, c_set)],
        "doc_id long, shingles array<string>",
    )
    verified = llm_dedup.jaccard_for_arrays(cand, with_arr, 0.8)
    vp = {(r.doc_a, r.doc_b) for r in verified.collect()}
    assert (0, 1) not in vp  # the adjacent link fails verify...
    assert vp == {(1, 2), (0, 2)}
    groups = components.connected_components(verified.select("doc_a", "doc_b"))
    assert groups.select("group_id").distinct().count() == 1  # ...yet one group

    # and the cap is observable, never silent
    stats = llm_dedup.capped_bucket_stats(sigs, max_bucket=2).collect()
    assert [(r.band_idx, r.bucket_size) for r in stats] == [(0, 3)]


def test_pii_scan_planted(spark):
    """The synthetic corpus is PII-free (the registered query's oracle
    hash-checks the zero case); planted PII must be counted and
    redacted with typed placeholders."""
    from gmall_spark.functions import text as TX

    rows = [
        (1, "mail me at alice.smith+x@example.co.uk today"),
        (2, "see https://example.com/a?b=c and http://x.io/z"),
        (3, "call 555-123-4567 or visit 10.0.0.1 now"),
        (4, "nothing sensitive here at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["email_ct"], r["url_ct"], r["phone_ct"], r["ipv4_ct"], r["red"])
        for r in d.select(
            "doc_id", *TX.pii_counts(F.col("text")), TX.pii_redact(F.col("text")).alias("red")
        ).collect()
    }
    assert got[1][:4] == (1, 0, 0, 0) and "<EMAIL>" in got[1][4]
    assert got[2][:4] == (0, 2, 0, 0) and got[2][4].count("<URL>") == 2
    assert got[3][:4] == (0, 0, 1, 1) and "<PHONE>" in got[3][4] and "<IP>" in got[3][4]
    assert got[4][:4] == (0, 0, 0, 0) and got[4][4] == rows[3][1]


@pytest.mark.slow
def test_semantic_dedup_subset_of_exact_and_catches_planted(spark):
    """SemDeDup invariants: every within-cluster pair is a true exact
    near-dup pair (verification forbids false positives), and a
    planted tight duplicate pair lands in the same cluster and is
    caught despite the cluster partition."""
    from gmall_spark.operators import semdedup

    import math

    dim = 16
    rows = []
    for i in range(120):
        rows.append((i, [math.sin(0.7 * i + j) for j in range(dim)]))
    # planted near-identical pair, far ids; alternating-sign spiky
    # base so it is near-orthogonal to the smooth sin family above
    base = [(-1.0) ** j * (1.0 + 0.1 * j) for j in range(dim)]
    rows.append((500, base))
    rows.append((501, [x + 1e-5 for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = {
        (r["id_a"], r["id_b"])
        for r in semdedup.semantic_dedup_pairs(emb, 0.95, n_lists=8).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup(emb, 0.95).collect()
    }
    assert pairs <= exact
    assert (500, 501) in pairs

    keepers = {
        r["vec_id"]
        for r in semdedup.semantic_dedup_keepers(emb, 0.95, n_lists=8).collect()
    }
    assert 500 in keepers and 501 not in keepers


def test_clear_cache_releases_everything(spark, sf_dir):
    """clear_cache must drain the DWD materialization cache, the
    operators' persisted DataFrames, and the per-session model memos
    (centroids, embedding width) without erroring, and queries must
    still run (and retrain) afterwards."""
    from gmall_spark import fixtures_audit, queries
    from gmall_spark.queries_llm import prelude

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    queries.QUERIES["dedup_minhash_lsh"](spark, sf_dir).count()
    queries._dwd_order_detail(spark, sf_dir)
    prelude._trained_centroids(spark, sf_dir)
    prelude._emb_dim(spark, sf_dir)
    assert not cache_manager.isEmpty() or fixtures_audit.entries("centroids")

    queries.clear_cache()
    assert cache_manager.isEmpty()
    assert not fixtures_audit.entries("centroids")
    assert not fixtures_audit.entries("emb_dim")
    assert not fixtures_audit.entries("dwd")

    # still functional after the drain
    assert queries.QUERIES["similarity_ivf_topk"](spark, sf_dir).count() > 0


# --- transitive grouping (connected components) ---------------------------


def test_connected_components_basic_groups(spark):
    """Two components, labels = component min, one survivor each."""
    from gmall_spark.operators import components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 2)], "doc_a long, doc_b long"
    )
    groups = {
        r.doc_id: r.group_id
        for r in components.connected_components(pairs).collect()
    }
    assert groups == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    drops = {
        r.doc_id
        for r in components.dedup_drops(
            components.connected_components(pairs)
        ).collect()
    }
    assert drops == {2, 3, 11}  # exactly one survivor per group


def test_connected_components_long_chain_and_star(spark):
    """A 64-long path (worst-case diameter for min-propagation) and a
    star must both collapse to min-labeled components within the
    large-star/small-star round budget."""
    from gmall_spark.operators import components

    chain = [(i, i + 1) for i in range(100, 164)]
    star = [(500, 500 + i) for i in range(1, 20)]
    pairs = spark.createDataFrame(chain + star, "doc_a long, doc_b long")
    groups = {
        r.doc_id: r.group_id
        for r in components.connected_components(pairs).collect()
    }
    assert all(groups[i] == 100 for i in range(100, 165))
    assert all(groups[500 + i] == 500 for i in range(20))


def test_transitive_chain_one_survivor(spark):
    """The A~B~C, A≁C chain (VERDICT r3 #1): pairwise doc_b-drop
    removes both B and C; the component rule must keep exactly one
    survivor (A, the min id). Pairs come from the exact Jaccard
    operator so the fixture is deterministic: each step differs by 3
    scattered words (J = 181/211 ≈ 0.858 ≥ 0.8), the ends by 6
    (J = 166/226 ≈ 0.735 < 0.8)."""
    from gmall_spark.operators import components

    words_a = [f"w{i}" for i in range(200)]
    words_b = list(words_a)
    for p in (50, 100, 150):
        words_b[p] = f"x{p}"
    words_c = list(words_b)
    for p in (30, 80, 130):
        words_c[p] = f"y{p}"
    docs = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b)), (3, " ".join(words_c))],
        "doc_id long, text string",
    )
    pairs = llm_dedup.jaccard_pairs(llm_dedup.word_shingles(docs), 0.8)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(1, 2), (2, 3)}, got  # chain holds, ends dissimilar
    groups = components.connected_components(pairs)
    assert {r.group_id for r in groups.collect()} == {1}
    survivors = {1, 2, 3} - {
        r.doc_id for r in components.dedup_drops(groups).collect()
    }
    assert survivors == {1}


@pytest.mark.slow
def test_connected_components_consumes_mega_bucket_chain(spark):
    """The capped LSH path emits adjacent-id chains for mega-buckets;
    connected components over that output must still recover the full
    duplicate group as ONE component (the cap's documented contract)."""
    from gmall_spark.operators import components

    n_big = 300
    rows = [
        (i, "the same boilerplate text repeated for every doc in this corpus")
        for i in range(n_big)
    ]
    rows += [
        (1000 + i, f"unique document number {i} with its own distinct words here {i * 7}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = llm_dedup.minhash_signatures(llm_dedup.word_shingles(docs))
    capped = llm_dedup.lsh_candidate_pairs(sigs, max_bucket=100)
    groups = components.connected_components(capped)
    planted = {
        r.group_id for r in groups.filter(F.col("doc_id") < n_big).collect()
    }
    assert planted == {0}, planted  # one component, min-labeled


def test_keeper_by_score_prefers_quality_then_min_id(spark):
    """Keeper policy: highest score wins; ties break to the LOWER id
    (deterministic); group_size counts all members."""
    from gmall_spark.operators import components

    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, group_id long",
    )
    scores = spark.createDataFrame(
        # group 1: doc 2 longest; group 10: tie -> keep 10
        [(1, 5), (2, 9), (3, 7), (10, 4), (11, 4)],
        "doc_id long, score long",
    )
    got = {
        r.group_id: (r.keeper_id, r.group_size)
        for r in components.keeper_by_score(groups, scores).collect()
    }
    assert got == {1: (2, 3), 10: (10, 2)}


def test_sq_recall_at_10(spark, sf_dir):
    """Scalar-quantized ANN (8-bit codes + exact rescore of refine*k
    candidates) must hit recall@10 >= 0.9 per query vs brute force."""
    from gmall_spark.operators import sq

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    sqr = sq.sq_topk(emb, queries, k=10).collect()
    bf_sets: dict = {}
    sq_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in sqr:
        sq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(bf_sets[q] & sq_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert min(recalls) >= 0.9, recalls
    assert sum(recalls) / len(recalls) >= 0.95


def test_bigram_lm_flags_mojibake(spark):
    """A document of improbable character sequences must score a
    lower mean bigram log-prob than ordinary corpus text."""
    from gmall_spark.operators import lm

    rows = [(i, "the quick brown fox jumps over the lazy dog again", "en")
            for i in range(8)]
    rows.append((99, "zq xv qj wz vx jq zx qq vv xx zj qz", "en"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {r.doc_id: r.bigram_logprob
           for r in lm.bigram_logprob_scores(docs).collect()}
    normal = max(v for k, v in got.items() if k != 99)
    assert got[99] < normal


def test_frozen_model_unseen_bigram_semantics(spark):
    """VERDICT r6 item 7: scoring NEW data under a frozen model must
    not silently drop unseen bigrams (the old inner join did, which
    INFLATED the scores of exactly the improbable documents the
    filter exists to catch). Checks against a hand-computed add-one
    reference: unseen bigrams take the floor 1/(total+v), every
    bigram counts in the mean, and an unknown language yields NULL."""
    import math

    from gmall_spark.operators import lm

    train = spark.createDataFrame(
        [(1, "abab", "en"), (2, "abba", "en")],
        "doc_id bigint, text string, lang string",
    )
    # train bigrams: ab x3, ba x2, bb x1 -> total=6, v=3
    model = lm.bigram_model(train)
    got_model = {(r.lang, r.b): (r.c, r.total, r.v) for r in model.collect()}
    assert got_model == {
        ("en", "ab"): (3, 6, 3),
        ("en", "ba"): (2, 6, 3),
        ("en", "bb"): (1, 6, 3),
    }
    eval_docs = spark.createDataFrame(
        [
            (10, "abzz", "en"),  # ab seen, bz + zz UNSEEN
            (11, "ab", "fr"),  # language absent from the model
        ],
        "doc_id bigint, text string, lang string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.bigram_logprob)
        for r in lm.score_with_model(eval_docs, model).collect()
    }
    expect_10 = round(
        (math.log((3 + 1) / (6 + 3)) + 2 * math.log((0 + 1) / (6 + 3))) / 3, 6
    )
    assert got[10] == (3, expect_10), got[10]
    assert got[11][0] == 1 and got[11][1] is None, got[11]
    # self-scoring (model trained on the scored corpus) is unchanged
    # by the left-join rewrite: no bigram is unseen by construction
    self_scores = {
        r.doc_id: r.bigram_logprob
        for r in lm.bigram_logprob_scores(train).collect()
    }
    expect_1 = round(
        (2 * math.log(4 / 9) + math.log(3 / 9)) / 3, 6
    )  # ab, ba, ab
    expect_2 = round(
        (math.log(4 / 9) + math.log(2 / 9) + math.log(3 / 9)) / 3, 6
    )  # ab, bb, ba
    assert self_scores == {1: expect_1, 2: expect_2}, self_scores


def test_bigram_col_short_text_is_empty(spark):
    """sequence(1, 0) descends in Spark — the length guard must give
    short texts an EMPTY bigram array, not a bogus one."""
    from gmall_spark.operators.lm import _bigram_col

    docs = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "ab")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.bg for r in
           docs.select("doc_id", _bigram_col("text").alias("bg")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == ["ab"]


def test_gopher_rules_planted(spark):
    """Each Gopher rule trips on a document planted to violate ONLY a
    recognizable dimension; the clean document passes every gate."""
    from gmall_spark.functions.text import gopher_signals

    base = "the quick brown fox jumps of and to in it is"  # 11 words, all alpha
    good = " ".join([base] * 6)  # 66 words, stopword-rich, mean len ~3.1
    rows = [
        (0, good),
        (1, "the of and is it"),  # < 50 words
        (2, "\n".join("- " + base for _ in range(8))),  # all lines bullets
        (3, good + " #" * 30),  # symbol/words > 0.1
        (4, " ".join([base] * 3) + " " + " ".join(str(n) * 3 for n in range(40))),  # numeric words
        (5, " ".join(["quick brown fox jumps green stone"] * 10)),  # no stopwords
        (6, "\n".join(base + " ..." for _ in range(6))),  # lines end in ellipsis
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in gopher_signals(docs).collect()}
    assert got[0].gopher_keep, got[0]
    for bad in range(1, 7):
        assert not got[bad].gopher_keep, got[bad]
    assert got[1].n_words < 50
    assert got[2].bullet_line_ratio >= 0.9
    assert got[3].symbol_ratio > 0.1
    assert got[4].alpha_word_ratio <= 0.8
    assert got[5].stopword_ct < 2
    assert got[6].ellipsis_line_ratio >= 0.3


def test_pagerank_star_graph_centrality_and_mass(spark):
    """On a directed star (every leaf -> center, center -> one leaf)
    the center out-ranks every leaf; total rank mass stays within
    integer-truncation slack of 1.0."""
    from gmall_spark.operators.graph import PR_SCALE, pagerank

    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node_id: r.rank_micro for r in pagerank(e).collect()}
    assert set(got) == set(range(6))
    center, leaves = got[0], [got[i] for i in range(1, 6)]
    assert all(center > lv for lv in leaves), got
    # leaf 1 receives the center's entire mass, other leaves only teleport
    assert got[1] > got[2] == got[3] == got[4] == got[5]
    total = sum(got.values())
    # each of the 6 nodes loses < iterations * a few units to integer
    # truncation; anything near PR_SCALE means mass is conserved
    assert abs(total - PR_SCALE) < 1000, total


def test_pq_recall_at_10(spark, sf_dir):
    """Product-quantized ANN (8 sub-space codebooks, ADC + exact
    rescore of refine*k candidates) must hit recall@10 >= 0.8 per
    query vs brute force (coarser than SQ by design: 4 bits/sub-space
    vs 8 bits/dimension — the refine stage recovers the final order)."""
    from gmall_spark.operators import pq

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    pqr = pq.pq_topk(emb, queries, k=10).collect()
    bf_sets: dict = {}
    pq_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in pqr:
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(bf_sets[q] & pq_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert min(recalls) >= 0.8, recalls
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivfpq_recall_matches_ivf_ceiling(spark, sf_dir):
    """IVFPQ can never out-recall its own coarse quantizer (both see
    only the nprobe probed lists), but the PQ/ADC stage plus exact
    refine must recover essentially everything the probes contain:
    average recall@10 >= 0.9x plain IVF's on the same fixture (the
    absolute value is capped by the near-isotropic fixture — see
    test_ivf_recall_at_10's rationale)."""
    from gmall_spark.operators import ivf, pq

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    bf_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def _avg_recall(rows):
        sets: dict = {}
        for r in rows:
            sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        rec = [
            len(bf_sets[q] & sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
        ]
        return sum(rec) / len(rec)

    ivf_avg = _avg_recall(ivf.ivf_topk(emb, queries, k=10).collect())
    ivfpq_avg = _avg_recall(pq.ivfpq_topk(emb, queries, k=10).collect())
    assert ivfpq_avg >= 0.9 * ivf_avg, (ivfpq_avg, ivf_avg)


def test_bloom_no_false_negatives_and_saturation_fps(spark):
    """Planted membership: every inserted key MUST probe positive
    (Bloom guarantees zero false negatives); non-members probe
    negative at a healthy bits/key ratio, and a deliberately
    saturated 64-bit filter starts returning false positives —
    the bounded-FPR contract the decontam pre-filter relies on."""
    from gmall_spark.operators import bloom

    members = spark.createDataFrame(
        [(f"key_{i}",) for i in range(50)], "key string"
    )
    others = spark.createDataFrame(
        [(i, f"other_{i}") for i in range(200)], "pid bigint, key string"
    )
    both = spark.createDataFrame(
        [(i, f"key_{i}") for i in range(50)]
        + [(100 + i, f"other_{i}") for i in range(50)],
        "pid bigint, key string",
    )
    filt = bloom.bloom_build(members, "key")
    got = {r.pid: r.bloom_hit for r in bloom.bloom_probe(filt, both, "key", "pid").collect()}
    assert all(got[i] for i in range(50)), "false negative!"
    # 65536 bits / 50 keys -> FPR ~ 0: no non-member should hit
    assert not any(got[100 + i] for i in range(50)), got
    # saturate: 64 bits, 200 keys -> nearly every bit set -> FPs
    sat = bloom.bloom_build(others.select("key"), "key", bits=64)
    fp = bloom.bloom_probe(sat, both.filter(F.col("pid") < 50), "key", "pid", bits=64)
    assert sum(1 for r in fp.collect() if r.bloom_hit) > 25


def test_bloom_probe_is_multiplicity_insensitive(spark):
    """A probe id appearing on SEVERAL input rows (same key) must
    still report a genuine member as hit — the old sum(hit) ==
    n_hashes reduction double-counted to 2*n_hashes and returned a
    false negative, violating the Bloom contract (ADVICE r4)."""
    from gmall_spark.operators import bloom

    members = spark.createDataFrame([("dup_key",)], "key string")
    probes = spark.createDataFrame(
        [(1, "dup_key"), (1, "dup_key"), (2, "absent"), (2, "absent")],
        "pid bigint, key string",
    )
    filt = bloom.bloom_build(members, "key")
    got = {r.pid: r.bloom_hit for r in bloom.bloom_probe(filt, probes, "key", "pid").collect()}
    assert got == {1: True, 2: False}


def test_cms_overestimates_only_and_is_exact_when_wide(spark):
    """Count-min contract on a planted stream: estimates NEVER
    undercount; a saturated (tiny-width) sketch overcounts the rare
    keys, a wide sketch is exact for every key."""
    from gmall_spark.operators.sketches import cms_build, cms_estimate

    rows = [("hot",)] * 100 + [(f"rare_{i}",) for i in range(50)]
    items = spark.createDataFrame(rows, "tok string")
    truth = {"hot": 100, **{f"rare_{i}": 1 for i in range(50)}}

    wide = cms_estimate(cms_build(items, "tok"), items, "tok").collect()
    assert {r.tok: r.est_ct for r in wide} == truth

    tiny = cms_estimate(
        cms_build(items, "tok", width=8), items, "tok", width=8
    ).collect()
    est = {r.tok: r.est_ct for r in tiny}
    assert all(est[t] >= c for t, c in truth.items()), est
    assert sum(est.values()) > sum(truth.values())  # saturation overcounts


def test_residual_pq_reconstructs_tighter_on_clustered_data(spark):
    """by_residual's claim is RECONSTRUCTION on CLUSTERED corpora
    (residual variance = within-cluster variance, which is small only
    when the coarse clusters concentrate — on the near-isotropic
    driver fixture residual ≈ plain, which is why this test plants a
    genuinely clustered corpus): mean ||u − dq||² must be clearly
    lower when codebooks quantize residuals. Coarse codebook size is
    dropped to 16 so neither variant can simply memorize the sample."""
    import numpy as np

    from gmall_spark.operators import ivf, pq

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 30, axis=0) + 0.05 * rng.normal(size=(480, 64))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id bigint, embedding array<float>",
    )
    cents = ivf.train_centroids(emb)
    plain_books = pq.train_codebooks(emb, 64, k=16)
    resid_books = pq.train_codebooks_residual(emb, cents, 64, k=16)
    plain = {
        r.vec_id: r.dq
        for r in emb.select(
            "vec_id", pq._recon_udf(plain_books)(F.col("embedding")).alias("dq")
        ).collect()
    }
    resid = {
        r.vec_id: r.dq
        for r in emb.select(
            "vec_id",
            pq._recon_residual_udf(resid_books, cents)(F.col("embedding")).alias("dq"),
        ).collect()
    }
    rows = emb.collect()

    def mse(recon):
        errs = []
        for r in rows:
            v = np.array([float(x) for x in r.embedding])
            n = np.linalg.norm(v)
            u = v / n if n > 0 else v
            errs.append(float(((u - np.array(recon[r.vec_id])) ** 2).sum()))
        return sum(errs) / len(errs)

    plain_mse, resid_mse = mse(plain), mse(resid)
    assert resid_mse < 0.8 * plain_mse, (resid_mse, plain_mse)


def test_residual_ivfpq_keeps_recall_on_fixture(spark, sf_dir):
    """On the driver fixture the residual variant must still recover
    what the IVF probes contain — recall ≥ 0.9× plain IVF's."""
    from gmall_spark.operators import ivf, pq

    emb = _emb(spark, sf_dir)
    cents = ivf.train_centroids(emb)
    resid_books = pq.train_codebooks_residual(
        emb, cents, similarity.infer_dim(emb)
    )
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    bf_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def _avg(rows_):
        s: dict = {}
        for r in rows_:
            s.setdefault(r.query_id, set()).add(r.neighbor_id)
        rec = [
            len(bf_sets[q] & s.get(q, set())) / len(bf_sets[q]) for q in bf_sets
        ]
        return sum(rec) / len(rec)

    ivf_avg = _avg(ivf.ivf_topk(emb, queries, k=10, centroids=cents).collect())
    res_avg = _avg(
        pq.ivfpq_topk(
            emb, queries, k=10, centroids=cents, books=resid_books, by_residual=True
        ).collect()
    )
    assert res_avg >= 0.9 * ivf_avg, (res_avg, ivf_avg)


def test_boilerplate_clean_removes_all_copies_above_doc_freq(spark):
    """Corpus-frequency boilerplate vs C4 keep-first on the same
    fixture: a span in 3 docs is removed from ALL of them (including
    the first occurrence), a span in only 2 docs survives everywhere
    (below min_doc_freq=3), and span_dedup_clean on the same corpus
    keeps exactly one copy of each — the policy difference."""
    import hashlib

    boiler = " ".join(f"b{i}" for i in range(10))
    pair = " ".join(f"p{i}" for i in range(10))
    uniq = {k: " ".join(f"{k}{i}" for i in range(10)) for k in "xyz"}
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + uniq["x"]),
            (2, boiler + " " + pair),
            (3, pair + " " + boiler + " " + uniq["y"]),
            (4, uniq["z"]),
        ],
        "doc_id long, text string",
    )
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    got = {
        r.doc_id: (r.n_spans, r.removed_spans, r.clean_md5)
        for r in llm_dedup.boilerplate_span_clean(docs, 10, 3).collect()
    }
    assert got[1] == (2, 1, md5(uniq["x"]))
    assert got[2] == (2, 1, md5(pair))
    assert got[3] == (3, 1, md5(pair + " " + uniq["y"]))
    assert got[4] == (1, 0, md5(uniq["z"]))
    keepfirst = {
        r.doc_id: r.removed_spans
        for r in llm_dedup.span_dedup_clean(docs, 10).collect()
    }
    # keep-first spares doc 1's boiler copy and doc 2's pair copy
    assert keepfirst[1] == 0 and keepfirst[2] == 1 and keepfirst[3] == 2


def test_containment_catches_quoted_subset_lsh_misses(spark):
    """A 12-word doc quoted verbatim inside a 120-word doc:
    containment = 1.0 but Jaccard is far below the 0.8 LSH verify
    threshold — rare-shingle blocking + containment verify reports
    the pair, and its reported jaccard confirms the LSH tier's
    threshold would have discarded it."""
    quote = " ".join(f"q{i}" for i in range(12))
    host = quote + " " + " ".join(f"h{i}" for i in range(108))
    noise = [
        (k + 10, " ".join(f"n{k}_{i}" for i in range(40))) for k in range(5)
    ]
    docs = spark.createDataFrame(
        [(1, quote), (2, host)] + noise, "doc_id long, text string"
    )
    rows = {
        (r.doc_a, r.doc_b): r
        for r in llm_dedup.containment_pairs_rare_blocking(docs).collect()
    }
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r.containment == 1.0
    assert r.jaccard < 0.8  # the LSH verify threshold would drop it
    assert len(rows) == 1  # noise docs share no shingles


def test_perplexity_buckets_equal_thirds_and_deterministic_ties(spark):
    """Nine docs in one language split 3/3/3 head/middle/tail by LM
    score, and two docs with IDENTICAL text (tied scores) land in the
    same bucket — the histogram-based cut has no tie-order ambiguity."""
    from gmall_spark.operators import lm

    common = "abababab"  # probable bigrams
    rows = [(i, common * (i + 2), "en") for i in range(7)]
    # two identical rare-char docs: tied scores, must share a bucket
    rows += [(7, "zqzqxkxk", "en"), (8, "zqzqxkxk", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = lm.perplexity_buckets(docs).collect()
    by_bucket: dict = {}
    bucket_of = {}
    for r in out:
        by_bucket.setdefault(r.bucket, set()).add(r.doc_id)
        bucket_of[r.doc_id] = r.bucket
    assert {len(v) for v in by_bucket.values()} == {3}
    assert bucket_of[7] == bucket_of[8]
    assert set(by_bucket) == {"head", "middle", "tail"}


def test_bpe_merge_step_greedy_left_to_right(spark):
    """Hand-computed BPE iteration: corpus 'aaab aaab aab' -> best
    pair (a,a) with count 5; greedy application gives aaab=[aa,a,b],
    aab=[aa,b]; next candidates rank (a,b):2 < (aa,a):2 by pair_left,
    then (aa,b):1. And 'aaaa' merges to [aa,aa] (positions 0-1 and
    2-3, NOT the overlapping middle) -> next top is (aa,aa)."""
    from gmall_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "aaab aaab aab")], "doc_id long, text string"
    )
    rows = [
        (r.rnk, r.pair_left, r.pair_right, r.pair_count, r.applied_pair)
        for r in bpe.merge_step(docs).collect()
    ]
    assert rows == [
        (1, "a", "b", 2, "aa"),
        (2, "aa", "a", 2, "aa"),
        (3, "aa", "b", 1, "aa"),
    ]

    docs2 = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    rows2 = [
        (r.rnk, r.pair_left, r.pair_right, r.pair_count, r.applied_pair)
        for r in bpe.merge_step(docs2).collect()
    ]
    assert rows2 == [(1, "aa", "aa", 2, "aa")]


def test_quality_agreement_counts_cover_scored_corpus(spark, sf_dir):
    """The contingency table partitions exactly the docs every signal
    covers (inner-join semantics: docs with >= 2 chars, i.e. with LM
    scores), and each cell key is a 4-bool tuple."""
    from gmall_spark import queries as q

    out = q.QUERIES["text_quality_agreement"](spark, sf_dir).collect()
    total = sum(r.doc_ct for r in out)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.filter(F.length("text") >= 2).count()
    assert total == scored
    assert len({(r.gopher_keep, r.rep_keep, r.lang_match, r.lm_keep) for r in out}) == len(out)


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR (X114) on a planted two-topic corpus: raw documents
    sharing the TARGET set's vocabulary must out-weight documents
    from the other topic, and the resampling step must keep exactly
    the target-like tier."""
    from gmall_spark.operators import dsir

    med = "patient doctor dose trial symptom clinical therapy"
    web = "click buy cheap deal offer shop discount free"
    target = spark.createDataFrame(
        [(i, med) for i in range(4)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(10, med), (11, med), (12, web), (13, web), (14, web), (15, web),
         (16, web), (17, web)],
        "doc_id long, text string",
    )
    w = {r.doc_id: r.dsir_logratio
         for r in dsir.importance_weights(raw, target).collect()}
    assert len(w) == 8
    assert min(w[10], w[11]) > max(w[d] for d in range(12, 18)), w
    kept = {r.doc_id for r in
            dsir.resample_top_fraction(
                dsir.importance_weights(raw, target)).collect()}
    assert kept == {10, 11}, kept  # the target-like quarter


def test_dsir_single_word_and_empty_docs(spark):
    """Feature extraction edge cases: a single-word doc has one
    unigram and NO bigram (sequence(1,0) would descend — the
    lm._bigram_col trap), and an empty doc still features (one empty
    token, same as the oracle's string_split_regex)."""
    from gmall_spark.operators import dsir

    docs = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    counts = {
        r.doc_id: r.n
        for r in dsir.feature_buckets(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {1: 1, 2: 1, 3: 3}, counts  # a, '', [a, b, 'a b']


@pytest.mark.slow
def test_gemm_topk_equals_hof(spark, sf_dir):
    """The blocked-GEMM self-join top-k (X116's scorer and the kNN
    fixture build) must be ROW-IDENTICAL to the HOF brute-force
    baseline — same round-6 scores, same neighbor-id tie order — in
    both the single-candidate-block fast path and the multi-block
    merge-window path, with and without the hard band."""
    from gmall_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim)
          for r in similarity.brute_force_topk(emb, emb, k=5).collect()}
    for cb in (1, 4):
        got = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim)
               for r in similarity.gemm_allpairs_topk(
                   emb, k=5, cblocks=cb).collect()}
        assert got == bf, f"cblocks={cb}"
    banded = {(r.anchor_id, r.negative_id, r.rank, r.cos_sim)
              for r in similarity.hard_negatives(emb).collect()}
    assert banded and all(0.2 <= s < 0.4 for *_, s in banded)


@pytest.mark.slow
def test_ngram_novelty_planted(spark, sf_dir):
    """X121 semantics on the real corpus: a doc whose text is copied
    verbatim FROM a reference doc must score novelty 0; reference
    docs never appear in the output; and every novelty value is a
    valid fraction with integer-exact counts."""
    from gmall_spark.queries_llm import prelude, sampling_privacy

    out = {r.doc_id: (r.n_grams, r.seen_ct, r.novelty)
           for r in sampling_privacy.q_text_ngram_novelty(spark, sf_dir).collect()}
    assert out, "corpus docs shorter than 8 words everywhere?"
    assert all(k % 20 != 0 for k in out)
    for n, s, nov in out.values():
        assert 0 <= s <= n and abs(nov - round(1 - s / n, 6)) < 1e-9
    # plant: copy a reference doc's text onto a raw doc_id
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref_row = docs.filter(
        (F.col("doc_id") % 20 == 0) & (F.length("text") > 200)
    ).orderBy("doc_id").first()
    planted = spark.createDataFrame(
        [(999999, ref_row.text), (999998, " ".join(f"zz{i}" for i in range(20)))],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("x")).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    import gmall_spark.queries as q
    from gmall_spark.operators import llm_dedup

    d = docs.unionByName(planted)
    grams = d.select(
        "doc_id",
        F.explode(llm_dedup.shingle_array("text", prelude.CONTAM_GRAM_N)).alias("gram"),
    )
    ref = (grams.filter(F.col("doc_id") % 20 == 0).select("gram").distinct()
           .withColumn("__seen", F.lit(1)))
    nov = {
        r.doc_id: r.novelty
        for r in grams.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(ref), "gram", "left")
        .groupBy("doc_id")
        .agg(F.round(
            F.lit(1.0) - F.count("__seen").cast("double") / F.count(F.lit(1)), 6
        ).alias("novelty"))
        .collect()
    }
    assert nov[999999] == 0.0, nov[999999]  # verbatim copy of reference
    assert nov[999998] == 1.0, nov[999998]  # fresh text


def test_decontam_audit_catches_subthreshold_quote(spark):
    """X133: the audit's exact-gram detector must flag residual
    contamination the LSH cleaner structurally misses — a long kept
    doc quoting ONE reference 8-gram has Jaccard far below the 0.7
    drop threshold (survives the clean) but a nonzero shared-gram
    count (shows up on the certificate)."""
    from gmall_spark.queries_llm import corpus_lm, prelude

    ref_text = "r1 r2 r3 r4 r5 r6 r7 r8"
    quote_doc = " ".join(f"k{i}" for i in range(40)) + " " + ref_text
    clean_doc = " ".join(f"c{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(20, ref_text), (1, quote_doc), (2, clean_doc)],
        "doc_id long, text string",
    )
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    ref = docs.filter(F.col("doc_id") % 20 == 0)
    dropped = llm_dedup.cross_corpus_near_dups(
        corpus, ref, corpus_lm.DECONTAM_THRESHOLD
    ).select("doc_id").distinct()
    assert dropped.count() == 0  # LSH clean keeps the quoting doc
    kept = corpus.join(F.broadcast(dropped), "doc_id", "left_anti")
    grams = F.explode(llm_dedup.shingle_array("text", prelude.CONTAM_GRAM_N))
    ov = (
        kept.select("doc_id", grams.alias("gram"))
        .join(F.broadcast(ref.select(grams.alias("gram")).distinct()), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .collect()
    )
    assert {(r.doc_id, r.shared) for r in ov} == {(1, 1)}


def test_lsh_band_plan_s_curve_properties(spark):
    """The band-plan table (X137) matches the analytic S-curve: exact
    value at a hand-computed point, monotone in s within a config, and
    the s50 crossover moves RIGHT as rows/band grows (more selective)."""
    from gmall_spark.queries_llm import ann_eval

    rows = ann_eval.q_dedup_lsh_band_plan(spark, None).collect()
    assert len(rows) == 19 * len(ann_eval.BAND_PLAN_CONFIGS)
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault((r.n_bands, r.rows_per_band), []).append(r)
    # hand-computed spot check: (16,1) at s=0.05 -> 1-(0.95)^16
    one = {r.s_pct: r.p_candidate for r in by_cfg[(16, 1)]}
    assert one[5] == round(1 - 0.95**16, 6)
    s50 = {}
    for cfg, rs in by_cfg.items():
        rs.sort(key=lambda r: r.s_pct)
        ps = [r.p_candidate for r in rs]
        assert all(a <= b for a, b in zip(ps, ps[1:]))  # monotone in s
        assert all(0.0 <= p <= 1.0 for p in ps)
        assert len({r.s50_pct for r in rs}) == 1
        # NULL s50 = the config never reaches p=0.5 inside the grid
        # (true for (1,16): 0.95^16 ~= 0.44) — order it past the end.
        s50[cfg] = rs[0].s50_pct if rs[0].s50_pct is not None else 100
    ordered = sorted(s50, key=lambda c: c[1])  # by rows/band
    assert [s50[c] for c in ordered] == sorted(s50[c] for c in ordered)
    assert s50[(16, 1)] < s50[(4, 4)] < s50[(1, 16)]


def test_dim_truncation_recall_shape(spark, sf_dir):
    """Truncation eval (X138): one row per dim, hits bounded by the
    ground-truth pair count, and using ALL 64 dims would give recall 1
    by construction (sanity of the harness itself via the 32-dim arm
    being <= 1)."""
    from gmall_spark.queries_llm import ann_eval

    rows = ann_eval.q_similarity_eval_dim_truncation(spark, sf_dir).collect()
    assert sorted(r.dims for r in rows) == sorted(ann_eval.TRUNC_DIMS)
    for r in rows:
        assert r.bf_pairs > 0 and 0 <= r.hits <= r.bf_pairs
        assert r.recall_at_10 == round(r.hits / r.bf_pairs, 6)


def test_frozen_bpe_encode_matches_python_reference(spark):
    """The nested-fold encode (X139) equals a literal pure-Python BPE
    apply (scan left to right, merge non-overlapping occurrences, one
    merge rank at a time) on adversarial words — including the 'aaaa'
    overlap case and chained merges that consume earlier outputs."""
    from gmall_spark.operators import bpe

    def py_encode(word, merges):
        toks = list(word)
        for l, r in merges:
            out = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    words = ["there", "and", "running", "x", "inthe", "thethe",
             "rere", "anand", "interesting", "ontheother"]
    merges = bpe.FROZEN_MERGES
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r.w: r.toks
        for r in df.selectExpr(
            "w", f"{bpe.encode_expr_spark('w')} AS toks"
        ).collect()
    }
    for w in words:
        assert got[w] == py_encode(w, merges), w
    # the overlap rule, isolated: (a,a) on runs of a
    aa = [("a", "a")]
    df2 = spark.createDataFrame([("aaaa",), ("aaa",), ("aaaaa",)], "w string")
    got2 = {
        r.w: r.toks
        for r in df2.selectExpr(
            "w", f"{bpe.encode_expr_spark('w', aa)} AS toks"
        ).collect()
    }
    assert got2["aaaa"] == ["aa", "aa"]
    assert got2["aaa"] == ["aa", "a"]
    assert got2["aaaaa"] == ["aa", "aa", "a"]


def test_vocab_oov_planted_counts(spark, tmpdir):
    """X144 on a planted corpus where the OOV branch actually fires
    (the synthetic testdata's ~31-type vocabulary never misses): the
    frozen vocab keeps only train words with count >= 2, and holdout
    OOV is counted token- and type-weighted."""
    from gmall_spark.queries_llm import warehouse_ops

    rows = [
        (0, "aa aa bb", "en"),   # train: aa x2 (kept), bb x1 (hapax, cut)
        (2, "aa cc cc", "en"),   # train: cc x2 (kept)
        (1, "aa bb dd dd", "en"),  # holdout: bb, dd, dd are OOV
        (3, "cc", "fr"),           # holdout: fully covered
    ]
    sf = f"{tmpdir}/vocab_sf"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r.lang: r for r in warehouse_ops.q_llm_vocab_oov(spark, sf).collect()}
    en = got["en"]
    assert (en.n_tokens, en.oov_tokens) == (4, 3)
    assert en.oov_token_rate == 0.75
    assert (en.n_types, en.oov_types) == (3, 2)
    assert en.oov_type_rate == round(2 / 3, 6)
    fr = got["fr"]
    assert (fr.n_tokens, fr.oov_tokens, fr.oov_type_rate) == (1, 0, 0.0)


def test_kmv_join_cardinality_accuracy(spark, sf_dir):
    """KMV sketch estimates (X145) must land near the exact counts:
    a side smaller than K is EXACT by construction (the sketch holds
    every value), and the K=256 estimates carry ~1/sqrt(K-1) ≈ 6%
    standard error — gate at 25% relative."""
    from gmall_spark.operators import sketches
    from gmall_spark.queries_llm import warehouse_ops

    r = warehouse_ops.q_events_join_cardinality_sketch(spark, sf_dir).collect()[0]
    assert r.k == sketches.KMV_K
    if r.n_a_exact < r.k:
        assert r.n_a_est == float(r.n_a_exact)
    for est, exact in [
        (r.n_a_est, r.n_a_exact),
        (r.n_b_est, r.n_b_exact),
        (r.n_inter_est, r.n_inter_exact),
    ]:
        assert exact > 0 and abs(est - exact) / exact < 0.25, (est, exact)


def test_bitext_margin_finds_planted_translation(spark):
    """X148 on a planted fixture: a source doc whose embedding is
    (nearly) identical to one target doc must select it with the top
    margin, while a source doc sitting in a DENSE region (everything
    equally close) earns margin ~1 — the normalization absolute
    cosine lacks."""
    import numpy as np

    rng = np.random.default_rng(3)

    def unit(v):
        v = np.asarray(v, dtype=float)
        return (v / np.linalg.norm(v)).tolist()

    # positive-orthant vectors: the ratio margin assumes a mostly
    # positive similarity range (LASER-style sentence embeddings);
    # negative neighborhood sums flip its sign and the score is
    # meaningless — out of the operator's documented domain.
    base = rng.random(8)
    # targets: one "translation" + noise docs
    tgt = [(100, unit(base + rng.normal(scale=0.01, size=8)))] + [
        (101 + i, unit(rng.random(8))) for i in range(6)
    ]
    dense = unit(rng.random(8))
    src = [(1, unit(base)), (2, dense)]
    s = spark.createDataFrame(src, "doc_id long, embedding array<double>")
    t = spark.createDataFrame(tgt, "doc_id long, embedding array<double>")
    got = {r.src_id: r for r in similarity.bitext_margin_top1(s, t).collect()}
    assert got[1].tgt_id == 100 and got[1].cos_sim > 0.99
    assert got[1].margin > got[2].margin  # planted pair beats dense doc


def test_triangle_stats_hand_computed(spark):
    """X149 on a hand-built graph: K4 (every node in 3 triangles,
    clustering 1.0) plus a pendant vertex (degree 1, clustering 0)
    attached to node 0, whose own coefficient drops to 3/(4*3/2)."""
    from gmall_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(9, 0)]  # pendant, reversed orientation on purpose
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node_id: r for r in triangle_stats(df).collect()}
    assert got[0].degree == 4 and got[0].triangles == 3
    assert got[0].clustering == 0.5  # 2*3/(4*3)
    for n in (1, 2, 3):
        assert got[n].degree == 3 and got[n].triangles == 3
        assert got[n].clustering == 1.0
    assert got[9].degree == 1 and got[9].triangles == 0
    assert got[9].clustering == 0.0


def test_label_propagation_hand_traced(spark):
    """X152 on two triangles joined by a bridge, traced by hand
    through all 3 synchronous rounds (labels are opaque ids — the
    second clique legitimately ends up under label 2, which traveled
    across the bridge in round 1)."""
    from gmall_spark.operators.graph import label_propagation

    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node_id: (r.community, r.community_size)
           for r in label_propagation(df, rounds=3).collect()}
    assert got == {
        0: (0, 3), 1: (0, 3), 2: (0, 3),
        10: (2, 3), 11: (2, 3), 12: (2, 3),
    }


def test_greedy_decode_hand_computed_with_dead_end(spark):
    """X154 on a three-doc corpus with hand-countable transitions:
    seed from the most frequent bigram, argmax walk b->d (2 beats 1),
    and a dead-end character stops growth before the step budget."""
    from gmall_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "abc", "aa"), (2, "abd", "aa"), (3, "abd", "aa")],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: r for r in lm.greedy_decode(docs, steps=4).collect()}
    assert got["aa"].seed == "a"
    assert got["aa"].generated == "abd"  # d has no outgoing bigram


def test_systematic_resample_exactness_properties(spark, sf_dir):
    """X158's defining guarantees: the draw counts sum to EXACTLY the
    budget, and every doc's count is floor or ceil of its expectation
    w_i*D/W (zero-variance systematic sampling — no other unbiased
    scheme is this tight)."""
    import math

    from gmall_spark.queries_llm import behavior_analytics

    rows = behavior_analytics.q_llm_systematic_resample(spark, sf_dir).collect()
    D = behavior_analytics.RESAMPLE_DRAWS
    W = sum(r.n_tokens for r in rows)
    assert sum(r.draws for r in rows) == D
    for r in rows:
        exp = r.n_tokens * D / W
        assert math.floor(exp) <= r.draws <= math.ceil(exp), (r, exp)


def test_data_tests_fire_on_planted_violations(spark, tmpdir):
    """X162's arms must actually detect breakage (the healthy corpus
    reports all zeros, which would also be the output of a broken
    test): a planted warehouse with a duplicate order key, a NULL and
    an orphan custkey, an orphan lineitem, a duplicate customer, an
    out-of-range value, an unknown event type, and an empty doc."""
    from gmall_spark.queries_llm import behavior_analytics

    sf = f"{tmpdir}/bad_sf"
    spark.createDataFrame(
        [(1, 10, 5.0, "1995-01-01"), (1, None, 5.0, "1995-01-02"),
         (2, 99, 5.0, "1995-01-03")],
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate string",
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(10,), (10,)], "c_custkey long"
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [(1, 100), (777, 100)], "l_orderkey long, l_partkey long"
    ).write.parquet(f"{sf}/lineitem.parquet")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, "click", 5.0, "{}"),
         (2, "2024-01-01 00:00:00", 1, "bogus", -3.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props").write.parquet(
        f"{sf}/events.parquet")
    spark.createDataFrame(
        [(1, "", "en"), (2, "ok text", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(f"{sf}/documents.parquet")

    got = {(r.tbl, r.test): r.failures
           for r in behavior_analytics.q_warehouse_data_tests(spark, sf).collect()}
    assert got[("orders", "o_orderkey_unique")] == 1
    assert got[("orders", "o_custkey_not_null")] == 1
    assert got[("orders", "o_custkey_in_customer")] == 1  # custkey 99
    assert got[("lineitem", "l_orderkey_in_orders")] == 1  # order 777
    assert got[("customer", "c_custkey_unique")] == 1
    assert got[("events", "value_in_range")] == 1  # -3.0
    assert got[("events", "event_type_accepted")] == 1  # bogus
    assert got[("documents", "text_nonempty")] == 1


def test_volume_control_chart_fires_on_planted_spike(spark, tmpdir):
    """X173's integer 3-sigma test on a planted series: 29 flat days
    at 10 events + one 100-event spike must flag EXACTLY the spike
    (the uniform production corpus never breaches 3 sigma, so this
    fixture is the proof the alarm can fire at all)."""
    from gmall_spark.queries_llm import distribution_stats

    rows = []
    eid = 0
    for day in range(1, 30):
        for _ in range(10):
            rows.append((eid, f"2024-03-{day:02d} 12:00:00", 1, "click", 1.0, "{}"))
            eid += 1
    for _ in range(100):
        rows.append((eid, "2024-03-30 12:00:00", 1, "click", 1.0, "{}"))
        eid += 1
    sf = f"{tmpdir}/spike_sf"
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props").write.parquet(
        f"{sf}/events.parquet")
    got = {r.day: r.is_anomaly
           for r in distribution_stats.q_events_daily_volume_anomalies(
               spark, sf).collect()}
    assert got["2024-03-30"] is True
    assert sum(got.values()) == 1  # only the spike


def test_bitext_allpairs_guard_refuses(spark):
    """X148 guard (VERDICT r7 item 2): the exact bitext pass must
    REFUSE a larger-than-intended pair count loudly instead of
    silently broadcasting the target corpus and going quadratic —
    same contract as embedding_near_dup's ALL_PAIRS guard."""
    s = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)],
        "doc_id long, embedding array<double>",
    )
    t = spark.createDataFrame(
        [(10 + i, [1.0, float(i)]) for i in range(5)],
        "doc_id long, embedding array<double>",
    )
    with pytest.raises(RuntimeError, match="all-pairs guard"):
        similarity.bitext_margin_top1(s, t, max_pairs=19)
    # at the bound it runs (4 x 5 = 20 pairs)
    assert similarity.bitext_margin_top1(s, t, max_pairs=20).count() == 4


@pytest.mark.sf001
def test_bitext_ann_agreement_gate_sf001(spark):
    """VERDICT r7 item 2 acceptance: the IVF-backed miner's top-1
    agreement vs the exact cross-join pass must be >= 0.9 at the
    driver's sf0.01 (measured 0.95 when registered)."""
    from gmall_spark.queries_llm import warehouse_ops

    row = warehouse_ops.q_llm_bitext_mining_eval(
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    assert row.n_src > 0
    assert row.agreement >= 0.9, f"agreement {row.agreement} over {row.n_src} srcs"


def test_sequence_packing_beats_bucketed_padding(spark, sf_dir):
    """X175 acceptance (VERDICT r7 item 5): the packed table's
    utilization (useful tokens / rows x cap) must be at least the
    X143 bucketed-padding bound it replaces — packing concatenates
    docs under a mask, so it only ever pays end-of-row waste where
    bucketed batching pays per-doc padding (measured 0.91 vs 0.62 at
    sf0.001, 0.88 vs 0.61 at sf0.01)."""
    from gmall_spark.queries_llm import packing_release

    pack = packing_release.q_llm_sequence_packing_ffd(spark, sf_dir)
    agg = pack.agg(
        F.sum("n_tok").alias("tok"),
        F.countDistinct("pack_id").alias("packs"),
    ).collect()[0]
    packed_util = agg.tok / (agg.packs * packing_release.SEQ_PACK_CAP)
    pad = packing_release.q_llm_length_bucket_padding(spark, sf_dir).agg(
        F.sum("sum_tokens").alias("tok"), F.sum("padded_tokens").alias("pad")
    ).collect()[0]
    assert packed_util >= pad.tok / pad.pad, (packed_util, pad)


def test_packed_boundaries_theorems(spark, sf_dir):
    """X238 offset theorems over the whole corpus: within every pack,
    boundaries are contiguous (next seq_start == previous seq_end),
    the first doc starts at 0, the last seq_end equals the X175
    pack_fill, and NO offset exceeds the cap — the cap holds at
    offset grain, not just at the fill sum."""
    from collections import defaultdict

    from gmall_spark.queries_llm import packing_release, sft_classifier

    rows = sft_classifier.q_llm_packed_boundaries(spark, sf_dir).collect()
    fills = {
        r.pack_id: r.pack_fill
        for r in packing_release.q_llm_sequence_packing_ffd(spark, sf_dir)
        .select("pack_id", "pack_fill")
        .distinct()
        .collect()
    }
    packs = defaultdict(list)
    for r in rows:
        packs[r.pack_id].append(r)
    assert packs and any(len(v) > 1 for v in packs.values())
    for pid, members in packs.items():
        members.sort(key=lambda r: r.boundary_index)
        assert members[0].seq_start == 0, pid
        for a, b in zip(members, members[1:]):
            assert b.seq_start == a.seq_end, (pid, a, b)
        assert members[-1].seq_end == fills[pid], pid
        assert members[-1].seq_end <= packing_release.SEQ_PACK_CAP, pid


def test_hist_quantile_sketch_error_bound(spark, sf_dir):
    """X179 accuracy gate: every estimated upper edge is within one
    bucket width ABOVE the exact percentile (and not below it) —
    the construction's error bound, checked against percentile_disc
    semantics (smallest value with cum share >= q)."""
    import math

    from gmall_spark.operators import sketches

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    vals = sorted(r.value for r in e.select("value").collect())
    got = {r.q_pct: r.est_upper
           for r in sketches.hist_quantiles(sketches.value_hist(e)).collect()}
    for q, est in got.items():
        exact = vals[math.ceil(q * len(vals) / 100) - 1]
        assert exact <= est <= exact + sketches.HIST_W, (q, exact, est)


def test_range_partition_plan_balance_and_ties(spark, sf_dir):
    """X180: the planned partitions must cover all P slots with
    near-uniform fill (the sample-quantile guarantee), and a
    MASSIVE-TIE key distribution must still split — the composite
    (value, key) boundary is the real RangePartitioner's tie-break,
    without it every tied row lands in one partition."""
    from gmall_spark.queries_llm import distribution_stats

    plan = {r.part_no: r.n_rows
            for r in distribution_stats.q_layout_range_partition_plan(
                spark, sf_dir).collect()}
    assert set(plan) == set(range(distribution_stats.RANGE_PARTS))
    total = sum(plan.values())
    for p, n in plan.items():
        assert 0.5 <= n * distribution_stats.RANGE_PARTS / total <= 2.0, (p, n)

    # ties: 4000 rows, ONE value — composite boundaries still balance
    o = spark.range(4000).selectExpr(
        "id AS k", "cast(42.0 as double) AS v"
    )
    samp = (
        o.select("k", "v", F.md5(F.col("k").cast("string")).alias("h"))
        .orderBy("h").limit(distribution_stats.RANGE_SAMPLE)
    )
    step = distribution_stats.RANGE_SAMPLE // distribution_stats.RANGE_PARTS
    from pyspark.sql import Window as W

    ranked = samp.select(
        "k", "v", F.row_number().over(W.orderBy("v", "k")).alias("rn"))
    b = ranked.filter(
        (F.col("rn") % step == 0) & (F.col("rn") < distribution_stats.RANGE_SAMPLE)
    ).select(F.col("v").alias("bv"), F.col("k").alias("bk"))
    parts = (
        o.crossJoin(F.broadcast(b))
        .groupBy("k")
        .agg(F.sum(
            F.when((F.col("bv") < F.col("v"))
                   | ((F.col("bv") == F.col("v")) & (F.col("bk") < F.col("k"))),
                   1).otherwise(0)).alias("p"))
        .groupBy("p").count().collect()
    )
    counts = {r.p: r["count"] for r in parts}
    assert set(counts) == set(range(distribution_stats.RANGE_PARTS))
    assert all(0.5 <= c * 8 / 4000 <= 2.0 for c in counts.values()), counts


def test_vocab_growth_curve_structure(spark, sf_dir, plant):
    """X182 invariants on the real corpus (types non-decreasing,
    bounded by tokens, full cut == whole corpus) plus a synthetic
    corpus where vocabulary genuinely grows — the driver corpus
    saturates its 31 types inside the first cut, so Heaps-law growth
    needs a planted fixture to be observable."""
    from gmall_spark.queries_llm import distribution_stats

    rows = sorted(
        distribution_stats.q_text_vocab_growth_curve(spark, sf_dir).collect(),
        key=lambda r: r.pct,
    )
    assert [r.pct for r in rows] == list(distribution_stats.VOCAB_CUTS)
    for a, b in zip(rows, rows[1:]):
        assert a.n_types <= b.n_types and a.n_tokens <= b.n_tokens
        assert a.n_docs <= b.n_docs
    assert all(r.n_types <= r.n_tokens for r in rows)

    # planted growth: doc i introduces one NEW word plus one shared
    docs = spark.createDataFrame(
        [(i, "x", f"common word{i}", 0) for i in range(100)],
        "doc_id long, lang string, text string, source int",
    )
    planted = plant(documents=docs)
    got = {r.pct: r.n_types
           for r in distribution_stats.q_text_vocab_growth_curve(
               spark, planted).collect()}
    # types = prefix size + 1 ('common' plus one new word per doc)
    assert got == {10: 11, 25: 26, 50: 51, 100: 101}


def test_drift_chisq_planted_shift_fires(spark, plant):
    """X183: a second-half distribution shift must produce a large
    chi term in the vacated/receiving buckets, while identical halves
    stay near zero — the planted-violation discipline (X162/X173):
    the uniform driver corpus honestly never drifts, so the alarm
    branch needs a fixture to be observable."""
    import datetime

    from gmall_spark.queries_llm import distribution_stats

    base = datetime.datetime(2022, 1, 1)
    rows = []
    for i in range(400):
        # first 10 days: values ~25 (bucket 0); last 10 days: ~125 (bucket 2)
        day = i % 20
        val = 25.0 if day < 10 else 125.0
        rows.append((i, base + datetime.timedelta(days=day), 1, "view", val, "{}"))
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    planted = plant(events=e)
    got = {r.bucket: r.chi_term
           for r in distribution_stats.q_events_value_drift_chisq(
               spark, planted).collect()}
    # all mass moved bucket 0 -> bucket 2: both terms huge
    assert got[0] > 50 and got[2] > 50, got


def test_skipgram_cooccurrence_hand_computed(spark, plant):
    """X184 on a hand-built corpus: 'a b a b a' with window 2 yields
    the 7 ordered forward pairs (a,b)x2 (positions 1-2, 3-4), (b,a)x2
    (2-3, 4-5), (a,a)x2 (1-3, 3-5), (b,b)x1 (2-4)."""
    from gmall_spark.queries_llm import distribution_stats

    docs = spark.createDataFrame(
        [(1, "en", "a b a b a", 0)],
        "doc_id long, lang string, text string, source int",
    )
    # min-count 5 hides everything on a 5-token corpus — the
    # threshold branch, asserted explicitly
    planted = plant(documents=docs)
    got = {
        (r.w_a, r.w_b): (r.pair_cnt, r.cnt_a, r.cnt_b, r.lift)
        for r in distribution_stats.q_text_skipgram_cooccurrence(spark, planted)
        .collect()
    }
    # only pairs with count >= SKIPGRAM_MIN_PAIR=5 survive: none here
    assert got == {}

    # verify the raw pair algebra below the threshold via the array
    # expression directly
    pairs = (
        docs.selectExpr(
            "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS w"
        )
        .selectExpr(
            """explode(flatten(transform(w, (x, i) ->
                 transform(slice(w, i + 2, 2),
                           y -> struct(x AS w_a, y AS w_b))))) AS pr"""
        )
        .groupBy("pr.w_a", "pr.w_b")
        .count()
        .collect()
    )
    cnt = {(r.w_a, r.w_b): r["count"] for r in pairs}
    assert cnt == {("a", "b"): 2, ("b", "a"): 2, ("a", "a"): 2, ("b", "b"): 1}


def test_embedding_health_audit_detects_poison(spark, sf_dir, plant):
    """X186: the real corpus is healthy (no NaN/zero/mixed-width
    vectors); a planted poisoned table flags each defect class."""
    from gmall_spark.queries_llm import packing_release

    rows = packing_release.q_embedding_health_audit(spark, sf_dir).collect()
    assert len(rows) == 64
    r0 = rows[0]
    assert r0.nan_vectors == 0 and r0.zero_vectors == 0 and r0.n_widths == 1

    poisoned = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [float("nan"), 1.0]),
            (3, [0.0, 0.0]),
            (4, [1.0, 2.0, 3.0]),  # mixed width
        ],
        "vec_id long, embedding array<double>",
    )
    planted = plant(embeddings=poisoned)
    got = packing_release.q_embedding_health_audit(spark, planted).collect()
    g = got[0]
    assert g.n_vectors == 4 and g.n_widths == 2
    assert g.nan_vectors == 1 and g.zero_vectors == 1
    dim1 = {r.dim: (r.dim_min, r.dim_max, r.zeros) for r in got}[1]
    assert dim1 == (0.0, 1.0, 1.0) or dim1[2] == 1  # one zero in dim 1


def test_char_chisq_flags_planted_gibberish(spark, plant):
    """X187: keyboard-mash ('zzz...') against an English-ish corpus
    must blow past the chi-square threshold while the natural docs
    stay below it (the real corpus honestly never flags — max ~62
    vs the 100 cut)."""
    from gmall_spark.queries_llm import packing_release

    docs = spark.createDataFrame(
        [(i, "en", "the quick brown fox jumps over the lazy dog", 0)
         for i in range(30)]
        + [(99, "en", "z" * 200, 0), (98, "en", "!!! ??? --- ***", 0)],
        "doc_id long, lang string, text string, source int",
    )
    planted = plant(documents=docs)
    got = {r.doc_id: r for r in
           packing_release.q_text_char_chisq_gibberish(spark, planted).collect()}
    assert got[99].is_gibberish and got[99].chi2 > packing_release.GIBBERISH_CHI2
    assert not got[0].is_gibberish
    # zero-[a-z0-9] docs (pure punctuation) must NOT vanish: forced
    # gibberish with NULL chi2 (ADVICE r8 item 2)
    assert got[98].is_gibberish and got[98].chi2 is None
    assert got[98].n_chars == 0
    assert len(got) == 32


@pytest.mark.sf001
def test_split_leakage_audit_finds_real_leaks_sf001(spark):
    """X189 at the driver's sf0.01: the hash split genuinely leaks —
    near-dup groups spanning train and another split exist in the
    corpus (2 when registered), so the alarm branch fires on real
    data, not just a fixture; every group is emitted flagged."""
    from gmall_spark.queries_llm import packing_release

    rows = packing_release.q_llm_split_leakage_audit(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows, "expected near-dup groups"
    leaked = [r for r in rows if r.is_leaked]
    assert leaked, "expected at least one cross-split near-dup group"
    for r in leaked:
        assert r.n_splits > 1 and "," in r.splits
    for r in rows:
        assert r.is_leaked == (r.n_splits > 1)


def test_jl_projection_eval_structure(spark, sf_dir):
    """X190: the JL acceptance table is structurally sound — both
    arms cover all 5 queries' top-10, recall in [0,1], and on this
    (deterministic) corpus more projected dims retain more recall.
    The LOW absolute recall is the honest finding: +/-1 JL at 32 of
    64 dims is a poor shrink for this corpus, unlike X138's
    truncation — exactly what the table exists to reveal."""
    from gmall_spark.queries_llm import ann_eval

    rows = {r.dims: r for r in
            ann_eval.q_similarity_eval_jl_projection(spark, sf_dir).collect()}
    assert set(rows) == set(ann_eval.JL_DIMS)
    for r in rows.values():
        assert r.bf_pairs == 50 and 0.0 <= r.recall_at_10 <= 1.0
        assert r.hits <= r.bf_pairs
    assert rows[32].recall_at_10 >= rows[16].recall_at_10


def test_corpus_fingerprint_order_independent_and_sensitive(spark, plant):
    """X191: the fingerprint must be identical under any row order
    (integer sums commute) and must CHANGE when one character
    changes — the two properties that make it a release stamp."""
    from gmall_spark.queries_llm import packing_release

    base = [(i, "en", f"doc number {i}", 0) for i in range(50)]

    def fp(rows):
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, text string, source int"
        )
        planted = plant(documents=docs)
        r = packing_release.q_llm_corpus_fingerprint(spark, planted).collect()[0]
        return (r.n_docs, r.n_chars, str(r.content_sum), str(r.id_sum))

    a = fp(base)
    b = fp(list(reversed(base)))
    assert a == b  # order-independent
    mutated = base.copy()
    mutated[7] = (7, "en", "doc number 7!", 0)
    c = fp(mutated)
    assert c[2] != a[2] and c[3] == a[3]  # content moved, ids didn't


def test_source_attribution_counts_spanning_groups(spark, sf_dir):
    """X192: every reported pair count equals the number of
    transitive groups containing BOTH sources — recomputed
    independently from the raw group/source assignment."""
    from gmall_spark.queries_llm import packing_release, prelude

    groups = prelude._transitive_groups(spark, sf_dir).collect()
    src = {r.doc_id: r.source
           for r in prelude._docs(spark, sf_dir).select("doc_id", "source").collect()}
    by_group: dict = {}
    for r in groups:
        by_group.setdefault(r.group_id, set()).add(src[r.doc_id])
    want: dict = {}
    for g, ss in by_group.items():
        ss = sorted(ss)
        for i, x in enumerate(ss):
            for y in ss[i + 1:]:
                want[(x, y)] = want.get((x, y), 0) + 1
    got = {(r.source_a, r.source_b): r.n_groups
           for r in packing_release.q_dedup_source_attribution(spark, sf_dir).collect()}
    assert got == want and want


@pytest.mark.slow
def test_unigram_encode_decode_planted(spark, plant):
    """X194/X195 planted fixture: known words segment to the known
    Viterbi optimum, the decode audit reports a perfect round trip
    with zero OOV pieces, and a zero-[a-z0-9] doc is emitted with
    zeroed counts (the X187 discipline) instead of vanishing."""
    from gmall_spark.queries_llm import tok_frozen
    from gmall_spark.operators import unigram as U

    docs = spark.createDataFrame(
        [(1, "en", "the information", 0),
         (2, "en", "and and", 0),
         (3, "en", "!!! ---", 0)],
        "doc_id long, lang string, text string, source int",
    )
    planted = plant(documents=docs)
    enc = {r.doc_id: r for r in
           tok_frozen.q_llm_unigram_encode_frozen(spark, planted).collect()}
    dec = {r.doc_id: r for r in
           tok_frozen.q_llm_unigram_decode_frozen(spark, planted).collect()}
    fert = {r.lang: r for r in
            tok_frozen.q_text_tokenizer_fertility_frozen(spark, planted).collect()}

    # doc 1: 'the' -> [the] (1 piece), 'information' -> Viterbi optimum
    c_the, t_the = U.viterbi_py("the")
    c_info, t_info = U.viterbi_py("information")
    assert t_the == ["the"]
    assert enc[1].n_words == 2
    assert enc[1].n_chars == len("the") + len("information")
    assert enc[1].n_pieces == len(t_the) + len(t_info)
    assert enc[1].unigram_cost == c_the + c_info
    # doc 2: repeated word counted with multiplicity
    assert enc[2].n_words == 2 and enc[2].n_pieces == 2
    assert enc[2].unigram_cost == 2 * U.FROZEN_UNIGRAM_VOCAB["and"]
    # doc 3: zero-word doc emitted with zeroed counts, NULL compression
    assert enc[3].n_words == 0 and enc[3].n_pieces == 0
    assert enc[3].compression is None
    # decode: perfect round trip, zero OOV, zero-word doc vacuously exact
    for d in (1, 2):
        assert dec[d].roundtrip_exact and dec[d].n_oov_pieces == 0
    assert dec[3].roundtrip_exact and dec[3].n_words == 0
    # fertility: same word stream, unigram at least as dense as chars
    f = fert["en"]
    assert f.n_words == 4
    assert f.n_subwords_unigram == enc[1].n_pieces + enc[2].n_pieces
    assert f.n_subwords_bpe > 0 and f.unigram_vs_bpe is not None


def test_cluster_capped_sample_cap_binds(spark):
    """X199 planted fixture: an over-dense cluster (100 members) is
    truncated to the balanced cap while a sparse cluster keeps all
    its members uncapped; picks follow the deterministic md5 rank."""
    import hashlib

    from gmall_spark.operators import semdedup as S

    rows = [(i, 0) for i in range(100)] + [(200, 1), (201, 1), (202, 1)]
    assign = spark.createDataFrame(rows, "vec_id long, list_id int")
    got = {r.vec_id: r for r in
           S.cluster_capped_sample(assign, n_lists=4, pct=25).collect()}
    # n=103 -> budget ceil(103*25/100)=26 -> cap ceil(26/4)=7
    dense = [r for r in got.values() if r.list_id == 0]
    sparse = [r for r in got.values() if r.list_id == 1]
    assert len(dense) == 7 and all(r.capped and r.cap == 7 for r in dense)
    assert all(r.cluster_size == 100 for r in dense)
    assert len(sparse) == 3 and all(not r.capped for r in sparse)
    # deterministic pick order: the 7 smallest md5(vec_id) of cluster 0
    want = sorted(range(100),
                  key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))[:7]
    assert sorted(r.vec_id for r in dense) == sorted(want)
    assert sorted(r.rnk for r in dense) == list(range(1, 8))


# --- X207 edit-distance verify tier ----------------------------------------


def test_edit_distance_verify_planted_both_branches(spark):
    """A band collision is NOT automatically an edit-near-dup: two
    docs sharing a long block of short words (so the MinHash lanes
    are dominated by shared shingles and the band join fires) but
    differing in a few VERY LONG words (few shingles, many chars)
    collide in a band yet fail the 0.8 edit-sim gate — the exact
    case where the Jaccard tier and the edit tier disagree. The
    identical-pair control verifies the true branch. Deterministic:
    md5 minhash, no randomness."""
    import pyspark.sql.functions as F

    from gmall_spark.operators import llm_dedup

    shared = " ".join(f"a{i}" for i in range(200))
    tail_a = " ".join("u" * 100 for _ in range(10))
    tail_b = " ".join("v" * 100 for _ in range(10))
    docs = spark.createDataFrame(
        [
            (1, shared + " " + tail_a),
            (2, shared + " " + tail_b),
            (3, "identical words repeated " + shared),
            (4, "identical words repeated " + shared),
        ],
        "doc_id long, text string",
    )
    sh = docs.select(
        "doc_id", F.explode(llm_dedup.shingle_array("text")).alias("shingle")
    )
    cand = llm_dedup.lsh_candidate_pairs(llm_dedup.minhash_signatures(sh))
    txt = docs.select("doc_id", "text")
    flags = {
        (r.doc_a, r.doc_b): r.is_near_dup
        for r in F.broadcast(cand)
        .join(txt.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("text", "text_a"), "doc_a")
        .join(txt.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("text", "text_b"), "doc_b")
        .selectExpr(
            "doc_a", "doc_b",
            "100 * levenshtein(text_a, text_b)"
            " <= 20 * greatest(length(text_a), length(text_b))"
            " AS is_near_dup",
        )
        .collect()
    }
    assert flags[(3, 4)] is True
    assert flags[(1, 2)] is False  # band collision, edit-sim ~0.44


# --- X208 fill-in-the-middle transform --------------------------------------


def test_fim_reassembly_theorem_and_geometry(spark, sf_dir):
    """prefix || middle || suffix == text for EVERY doc (any
    0 <= lo <= hi <= len), the cut geometry is in range, and all
    three modes occur at the corpus grain."""
    from gmall_spark.queries_llm.prelude import _docs
    from gmall_spark.queries_llm.tok_media import _fim_exprs

    e = _fim_exprs("spark")
    rows = (
        _docs(spark, sf_dir)
        .selectExpr(
            "doc_id", "text",
            f"{e['lo']} AS lo", f"{e['hi']} AS hi",
            f"{e['gate']} AS gated", f"{e['mode']} AS mode",
        )
        .selectExpr(
            "doc_id", "lo", "hi", "gated", "mode",
            "length(text) AS n",
            "concat(substring(text, 1, cast(lo as int)),"
            " substring(text, cast(lo + 1 as int), cast(hi - lo as int)),"
            " substring(text, cast(hi + 1 as int))) = text AS rejoined",
        )
        .collect()
    )
    assert rows and all(r.rejoined for r in rows)
    assert all(0 <= r.lo <= r.hi <= r.n for r in rows)
    assert {r.mode for r in rows} == {"psm", "spm"}
    assert {r.gated for r in rows} == {True, False}


# --- X210 group-aware (leakage-safe) split ----------------------------------


def test_split_by_group_zero_leaks_and_fixes_doc_split(spark):
    """The zero-leak theorem: re-running the X189 audit grouping on
    the group-aware split finds NO group spanning two splits, while
    the doc-level split (X189) does leak on the same corpus — the
    remediation demonstrably fixes the measured problem. Ungrouped
    docs keep their doc-level assignment bit-for-bit; `moved` fires
    only on grouped docs. Runs at sf0.01: that is the grain where
    X189's finding (2 leaked groups) exists — at sf0.001 the doc
    split happens not to leak and the contrast would be vacuous."""
    import pyspark.sql.functions as F

    from gmall_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    df = QUERIES["llm_split_by_group"](spark, sf_dir).persist()
    # zero leaks by construction
    assert (
        df.groupBy("group_key")
        .agg(F.countDistinct("split").alias("n"))
        .filter("n > 1")
        .count()
        == 0
    )
    # the doc-level split leaks on the same corpus (X189's finding)
    audit = QUERIES["llm_split_leakage_audit"](spark, sf_dir)
    assert audit.filter("is_leaked").count() > 0
    # ungrouped docs never move; some grouped doc does
    moved = df.filter("moved")
    assert moved.count() > 0
    assert moved.filter(~F.col("is_grouped")).count() == 0
    df.unpersist()


def test_curriculum_order_warmup_and_anneal(spark, sf_dir):
    """X249: epoch 1 is easy-first (bucket_id non-decreasing along
    each shard's position order) and later epochs are EXACTLY the
    X128 hash order (the anneal); every doc appears once per epoch."""
    from gmall_spark.queries import QUERIES

    rows = QUERIES["llm_curriculum_order"](spark, sf_dir).collect()
    from collections import defaultdict

    per_epoch = defaultdict(list)
    for r in rows:
        per_epoch[r.epoch].append(r)
    n_docs = len({r.doc_id for r in rows})
    for ep, rs in per_epoch.items():
        assert len(rs) == n_docs  # every doc dealt once per epoch
    shards = defaultdict(list)
    for r in per_epoch[1]:
        shards[r.shard].append(r)
    assert len(shards) > 1
    for s, rs in shards.items():
        rs.sort(key=lambda r: r.pos)
        tiers = [r.bucket_id for r in rs]
        assert tiers == sorted(tiers), s  # easy-first warmup
        assert len({r.bucket_id for r in rs}) > 1  # non-vacuous
    # anneal: epoch 2 equals the registered X128 order exactly
    want = {(r.doc_id): (r.shard, r.pos)
            for r in QUERIES["llm_epoch_shards"](spark, sf_dir).collect()
            if r.epoch == 2}
    got = {r.doc_id: (r.shard, r.pos) for r in per_epoch[2]}
    assert got == want


def test_mix_schedule_endpoints_and_interpolation(spark, sf_dir):
    """X250: epoch 1 weights == natural shares, final epoch ==
    uniform target, middles strictly between (per domain, monotone
    toward the target); every epoch's weights sum to ~1."""
    from collections import defaultdict

    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm.loader_schedule import MIX_SCHEDULE_EPOCHS

    rows = QUERIES["llm_mix_schedule"](spark, sf_dir).collect()
    per_ep = defaultdict(dict)
    for r in rows:
        per_ep[r.epoch][r.source] = r
    assert set(per_ep) == set(range(1, MIX_SCHEDULE_EPOCHS + 1))
    for src, r in per_ep[1].items():
        assert abs(r.mix_weight - r.natural_share) <= 1e-6
    for src, r in per_ep[MIX_SCHEDULE_EPOCHS].items():
        assert abs(r.mix_weight - r.target_share) <= 1e-6
    for ep, m in per_ep.items():
        assert abs(sum(r.mix_weight for r in m.values()) - 1.0) < 1e-3
    for src in per_ep[1]:
        seq = [per_ep[e][src].mix_weight
               for e in range(1, MIX_SCHEDULE_EPOCHS + 1)]
        nat, tgt = per_ep[1][src].natural_share, per_ep[1][src].target_share
        if nat < tgt:
            assert seq == sorted(seq)
        elif nat > tgt:
            assert seq == sorted(seq, reverse=True)


def test_repeat_plan_policy_and_conservation(spark, sf_dir):
    """X251: policy literal per tier (4/2/1), effective =
    tokens x epochs exactly, and the plan conserves the corpus (sum
    of n_docs over tiers == scored docs; head earns more effective
    tokens per raw token than tail)."""
    from gmall_spark.queries import QUERIES

    rows = QUERIES["llm_repeat_plan"](spark, sf_dir).collect()
    want_rep = {1: 4, 2: 2, 3: 1}
    for r in rows:
        assert r.repeat_epochs == want_rep[r.bucket_id], r
        assert r.effective_tokens == r.n_tokens * r.repeat_epochs
    scored = QUERIES["text_perplexity_buckets"](spark, sf_dir).count()
    assert sum(r.n_docs for r in rows) == scored


def test_shard_manifest_conserves_and_detects_change(spark, sf_dir, plant):
    """X252: shard manifests partition each epoch exactly (docs and
    tokens sum to the corpus), every (epoch, shard) cell is present,
    and the checksum is sensitive — one mutated doc flips exactly the
    cells that hold it."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm.loader_schedule import (
        SHARD_EPOCHS,
        SHARD_N,
    )

    rows = QUERIES["llm_shard_manifest"](spark, sf_dir).collect()
    assert len(rows) == SHARD_EPOCHS * SHARD_N
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    for ep in range(1, SHARD_EPOCHS + 1):
        cells = [r for r in rows if r.epoch == ep]
        assert sum(r.n_docs for r in cells) == n
    base = {(r.epoch, r.shard): str(r.content_sum) for r in rows}
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    rows2 = QUERIES["llm_shard_manifest"](spark, plant(documents=mutated)).collect()
    changed = {(r.epoch, r.shard)
               for r in rows2
               if base[(r.epoch, r.shard)] != str(r.content_sum)}
    assert len(changed) == SHARD_EPOCHS  # doc 0 sits in one shard/epoch
    for r, r2 in zip(sorted(rows, key=lambda r: (r.epoch, r.shard)),
                     sorted(rows2, key=lambda r: (r.epoch, r.shard))):
        assert r.n_docs == r2.n_docs  # counts unmoved by a text edit


def test_repeat_expanded_shards_conserves_budget(spark, sf_dir):
    """X256 theorems: (1) CONSERVATION — the expanded stream's token
    mass per (lang, tier) equals X251's effective budget exactly;
    (2) multiplicity — every doc appears exactly repeat_epochs times,
    tagged 1..k; (3) composition — copy r of doc d lands in the SAME
    shard the X128 deal gives (doc d, epoch r), because the shard
    hash is the identical md5 recipe with repeat_idx in the epoch
    slot."""
    from collections import defaultdict

    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm.loader_schedule import SHARD_EPOCHS

    rows = QUERIES["llm_repeat_expanded_shards"](spark, sf_dir).collect()
    plan = QUERIES["llm_repeat_plan"](spark, sf_dir).collect()
    got = defaultdict(int)
    for r in rows:
        got[(r.lang, r.bucket_id)] += r.n_tok
    want = {(r.lang, r.bucket_id): r.effective_tokens for r in plan}
    assert dict(got) == want
    per_doc = defaultdict(list)
    rep_of_tier = {1: 4, 2: 2, 3: 1}
    for r in rows:
        per_doc[r.doc_id].append(r)
    for d, copies in per_doc.items():
        k = rep_of_tier[copies[0].bucket_id]
        assert sorted(c.repeat_idx for c in copies) == list(range(1, k + 1)), d
    deal = {
        (r.doc_id, r.epoch): r.shard
        for r in QUERIES["llm_epoch_shards"](spark, sf_dir).collect()
    }
    for r in rows:
        if r.repeat_idx <= SHARD_EPOCHS:
            assert r.shard == deal[(r.doc_id, r.repeat_idx)], r


@pytest.mark.slow
def test_final_sample_weights_compose_registered_stages(spark, sf_dir):
    """X263 composition theorems: weight is zero IFF the DSIR
    resample dropped the doc; members of one near-dup group share the
    dedup factor; and for kept docs the weight is exactly the rounded
    product of its two registered factors."""
    from gmall_spark.queries import QUERIES

    rows = QUERIES["llm_final_sample_weights"](spark, sf_dir).collect()
    assert rows
    kept = {r.doc_id for r in
            QUERIES["llm_dsir_resample"](spark, sf_dir).collect()}
    for r in rows:
        assert (r.sample_weight == 0) == (r.doc_id not in kept), r
        if r.dsir_kept:
            assert abs(
                r.sample_weight - round(r.dedup_weight * r.keep_rate, 6)
            ) < 1e-12, r
    soft = {r.doc_id: r.weight for r in
            QUERIES["dedup_soft_weights"](spark, sf_dir).collect()}
    for r in rows:
        assert r.dedup_weight == soft[r.doc_id], r
