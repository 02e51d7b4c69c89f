"""X253-X255 governance-aware curation: planted fixtures.

The headline scenario (VERDICT r11 item 1): a duplicate group whose
quality keeper sits on a blocklisted domain must RE-ELECT a surviving
mirror as representative — in the keeper table (X253), and end to end
through curation v5 (X254), where the previously pruned mirror
re-enters the release the ungated v4 chain dropped it from. The
release diff (X255) sensitivity theorem pins "one doc repacked =>
exactly the affected shard rows change".

Domain wheel refresher (operators/weburl.py): u = doc_id % 40 names
the page; u=3 -> site3.io (BLOCKLIST), u=2 -> site2.net (OPT-OUT),
u=1 -> site1.org and u=5/u=6 -> kept domains.
"""

from __future__ import annotations

import pytest

from gmall_spark.queries import QUERIES


WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu amber birch cedar dune "
    "ember"
).split()  # 31 distinct words


@pytest.mark.slow
def test_keeper_gated_reelects_surviving_mirror(spark, sf_dir, plant):
    """X253 planted groups:
    - group 41: blocked doc 83 has the MOST words (ungated keeper),
      survivors 45 (30w) and 41 (29w) -> re-elected keeper is 45 (the
      quality rule over survivors, NOT min-id: 41 < 45 but has fewer
      words).
    - group 42: every member gated (optout + blocklist) -> keeper NULL.
    - group 46: no member gated -> keeper == ungated keeper, no
      re-election."""
    a83 = " ".join(WORDS)  # 31 words, u=3 -> site3.io (blocklist)
    b45 = " ".join(WORDS[:30])  # u=5 -> site5.com (kept)
    c41 = " ".join(WORDS[:29])  # u=1 -> site1.org (kept)
    g2 = "paris lyon nice rouen brest tours dijon arles metz caen " * 3
    g3 = "rome milan turin naples genoa parma padua siena pisa bari " * 3
    rows = [
        (83, a83),
        (45, b45),
        (41, c41),
        (42, g2.strip()),  # u=2 -> site2.net (optout)
        (122, g2.strip()),  # u=2 -> site2.net (optout)
        (46, g3.strip()),  # u=6 kept
        (86, g3.strip()),  # u=6 kept
    ]
    planted = spark.createDataFrame(rows, "doc_id long, text string")
    sf_dir = plant(documents=planted)
    out = {
        r.group_id: r
        for r in QUERIES["dedup_groups_keeper_gated"](
            spark, sf_dir
        ).collect()
    }
    assert set(out) == {41, 42, 46}
    g = out[41]
    assert g.group_size == 3 and g.n_surviving == 2
    assert g.keeper_ungated == 83  # most words, but blocklisted
    assert g.keeper_id == 45  # quality rule over SURVIVORS (not min-id 41)
    assert g.reelected is True
    g = out[42]
    assert g.group_size == 2 and g.n_surviving == 0
    assert g.keeper_id is None and g.reelected is False
    g = out[46]
    assert g.group_size == 2 and g.n_surviving == 2
    assert g.keeper_id == g.keeper_ungated == 46 and g.reelected is False


def _mirror_corpus(spark):
    """Six identical mirrors of one English doc — ids 43 (site3.io,
    BLOCKLISTED) and 81/121/161/201/241 (site1.org, kept) — plus 12
    distinct gibberish fillers that pad the per-lang perplexity
    ranking so its tail tier is all filler. Six mirrors means every
    shared shingle has df=6 > CONTAIN_MAX_DF=5: the containment
    blocker structurally skips the group (the governance-blind
    containment stage would otherwise re-drop the restored mirror),
    while MinHash-LSH still groups identical texts."""
    t = (
        "the quick brown fox jumps over the lazy dog and then the "
        "small red hen reads the long table of daily market prices"
    )
    rows = [(i, t, "en", "srcT", len(t)) for i in (43, 81, 121, 161, 201, 241)]
    # fillers: SHORT, pairwise-distinct, rare-bigram strings — low
    # corpus mass, so the mirrors dominate the char-bigram model (the
    # fillers take the per-lang tail tier) and the corpus char
    # distribution (so the mirrors are NOT chi-square gibberish)
    pool = "qv zj xk wq jz kx vq qz zx jq kq xj".split()
    garbage = [
        " ".join(pool[i % 12], ) + f" g{i}x " + " ".join(
            pool[(i + j) % 12] for j in range(1, 5)
        )
        for i in range(12)
    ]
    rows += [
        (300 + i, garbage[i], "en", "srcG", len(garbage[i]))
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.mark.sf001
@pytest.mark.slow
def test_curation_v5_restores_blocked_keepers_mirror(
    spark, sf_dir, plant
):
    """The end-to-end restore: v4 (governance-blind) keeps mirror 43
    and prunes the rest; v5 gates 43 (site3.io is blocklisted),
    re-elects 81 and carries it through decontam/containment/tail/
    gibberish/packing into the release — the content no longer
    vanishes with its blocked representative. The funnel's stage-5 row
    shows the same count (one per stage here), and the release diff
    charges 43 as removed and 81 as added."""
    planted = _mirror_corpus(spark)
    sf_dir = plant(documents=planted)
    v4 = {
        r.doc_id
        for r in QUERIES["llm_corpus_curation_v4"](spark, sf_dir).collect()
    }
    v5 = {
        r.doc_id
        for r in QUERIES["llm_corpus_curation_v5"](spark, sf_dir).collect()
    }
    diff = QUERIES["llm_release_diff"](spark, sf_dir).collect()
    assert 43 in v4 and 81 not in v4  # ungated chain: min-id mirror only
    assert 43 not in v5  # blocklisted representative is out
    assert 81 in v5  # ...and its releasable mirror is RESTORED
    assert not (v5 & {121, 161, 201, 241})  # still deduped: one keeper
    assert sum(r.n_removed for r in diff) == len(v4 - v5)
    assert sum(r.n_added for r in diff) == len(v5 - v4)
    assert sum(r.n_moved_in for r in diff) == sum(
        r.n_moved_out for r in diff
    )


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, pack_id string, shard long, ch decimal(38,0)"
    )


def test_release_diff_sensitivity_one_doc(spark):
    """Diff-core theorems over planted frames: identical releases diff
    to all-zero deltas; repacking ONE doc across shards changes
    exactly the two affected shard rows (moved_out / moved_in, ±ch);
    repacking within a shard changes exactly one row (repacked, zero
    checksum delta)."""
    from decimal import Decimal

    from gmall_spark.queries_llm.governance import release_diff_frames

    a_rows = [(i, f"p{i // 3}", i % 4, Decimal(10 ** 6 + i)) for i in range(12)]
    a = _frame(spark, a_rows)
    base = {
        r.shard: r for r in release_diff_frames(a, _frame(spark, a_rows)).collect()
    }
    assert set(base) == {0, 1, 2, 3}
    for r in base.values():
        assert (
            r.n_added == r.n_removed == r.n_moved_in == r.n_moved_out
            == r.n_repacked == 0
        )
        assert r.checksum_delta == 0 and r.n_docs_a == r.n_docs_b == 3

    # doc 5 (shard 1) moves to pack q9 / shard 3
    b_rows = [
        (i, "q9", 3, Decimal(10 ** 6 + i)) if i == 5 else row
        for i, row in enumerate(a_rows)
    ]
    moved = {
        r.shard: r for r in release_diff_frames(a, _frame(spark, b_rows)).collect()
    }
    changed = {
        s for s in moved if moved[s].asDict() != base[s].asDict()
    }
    assert changed == {1, 3}
    assert moved[1].n_moved_out == 1 and moved[1].n_moved_in == 0
    assert moved[3].n_moved_in == 1 and moved[3].n_moved_out == 0
    assert moved[1].checksum_delta == -(10 ** 6 + 5)
    assert moved[3].checksum_delta == 10 ** 6 + 5

    # doc 6 (shard 2) changes pack but stays in shard 2
    c_rows = [
        (i, "q7", 2, Decimal(10 ** 6 + i)) if i == 6 else row
        for i, row in enumerate(a_rows)
    ]
    repacked = {
        r.shard: r for r in release_diff_frames(a, _frame(spark, c_rows)).collect()
    }
    changed = {
        s for s in repacked if repacked[s].asDict() != base[s].asDict()
    }
    assert changed == {2}
    assert repacked[2].n_repacked == 1 and repacked[2].checksum_delta == 0


def _containment_corpus(spark):
    """A contained copy and its container on different domains: doc 41
    (site1.org, kept) is a 10-word block; doc 83 (site3.io,
    BLOCKLISTED) is a 40-word container holding that exact block —
    containment 1.0 on 5-word shingles, Jaccard ~0.17 (far below the
    near-dup gate, so the dedup stages never pair them). Gibberish
    fillers pad the per-lang perplexity ranking as in the mirror
    corpus."""
    block = "the quick brown fox jumps over the lazy dog again"
    extra = (
        "meanwhile the busy market opens early and the old clock tower rings "
        "twice while the river boats carry fresh goods to the village square "
        "as traders count the morning coins"
    )
    container = extra + " " + block
    assert len(block.split()) == 10 and len(container.split()) == 40
    rows = [
        (41, block, "en", "srcB", len(block)),
        (83, container, "en", "srcA", len(container)),
    ]
    # helper English prose (no 5-gram shared with the principals, no
    # mutual near-dups) lifts the corpus bigram mass so BOTH
    # principals rank above every filler; the fillers get
    # SINGLE-OCCURRENCE rare-letter bigrams so the add-1-smoothed
    # model puts all of them in the tail tier
    helpers = [
        "a calm wind moves across the wide bay and the ships rest at anchor",
        "the baker sells warm bread before the town wakes and the bells ring",
        "heavy rain fell on the green hills and the path turned soft and dark",
        "a young scholar reads old maps and notes the roads between the towns",
        "the miller grinds the grain while the stream turns the great wheel",
        "cold stars shine above the quiet farm and the dogs sleep by the door",
        "the fisher mends the nets at dawn and counts the catch by the pier",
        "bright leaves drift down the lane as the children walk home from class",
    ]
    rows += [
        (420 + i, h, "en", "srcH", len(h)) for i, h in enumerate(helpers)
    ]
    letters = "qxzjkvwfgpy"
    pairs = [a + b for a in letters for b in letters if a != b]
    garbage = [" ".join(pairs[6 * i : 6 * i + 6]) for i in range(12)]
    rows += [
        (300 + i, garbage[i], "en", "srcG", len(garbage[i]))
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.mark.sf001
@pytest.mark.slow
def test_curation_v5_restores_contained_copy_of_blocked_container(
    spark, sf_dir, plant
):
    """The containment-grain restore (r12, the X253 logic at X106
    grain): v4 drops the contained copy 41 (containment loser) and
    releases the container 83; v5 gates 83 (site3.io) and — because
    the containment winner no longer survives — KEEPS 41, so the
    content's last releasable representative ships instead of
    vanishing. The X259 audit flags exactly this pair as restored."""
    planted = _containment_corpus(spark)
    sf_dir = plant(documents=planted)
    aud = {
        (r.doc_a, r.doc_b): r
        for r in QUERIES["dedup_containment_keeper_gated"](
            spark, sf_dir
        ).collect()
    }
    v4 = {
        r.doc_id
        for r in QUERIES["llm_corpus_curation_v4"](spark, sf_dir).collect()
    }
    v5 = {
        r.doc_id
        for r in QUERIES["llm_corpus_curation_v5"](spark, sf_dir).collect()
    }
    assert (41, 83) in aud
    r = aud[(41, 83)]
    assert r.winner_id == 83 and r.loser_id == 41
    assert r.winner_kept == 0 and r.loser_dropped is False
    assert r.restored is True
    assert 83 in v4 and 41 not in v4  # ungated: container wins, copy drops
    assert 83 not in v5  # blocklisted container is out
    assert 41 in v5  # ...and the contained copy is RESTORED


@pytest.mark.sf001
@pytest.mark.slow
def test_pack_license_taint_flips_exactly_its_pack(spark, sf_dir, plant):
    """X260 planted fixture: ten cc-by helper docs (site1.org) pack
    into fully trainable cc-by packs; adding ONE proprietary doc
    (site3.com — proprietary tier, NOT blocklisted) relicenses exactly
    the packs that contain it and no others."""
    helpers = [
        "a calm wind moves across the wide bay and the ships rest at anchor",
        "the baker sells warm bread before the town wakes and the bells ring",
        "heavy rain fell on the green hills and the path turned soft and dark",
        "a young scholar reads old maps and notes the roads between the towns",
        "the miller grinds the grain while the stream turns the great wheel",
        "cold stars shine above the quiet farm and the dogs sleep by the door",
        "the fisher mends the nets at dawn and counts the catch by the pier",
        "bright leaves drift down the lane as the children walk home from class",
        "the harbor master logs the tide and signs the ledger for the night",
        "warm light spills from the inn where the travellers trade long tales",
    ]
    ids = [41 + 40 * i for i in range(10)]  # all u=1 -> site1.org (cc-by)
    letters = "qxzjkvwfgpy"
    pairs = [a + b for a in letters for b in letters if a != b]
    garbage = [" ".join(pairs[6 * i : 6 * i + 6]) for i in range(12)]

    def corpus(with_taint):
        rows = [
            (i, h, "en", "srcH", len(h)) for i, h in zip(ids, helpers)
        ]
        if with_taint:
            # u = 90 % 40 = 10 -> site3.com: proprietary tier, not on
            # the blocklist (only site3.io is), so it reaches the packs
            t = "the old press prints the morning paper for the whole town"
            rows.append((90, t, "en", "srcP", len(t)))
        rows += [
            (300 + i, garbage[i], "en", "srcG", len(garbage[i]))
            for i in range(12)
        ]
        return spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    clean = corpus(False)
    sf_dir = plant(documents=clean)
    audit_a = QUERIES["llm_pack_license_audit"](spark, sf_dir).collect()
    assert audit_a and all(r.trainable for r in audit_a)
    assert {r.pack_license for r in audit_a} == {"cc-by"}

    tainted = corpus(True)
    sf_dir = plant(documents=tainted)
    v5 = {
        r.doc_id: r.pack_id
        for r in QUERIES["llm_corpus_curation_v5"](spark, sf_dir).collect()
    }
    audit_b = {
        r.pack_id: r
        for r in QUERIES["llm_pack_license_audit"](spark, sf_dir).collect()
    }
    assert 90 in v5  # the proprietary doc survives the content stages
    taint_pack = v5[90]
    for pid, r in audit_b.items():
        if pid == taint_pack:
            assert not r.trainable and r.pack_license == "proprietary"
            assert r.n_proprietary == 1
        else:
            assert r.trainable and r.pack_license == "cc-by"


@pytest.mark.sf001
@pytest.mark.slow
def test_drop_ledger_partitions_and_matches_v5(spark, sf_dir):
    """X261 lockstep theorems on the real corpus: every raw doc gets
    exactly one label, and the released slice equals the v5 manifest's
    doc set EXACTLY (the guard that keeps the ledger's stage
    predicates from drifting off the composed chain)."""
    led = {
        r.doc_id: r.drop_stage
        for r in QUERIES["llm_drop_ledger"](spark, sf_dir).collect()
    }
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(led) == n_docs
    released = {d for d, s in led.items() if s == "released"}
    v5 = {
        r.doc_id
        for r in QUERIES["llm_corpus_curation_v5"](spark, sf_dir).collect()
    }
    assert released == v5


@pytest.mark.slow
def test_drop_ledger_labels_planted_mirrors(spark, sf_dir, plant):
    """X261 on the mirror corpus: the blocked representative reads
    'governance', the restored mirror reads 'released', the remaining
    identical mirrors read 'exact_dup' (they lose the gated exact-hash
    election before the near-dup stage is even consulted), and the
    rare-letter fillers read 'quality'."""
    planted = _mirror_corpus(spark)
    sf_dir = plant(documents=planted)
    led = {
        r.doc_id: r.drop_stage
        for r in QUERIES["llm_drop_ledger"](spark, sf_dir).collect()
    }
    assert led[43] == "governance"
    assert led[81] == "released"
    for d in (121, 161, 201, 241):
        assert led[d] == "exact_dup", (d, led[d])
    for d in range(300, 312):
        assert led[d] == "quality", (d, led[d])


@pytest.mark.slow
def test_release_diff_global_invariants_random_frames(spark):
    """X255 conservation theorems over seeded-random release pairs:
    for ANY two frames, the per-shard rows must globally conserve —
    doc-count delta equals |B|-|A|, added/removed equal the set
    differences, moves balance, and the checksum deltas sum to the
    exact global checksum difference (the property that makes the
    per-shard table trustworthy as a release gate)."""
    import random
    from decimal import Decimal

    from gmall_spark.queries_llm.governance import release_diff_frames

    rng = random.Random(255)
    for trial in range(4):
        def frame_rows(ids):
            return [
                (
                    i,
                    f"p{rng.randint(0, 5)}",
                    rng.randint(0, 7),
                    Decimal(rng.randint(1, 10 ** 12)),
                )
                for i in ids
            ]

        ids_a = {i for i in range(40) if rng.random() < 0.7}
        ids_b = {i for i in range(40) if rng.random() < 0.7}
        ra, rb = frame_rows(sorted(ids_a)), frame_rows(sorted(ids_b))
        out = release_diff_frames(
            _frame(spark, ra), _frame(spark, rb)
        ).collect()
        assert sum(r.n_docs_b - r.n_docs_a for r in out) == len(ids_b) - len(
            ids_a
        )
        assert sum(r.n_added for r in out) == len(ids_b - ids_a)
        assert sum(r.n_removed for r in out) == len(ids_a - ids_b)
        assert sum(r.n_moved_in for r in out) == sum(
            r.n_moved_out for r in out
        )
        want_delta = sum(r[3] for r in rb) - sum(r[3] for r in ra)
        assert sum(r.checksum_delta for r in out) == want_delta, trial
