"""X231-X233 SFT conversation tier: the span theorem + planted
keeper/tie/filter fixtures.

The registered queries pin render/stats/dedup against the ≤4-turn
closed-form oracle; these pin (a) the span THEOREM — every loss span
cut from the rendered string is exactly its assistant turn's text —
on the real corpus (the X208 reassembly discipline), and (b) the
keeper tie rule and MIN_WORDS filter on planted conversations.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gmall_spark.operators import sft
from gmall_spark.queries import QUERIES
import pytest

_HYP = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# arbitrary unicode turn texts (no surrogates), INCLUDING strings that
# look like template markers — offsets are by construction, so a turn
# containing '<|assistant|>' or a copy of another turn must not
# confuse them (the failure mode substring search would have)
_turn_text = st.text(
    alphabet=st.one_of(
        st.characters(blacklist_categories=("Cs",)),
        st.sampled_from(list("<|>iuser assistant end")),
    ),
    max_size=20,
)
_turns_strategy = st.lists(_turn_text, min_size=1, max_size=8)


@given(texts=_turns_strategy)
@settings(**_HYP)
@pytest.mark.slow
def test_fold_matches_python_reference_general_n(spark, texts):
    """The general-n fold vs a plain Python renderer: rendered string
    and every assistant [start, end) span agree for ANY turn count
    (the oracle only exercises n <= 4), any unicode, and marker-like
    turn contents."""
    turns = [
        ("user" if i % 2 == 0 else "assistant", t)
        for i, t in enumerate(texts)
    ]
    # Python reference: render + offsets by construction
    rendered = sft.SYSTEM_PREFIX
    spans = []
    for role, txt in turns:
        hdr = sft.HDR_USER if role == "user" else sft.HDR_ASSISTANT
        start = len(rendered) + len(hdr)
        rendered += hdr + txt + sft.END
        if role == "assistant":
            spans.append(f"{start}:{start + len(txt)}")
    want_spans = ";".join(spans)

    df = spark.createDataFrame(
        [(turns,)],
        "turns array<struct<role:string,txt:string>>",
    )
    row = df.select(
        sft.rendered(F.col("turns")).alias("r"),
        sft.loss_spans(F.col("turns")).alias("s"),
    ).collect()[0]
    assert row.r == rendered
    assert row.s == want_spans
    asst_txts = [t for role, t in turns if role == "assistant"]
    for sp, txt in zip(spans, asst_txts):
        a, b = map(int, sp.split(":"))
        assert rendered[a:b] == txt


def test_span_theorem_on_corpus(spark, sf_dir):
    """substring(rendered, start+1, end-start) == the assistant
    turn's text, for EVERY span of EVERY conversation — offsets are
    correct by construction or not at all."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = sft.turns(docs)
    rows = t.select(
        "doc_id",
        "n_turns",
        sft.rendered(F.col("turns")).alias("rendered"),
        sft.loss_spans(F.col("turns")).alias("spans"),
        F.col("turns").alias("turns"),
    ).collect()
    assert rows
    checked = 0
    for r in rows:
        asst_txts = [x["txt"] for x in r.turns if x["role"] == "assistant"]
        spans = [s.split(":") for s in r.spans.split(";")]
        assert len(spans) == len(asst_txts) == r.n_turns // 2
        for (s, e), want in zip(spans, asst_txts):
            s, e = int(s), int(e)
            assert r.rendered[s:e] == want, (r.doc_id, s, e)
            checked += 1
    assert checked > len(rows)  # 4-turn docs contribute two spans


def test_rendered_shape(spark):
    df = spark.createDataFrame(
        [(0, "q1 q2 a1 a2"), (1, "u1 u2 a1 a2 u3 u4 a2 a3")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in sft.turns(df)
        .select(
            "doc_id",
            sft.rendered(F.col("turns")).alias("rendered"),
            sft.loss_spans(F.col("turns")).alias("spans"),
        )
        .collect()
    }
    assert got[0].rendered == (
        "<|system|>assistant ready<|end|>"
        "<|user|>q1 q2<|end|><|assistant|>a1 a2<|end|>"
    )
    # doc 1 is odd -> 4 turns of 2 words each
    assert got[1].rendered == (
        "<|system|>assistant ready<|end|>"
        "<|user|>u1 u2<|end|><|assistant|>a1 a2<|end|>"
        "<|user|>u3 u4<|end|><|assistant|>a2 a3<|end|>"
    )
    assert ";" in got[1].spans and ";" not in got[0].spans


def test_min_words_filter(spark):
    """A doc under MIN_WORDS words yields no conversation (a 4-turn
    derivation would emit empty turns)."""
    df = spark.createDataFrame(
        [(1, "a b c"), (3, "a b c d")], "doc_id long, text string"
    )
    got = sft.turns(df).select("doc_id").collect()
    assert [r.doc_id for r in got] == [3]


def test_keeper_prefers_longest_then_min_doc_id(spark, plant):
    """Planted prompt collision: three conversations share a prompt;
    the keeper is the longest assistant reply, and on an exact length
    tie the smaller doc_id."""
    planted = spark.createDataFrame(
        [
            # even doc_ids -> 2 turns; 8 words each so every prompt is
            # the same first-4-word slice "ask me this and"
            (100, "ask me this and tersely done x y"),
            (102, "ask me this and verbose answer here zz"),
            (104, "ask me this and verbose answer here yy"),  # tie w/ 102
        ],
        "doc_id long, text string",
    )
    rows = QUERIES["sft_prompt_dedup"](spark, plant(documents=planted)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_convs == 3 and r.keeper_doc_id == 102


def _lcs_ref(a, b):
    dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            dp[i][j] = max(
                dp[i - 1][j],
                dp[i][j - 1],
                dp[i - 1][j - 1] + (a[i - 1] == b[j - 1]),
            )
    return dp[-1][-1]


def test_lcs_length_both_engines_match_reference(spark):
    """X257 DP verification: 60 seeded-random token-array pairs (small
    alphabet so matches are dense) — the Spark HOF fold and the DuckDB
    recursive-CTE DP must both equal the classic Python DP on every
    pair."""
    import random

    import duckdb

    from gmall_spark.functions import text as TX

    rng = random.Random(257)
    alphabet = ["a", "b", "c", "d"]
    pairs = [
        (
            i,
            [rng.choice(alphabet) for _ in range(rng.randint(1, 8))],
            [rng.choice(alphabet) for _ in range(rng.randint(1, 8))],
        )
        for i in range(60)
    ]
    want = {pid: _lcs_ref(ta, tb) for pid, ta, tb in pairs}
    df = spark.createDataFrame(
        pairs, "pid int, ta array<string>, tb array<string>"
    )
    got_spark = {
        r.pid: r.l
        for r in df.select(
            "pid", TX.lcs_length(F.col("ta"), F.col("tb")).alias("l")
        ).collect()
    }
    assert got_spark == want
    values = ", ".join(
        "({}, {}, {})".format(
            pid,
            "[" + ", ".join(f"'{x}'" for x in ta) + "]",
            "[" + ", ".join(f"'{x}'" for x in tb) + "]",
        )
        for pid, ta, tb in pairs
    )
    got_duck = dict(
        duckdb.sql(
            f"""
WITH RECURSIVE pr AS (
  SELECT * FROM (VALUES {values}) AS t(pid, ta, tb)
), lcs AS (
  SELECT pid, ta, tb, 0 AS i,
         list_transform(range(0, len(tb) + 1), x -> 0) AS r
  FROM pr
  UNION ALL
  SELECT pid, ta, tb, i + 1,
         list_prepend(0,
           list_transform(range(1, len(tb) + 1), j ->
             list_max(list_transform(range(1, j + 1), k ->
               greatest(r[k + 1],
                        r[k] + CASE WHEN ta[i + 1] = tb[k]
                                    THEN 1 ELSE 0 END)))))
  FROM lcs WHERE i < len(ta)
)
SELECT pid, r[len(tb) + 1] FROM lcs WHERE i = len(ta)
"""
        ).fetchall()
    )
    assert got_duck == want


def test_lcs_length_vectorized_dp_long_arrays(spark):
    """r13: lcs_length became an Arrow-batched numpy DP (running-max
    vectorization of the within-row dependency). The 60-pair pin above
    stops at length 8; this exercises prompt-scale lengths (up to 120
    tokens, dense-match alphabet) against the classic Python DP."""
    import random

    from gmall_spark.functions import text as TX

    rng = random.Random(1313)
    alphabet = ["a", "b", "c"]
    pairs = [
        (
            i,
            [rng.choice(alphabet) for _ in range(rng.randint(20, 120))],
            [rng.choice(alphabet) for _ in range(rng.randint(20, 120))],
        )
        for i in range(20)
    ]
    want = {pid: _lcs_ref(ta, tb) for pid, ta, tb in pairs}
    df = spark.createDataFrame(
        pairs, "pid int, ta array<string>, tb array<string>"
    )
    got = {
        r.pid: r.l
        for r in df.select(
            "pid", TX.lcs_length(F.col("ta"), F.col("tb")).alias("l")
        ).collect()
    }
    assert got == want


def test_lcs_length_empty_side_is_zero(spark):
    """ADVICE r12: an empty array on either side must yield 0 (the
    mathematical LCS) instead of driving the inner fold through the
    descending sequence(1, 0) and element_at(tb, 0)."""
    from gmall_spark.functions import text as TX

    rows = [
        (1, [], ["a", "b"]),
        (2, ["a", "b"], []),
        (3, [], []),
        (4, ["a", "b"], ["b", "a"]),
    ]
    df = spark.createDataFrame(
        rows, "pid int, ta array<string>, tb array<string>"
    )
    got = {
        r.pid: r.l
        for r in df.select(
            "pid", TX.lcs_length(F.col("ta"), F.col("tb")).alias("l")
        ).collect()
    }
    assert got == {1: 0, 2: 0, 3: 0, 4: 1}


def test_novelty_gate_catches_insertion_paraphrase(spark, plant):
    """X257 planted fixture: the insertion paraphrase — seed prompt
    w1..w10, candidate prompt = the same sequence with a spacer every
    two words (14 tokens, LCS 10, ROUGE-L F1 = 20/24 ≈ 0.833 >= 0.7).
    Every candidate 3-gram shingle spans a spacer, so shingle Jaccard
    is 0 and the MinHash near-dup gate KEEPS the pair — the novelty
    gate must reject it (the order-sensitive family Jaccard lacks)."""
    from gmall_spark.operators import llm_dedup
    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm.prelude import NEAR_DUP_THRESHOLD

    S = "win two able cork dusk echo fern gale hush iris".split()
    P = []
    spacers = iter("sp1 sp2 sp3 sp4".split())
    for i, wd in enumerate(S):
        P.append(wd)
        if i % 2 == 1 and i < len(S) - 1:
            P.append(next(spacers))
    assert len(S) == 10 and len(P) == 14
    filler_s = "oak elm fir ash yew oaks elms firs ashes yews".split()
    filler_c = (
        "red blue gray pink teal reds blues grays pinks teals "
        "mauve ochre umber sepia"
    ).split()
    assert len(filler_s) == 10 and len(filler_c) == 14
    docs = spark.createDataFrame(
        [
            (50, " ".join(S + filler_s)),
            (52, " ".join(P + filler_c)),
        ],
        "doc_id long, text string",
    )
    sf_dir = plant(documents=docs)
    out = {
        r.doc_id: r
        for r in QUERIES["sft_novelty_rougel"](spark, sf_dir).collect()
    }
    assert set(out) == {52}  # the seed is not a candidate
    r = out[52]
    assert r.n_blocked_seeds == 1 and r.nearest_seed_id == 50
    assert abs(r.rougel_max - round(20 / 24, 6)) < 1e-9
    assert r.novel is False  # ROUGE-L catches the paraphrase...
    pairs = llm_dedup.minhash_lsh_dedup(docs, NEAR_DUP_THRESHOLD)
    assert pairs.count() == 0  # ...that Jaccard sails past
    audit = QUERIES["sft_novelty_audit"](spark, sf_dir).collect()[0]
    assert audit.n_candidates == 1 and audit.n_seeds == 1
    assert audit.n_rejected == 1 and audit.n_novel == 0


def test_control_token_scan_planted_and_zero_row(spark, sf_dir):
    """X262: the planted markers are counted exactly (doc 2 mod 9
    carries one <|user|>; doc 3 mod 11 carries two <|endoftext|>),
    clean docs are not poisoned, and the never-planted '<|pad|>'
    census row is genuinely zero. The oracle parity itself doubles as
    the corpus-clean guard: a pre-existing marker in the corpus would
    break the closed-form hash."""
    from gmall_spark.queries import QUERIES
    from gmall_spark.queries_llm.sft_classifier import CONTROL_TOKENS

    scan = {r.doc_id: r for r in
            QUERIES["sft_control_token_scan"](spark, sf_dir).collect()}
    iu = CONTROL_TOKENS.index("<|user|>")
    ie = CONTROL_TOKENS.index("<|endoftext|>")
    for d, r in scan.items():
        hits = [r[f"hits_{i}"] for i in range(len(CONTROL_TOKENS))]
        assert (r.n_control > 0) == r.render_poisoned
        assert r.n_control == sum(hits)
        if d % 9 == 2:
            assert hits[iu] >= 1
        if d % 11 == 3:
            assert hits[ie] == 2
        if all(d % m != rr for m, rr, _ in (
            (9, 2, 0), (11, 3, 0), (13, 5, 0), (17, 7, 0)
        )):
            assert r.render_poisoned is False, d
    roll = {r.token: (r.n_docs, r.n_hits) for r in
            QUERIES["sft_control_token_rollup"](spark, sf_dir).collect()}
    assert roll["<|pad|>"] == (0, 0)
    assert roll["<|endoftext|>"][1] > 0 and roll["<|user|>"][1] > 0
