"""X218-X219 interpolated Kneser-Ney: Python-reference identity,
planted unseen-context/absent-language contracts, exact normalization
theorem, and the frozen-score fixture sharing."""

from __future__ import annotations

import math
from collections import defaultdict
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gmall_spark.operators import lm
import pytest


def _py_kn_stats(train):
    c = defaultdict(int)
    for lang, t in train:
        t = t.lower()
        for i in range(len(t) - 1):
            c[(lang, t[i : i + 2])] += 1
    cu, n1u, ncv, nt, vcset = (
        defaultdict(int),
        defaultdict(int),
        defaultdict(int),
        defaultdict(int),
        defaultdict(set),
    )
    for (lang, b), cnt in c.items():
        cu[(lang, b[0])] += cnt
        n1u[(lang, b[0])] += 1
        ncv[(lang, b[1])] += 1
        nt[lang] += 1
        vcset[lang].add(b[1])
    return c, cu, n1u, ncv, nt, vcset


def py_kn_scores(train, evals):
    """Reference scorer: same integer num/den closed forms as
    operators/lm.kn_score_with_model's docstring."""
    c, cu, n1u, ncv, nt, vcset = _py_kn_stats(train)
    out = {}
    for doc_id, lang, t in evals:
        t = t.lower()
        bgs = [t[i : i + 2] for i in range(len(t) - 1)]
        if not bgs:
            continue
        if lang not in nt:
            out[doc_id] = (len(bgs), None)
            continue
        scale = nt[lang] + len(vcset[lang])
        s = 0.0
        for b in bgs:
            nv = ncv.get((lang, b[1]), 0)
            if (lang, b[0]) not in cu:
                s += math.log((nv + 1) / scale)
            else:
                num = max(4 * c.get((lang, b), 0) - 3, 0) * scale + 3 * n1u[
                    (lang, b[0])
                ] * (nv + 1)
                den = 4 * cu[(lang, b[0])] * scale
                s += math.log(num / den)
        out[doc_id] = (len(bgs), round(s / len(bgs), 6))
    return out


texts = st.text(alphabet="ab x", min_size=0, max_size=16)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(
    train=st.lists(st.tuples(st.sampled_from(["en", "de"]), texts), max_size=6),
    evals=st.lists(texts, min_size=1, max_size=5),
)
@pytest.mark.slow
def test_kn_matches_python_reference(spark, train, evals):
    ev = [(i, ["en", "de", "fr"][i % 3], t) for i, t in enumerate(evals)]
    want = py_kn_scores(train, ev)
    train_df = spark.createDataFrame(
        train or [("zz", "")], "lang string, text string"
    )
    ev_df = spark.createDataFrame(ev, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.kn_logprob)
        for r in lm.kn_score_with_model(ev_df, lm.kn_model(train_df)).collect()
    }
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        gn, gs = got[k]
        assert gn == n
        if s is None:
            assert gs is None, (k, gs)
        else:
            assert gs is not None and math.isclose(
                gs, s, rel_tol=0, abs_tol=2e-6
            ), (k, gs, s)


def test_kn_unseen_context_and_absent_lang(spark):
    """Planted contracts: a context char absent from training backs
    off to the continuation floor; an absent language scores NULL;
    an unseen bigram in a seen context keeps the interpolation
    mass (finite, < 0)."""
    train = [("en", "abab")]  # bigrams: ab(2), ba(1) — contexts a,b
    ev = [
        (0, "en", "xa"),  # context 'x' unseen → floor ln((ncv_a+1)/scale)
        (1, "en", "ax"),  # seen context 'a', unseen bigram 'ax'
        (2, "fr", "ab"),  # language absent from model
    ]
    got = {
        r.doc_id: r.kn_logprob
        for r in lm.kn_score_with_model(
            spark.createDataFrame(ev, "doc_id long, lang string, text string"),
            lm.kn_model(
                spark.createDataFrame(train, "lang string, text string")
            ),
        ).collect()
    }
    # model: nt=2 types (ab, ba), vc=2 ({a, b}); ncv: a←1 (ba), b←1 (ab)
    assert math.isclose(got[0], round(math.log(2 / 4), 6), abs_tol=1e-9)
    # ax: c=0, n1u(a)=1, ncv(x)=0 → num=3*1*1=3, den=4*2*4=32
    assert math.isclose(got[1], round(math.log(3 / 32), 6), abs_tol=1e-9)
    assert got[2] is None
    py = py_kn_scores(train, ev)
    assert math.isclose(py[0][1], got[0], abs_tol=2e-6)
    assert math.isclose(py[1][1], got[1], abs_tol=2e-6)


def test_kn_normalizes_exactly_over_seen_continuations():
    """Theorem (exact, in rationals): for every seen context u,
    sum over SEEN continuation chars v of P(v|u) == 1 — the
    discount mass D·N1+(u·) is exactly redistributed by the add-one
    continuation distribution (sum(ncv)+|v| = nt+vc = scale)."""
    train = [("en", "the cat sat on the mat"), ("en", "aa bb aa")]
    c, cu, n1u, ncv, nt, vcset = _py_kn_stats(train)
    D = Fraction(3, 4)
    for lang in nt:
        scale = nt[lang] + len(vcset[lang])
        for (lg, u), cu_v in cu.items():
            if lg != lang:
                continue
            tot = Fraction(0)
            for v in vcset[lang]:
                cnt = c.get((lang, u + v), 0)
                pc = Fraction(ncv.get((lang, v), 0) + 1, scale)
                tot += (max(Fraction(cnt) - D, 0) + D * n1u[(lang, u)] * pc) / cu_v
            assert tot == 1, (lang, u, tot)


def test_frozen_score_fixtures_shared(spark):
    """X112/X218/X219 read per-(session, sf_dir) checkpoints — one
    scoring pass per corpus per smoother, and the tier-diff plan
    contains no bigram explode (it scans the checkpoints)."""
    from gmall_spark import fixtures_audit
    from gmall_spark import queries as Q

    def n_built():
        return (
            len(fixtures_audit.entries("frozen_lm")),
            len(fixtures_audit.entries("frozen_kn")),
        )

    sf = "/root/testdata/sf0.001"
    Q.clear_cache()
    try:
        Q.QUERIES["text_lm_score_frozen_model"](spark, sf).count()
        Q.QUERIES["text_lm_score_kn_frozen"](spark, sf).count()
        assert n_built() == (1, 1)
        diff = Q.QUERIES["text_lm_tier_diff_kn"](spark, sf)
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan  # no explode: checkpoint scans only
        assert n_built() == (1, 1)
        total = diff.agg(F.sum("n_docs")).collect()[0][0]
        scored = fixtures_audit.entries("frozen_lm")[0].count()
        assert total == scored
    finally:
        Q.clear_cache()
