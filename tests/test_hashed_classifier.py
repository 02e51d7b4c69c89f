"""X239-X240 hashing-trick classifier: planted separable fixture +
model-shape invariants.

The registered queries pin train+score against the DuckDB oracle on
the driver corpus, where the lang label is independent of the text
(accuracy ~coin-flip IS the true value there — the X120 NB finding);
these tests pin the MECHANICS on corpora where the signal exists.
"""

from __future__ import annotations

import pytest

from gmall_spark.queries_llm import sft_classifier
from gmall_spark.queries import QUERIES


def _planted(spark):
    # even doc_ids train, odd evaluate; disjoint vocabularies per
    # class, so a working hashed model must reach accuracy 1.0
    en = "the quick brown fox jumps over lazy dog again and again"
    zz = "zorblax quintar velmo drakk sypherion moxul tevrin kalzor"
    rows = []
    for i in range(40):
        lang = "en" if i % 4 < 2 else "zh"
        rows.append((i, en if lang == "en" else zz, lang))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_separable_vocab_scores_perfectly(spark, plant):
    sf_dir = plant(documents=_planted(spark))
    rows = QUERIES["text_hashed_ngram_classifier"](spark, sf_dir).collect()
    assert rows and all(r.correct == 1 for r in rows)
    assert {r.pred_en for r in rows} == {0, 1}  # both classes predicted
    grid = {
        (r.pred_en, r.is_en): r.n_docs
        for r in QUERIES["text_hashed_classifier_confusion"](
            spark, sf_dir
        ).collect()
    }
    assert grid[(1, 0)] == 0 and grid[(0, 1)] == 0  # empty cells present
    assert grid[(1, 1)] > 0 and grid[(0, 0)] > 0


def test_model_is_fixed_width_and_train_only(spark, plant):
    """The deployable artifact is exactly HASH_BUCKETS floats, and it
    derives from the TRAIN half alone: perturbing an odd (eval) doc's
    text must not move a single weight."""
    from pyspark.sql import functions as F

    planted = _planted(spark)
    w1 = list(sft_classifier._hashed_nb_weights(spark, plant(documents=planted)))
    assert len(w1) == sft_classifier.HASH_BUCKETS
    perturbed = planted.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.col("text"), F.lit(" xyzzy"))
        ).otherwise(F.col("text")),
    )
    w2 = list(sft_classifier._hashed_nb_weights(spark, plant(documents=perturbed)))
    assert w1 == w2


def test_corpus_accuracy_is_the_honest_floor(spark, sf_dir):
    """On the real driver corpus the lang label is independent of the
    text, so held-out accuracy must sit NEAR the coin-flip floor —
    a high number here would mean train/eval leakage, not skill."""
    if "0.001" not in sf_dir:
        pytest.skip("floor statement calibrated at the suite SF")
    rows = QUERIES["text_hashed_ngram_classifier"](spark, sf_dir).collect()
    acc = sum(r.correct for r in rows) / len(rows)
    assert 0.2 <= acc <= 0.8, acc