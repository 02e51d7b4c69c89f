"""Scalar-quantized (int8-style) ANN: the memory-bandwidth scale
path for brute-force scoring.

LSH (operators/similarity.py) and IVF (operators/ivf.py) prune
CANDIDATES; scalar quantization instead shrinks the SCAN: each
float32 dimension becomes one 8-bit code (4x less bandwidth and
cache footprint — the faiss ``SQ8`` design), approximate scores are
computed against the dequantized codes, and only the top
``refine``·k candidates per query are re-scored against the exact
vectors. At 100 TB the quantized corpus is what the scan reads; the
exact rescore touches ~refine·k·|Q| rows.

Determinism: the quantizer is a per-dimension (min, max) trained by
ONE single-row aggregate over the corpus (map-side partials, no
sample, no RNG); codes are round((x-min)/step) clamped to [0,255].
Everything — training, encoding, approximate scoring — is
JVM-side higher-order functions; the oracle
(ann_oracles.sq_topk_oracle) replays the identical arithmetic in
DuckDB SQL. Scores are rounded to 6 dp before ranking so both
engines' float folds agree (the similarity.py convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_spark.functions.vectors import cosine
from gmall_spark.operators.similarity import infer_dim, refine_topk

SQ_LEVELS = 255
SQ_REFINE = 4


def train_minmax(
    embeddings: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Single-row quantizer: per-dimension ``mins`` and ``steps``
    arrays ((max-min)/255; degenerate dims get step 1 so codes are 0)."""
    aggs = []
    for i in range(dim):
        x = F.col(vec_col)[i].cast("double")
        aggs += [F.min(x).alias(f"mn_{i}"), F.max(x).alias(f"mx_{i}")]
    step = [
        F.when(F.col(f"mx_{i}") == F.col(f"mn_{i}"), F.lit(1.0)).otherwise(
            (F.col(f"mx_{i}") - F.col(f"mn_{i}")) / F.lit(255.0)
        )
        for i in range(dim)
    ]
    return embeddings.agg(*aggs).select(
        F.array(*[F.col(f"mn_{i}") for i in range(dim)]).alias("mins"),
        F.array(*step).alias("steps"),
    )


def _dequantized(vec_col, mins, steps):
    """Code then immediately dequantize: mins[i] + steps[i]*code_i
    with code_i = clamp(round((x_i - mins[i]) / steps[i]), 0, 255).
    Expressed as zip_with chains (all codegen'd JVM); ``mins`` and
    ``steps`` are literal arrays (the trained quantizer)."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    shifted = F.zip_with(v, mins, lambda x, m: x - m)
    codes = F.zip_with(
        shifted,
        steps,
        lambda y, s: F.least(F.greatest(F.round(y / s, 0), F.lit(0.0)), F.lit(255.0)),
    )
    scaled = F.zip_with(codes, steps, lambda c, s: c * s)
    return F.zip_with(scaled, mins, lambda d, m: d + m)


def sq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine: int = SQ_REFINE,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query via quantized scan + exact
    rescore (:func:`similarity.refine_topk`). Output matches the
    other ANN tiers: (query_id, neighbor_id, rank, cos_sim). Pass
    ``stats`` (mins, steps — e.g. a cached earlier training) to skip
    retraining."""
    dim = dim or infer_dim(embeddings, vec_col)
    # the trained quantizer is ONE bounded row (2*dim doubles) — pull
    # it to the driver and inline it as literals, so encoding is a
    # pure per-row expression and the stats aggregate runs ONCE
    # instead of once per consuming branch (as with ivf.md5_sample:
    # constant-bounded model state, not data, crosses the driver)
    if stats is not None:
        row = {"mins": stats[0], "steps": stats[1]}
    else:
        row = train_minmax(embeddings, dim, vec_col).collect()[0]
    mins = F.array(*[F.lit(float(v)) for v in row["mins"]])
    steps = F.array(*[F.lit(float(v)) for v in row["steps"]])

    enc = embeddings.select(
        F.col(id_col), _dequantized(F.col(vec_col), mins, steps).alias("dq")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dequantized(F.col(vec_col), mins, steps).alias("qdq"),
    )
    approx = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine("qdq", "dq"), 6).alias("approx_sim"),
        )
    )
    return refine_topk(approx, queries, embeddings, k, refine, id_col, vec_col)
