"""Product-quantized (PQ) ANN: sub-vector codebooks + ADC scoring.

Completes the quantization family next to SQ (operators/sq.py — one
code per DIMENSION) and IVF (operators/ivf.py — a coarse partition
over candidates): PQ cuts the scanned bytes to ``m`` codes per
VECTOR (the faiss ``PQ8x8`` design — m=8 sub-spaces, 256 centroids
each = one byte/sub-space, an 8x compression of a 64-dim float32
vector). Approximate scores are computed ADC-style (query exact,
corpus reconstructed from codebook entries), the top ``refine``·k
candidates per query are re-scored against the exact vectors
(:func:`similarity.refine_topk`, shared with SQ).

Training is the IVF coarse quantizer's own: :func:`ivf.md5_sample`
(the md5-smallest ``sample`` rows, a CONSTANT-bounded deterministic
subset, crossing the driver once) and one :func:`ivf.lloyd` per
sub-space — Euclidean k-means on unit-normalized sub-vectors (the
metric is cosine, so vectors are normalized FIRST and the codebooks
quantize directions; within a sub-space argmin ||s−c||² ==
argmax s·c − |c|²/2, ties to the lower code — numpy first-max).
Codes are assigned by one Arrow-batched gemm per batch
(ivf._nearest_lists_udf pathology note: k·m·dim literal expression
trees interpret per-row; the gemm is the vectorized path).
Reconstruction (dq = concat(cb_j[code_j])) happens INSIDE the same
Arrow pass as a vectorized numpy gather — at k=256 a JVM literal-
array formulation is a 16k-literal expression tree that drops out of
codegen (see _recon_udf); the q·dq scoring fold stays JVM-side and
visits dimensions left-to-right exactly like the DuckDB twin.

At 100 TB: the codes relation (m bytes/vector) is what the ADC scan
reads — the float corpus is touched only by the refine·k·|Q| exact
rescore rows. Training cost is constant; encoding is one linear
Arrow pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from gmall_spark.functions.vectors import dot
from gmall_spark.operators import ivf
from gmall_spark.operators.ivf import _unit, lloyd, md5_sample, nearest, unit_rows
from gmall_spark.operators.similarity import infer_dim, refine_topk

PQ_M = 8  # sub-spaces
PQ_K = 256  # centroids per sub-space (8-bit codes)
PQ_ITERS = 2
PQ_SAMPLE = 2048
PQ_REFINE = 4


def _books(u: np.ndarray, dim: int, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """One Euclidean :func:`ivf.lloyd` per sub-space of the sample
    rows ``u``: init = the k smallest-digest rows' sub-vectors (the
    same rows for every sub-space, mirroring the oracle's shared
    ``pool`` CTE), NO re-normalization of sub-centroids (only the
    full vector lives on the unit sphere)."""
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    return [
        [
            list(map(float, c))
            for c in lloyd(u[:, j * sub : (j + 1) * sub], k, iters, spherical=False)
        ]
        for j in range(m)
    ]


def train_codebooks(
    embeddings: DataFrame,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    sample: int = PQ_SAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """``m`` codebooks of ``k`` sub-centroids each (shape m×k×(dim/m))
    from the md5-ordered sample (:func:`ivf.md5_sample`)."""
    return _books(md5_sample(embeddings, sample, id_col, vec_col), dim, m, k, iters)


def train_codebooks_residual(
    embeddings: DataFrame,
    centroids: list[list[float]],
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    sample: int = PQ_SAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Codebooks over RESIDUALS u − c_coarse(u) (faiss by_residual):
    the same md5-ordered sample, coarse-assigned with the index's own
    rule (:func:`ivf.nearest`), residual-subtracted, then the same
    per-sub-space training as :func:`train_codebooks`. Residuals
    have far lower variance than raw directions, so the same code
    budget reconstructs tighter."""
    u = md5_sample(embeddings, sample, id_col, vec_col)
    cents = np.array(centroids, dtype=np.float64)
    return _books(u - cents[nearest(u, cents)], dim, m, k, iters)


def _decode(mats: list[np.ndarray], r: np.ndarray) -> np.ndarray:
    """Encode-then-reconstruct the rows of ``r``: each sub-vector's
    nearest codebook entry (stable first-max tie rule), concatenated."""
    sub = mats[0].shape[1]
    return np.concatenate(
        [c[nearest(r[:, j * sub : (j + 1) * sub], c)] for j, c in enumerate(mats)],
        axis=1,
    )


def _recon_udf(books: list[list[list[float]]]):
    """Arrow-batched encode-and-reconstruct: dq = concat of the m
    codebook entries the (unit-normalized) vector encodes to — a
    vectorized numpy gather. An earlier formulation reconstructed
    JVM-side by slicing m LITERAL k·(dim/m)-float arrays per row; at
    k=256 that is a 16k-literal expression tree, which drops out of
    codegen and interprets per-row (the ivf._nearest_lists_udf
    pathology, ~6 s of pure expression overhead at sf0.1). The gather
    emits float64 values IDENTICAL to the literal-slice version, so
    the oracle parity is unchanged."""
    mats = [np.array(b, dtype=np.float64) for b in books]

    @F.pandas_udf(ArrayType(DoubleType()))
    def _recon(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_decode(mats, unit_rows(vs))))

    return _recon


def _recon_residual_udf(
    books: list[list[list[float]]], centroids: list[list[float]]
):
    """Arrow-batched residual encode-and-reconstruct:
    dq = c_coarse + concat(cb_j[code_j(residual)]) — the faiss
    by_residual decode, vectorized like :func:`_recon_udf`."""
    mats = [np.array(b, dtype=np.float64) for b in books]
    cents = np.array(centroids, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _recon(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        v = unit_rows(vs)
        coarse = cents[nearest(v, cents)]
        return pd.Series(list(coarse + _decode(mats, v - coarse)))

    return _recon


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    sample: int = PQ_SAMPLE,
    refine: int = PQ_REFINE,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query: PQ-coded corpus scan (ADC)
    + exact rescore (:func:`similarity.refine_topk`). Output matches
    the other ANN tiers: (query_id, neighbor_id, rank, cos_sim)."""
    dim = dim or infer_dim(embeddings, vec_col)
    if books is None:
        books = train_codebooks(
            embeddings, dim, m, n_codes, iters, sample, id_col, vec_col
        )
    recon = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _recon_udf(books)(F.col(vec_col)).alias("dq"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qu")
    )
    approx = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(dot("qu", "dq"), 6).alias("approx_sim"))
    )
    return refine_topk(approx, queries, embeddings, k, refine, id_col, vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    sample: int = PQ_SAMPLE,
    refine: int = PQ_REFINE,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """faiss-IVFPQ: the IVF coarse quantizer prunes candidates to
    ``nprobe`` inverted lists, the PQ codes supply the ADC
    approximate scores over ONLY those candidates, exact rescore of
    the top refine·k finishes. This is the full 100 TB ANN
    architecture: the scan touches nprobe/n_lists of the corpus and
    reads m bytes/vector of it; training of BOTH quantizers is
    constant-bounded (the shared md5 sample).
    ``by_residual=True`` (the faiss default) trains the codebooks on
    and encodes u − c_coarse(u) instead of the raw direction —
    residuals have far lower variance, so the same code budget
    reconstructs tighter; dq = c_coarse + residual reconstruction.
    Schema matches the other ANN tiers: (query_id, neighbor_id,
    rank, cos_sim)."""
    dim = dim or infer_dim(embeddings, vec_col)
    nprobe = nprobe or ivf.IVF_NPROBE
    if centroids is None:
        centroids = ivf.train_centroids(
            embeddings, id_col=id_col, vec_col=vec_col
        )
    if books is None:
        if by_residual:
            books = train_codebooks_residual(
                embeddings, centroids, dim, m, n_codes, iters, sample, id_col, vec_col
            )
        else:
            books = train_codebooks(
                embeddings, dim, m, n_codes, iters, sample, id_col, vec_col
            )
    recon = (
        _recon_residual_udf(books, centroids) if by_residual else _recon_udf(books)
    )
    index = ivf.build_index(embeddings, centroids, id_col, vec_col)
    coded = index.select(
        "vec_id", "list_id", recon(F.col("embedding")).alias("dq")
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        _unit(F.col(vec_col)).alias("qu"),
        F.explode(
            ivf._nearest_lists_udf(centroids, nprobe)(F.col(vec_col))
        ).alias("list_id"),
    )
    approx = (
        coded.join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot("qu", "dq"), 6).alias("approx_sim"),
        )
    )
    return refine_topk(approx, queries, embeddings, k, refine, id_col, vec_col)
