"""Product-quantized (PQ) ANN: sub-vector codebooks + ADC scoring.

Completes the quantization family next to SQ (operators/sq.py — one
code per DIMENSION) and IVF (operators/ivf.py — a coarse partition
over candidates): PQ cuts the scanned bytes to ``m`` codes per
VECTOR (the faiss ``PQ8x8`` design — m=8 sub-spaces, 256 centroids
each = one byte/sub-space, an 8x compression of a 64-dim float32
vector). Approximate scores are computed ADC-style (query exact,
corpus reconstructed from codebook entries), the top ``refine``·k
candidates per query are re-scored against the exact vectors.

Training follows the ivf.py precedent exactly: the md5-smallest
``sample`` rows (a CONSTANT-bounded, deterministic subset) cross the
driver once and Lloyd iterations run as local float64 matrix ops per
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
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from gmall_spark.functions.vectors import cosine, dot
from gmall_spark.operators.ivf import _unit
from gmall_spark.operators.similarity import infer_dim

PQ_M = 8  # sub-spaces
PQ_K = 256  # centroids per sub-space (8-bit codes)
PQ_ITERS = 2
PQ_SAMPLE = 2048
PQ_REFINE = 4


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
    from the md5-ordered sample. Init per sub-space = the k
    smallest-digest rows' sub-vectors (the same rows for every
    sub-space, mirroring the oracle's shared ``pool`` CTE); empty
    clusters keep their previous centroid; NO re-normalization of
    sub-centroids (Euclidean k-means in sub-space — only the full
    vector lives on the unit sphere)."""
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m
    rows = (
        embeddings.select(
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            _unit(F.col(vec_col)).alias("__v"),
        )
        .orderBy("__h")
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    u = np.array([list(map(float, r["__v"])) for r in rows], dtype=np.float64)
    k = min(k, len(rows))
    books: list[list[list[float]]] = []
    for j in range(m):
        s = u[:, j * sub : (j + 1) * sub]
        cents = s[:k].copy()
        for _ in range(iters):
            score = s @ cents.T - (cents * cents).sum(axis=1) / 2.0
            assign = np.argmax(score, axis=1)  # first max == lower code
            nxt = cents.copy()
            for c in range(k):
                members = s[assign == c]
                if len(members):
                    nxt[c] = members.mean(axis=0)
            cents = nxt
        books.append([list(map(float, c)) for c in cents])
    return books


def _encode_batch(books, vs: pd.Series) -> np.ndarray:
    """(n, m) int32 code matrix for a batch of vectors: one gemm per
    sub-space, stable first-max tie rule, on unit-normalized rows."""
    mats = [np.array(b, dtype=np.float64) for b in books]
    halves = [(c * c).sum(axis=1) / 2.0 for c in mats]
    sub = mats[0].shape[1]
    v = np.array(vs.tolist(), dtype=np.float64)
    norms = np.sqrt((v * v).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    v = v / norms
    out = np.empty((len(v), len(mats)), dtype=np.int32)
    for j, (c, h) in enumerate(zip(mats, halves)):
        score = v[:, j * sub : (j + 1) * sub] @ c.T - h
        out[:, j] = np.argmax(score, axis=1)
    return out


def _recon_udf(books: list[list[list[float]]]):
    """Arrow-batched encode-and-reconstruct: dq = concat of the m
    codebook entries the vector encodes to — a vectorized numpy
    gather. An earlier formulation reconstructed JVM-side by slicing
    m LITERAL k·(dim/m)-float arrays per row; at k=256 that is a
    16k-literal expression tree, which drops out of codegen and
    interprets per-row (the ivf._nearest_lists_udf pathology, ~6 s
    of pure expression overhead at sf0.1). The gather emits float64
    values IDENTICAL to the literal-slice version, so the oracle
    parity is unchanged."""
    mats = [np.array(b, dtype=np.float64) for b in books]

    @F.pandas_udf(ArrayType(DoubleType()))
    def _recon(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        codes = _encode_batch(books, vs)
        dq = np.concatenate(
            [mats[j][codes[:, j]] for j in range(len(mats))], axis=1
        )
        return pd.Series([row for row in dq])

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
    + exact rescore. Output matches the other ANN tiers:
    (query_id, neighbor_id, rank, cos_sim)."""
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
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("qu", "dq"), 6).alias("approx_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    cand = (
        approx.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    nv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qvec", "nvec"), 6).alias("cos_sim"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            "cos_sim",
        )
    )


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
    from gmall_spark.operators import ivf

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
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    cand = (
        approx.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    nv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qvec", "nvec"), 6).alias("cos_sim"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            "cos_sim",
        )
    )


def _coarse_assign(centroids: list[list[float]], v: np.ndarray) -> np.ndarray:
    """Nearest coarse list per unit row — the _nearest_lists_udf rule
    (argmax of u·c − |c|²/2, first max == lower list id)."""
    c = np.array(centroids, dtype=np.float64)
    score = v @ c.T - (c * c).sum(axis=1) / 2.0
    return np.argmax(score, axis=1)


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
    rule, residual-subtracted, then the per-sub-space Lloyd loop of
    :func:`train_codebooks` verbatim. Residuals have far lower
    variance than raw directions, so the same code budget
    reconstructs tighter."""
    assert dim % m == 0
    sub = dim // m
    rows = (
        embeddings.select(
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            _unit(F.col(vec_col)).alias("__v"),
        )
        .orderBy("__h")
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train residual codebooks on an empty corpus")
    u = np.array([list(map(float, r["__v"])) for r in rows], dtype=np.float64)
    cents = np.array(centroids, dtype=np.float64)
    resid = u - cents[_coarse_assign(centroids, u)]
    k = min(k, len(rows))
    books: list[list[list[float]]] = []
    for j in range(m):
        s = resid[:, j * sub : (j + 1) * sub]
        cb = s[:k].copy()
        for _ in range(iters):
            score = s @ cb.T - (cb * cb).sum(axis=1) / 2.0
            assign = np.argmax(score, axis=1)
            nxt = cb.copy()
            for c in range(k):
                members = s[assign == c]
                if len(members):
                    nxt[c] = members.mean(axis=0)
            cb = nxt
        books.append([list(map(float, c)) for c in cb])
    return books


def _recon_residual_udf(
    books: list[list[list[float]]], centroids: list[list[float]]
):
    """Arrow-batched residual encode-and-reconstruct:
    dq = c_coarse + concat(cb_j[code_j(residual)]) — the faiss
    by_residual decode, vectorized like :func:`_recon_udf`."""
    mats = [np.array(b, dtype=np.float64) for b in books]
    cents = np.array(centroids, dtype=np.float64)
    halves = [(c * c).sum(axis=1) / 2.0 for c in mats]
    sub = mats[0].shape[1]

    @F.pandas_udf(ArrayType(DoubleType()))
    def _recon(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        v = np.array(vs.tolist(), dtype=np.float64)
        norms = np.sqrt((v * v).sum(axis=1, keepdims=True))
        norms[norms == 0.0] = 1.0
        v = v / norms
        assign = _coarse_assign([list(c) for c in cents], v)
        resid = v - cents[assign]
        codes = np.empty((len(v), len(mats)), dtype=np.int64)
        for j, (c, h) in enumerate(zip(mats, halves)):
            score = resid[:, j * sub : (j + 1) * sub] @ c.T - h
            codes[:, j] = np.argmax(score, axis=1)
        dq = cents[assign] + np.concatenate(
            [mats[j][codes[:, j]] for j in range(len(mats))], axis=1
        )
        return pd.Series([row for row in dq])

    return _recon


def save_codebooks(
    path: str, books: list[list[list[float]]], source_paths: list[str]
) -> None:
    """Publish trained PQ codebooks as an on-disk artifact — the PQ
    half of the index-as-artifact story (ivf.save_centroids is the
    coarse half): curation runs spanning sessions, or PQ + IVF-PQ
    jobs sharing one training, reuse a single run. Atomic write with
    a training-file fingerprint so a regenerated corpus invalidates
    the artifact; payload is m·k·(dim/m) floats — trivially small."""
    import json
    import os

    from gmall_spark.operators.ivf import _source_fingerprint

    payload = {
        "fingerprint": _source_fingerprint(source_paths),
        "codebooks": books,
    }
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def load_codebooks(
    path: str, source_paths: list[str]
) -> list[list[list[float]]] | None:
    """Load a published codebook artifact, or None when absent or its
    fingerprint no longer matches the training files."""
    import json
    import os

    from gmall_spark.operators.ivf import _source_fingerprint

    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            payload = json.load(f)
    except (OSError, ValueError):
        return None
    if payload.get("fingerprint") != _source_fingerprint(source_paths):
        return None
    books = payload.get("codebooks")
    return books if isinstance(books, list) and books else None
