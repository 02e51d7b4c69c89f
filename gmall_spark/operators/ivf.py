"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path for similarity search next to the hyperplane
LSH in :mod:`gmall_spark.operators.similarity` (BASELINE extension
mandate: "an IVF or LSH-bucketed variant as the scale path"):

1. **Train**: k-means (:func:`lloyd`) over a deterministic,
   CONSTANT-BOUNDED sample of the corpus (:func:`md5_sample`:
   smallest-md5 rows, never more than ``IVF_SAMPLE``), fetched to the
   driver in one job and iterated locally in float64 — the faiss
   coarse-quantizer recipe, which the PQ codebooks (operators/pq.py)
   train with too. The driver never sees more than the fixed sample
   regardless of corpus size; everything that scales with the corpus
   stays distributed.
2. **Index**: every corpus vector is assigned to its nearest centroid
   (one codegen'd argmin over centroid literals, no shuffle) — the
   "inverted list" is just a ``list_id`` column, so at 100 TB the
   index is a parquet table partitioned/clustered by ``list_id`` and
   partition pruning turns a probe into a scan of nprobe lists.
3. **Search**: each query scores the centroids (k of them, driver-
   side literals), keeps its ``nprobe`` nearest lists, and scores
   only corpus vectors in those lists: an equi-join on ``list_id``
   (queries broadcast) followed by exact cosine + per-query top-k
   (:func:`similarity.rank_topk`). Expected cost per query ~ nprobe/k
   of the corpus.

Determinism: centroid init picks the sample rows with the k smallest
md5(vec_id) values — no RNG, stable across runs/engines. Lloyd
iterations use squared-L2 on double-cast elements; ties in the argmin
break toward the lower list id.

The operator is iterative (train loop) and therefore has no single
ANSI-SQL oracle; the driver records a rows-only check for the
registered query, and ``tests/test_ivf.py`` gates recall against
brute force plus the invariants (index covers the corpus, probe
fraction, determinism).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from gmall_spark.functions.vectors import cosine
from gmall_spark.operators.similarity import rank_topk

IVF_LISTS = 16
# 12/16: the first sweep point clearing recall@10 >= 0.9 on the
# synthetic corpus (similarity_eval_ivf_nprobe_sweep measures 0.62 /
# 0.88 / 0.96 / 1.0 at 4/8/12/16 — quasi-uniform embeddings have weak
# cluster structure, so the 16-list demo pays most of a scan for
# honest recall). At 100 TB run n_lists ~ sqrt(N): the same >= 0.9
# recall then costs nprobe/n_lists of a few percent.
IVF_NPROBE = 12
IVF_ITERS = 3
IVF_SAMPLE = 2048


def _dvec(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def _unit(c: Column) -> Column:
    """L2-normalized double vector (spherical k-means: the search
    metric is cosine, so clustering must run on the unit sphere —
    L2 on raw vectors groups by magnitude, not direction). A zero
    vector stays zero (divide by 1 — same guard as
    :func:`_nearest_lists_udf` and the generated SQL oracle)."""
    d = _dvec(c)
    n = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
    return F.transform(d, lambda x: x / safe)


def _nearest_lists_udf(centroids: list[list[float]], n: int = 1):
    """Arrow-batched UDF: the ``n`` nearest centroid ids of each
    (unit-normalized) vector, one gemm + stable argsort per batch.

    On the unit sphere argmin ||v-c||^2 == argmax (v.c - ||c||^2/2),
    so one matrix multiply against the centroid matrix ranks all
    centroids; stable argsort keeps ties at the lower id, matching
    the expression version's tie rule. Replaces a per-row interpreted
    expression of k x dim literal nodes (same pathology as the
    hyperplane signatures — see similarity.bucket_signatures)."""
    c = np.array(centroids, dtype=np.float64)  # (k, dim)
    half_sq = (c * c).sum(axis=1) / 2.0

    @F.pandas_udf(ArrayType(IntegerType()))
    def _nn(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        score = unit_rows(vs) @ c.T - half_sq  # maximize
        order = np.argsort(-score, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype(np.int32) for row in order])

    return _nn


def unit_rows(vs: pd.Series) -> np.ndarray:
    """An Arrow batch of vectors as L2-normalized float64 rows; a zero
    vector stays zero (the :func:`_unit` guard, numpy-side)."""
    v = np.array(vs.tolist(), dtype=np.float64)
    norms = np.sqrt((v * v).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return v / norms


def nearest(u: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid: argmax of u·c − |c|²/2
    (argmin of ||u−c||² for unit u), the first maximum winning, so
    ties go to the lower id."""
    return np.argmax(u @ cents.T - (cents * cents).sum(axis=1) / 2.0, axis=1)


def _renorm_row(v: np.ndarray) -> np.ndarray:
    n = float(np.sqrt((v * v).sum()))
    return v / n if n > 0 else v


def md5_sample(
    embeddings: DataFrame,
    sample: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The training sample every quantizer here shares: the ``sample``
    rows with the smallest md5(id), unit-normalized, collected as an
    (n, dim) float64 matrix in md5 order. The sample is BOUNDED BY A
    CONSTANT, not by corpus size, so it crosses to the driver in one
    job — the way faiss trains on a sampled subset."""
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
        raise ValueError("cannot train a quantizer on an empty corpus")
    return np.array([list(map(float, r["__v"])) for r in rows], dtype=np.float64)


def lloyd(u: np.ndarray, k: int, iters: int, spherical: bool) -> np.ndarray:
    """Lloyd k-means over the rows of ``u`` as local float64 matrix
    ops. Init = the first ``k`` rows (md5 order); each iteration
    assigns by :func:`nearest` and moves every centroid to its
    members' mean; an empty cluster keeps its previous centroid.
    ``spherical`` re-normalizes the init and every mean onto the unit
    sphere (the IVF coarse quantizer); without it the loop is plain
    Euclidean k-means (PQ sub-spaces). ``k`` is clamped to the sample
    size, so the empty-cluster fallback never indexes past the init
    (ADVICE r2)."""
    k = min(k, len(u))
    cents = np.stack([_renorm_row(r) for r in u[:k]]) if spherical else u[:k].copy()
    for _ in range(iters):
        assign = nearest(u, cents)
        nxt = cents.copy()
        for i in range(k):
            members = u[assign == i]
            if len(members):
                mean = members.mean(axis=0)
                nxt[i] = _renorm_row(mean) if spherical else mean
        cents = nxt
    return cents


def train_centroids(
    embeddings: DataFrame,
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    sample: int = IVF_SAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic spherical-k-means centroids: :func:`lloyd` over
    :func:`md5_sample`, re-normalizing every centroid (oracle-checked).
    The iterations run driver-side on the bounded sample; an earlier
    formulation ran each as a distributed assignment + avg aggregate,
    2+ Spark jobs per iteration over a 2048-row relation, ~10 s of
    pure scheduling latency at any SF."""
    u = md5_sample(embeddings, sample, id_col, vec_col)
    return [list(map(float, c)) for c in lloyd(u, n_lists, iters, spherical=True)]


def _source_fingerprint(paths: list[str]) -> dict[str, float | int]:
    """Cheap identity of the training input: total byte size + max
    mtime of its files. The round driver REGENERATES testdata in
    place, so an artifact keyed by path alone would silently serve
    centroids trained on the previous round's vectors."""
    import os

    size, mtime = 0, 0.0
    for p in paths:
        local = p.removeprefix("file:")
        if os.path.isdir(local):
            for root, _dirs, files in os.walk(local):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    size += st.st_size
                    mtime = max(mtime, st.st_mtime)
        elif os.path.exists(local):
            st = os.stat(local)
            size += st.st_size
            mtime = max(mtime, st.st_mtime)
    return {"size": size, "mtime": mtime}


def save_artifact(path: str, key: str, value: list, source_paths: list[str]) -> None:
    """Publish a trained quantizer (IVF centroids under ``centroids``,
    PQ codebooks under ``codebooks``) as an on-disk artifact (VERDICT
    r3 stretch): curation runs spanning several sessions — or IVF +
    SemDeDup + PQ jobs sharing one model — reuse one training run
    instead of re-collecting the sample. Atomic write; the payload
    ``{"fingerprint": ..., key: value}`` embeds a fingerprint of the
    training files so a regenerated corpus invalidates it. (On a
    cluster this would live on the shared FS / a model registry; the
    payload is a few thousand floats — trivially small either way.)"""
    import json
    import os

    payload = {"fingerprint": _source_fingerprint(source_paths), key: value}
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def load_artifact(path: str, key: str, source_paths: list[str]) -> list | None:
    """Load the ``key`` payload of a published artifact, or None when
    it is absent, unreadable, empty, or its fingerprint no longer
    matches the training files."""
    import json
    import os

    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            payload = json.load(f)
    except (OSError, ValueError):
        return None
    if payload.get("fingerprint") != _source_fingerprint(source_paths):
        return None
    value = payload.get(key)
    return value if isinstance(value, list) and value else None


def build_index(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, list_id, embedding): the corpus with its inverted-list
    assignment. No shuffle — at scale, write this partitioned by
    ``list_id`` so probes prune at the scan."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _nearest_lists_udf(centroids, 1)(F.col(vec_col)).getItem(0).alias("list_id"),
        F.col(vec_col).alias("embedding"),
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = IVF_LISTS,
    nprobe: int = IVF_NPROBE,
    iters: int = IVF_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: train -> index -> probe nprobe lists -> exact
    cosine + per-query top-k. Schema matches ``brute_force_topk``:
    (query_id, neighbor_id, rank, cos_sim)."""
    centroids = centroids or train_centroids(
        embeddings, n_lists, iters, id_col=id_col, vec_col=vec_col
    )
    return probe_topk(
        build_index(embeddings, centroids, id_col, vec_col),
        queries,
        centroids,
        k,
        nprobe,
        id_col,
        vec_col,
    )


def probe_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a (vec_id, embedding, list_id) ``index`` built under
    ``centroids``: each query's nprobe nearest lists, exact cosine
    against their members, per-query top-k (query_id, neighbor_id,
    rank, cos_sim). The exploded probe set (a handful of point
    queries) is broadcast."""
    # Each query ranks the k centroids in one Arrow-batched gemm and
    # keeps its nprobe nearest lists.
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            _nearest_lists_udf(centroids, nprobe)(F.col(vec_col))
        ).alias("list_id"),
    )
    scored = (
        index.join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("qvec", "embedding"), 6).alias("cos_sim"),
        )
    )
    return rank_topk(scored, k)
