"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path for similarity search next to the hyperplane
LSH in :mod:`gmall_spark.operators.similarity` (BASELINE extension
mandate: "an IVF or LSH-bucketed variant as the scale path"):

1. **Train**: k-means over a deterministic, CONSTANT-BOUNDED sample
   of the corpus (smallest-md5 rows, never more than ``IVF_SAMPLE``),
   fetched to the driver in one job and iterated locally in float64 —
   the faiss coarse-quantizer recipe. The driver never sees more than
   the fixed sample regardless of corpus size; everything that scales
   with the corpus stays distributed.
2. **Index**: every corpus vector is assigned to its nearest centroid
   (one codegen'd argmin over centroid literals, no shuffle) — the
   "inverted list" is just a ``list_id`` column, so at 100 TB the
   index is a parquet table partitioned/clustered by ``list_id`` and
   partition pruning turns a probe into a scan of nprobe lists.
3. **Search**: each query scores the centroids (k of them, driver-
   side literals), keeps its ``nprobe`` nearest lists, and scores
   only corpus vectors in those lists: an equi-join on ``list_id``
   (queries broadcast) followed by exact cosine + per-query top-k.
   Expected cost per query ~ nprobe/k of the corpus.

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
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from gmall_spark.functions.vectors import cosine

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
        v = np.array(vs.tolist(), dtype=np.float64)
        norms = np.sqrt((v * v).sum(axis=1, keepdims=True))
        norms[norms == 0.0] = 1.0
        score = (v / norms) @ c.T - half_sq  # maximize
        order = np.argsort(-score, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype(np.int32) for row in order])

    return _nn


def train_centroids(
    embeddings: DataFrame,
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    sample: int = IVF_SAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic spherical-k-means centroids.

    Sampling: the ``sample`` rows with the smallest md5(vec_id) — an
    unbiased deterministic subset; k-means quality needs a sample,
    not the corpus. The sample is BOUNDED BY A CONSTANT (not by
    corpus size), so it is fetched to the driver in one job and the
    Lloyd iterations run as local float64 matrix ops — the way faiss
    trains an IVF coarse quantizer on a sampled subset. (An earlier
    formulation ran each iteration as a distributed assignment +
    64-column avg aggregate: 2+ Spark jobs per iteration over a
    2048-row relation, ~10 s of pure scheduling latency at any SF;
    the index build, probe joins and verification — the parts that
    actually scale with the corpus — remain fully distributed.)

    Semantics are unchanged and oracle-checked: init = the k
    smallest-digest sample rows, assignment by argmax of
    u·c − |c|²/2 with ties to the lower list id (numpy argmax takes
    the first maximum), per-list mean then re-normalization, empty
    lists keeping their previous centroid.
    """
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
        raise ValueError("cannot train IVF centroids on an empty corpus")
    u = np.array([list(map(float, r["__v"])) for r in rows], dtype=np.float64)
    # Tiny corpora: fewer sampled rows than requested lists -> clamp
    # (ADVICE r2: the empty-list fallback must never index past init).
    n_lists = min(n_lists, len(rows))

    def _renorm_row(v: np.ndarray) -> np.ndarray:
        n = float(np.sqrt((v * v).sum()))
        return v / n if n > 0 else v

    cents = np.stack([_renorm_row(u[i]) for i in range(n_lists)])
    for _ in range(iters):
        score = u @ cents.T - (cents * cents).sum(axis=1) / 2.0
        assign = np.argmax(score, axis=1)  # first max == lower list id
        nxt = cents.copy()
        for i in range(n_lists):
            members = u[assign == i]
            if len(members):  # empty lists keep their previous centroid
                nxt[i] = _renorm_row(members.mean(axis=0))
        cents = nxt
    return [list(map(float, c)) for c in cents]


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


def save_centroids(
    path: str, centroids: list[list[float]], source_paths: list[str]
) -> None:
    """Publish the trained coarse quantizer as an on-disk artifact
    (VERDICT r3 stretch): curation runs spanning several sessions —
    or IVF + SemDeDup jobs sharing one model — reuse one training run
    instead of re-collecting the sample. Atomic write; the artifact
    embeds a fingerprint of the training files so a regenerated
    corpus invalidates it. (On a cluster this would live on the
    shared FS / a model registry; the centroid payload is k·dim
    floats — trivially small either way.)"""
    import json
    import os

    payload = {
        "fingerprint": _source_fingerprint(source_paths),
        "centroids": centroids,
    }
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def load_centroids(path: str, source_paths: list[str]) -> list[list[float]] | None:
    """Load a published centroid artifact, or None when it is absent
    or its fingerprint no longer matches the training files."""
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
    cents = payload.get("centroids")
    return cents if isinstance(cents, list) and cents else None


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
    hint_broadcast_probes: bool = True,
) -> DataFrame:
    """IVF ANN top-k: train -> index -> probe nprobe lists -> exact
    cosine + per-query top-k. Schema matches ``brute_force_topk``:
    (query_id, neighbor_id, rank, cos_sim).

    ``hint_broadcast_probes``: the default (a handful of point
    queries probing a big index) broadcasts the exploded probe set.
    Pass False when QUERIES are corpus-scale too (bitext mining maps
    a whole language side through the index) — the probe join then
    shuffles both sides on ``list_id``, the partitioning the index
    is stored under anyway, instead of forcing a corpus-sized
    broadcast."""
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
        hint_broadcast_probes,
    )


def probe_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hint_broadcast_probes: bool = True,
) -> DataFrame:
    """Probe a (vec_id, embedding, list_id) ``index`` built under
    ``centroids``: each query's nprobe nearest lists, exact cosine
    against their members, per-query top-k (query_id, neighbor_id,
    rank, cos_sim)."""
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
        index.join(
            F.broadcast(probes) if hint_broadcast_probes else probes, "list_id"
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine("qvec", "embedding"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            "cos_sim",
        )
    )
