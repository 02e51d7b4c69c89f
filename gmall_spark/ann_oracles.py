"""Generated DuckDB oracle twins for the two ANN queries.

Both ANN operators are deterministic by construction — the LSH
hyperplanes are md5-derived +/-1 constants (similarity._plane_coefs)
and the IVF k-means trains from an md5-ordered sample with fixed
iteration count and lower-id tie-breaking — so their oracles can be
*generated* SQL:

- ``lsh_topk_oracle()`` bakes the 8x4 plane coefficient arrays into a
  literal VALUES table and replays signature -> multi-probe (own
  bucket + every 1-bit flip) -> candidate join -> exact cosine ->
  top-k, mirroring ``similarity.lsh_bucketed_topk`` step for step.
- ``ivf_topk_oracle()`` unrolls the whole spherical k-means in SQL:
  the same md5(vec_id)-ordered sample and init, ``IVF_ITERS`` Lloyd
  iterations (assign by argmax of u.c - |c|^2/2 with ties to the
  lower list id — numpy's stable argsort rule), per-dimension mean +
  renormalize, empty lists keeping their previous centroid; then
  index assignment, nprobe probes and exact cosine top-k, mirroring
  ``ivf.ivf_topk``.

Float caveat (same one the MinHash lane oracle carries): DuckDB's
sequential sums and numpy's pairwise gemm can differ in the last ulp,
which only matters if a hyperplane projection or a centroid argmax
sits within ~1e-12 of a tie — vanishingly unlikely on real-valued
embeddings and hash-checked green at the driver's scale factors.

The embedding width is PROBED from the driver's testdata at import
(one-row pyarrow read of ``embeddings.parquet``), so a regenerated
corpus at another width transparently regenerates matching oracle
SQL; 64 (the historical width) is only the no-testdata fallback.
``queries_llm.prelude._oracle_dim_check`` still fail-fasts if a specific
``sf_dir``'s width disagrees with the probed global.
"""

from __future__ import annotations

import glob
import os

from gmall_spark.operators.ivf import IVF_ITERS, IVF_LISTS, IVF_NPROBE, IVF_SAMPLE
from gmall_spark.operators.similarity import ANN_PLANES, ANN_TABLES, _plane_coefs


def probe_embed_dim(root: str | None = None) -> int:
    """Embedding width from the first readable
    ``<root>/sf*/embeddings.parquet`` (single-row batch read — no
    full-column materialization). Falls back to 64 ONLY when no
    testdata exists at all (e.g. docs builds outside the driver
    sandbox); testdata that is present but unreadable RAISES instead
    of silently baking a possibly-wrong width into the generated
    oracle literals (ADVICE r5 — the mismatch used to surface only
    later, and only on paths that call _oracle_dim_check)."""
    import pyarrow.parquet as _pq

    root = root or os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    candidates = sorted(glob.glob(os.path.join(root, "sf*", "embeddings.parquet")))
    errors: list[str] = []
    for path in candidates:
        try:
            pf = _pq.ParquetFile(path)
            batch = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
            if batch.num_rows:
                return len(batch.column("embedding")[0].as_py())
            errors.append(f"{path}: empty")
        except Exception as ex:  # corrupt / unreadable: try the next SF
            errors.append(f"{path}: {type(ex).__name__}: {ex}")
    if candidates:
        raise RuntimeError(
            "embeddings testdata exists but none of it is readable — "
            "refusing to fall back to dim=64 and bake wrong-width "
            "oracle literals: " + "; ".join(errors[:3])
        )
    return 64


EMBED_DIM = probe_embed_dim()


def _cosine_topk_tail(k: int) -> str:
    """Shared tail: exact cosine over candidate pairs (the unnest-zip
    shape proven hash-green by the brute-force oracle) + top-k."""
    return f"""
, pairs AS (
  SELECT c.query_id, c.neighbor_id,
         unnest(q.embedding)::DOUBLE AS qx, unnest(n.embedding)::DOUBLE AS nx
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
), scored AS (
  SELECT query_id, neighbor_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY query_id, neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {k}
"""


def lsh_topk_oracle(
    n_tables: int = ANN_TABLES,
    n_planes: int = ANN_PLANES,
    dim: int = EMBED_DIM,
    k: int = 10,
    query_max_id: int = 5,
) -> str:
    """DuckDB twin of ``similarity.lsh_bucketed_topk`` (multi-probe)."""
    rows = []
    for t in range(n_tables):
        for p, coefs in enumerate(_plane_coefs(n_planes, dim, salt=f"t{t}:")):
            arr = "[" + ", ".join(str(int(c)) for c in coefs) + "]"
            rows.append(f"({t}, {p}, {arr}::DOUBLE[])")
    planes = ",\n    ".join(rows)
    flips = ", ".join(f"({2 ** p}::BIGINT)" for p in range(n_planes))
    return f"""
WITH planes(tbl, p, coefs) AS (
  VALUES
    {planes}
), e AS (
  SELECT vec_id, list_transform(embedding, (x) -> CAST(x AS DOUBLE)) AS v FROM embeddings
), sig AS (
  SELECT e.vec_id, pl.tbl,
         CAST(SUM(CASE WHEN list_dot_product(e.v, pl.coefs) > 0
                       THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.tbl
), qsig AS (
  SELECT vec_id AS query_id, tbl, bucket FROM sig WHERE vec_id < {query_max_id}
), qprobe AS (
  SELECT query_id, tbl, bucket FROM qsig
  UNION
  SELECT query_id, tbl, xor(bucket, f.f) AS bucket
  FROM qsig CROSS JOIN (VALUES {flips}) AS f(f)
), cand AS (
  SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
  FROM qprobe q JOIN sig s ON s.tbl = q.tbl AND s.bucket = q.bucket
  WHERE s.vec_id <> q.query_id
)
{_cosine_topk_tail(k)}
"""


def sq_topk_oracle(
    dim: int = EMBED_DIM,
    k: int = 10,
    refine: int = 4,
    query_max_id: int = 5,
) -> str:
    """DuckDB twin of ``sq.sq_topk``: per-dimension min/max quantizer
    trained by one aggregate, clamp-rounded codes dequantized back,
    approximate cosine candidate cut (refine*k per query), exact
    rescore tail. Identical arithmetic step for step."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, (x) -> CAST(x AS DOUBLE)) AS v FROM embeddings
), ux AS (
  SELECT vec_id, unnest(v) AS x, unnest(range(1, {dim + 1})) AS ix FROM e
), st AS (
  SELECT ix, min(x) AS mn, max(x) AS mx FROM ux GROUP BY ix
), stats AS (
  SELECT list(mn ORDER BY ix) AS mins,
         list(CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END ORDER BY ix) AS steps
  FROM st
), enc AS (
  SELECT vec_id,
         list_transform(range(1, {dim + 1}),
            (i) -> mins[i] + steps[i] *
                   least(greatest(round((v[i] - mins[i]) / steps[i], 0), 0), 255)) AS dq
  FROM e CROSS JOIN stats
), qd AS (
  SELECT vec_id AS query_id, dq AS qdq FROM enc WHERE vec_id < {query_max_id}
), approx AS (
  SELECT q.query_id, enc.vec_id AS neighbor_id,
         round(list_dot_product(q.qdq, enc.dq)
               / (sqrt(list_dot_product(q.qdq, q.qdq)) * sqrt(list_dot_product(enc.dq, enc.dq))),
               6) AS approx_sim
  FROM enc CROSS JOIN qd q
  WHERE enc.vec_id <> q.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_sim DESC, neighbor_id ASC) AS crank
    FROM approx)
  WHERE crank <= {refine * k}
)
{_cosine_topk_tail(k)}
"""


def _kmeans_ctes(
    n_lists: int, iters: int, sample: int, dim: int
) -> str:
    """The shared unrolled-k-means CTE prefix: normalized corpus
    (``uv``), md5-ordered sample (``pool``), init + ``iters`` Lloyd
    iterations (``c0``..``c{iters}``), full-corpus assignment ranking
    (``idx_rn``) and final inverted index (``idx``)."""
    # score(u, c) = u.c - |c|^2/2  (argmax == nearest on the sphere)
    score = "list_dot_product({u}, c.cv) - list_dot_product(c.cv, c.cv) / 2"
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, (x) -> CAST(x AS DOUBLE)) AS v FROM embeddings
), uv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(v, (x) -> x / (CASE WHEN nrm = 0 THEN 1 ELSE nrm END)) AS u
  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
), pool AS MATERIALIZED (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
  FROM uv ORDER BY h LIMIT {sample}
), c0 AS (
  SELECT list_id,
         CASE WHEN n2 > 0 THEN list_transform(u, (x) -> x / n2) ELSE u END AS cv
  FROM (
    SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INTEGER) AS list_id,
           u, sqrt(list_dot_product(u, u)) AS n2
    FROM (SELECT h, u FROM pool ORDER BY h LIMIT {n_lists})
  )
)"""
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f""", a{i} AS (
  SELECT p.h, p.u, c.list_id,
         row_number() OVER (PARTITION BY p.h
                            ORDER BY {score.format(u='p.u')} DESC, c.list_id ASC) AS rn
  FROM pool p CROSS JOIN {prev} c
), m{i} AS (
  SELECT list_id, list(mx ORDER BY ix) AS mu
  FROM (
    SELECT list_id, ix, avg(x) AS mx
    FROM (SELECT list_id, unnest(u) AS x, unnest(range(1, {dim + 1})) AS ix
          FROM a{i} WHERE rn = 1)
    GROUP BY list_id, ix
  ) GROUP BY list_id
), c{i} AS (
  SELECT c.list_id,
         CASE WHEN m.list_id IS NULL THEN c.cv
              WHEN m.n2 > 0 THEN list_transform(m.mu, (x) -> x / m.n2)
              ELSE m.mu END AS cv
  FROM {prev} c
  LEFT JOIN (SELECT list_id, mu, sqrt(list_dot_product(mu, mu)) AS n2 FROM m{i}) m
    ON m.list_id = c.list_id
)"""
        )
    parts.append(
        f""", idx_rn AS MATERIALIZED (
  SELECT u.vec_id, c.list_id,
         row_number() OVER (PARTITION BY u.vec_id
                            ORDER BY {score.format(u='u.u')} DESC, c.list_id ASC) AS rn
  FROM uv u CROSS JOIN c{iters} c
), idx AS MATERIALIZED (
  SELECT vec_id, list_id FROM idx_rn WHERE rn = 1
)"""
    )
    return "".join(parts)


def ivf_topk_oracle(
    n_lists: int = IVF_LISTS,
    nprobe: int = IVF_NPROBE,
    iters: int = IVF_ITERS,
    sample: int = IVF_SAMPLE,
    dim: int = EMBED_DIM,
    k: int = 10,
    query_max_id: int = 5,
) -> str:
    """DuckDB twin of ``ivf.ivf_topk`` with the k-means unrolled."""
    return (
        _kmeans_ctes(n_lists, iters, sample, dim)
        + f""", probes AS (
  SELECT vec_id AS query_id, list_id
  FROM idx_rn WHERE vec_id < {query_max_id} AND rn <= {nprobe}
), cand AS (
  SELECT p.query_id, i.vec_id AS neighbor_id
  FROM probes p JOIN idx i ON i.list_id = p.list_id
  WHERE i.vec_id <> p.query_id
)
{_cosine_topk_tail(k)}"""
    )


def semantic_dedup_oracle(
    threshold: float,
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    sample: int = IVF_SAMPLE,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``semdedup.semantic_dedup_pairs``: the same
    unrolled k-means, then within-cluster pairs verified by exact
    cosine (the unnest-zip shape) against the threshold."""
    return (
        _kmeans_ctes(n_lists, iters, sample, dim)
        + f""", cpairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM idx a JOIN idx b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
), px AS (
  SELECT c.id_a, c.id_b,
         unnest(ea.embedding)::DOUBLE AS ax, unnest(eb.embedding)::DOUBLE AS bx
  FROM cpairs c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
), sx AS (
  SELECT id_a, id_b,
         round(SUM(ax * bx) / (sqrt(SUM(ax * ax)) * sqrt(SUM(bx * bx))), 6) AS cos_sim
  FROM px GROUP BY id_a, id_b
)
SELECT id_a, id_b, cos_sim FROM sx WHERE cos_sim >= {threshold}"""
    )


def pagerank_from_edges_sql(
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """The generic DuckDB twin of ``operators.graph.pagerank``: the
    fixed-point integer iterations unrolled as chained CTEs, to be
    appended after any prefix that already defines ``edges(src,
    dst)`` — BIGINT ``//`` division matches Spark's ``div`` exactly
    on positive operands, so the result hash-matches bit-for-bit (no
    float accumulation anywhere). Ends with the ``r{iterations}``
    CTE; the caller writes the final SELECT (the standard form is
    ``node_id, CAST(r AS BIGINT) AS rank_micro,
    round(r / scale, 6) AS rank``)."""
    parts = f""", nodes AS (
  SELECT src AS node_id FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
r0 AS (SELECT node_id, {scale} // n AS r FROM nodes CROSS JOIN nn)"""
    for i in range(iterations):
        parts += f""",
c{i + 1} AS (
  SELECT e.dst AS node_id, SUM(r{i}.r // o.odeg) AS s
  FROM edges e JOIN r{i} ON r{i}.node_id = e.src
  JOIN outdeg o ON o.src = e.src GROUP BY e.dst
),
r{i + 1} AS (
  SELECT nodes.node_id,
         ({100 - damping_pct} * {scale}) // (100 * nn.n)
           + ({damping_pct} * COALESCE(c{i + 1}.s, 0)) // 100 AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN c{i + 1} ON c{i + 1}.node_id = nodes.node_id
)"""
    return parts


def pagerank_oracle(
    k: int = 5,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of ``operators.graph.pagerank`` over the exact
    kNN(k) cosine graph: the kNN edge CTE reuses the proven
    brute-force cosine shape (unnest-zip, round 6, neighbor-id
    tiebreak), then the generic integer-iteration CTE chain
    (pagerank_from_edges_sql) runs on it."""
    head = f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         unnest(a.embedding)::DOUBLE AS qx, unnest(b.embedding)::DOUBLE AS nx
  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY query_id, neighbor_id
), edges AS (
  SELECT query_id AS src, neighbor_id AS dst
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM scored)
  WHERE rnk <= {k}
)"""
    tail = f"""
SELECT node_id, CAST(r AS BIGINT) AS rank_micro,
       round(r / {float(scale)}, 6) AS rank
FROM r{iterations}"""
    return head + pagerank_from_edges_sql(iterations, damping_pct, scale) + tail


def _pq_subspace_parts(
    m: int,
    n_codes: int,
    iters: int,
    dim: int,
    pool: str = "pool",
    corpus: str = "uv",
) -> str:
    """Per-sub-space unrolled k-means + encoding + reconstruction
    CTEs (``pool{j}``/``c{j}_{i}``/``enc{j}``/``recon``), appended
    after any prefix that already defines ``uv`` (normalized corpus)
    and ``pool`` (md5-ordered sample) — both the standalone PQ prefix
    and ``_kmeans_ctes`` (whose names c0/a1/m1 don't collide with the
    sub-space's c0_0/a0_1/m0_1) qualify, which is what lets IVF-PQ
    share one oracle prefix. ``pool``/``corpus`` rebind the training
    sample / encoded relation — the residual variant points them at
    residual CTEs (same (h, u) / (vec_id, u) shape)."""
    sub = dim // m
    score = "list_dot_product({s}, c.cv) - list_dot_product(c.cv, c.cv) / 2"
    parts = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f""", pool{j} AS (
  SELECT h, u[{lo}:{hi}] AS s FROM {pool}
), c{j}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INTEGER) AS cid, s AS cv
  FROM (SELECT h, s FROM pool{j} ORDER BY h LIMIT {n_codes})
)"""
        )
        for i in range(1, iters + 1):
            parts.append(
                f""", a{j}_{i} AS (
  SELECT p.h, p.s, c.cid,
         row_number() OVER (PARTITION BY p.h
                            ORDER BY {score.format(s='p.s')} DESC, c.cid ASC) AS rn
  FROM pool{j} p CROSS JOIN c{j}_{i - 1} c
), m{j}_{i} AS (
  SELECT cid, list(mx ORDER BY ix) AS mu
  FROM (
    SELECT cid, ix, avg(x) AS mx
    FROM (SELECT cid, unnest(s) AS x, unnest(range(1, {sub + 1})) AS ix
          FROM a{j}_{i} WHERE rn = 1)
    GROUP BY cid, ix
  ) GROUP BY cid
), c{j}_{i} AS (
  SELECT c.cid, COALESCE(m.mu, c.cv) AS cv
  FROM c{j}_{i - 1} c LEFT JOIN m{j}_{i} m ON m.cid = c.cid
)"""
            )
        parts.append(
            f""", enc{j} AS (
  SELECT vec_id, cid AS code FROM (
    SELECT u.vec_id, c.cid,
           row_number() OVER (PARTITION BY u.vec_id
                              ORDER BY {score.format(s=f'u.u[{lo}:{hi}]')} DESC, c.cid ASC) AS rn
    FROM {corpus} u CROSS JOIN c{j}_{iters} c
  ) WHERE rn = 1
)"""
        )
    recon_joins = "".join(
        f"""
  JOIN enc{j} e{j} ON e{j}.vec_id = e0.vec_id
  JOIN c{j}_{iters} cb{j} ON cb{j}.cid = e{j}.code"""
        for j in range(1, m)
    )
    dq = " || ".join(f"cb{j}.cv" for j in range(m))
    parts.append(
        f""", recon AS (
  SELECT e0.vec_id, {dq} AS dq
  FROM enc0 e0
  JOIN c0_{iters} cb0 ON cb0.cid = e0.code{recon_joins}
)"""
    )
    return "".join(parts)


def pq_topk_oracle(
    m: int = 8,
    n_codes: int = 256,
    iters: int = 2,
    sample: int = 2048,
    dim: int = EMBED_DIM,
    k: int = 10,
    refine: int = 4,
    query_max_id: int = 5,
) -> str:
    """DuckDB twin of ``pq.pq_topk``: per-sub-space Euclidean k-means
    unrolled (same md5-ordered pool, first-k init, argmax
    s·c − |c|²/2 with lower-code ties, mean update, empty clusters
    keep their centroid — NO sub-space re-normalization), full-corpus
    code assignment, reconstruction by codebook lookup, ADC approx
    ranking with refine·k cut, exact-cosine rescore tail."""
    prefix = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, (x) -> CAST(x AS DOUBLE)) AS v FROM embeddings
), uv AS MATERIALIZED (
  SELECT vec_id,
         list_transform(v, (x) -> x / (CASE WHEN nrm = 0 THEN 1 ELSE nrm END)) AS u
  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
), pool AS MATERIALIZED (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, u
  FROM uv ORDER BY h LIMIT {sample}
)"""
    return (
        prefix
        + _pq_subspace_parts(m, n_codes, iters, dim)
        + f""", approx AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         round(list_dot_product(q.u, r.dq), 6) AS approx_sim
  FROM (SELECT vec_id AS query_id, u FROM uv WHERE vec_id < {query_max_id}) q
  CROSS JOIN recon r WHERE r.vec_id <> q.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_sim DESC, neighbor_id ASC) AS crank
    FROM approx
  ) WHERE crank <= {refine * k}
)
{_cosine_topk_tail(k)}"""
    )


def ivfpq_topk_oracle(
    n_lists: int = IVF_LISTS,
    nprobe: int = IVF_NPROBE,
    coarse_iters: int = IVF_ITERS,
    m: int = 8,
    n_codes: int = 256,
    pq_iters: int = 2,
    sample: int = IVF_SAMPLE,
    dim: int = EMBED_DIM,
    k: int = 10,
    refine: int = 4,
    query_max_id: int = 5,
) -> str:
    """DuckDB twin of ``pq.ivfpq_topk`` — faiss IVFPQ (by_residual=
    false): the shared ``_kmeans_ctes`` coarse quantizer prunes
    candidates to the nprobe probed lists, the shared PQ sub-space
    CTEs supply the reconstructed vectors, ADC ranks only the probed
    candidates, exact rescore finishes. One prefix, both quantizers —
    the CTE namespaces are disjoint by construction."""
    return (
        _kmeans_ctes(n_lists, coarse_iters, sample, dim)
        + _pq_subspace_parts(m, n_codes, pq_iters, dim)
        + f""", probes AS (
  SELECT vec_id AS query_id, list_id
  FROM idx_rn WHERE vec_id < {query_max_id} AND rn <= {nprobe}
), qn AS (
  SELECT vec_id AS query_id, u FROM uv WHERE vec_id < {query_max_id}
), approx AS (
  SELECT p.query_id, i.vec_id AS neighbor_id,
         round(list_dot_product(q.u, r.dq), 6) AS approx_sim
  FROM probes p
  JOIN idx i ON i.list_id = p.list_id
  JOIN recon r ON r.vec_id = i.vec_id
  JOIN qn q ON q.query_id = p.query_id
  WHERE i.vec_id <> p.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_sim DESC, neighbor_id ASC) AS crank
    FROM approx
  ) WHERE crank <= {refine * k}
)
{_cosine_topk_tail(k)}"""
    )


def ivfpq_residual_topk_oracle(
    n_lists: int = IVF_LISTS,
    nprobe: int = IVF_NPROBE,
    coarse_iters: int = IVF_ITERS,
    m: int = 8,
    n_codes: int = 256,
    pq_iters: int = 2,
    sample: int = IVF_SAMPLE,
    dim: int = EMBED_DIM,
    k: int = 10,
    refine: int = 4,
    query_max_id: int = 5,
) -> str:
    """DuckDB twin of ``pq.ivfpq_topk(by_residual=True)`` — the faiss
    DEFAULT: codebooks quantize the RESIDUAL u − c_coarse(u) (far
    lower variance than raw directions, so the same code budget
    reconstructs tighter), and dq = c_coarse + residual-reconstruction.
    Structure: the shared coarse k-means, residual CTEs for the
    sample (``pool_r``) and the corpus (``uv_r``) using the SAME
    assignment rule, the shared sub-space parts rebound onto them,
    and a ``recon_full`` that re-adds the coarse centroid before ADC."""
    ci = f"c{coarse_iters}"
    score = "list_dot_product(p.u, c.cv) - list_dot_product(c.cv, c.cv) / 2"
    # MATERIALIZED: the 8 sub-space k-means CTE chains reference
    # pool_r/uv_r 16+ times; DuckDB would otherwise re-inline (and
    # re-execute) the coarse-assignment window each time — measured
    # 118 s -> ~6 s at sf0.01 (driver-timeout risk, r5).
    residual_ctes = f""", pool_assign AS MATERIALIZED (
  SELECT p.h, p.u, c.list_id,
         row_number() OVER (PARTITION BY p.h
                            ORDER BY {score} DESC, c.list_id ASC) AS rn
  FROM pool p CROSS JOIN {ci} c
), pool_r AS MATERIALIZED (
  SELECT a.h,
         list_transform(range(1, {dim + 1}), (i) -> a.u[i] - c.cv[i]) AS u
  FROM pool_assign a JOIN {ci} c ON c.list_id = a.list_id WHERE a.rn = 1
), uv_r AS MATERIALIZED (
  SELECT u.vec_id,
         list_transform(range(1, {dim + 1}), (i) -> u.u[i] - c.cv[i]) AS u
  FROM uv u JOIN idx x ON x.vec_id = u.vec_id
  JOIN {ci} c ON c.list_id = x.list_id
)"""
    recon_full = f""", recon_full AS (
  SELECT r.vec_id,
         list_transform(range(1, {dim + 1}), (i) -> r.dq[i] + c.cv[i]) AS dq
  FROM recon r JOIN idx x ON x.vec_id = r.vec_id
  JOIN {ci} c ON c.list_id = x.list_id
)"""
    return (
        _kmeans_ctes(n_lists, coarse_iters, sample, dim)
        + residual_ctes
        + _pq_subspace_parts(m, n_codes, pq_iters, dim, pool="pool_r", corpus="uv_r")
        + recon_full
        + f""", probes AS (
  SELECT vec_id AS query_id, list_id
  FROM idx_rn WHERE vec_id < {query_max_id} AND rn <= {nprobe}
), qn AS (
  SELECT vec_id AS query_id, u FROM uv WHERE vec_id < {query_max_id}
), approx AS (
  SELECT p.query_id, i.vec_id AS neighbor_id,
         round(list_dot_product(q.u, r.dq), 6) AS approx_sim
  FROM probes p
  JOIN idx i ON i.list_id = p.list_id
  JOIN recon_full r ON r.vec_id = i.vec_id
  JOIN qn q ON q.query_id = p.query_id
  WHERE i.vec_id <> p.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_sim DESC, neighbor_id ASC) AS crank
    FROM approx
  ) WHERE crank <= {refine * k}
)
{_cosine_topk_tail(k)}"""
    )


def triangles_oracle(k: int = 5) -> str:
    """DuckDB twin of ``operators.graph.triangle_stats`` over the
    exact kNN(k) cosine graph: the kNN edge CTE reuses the proven
    brute-force cosine shape (unnest-zip, round 6, neighbor-id
    tiebreak), the undirected edge set is least/greatest + DISTINCT,
    and every triangle appears exactly once as an ordered triple
    a < b < c — a literal twin of the Spark joins, integer-exact
    counts, one rounded ratio."""
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         unnest(a.embedding)::DOUBLE AS qx, unnest(b.embedding)::DOUBLE AS nx
  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY query_id, neighbor_id
), knn AS (
  SELECT query_id AS src, neighbor_id AS dst
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM scored)
  WHERE rnk <= {k}
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM knn WHERE src <> dst
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), tn AS (
  SELECT node_id, count(*) AS t
  FROM (SELECT x AS node_id FROM tri UNION ALL
        SELECT y FROM tri UNION ALL
        SELECT z FROM tri)
  GROUP BY node_id
), deg AS (
  SELECT node_id, count(*) AS d
  FROM (SELECT a AS node_id FROM und UNION ALL SELECT b FROM und)
  GROUP BY node_id
)
SELECT deg.node_id,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(tn.t, 0) AS BIGINT) AS triangles,
       CASE WHEN deg.d < 2 THEN 0.0
            ELSE round(2.0 * coalesce(tn.t, 0) / (deg.d * (deg.d - 1.0)), 6)
       END AS clustering
FROM deg LEFT JOIN tn ON tn.node_id = deg.node_id
"""


def lpa_oracle(k: int = 5, rounds: int = 3) -> str:
    """DuckDB twin of ``operators.graph.label_propagation`` over the
    exact kNN(k) cosine graph: the fixed synchronous rounds unroll as
    chained CTEs (the pagerank_oracle pattern); the mode tie order
    (count desc, smallest label) is total, so both engines converge
    to identical labels — integer end to end, no float anywhere."""
    head = f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         unnest(a.embedding)::DOUBLE AS qx, unnest(b.embedding)::DOUBLE AS nx
  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
         round(SUM(qx * nx) / (sqrt(SUM(qx * qx)) * sqrt(SUM(nx * nx))), 6) AS cos_sim
  FROM pairs GROUP BY query_id, neighbor_id
), knn AS (
  SELECT query_id AS src, neighbor_id AS dst
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk FROM scored)
  WHERE rnk <= {k}
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM knn WHERE src <> dst
), dir_e AS (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und
), l0 AS (
  SELECT DISTINCT u AS node_id, u AS lab FROM dir_e
)"""
    body = []
    for r in range(1, rounds + 1):
        body.append(f""",
n{r} AS (
  SELECT d.v AS node_id, l.lab, count(*) AS c
  FROM dir_e d JOIN l{r - 1} l ON l.node_id = d.u
  GROUP BY d.v, l.lab
), l{r} AS (
  SELECT node_id, lab FROM (
    SELECT node_id, lab,
           row_number() OVER (PARTITION BY node_id
                              ORDER BY c DESC, lab ASC) AS rn
    FROM n{r}) WHERE rn = 1
)""")
    tail = f"""
SELECT node_id,
       CAST(lab AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
FROM l{rounds}
"""
    return head + "".join(body) + tail


def bitext_ann_oracle(
    src_lang: str = "en",
    tgt_lang: str = "de",
    k: int = 4,
    n_lists: int = IVF_LISTS,
    nprobe: int = IVF_NPROBE,
    iters: int = IVF_ITERS,
    sample: int = IVF_SAMPLE,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``similarity.bitext_margin_top1_ann``: the
    shared unrolled k-means (the SAME quantizer every IVF consumer
    trains — full-corpus md5 sample), then IVF candidate generation
    in both directions, rank-ordered neighborhood folds and the ratio
    margin. ``list_reduce`` folds ``list(cos6 ORDER BY rank)`` —
    DuckDB has no-init reduce, and c1 + c2 + ... bit-matches Spark's
    (0.0 + c1) + c2 + ... seed."""

    def _direction(tag: str, q_lang: str, c_lang: str, qid: str, cid: str) -> str:
        # probes: every q-side vec's nprobe nearest lists; candidates:
        # c-side vecs assigned to a probed list; exact rounded cosine;
        # per-query top-k by (cos desc, id asc) == Spark's rank order.
        return f"""
{tag}probe AS (
  SELECT r.vec_id, r.list_id FROM idx_rn r
  JOIN documents d ON d.doc_id = r.vec_id
  WHERE d.lang = '{q_lang}' AND r.rn <= {nprobe}
), {tag}cand AS (
  SELECT p.vec_id AS {qid}, i.vec_id AS {cid}
  FROM {tag}probe p
  JOIN idx i USING (list_id)
  JOIN documents d ON d.doc_id = i.vec_id
  WHERE d.lang = '{c_lang}'
), {tag}px AS (
  SELECT c.{qid}, c.{cid},
         unnest(a.embedding)::DOUBLE AS ax, unnest(b.embedding)::DOUBLE AS bx
  FROM {tag}cand c
  JOIN embeddings a ON a.vec_id = c.{qid}
  JOIN embeddings b ON b.vec_id = c.{cid}
), {tag}cos AS (
  SELECT {qid}, {cid},
         round(SUM(ax * bx) / (sqrt(SUM(ax * ax)) * sqrt(SUM(bx * bx))), 6) AS cos6
  FROM {tag}px GROUP BY {qid}, {cid}
), {tag}top AS MATERIALIZED (
  SELECT * FROM (
    SELECT {qid}, {cid}, cos6,
           row_number() OVER (PARTITION BY {qid}
                              ORDER BY cos6 DESC, {cid} ASC) AS rank
    FROM {tag}cos) WHERE rank <= {k}
)"""

    return (
        _kmeans_ctes(n_lists, iters, sample, dim)
        + ","
        + _direction("f", src_lang, tgt_lang, "src_id", "tgt_id")
        + ","
        + _direction("b", tgt_lang, src_lang, "tgt_id", "src_id")
        + f""", sx AS (
  SELECT src_id,
         list_reduce(list(cos6 ORDER BY rank), (x, y) -> x + y) AS sum_x,
         count(*) AS k_x
  FROM ftop GROUP BY src_id
), sy AS (
  SELECT tgt_id,
         list_reduce(list(cos6 ORDER BY rank), (x, y) -> x + y) AS sum_y,
         count(*) AS k_y
  FROM btop GROUP BY tgt_id
), scored AS (
  SELECT t.src_id, t.tgt_id, t.cos6 AS cos_sim,
         round(2.0 * t.cos6 / (sx.sum_x / sx.k_x + sy.sum_y / sy.k_y), 6) AS margin
  FROM ftop t JOIN sx USING (src_id) JOIN sy USING (tgt_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY src_id
                               ORDER BY margin DESC, cos_sim DESC, tgt_id ASC) AS rn2
  FROM scored
)
SELECT src_id, tgt_id, cos_sim, margin FROM ranked WHERE rn2 = 1
"""
    )


def cluster_capped_sample_oracle(
    pct: int,
    n_lists: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    sample: int = IVF_SAMPLE,
    dim: int = EMBED_DIM,
) -> str:
    """DuckDB twin of ``semdedup.cluster_capped_sample`` over the
    shared k-means assignment: the same unrolled training, then the
    deterministic md5 rank per cluster and the all-integer balanced
    cap (ceil(ceil(n*pct/100) / n_lists))."""
    return (
        _kmeans_ctes(n_lists, iters, sample, dim)
        + f""", sz AS (
  SELECT list_id, count(*) AS cluster_size FROM idx GROUP BY list_id
), tot AS (
  SELECT ((count(*) * {pct} + 99) // 100 + {n_lists} - 1) // {n_lists} AS cap
  FROM idx
), rk AS (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY list_id
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS rnk
  FROM idx
)
SELECT r.vec_id,
       CAST(r.list_id AS BIGINT) AS list_id,
       CAST(r.rnk AS BIGINT) AS rnk,
       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       CAST(t.cap AS BIGINT) AS cap,
       s.cluster_size > t.cap AS capped
FROM rk r JOIN sz s USING (list_id), tot t
WHERE r.rnk <= t.cap"""
    )
