"""Width-agnostic ANN oracles (VERDICT r4 item 2).

The generated oracle SQL used to bake ``EMBED_DIM = 64`` at import
while the Spark side probed the width from data — a regenerated
corpus at another width would silently desynchronize them. Now the
width is probed from testdata (``ann_oracles.probe_embed_dim``) and
every generator takes ``dim=``; these tests prove parity holds on a
corpus that is NOT 64-wide.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gmall_spark import ann_oracles
from gmall_spark.operators import similarity

ALT_DIM = 32
N_VECS = 300


@pytest.fixture(scope="module")
def alt_corpus(tmp_path_factory):
    """Deterministic 32-wide corpus written as sf-dir-shaped parquet
    (clustered like real embeddings: 6 gaussian blobs, so LSH buckets
    are non-degenerate)."""
    root = tmp_path_factory.mktemp("altwidth")
    sf = root / "sf0.0"
    sf.mkdir()
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, ALT_DIM))
    vecs = (
        centers[np.arange(N_VECS) % 6] + 0.3 * rng.normal(size=(N_VECS, ALT_DIM))
    ).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(np.arange(N_VECS) % 6, type=pa.int32()),
        }
    )
    pq.write_table(table, sf / "embeddings.parquet")
    return str(root), str(sf)


def test_probe_embed_dim_reads_actual_width(alt_corpus):
    root, _ = alt_corpus
    assert ann_oracles.probe_embed_dim(root) == ALT_DIM
    assert ann_oracles.probe_embed_dim("/nonexistent/path") == 64


@pytest.mark.slow
def test_lsh_oracle_parity_at_alt_width(spark, alt_corpus):
    """Spark LSH top-k vs the generated DuckDB twin, both at dim=32:
    the driver's t2 shape (sorted columns, row-for-row values)."""
    _, sf = alt_corpus
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    got = (
        similarity.lsh_bucketed_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=10, dim=ALT_DIM
        )
        .orderBy("query_id", "rank")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = con.execute(
        ann_oracles.lsh_topk_oracle(dim=ALT_DIM)
        + " ORDER BY query_id, rank"
    ).fetchall()
    con.close()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g.query_id, g.neighbor_id, g.rank) == (w[0], w[1], w[2])
        assert abs(g.cos_sim - w[3]) < 1e-9


def test_sq_oracle_parity_at_alt_width(spark, alt_corpus):
    """Scalar-quantizer ANN at dim=32 — exercises the per-dimension
    min/max training path at the alternate width."""
    from gmall_spark.operators import sq

    _, sf = alt_corpus
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    got = (
        sq.sq_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
        .orderBy("query_id", "rank")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = con.execute(
        ann_oracles.sq_topk_oracle(dim=ALT_DIM) + " ORDER BY query_id, rank"
    ).fetchall()
    con.close()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g.query_id, g.neighbor_id, g.rank) == (w[0], w[1], w[2])
        assert abs(g.cos_sim - w[3]) < 1e-9


def test_named_vector_folds_bit_identical(spark, alt_corpus):
    """r14: vectors.dot/norm/cosine grew a parsed-SQL fast path for
    string-named inputs (one F.expr instead of ~100 py4j calls — the
    driver-floor fix). The parsed fold must be BIT-IDENTICAL to the
    HOF-builder path: same transform/zip_with/aggregate, same casts,
    same sequential fold order."""
    from gmall_spark.functions import vectors as V

    _, sf = alt_corpus
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    pairs = emb.select(
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("va"),
        F.col("embedding").alias("null"),
    ).crossJoin(
        emb.filter(F.col("vec_id") < 3).select(
            F.col("embedding").alias("vb"), F.col("embedding").alias("true")
        )
    )
    via_cols = pairs.select(
        "i",
        V.cosine(F.col("va"), F.col("vb")).alias("c"),
        V.dot(F.col("va"), F.col("vb")).alias("d"),
        V.norm(F.col("va")).alias("n"),
    ).collect()
    via_names = pairs.select(
        "i",
        V.cosine("va", "vb").alias("c"),
        V.dot("va", "vb").alias("d"),
        V.norm("va").alias("n"),
    ).collect()
    # SQL keywords as column names: the parsed fold must still read
    # the columns, not the NULL/TRUE literals
    via_keywords = pairs.select(
        "i",
        V.cosine("null", "true").alias("c"),
        V.dot("null", "true").alias("d"),
        V.norm("null").alias("n"),
    ).collect()
    assert len(via_cols) == len(via_names) == len(via_keywords) > 0
    for a, b, k in zip(via_cols, via_names, via_keywords):
        assert (a.c, a.d, a.n) == (b.c, b.d, b.n) == (k.c, k.d, k.n)


def test_jl_project_exprs_bit_identical(spark, alt_corpus):
    """r14: _jl_project_exprs builds each projected coordinate as one
    parsed SQL string (memoized per (app, d, dim)) instead of d x dim
    F.lit() literals. The parsed fold must match the HOF-built fold
    bit-for-bit so the cross-engine ulp discipline is untouched."""
    from gmall_spark.queries_llm import ann_eval

    _, sf = alt_corpus
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    d = 8

    def hof_exprs():
        out = []
        for j, row in enumerate(
            similarity._plane_coefs(d, ALT_DIM, salt="jl:")
        ):
            plane = F.array(*[F.lit(c) for c in row])
            out.append(
                F.aggregate(
                    F.zip_with(
                        F.transform("embedding", lambda x: x.cast("double")),
                        plane,
                        lambda x, c: x * c,
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias(f"p{j}")
            )
        return out

    want = emb.select("vec_id", *hof_exprs()).orderBy("vec_id").collect()
    got = (
        emb.select("vec_id", *ann_eval._jl_project_exprs(d, ALT_DIM))
        .orderBy("vec_id")
        .collect()
    )
    assert len(want) == len(got) > 0
    for a, b in zip(want, got):
        for j in range(d):
            assert a[f"p{j}"] == b[f"p{j}"]
