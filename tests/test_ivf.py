"""IVF ANN: recall vs brute force, index invariants, determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_spark.operators import ivf, similarity


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_ivf_recall_at_10(spark, sf_dir):
    """Two gates on one harness run. (a) Concentration: at an
    explicit nprobe=4 (1/4 scan) recall@10 must beat the scan
    fraction by >= 2x — the invariant that the index genuinely
    concentrates neighbors versus random probing, which survives any
    data distribution. (b) The DEFAULT operating point must clear
    recall >= 0.9 absolute — the gate the LSH tier meets, which the
    nprobe sweep (similarity_eval_ivf_nprobe_sweep) showed requires
    12/16 probes on this near-isotropic fixture (a cos-0.4 pair is
    66 degrees apart; 16 spherical cells at dim 64 cannot
    concentrate it — real clustered corpora clear it far cheaper)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    bf_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    def _mean_recall(ann):
        ann_sets: dict = {}
        for r in ann:
            ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [
            len(bf_sets[q] & ann_sets.get(q, set())) / len(bf_sets[q])
            for q in bf_sets
        ]
        return sum(recalls) / len(recalls), ann_sets

    sparse, _ = _mean_recall(ivf.ivf_topk(emb, queries, k=10, nprobe=4).collect())
    assert sparse >= 2 * (4 / ivf.IVF_LISTS), sparse
    ann = ivf.ivf_topk(emb, queries, k=10).collect()
    default_recall, _ = _mean_recall(ann)
    assert default_recall >= 0.9, default_recall
    # scores are exact cosines: every returned (q, n, score) must match
    # the brute-force score for that pair
    bf_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in bf}
    for r in ann:
        if (r.query_id, r.neighbor_id) in bf_scores:
            assert abs(bf_scores[(r.query_id, r.neighbor_id)] - r.cos_sim) < 1e-9


def test_ivf_clustered_corpus_high_recall_at_low_nprobe(spark):
    """The scaling claim behind the nprobe=12 default, measured: on a
    CLUSTERED corpus (real embedding corpora cluster; the driver
    fixture is quasi-uniform, the hard case) a 1/4 scan recovers the
    neighbors. 16 deterministic well-separated centers in dim 16,
    40 points each with small deterministic jitter: IVF at nprobe=4
    must reach recall@10 >= 0.95 — on this data the index genuinely
    prunes, so the 12/16-probe cost on the uniform fixture is a
    property of that data, not of the operator."""
    import math

    dim, n_clusters, per = 16, 16, 40
    rows = []
    vid = 0
    for c in range(n_clusters):
        # orthogonal-ish centers: +/-8 on two axes per cluster
        center = [0.0] * dim
        center[c % dim] = 8.0
        center[(c * 7 + 3) % dim] = -8.0 if c % 2 else 8.0
        for j in range(per):
            # deterministic jitter in [-0.5, 0.5] per coordinate
            vec = [
                center[d] + (math.sin(vid * 31 + d * 17) * 0.5)
                for d in range(dim)
            ]
            rows.append((vid, [float(v) for v in vec]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % per == 0)  # one per cluster
    bf = similarity.brute_force_topk(emb, queries, k=10).collect()
    ann = ivf.ivf_topk(emb, queries, k=10, nprobe=4).collect()
    bf_sets: dict = {}
    ann_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(bf_sets[q] & ann_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.95, recalls


def test_ivf_index_partitions_corpus(spark, sf_dir):
    """Every corpus vector lands in exactly one list, list ids are in
    range, and no list holds the whole corpus (the probe actually
    prunes)."""
    emb = _emb(spark, sf_dir)
    total = emb.count()
    cents = ivf.train_centroids(emb)
    assert len(cents) == ivf.IVF_LISTS
    idx = ivf.build_index(emb, cents)
    assert idx.count() == total
    per_list = idx.groupBy("list_id").count().collect()
    assert all(0 <= r["list_id"] < ivf.IVF_LISTS for r in per_list)
    assert max(r["count"] for r in per_list) < total


def test_ivf_centroids_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = ivf.train_centroids(emb, iters=2)
    b = ivf.train_centroids(emb, iters=2)
    assert a == b


def test_centroid_artifact_round_trip_and_invalidation(spark, sf_dir, tmp_path):
    """The published quantizer artifact (VERDICT r3 stretch) loads
    back exactly, and a fingerprint mismatch (regenerated testdata)
    invalidates it instead of serving stale centroids."""
    import json

    from gmall_spark.operators import ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf.train_centroids(emb)
    src = [f"{sf_dir}/embeddings.parquet"]
    path = str(tmp_path / "centroids.json")
    ivf.save_artifact(path, "centroids", cents, src)
    assert ivf.load_artifact(path, "centroids", src) == cents
    # missing artifact -> None
    assert ivf.load_artifact(str(tmp_path / "nope.json"), "centroids", src) is None
    # fingerprint drift -> None (not stale centroids)
    payload = json.load(open(path))
    payload["fingerprint"]["size"] += 1
    json.dump(payload, open(path, "w"))
    assert ivf.load_artifact(path, "centroids", src) is None


def test_trained_centroids_reuses_published_artifact(spark, sf_dir, tmp_path, monkeypatch):
    """With SPARK_GRAFT_CENTROID_DIR set, a second (simulated) session
    must load the artifact instead of retraining: training is
    monkeypatched to raise after the first run."""
    from gmall_spark import fixtures_audit
    from gmall_spark.queries_llm import prelude
    from gmall_spark.operators import ivf

    monkeypatch.setenv("SPARK_GRAFT_CENTROID_DIR", str(tmp_path))
    fixtures_audit.clear()
    try:
        first = prelude._trained_centroids(spark, sf_dir)
        fixtures_audit.clear()  # simulate a fresh session

        def boom(*a, **k):
            raise AssertionError("retrained despite published artifact")

        monkeypatch.setattr(ivf, "train_centroids", boom)
        again = prelude._trained_centroids(spark, sf_dir)
        assert again == first
    finally:
        fixtures_audit.clear()  # drop artifact-keyed entries


def test_codebook_artifact_roundtrip_and_fingerprint(spark, sf_dir, tmp_path):
    """PQ half of the index-as-artifact story: save/load round-trip,
    absent artifact -> None, fingerprint drift -> None."""
    import json

    from gmall_spark.operators import ivf, pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    books = pq.train_codebooks(emb, dim)
    src = [f"{sf_dir}/embeddings.parquet"]
    path = str(tmp_path / "books.json")
    ivf.save_artifact(path, "codebooks", books, src)
    assert ivf.load_artifact(path, "codebooks", src) == books
    assert ivf.load_artifact(str(tmp_path / "nope.json"), "codebooks", src) is None
    payload = json.load(open(path))
    payload["fingerprint"]["size"] += 1
    json.dump(payload, open(path, "w"))
    assert ivf.load_artifact(path, "codebooks", src) is None


def test_trained_books_reuses_published_artifact(spark, sf_dir, tmp_path, monkeypatch):
    """A second (simulated) session must load the published codebooks
    instead of retraining (training monkeypatched to raise)."""
    from gmall_spark import fixtures_audit
    from gmall_spark.queries_llm import prelude
    from gmall_spark.operators import pq

    monkeypatch.setenv("SPARK_GRAFT_CENTROID_DIR", str(tmp_path))
    fixtures_audit.clear()
    try:
        first = prelude._trained_books(spark, sf_dir)
        fixtures_audit.clear()  # simulate a fresh session

        def boom(*a, **k):
            raise AssertionError("retrained despite published artifact")

        monkeypatch.setattr(pq, "train_codebooks", boom)
        again = prelude._trained_books(spark, sf_dir)
        assert again == first
    finally:
        fixtures_audit.clear()
