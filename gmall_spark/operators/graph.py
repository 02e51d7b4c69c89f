"""PageRank centrality over a document/embedding neighbor graph.

Curation use: centrality-weighted data selection — rank documents by
how "central" they are in the kNN similarity graph (TextRank/LexRank
family: Mihalcea & Tarau 2004, Erkan & Radev 2004 apply PageRank to
exactly this graph shape; SemDeDup-style pipelines use the same
centrality to pick cluster representatives). The graph is any edge
list; the registered query feeds it the exact kNN graph at test SF
and an LSH/IVF-built kNN graph is the 100 TB path (operators/
similarity.py, operators/ivf.py produce the same (src, dst) shape).

Determinism contract: ranks are computed in FIXED-POINT integer
arithmetic (micro-units of 1e-12) — integer division and BIGINT sums
are shuffle-order-independent and identical across engines, unlike
float accumulation, so the DuckDB oracle (the same iterations
unrolled as CTEs, see ann_oracles.pagerank_oracle) hash-matches
bit-for-bit. Per-iteration cost: one equi-join of the edge list with
the rank vector (both keyed by node) + one map-side-combining sum —
the corpus/embedding payload never enters the loop, only (node,
rank) pairs shuffle. ``localCheckpoint`` per iteration truncates the
iterative lineage exactly as operators/components.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_spark.session import scoped_conf

PR_SCALE = 10**12  # fixed-point micro-units
PR_DAMPING_PCT = 85  # damping 0.85 as an exact integer percentage
PR_ITERATIONS = 5


def pagerank(
    edges: DataFrame,
    iterations: int = PR_ITERATIONS,
    damping_pct: int = PR_DAMPING_PCT,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node_id, rank_micro, rank) for every node of the edge list.

    ``rank_micro`` is the exact BIGINT fixed-point rank (1e-12
    units); ``rank`` is the rounded double convenience view. Nodes
    with no in-links keep the teleport mass ``(1-d)/N``; dangling
    nodes (no out-links) simply contribute nothing — the kNN graphs
    this consumes give every node out-degree k, so no dangling-mass
    redistribution term is needed (and the oracle omits it too).
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).persist()
    # r14: the loop-reused caches are COMPILED with AQE off (the conf
    # toggle wraps only the .persist() calls — CacheManager captures
    # the physical plan there). With AQE on, the cached plan is an
    # AdaptiveSparkPlan whose output partitioning is UNKNOWN until
    # executed, so every iteration's join re-exchanged the cached
    # relation anyway — the r14 loop-body plan capture
    # (plans/r14/pagerank_loop_iteration_before.txt) showed Exchange
    # hashpartitioning(src) ENSURE_REQUIREMENTS right above the
    # InMemoryTableScan, i.e. the r13 "iterations reuse the cached
    # layout" claim did NOT hold in the executed plan. AQE-off
    # compilation pins the cache's reported partitioning
    # (hashpartitioning(join key, shuffle.partitions)) so
    # EnsureRequirements can actually reuse it. Trade-off, stated:
    # the one-time cache-build joins lose AQE skew splitting — the
    # right side of the trade when the alternative is re-shuffling
    # the whole edge list once per iteration.
    _AQE = "spark.sql.adaptive.enabled"
    nodes_q = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    with scoped_conf(spark, _AQE, "false"):
        nodes = nodes_q.persist()
    try:
        n1 = nodes.agg(F.count(F.lit(1)).alias("n"))  # 1 row, broadcast below
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
        # r13: attach the loop-invariant out-degree to the edge list
        # ONCE (it used to be a second src-keyed join inside every
        # iteration — iterations × (agg + join) exchanges of the same
        # relation; guide §2.4 "two operations keyed the same way can
        # share one exchange"). The loop now joins only (src, dst,
        # odeg) ⋈ (node_id, r). Integer arithmetic — results are
        # unchanged by the restructure.
        # hash-partition by the join key before persisting: every
        # iteration's join then reads the cached layout instead of
        # re-exchanging the (corpus-sized) edge list — iterations
        # shuffle only the small (node, rank) side (guide §2.4)
        eq = e.join(outdeg, "src").repartition("src")
        with scoped_conf(spark, _AQE, "false"):
            e_od = eq.persist()
        ranks = nodes.crossJoin(F.broadcast(n1)).select(
            "node_id", F.expr(f"{PR_SCALE} div n").alias("r")
        )
        for _ in range(int(iterations)):
            contrib = (
                e_od.join(ranks.withColumnRenamed("node_id", "src"), "src")
                .select("dst", F.expr("r div odeg").alias("c"))
            )
            s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            ranks = (
                nodes.join(s.withColumnRenamed("dst", "node_id"), "node_id", "left")
                .crossJoin(F.broadcast(n1))
                .select(
                    "node_id",
                    F.expr(
                        f"({100 - damping_pct} * {PR_SCALE}) div (100 * n)"
                        f" + ({damping_pct} * coalesce(s, 0)) div 100"
                    ).alias("r"),
                )
                .localCheckpoint(eager=False)
            )
        # eager checkpoint of the final ranks so the unpersist below
        # cannot recompute-storm a consumer (ADVICE r4: e/nodes leaked
        # cached blocks for the session's lifetime)
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        try:
            e_od.unpersist()
        except NameError:  # pragma: no cover - e_od assignment failed
            pass
        nodes.unpersist()
    return ranks.select(
        "node_id",
        F.col("r").cast("bigint").alias("rank_micro"),
        F.round(F.col("r") / F.lit(float(PR_SCALE)), 6).alias("rank"),
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over a
    directed edge list (X149) — the standard graph-health /
    community-structure statistic (a kNN graph whose triangles vanish
    is noise; one whose coefficients approach 1 is clustered — the
    signal SemDeDup exploits).

    The graph is made UNDIRECTED (least/greatest + distinct), then
    every triangle materializes exactly once as an ordered triple
    x < y < z via two self-joins. Per-node counts explode each
    triangle into its three corners; coefficient = 2T/(d(d-1)).

    Scale: the self-join fan-out is bounded by per-node degree (k for
    a kNN graph — the wedge count is Σd², not n²); for skewed general
    graphs the standard degree-ordered orientation bounds the fan-out
    by the arboricity instead, noted here and skipped for the
    bounded-degree kNN case so the oracle stays a literal a<b<c
    twin."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    corners = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node_id")
    )
    tn = corners.groupBy("node_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("triangles")
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return deg.join(tn, "node_id", "left").select(
        "node_id",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            F.round(
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1.0)),
                6,
            )
        )
        .alias("clustering"),
    )


def label_propagation(
    edges: DataFrame, rounds: int = 3, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Synchronous label-propagation communities (X152; Raghavan et
    al. 2007) with fully deterministic semantics: labels start as
    node ids; each round every node adopts the MODE of its neighbors'
    labels over the undirected graph (count desc, then smallest label
    — a total tie order, so no run-to-run or engine drift), for a
    FIXED number of rounds (synchronous LPA can oscillate; a fixed
    horizon pins the result instead of a convergence race).

    Per round: one join (labels onto directed edges) + one (node,
    label) count + one mode window — all keyed shuffles; lineage
    truncates per round like pagerank's. Returns
    (node_id, community, community_size)."""
    from pyspark.sql import Window

    und = (
        edges.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # hash-partition by the join key before persisting (r13, the
    # pagerank discipline): every round's join then reads the cached
    # layout instead of re-exchanging the edge list — rounds shuffle
    # only the small (node, label) side.
    #
    # r14 finding (plans/r14/lpa_loop_round.txt): under AQE the
    # cached plan reports UNKNOWN partitioning, so each round DOES
    # re-exchange the cached dir_e — the r13 claim held only in
    # intent. The pagerank fix (AQE-off cache compile, see above) was
    # measured here too and REVERTED: paired min-of-7 at sf0.1 read
    # 1.89 → 2.36 s (+25 %) because LPA's 3 window-heavy rounds gain
    # more from AQE's in-cache partition coalescing than they lose to
    # the (narrow, cached) re-exchange at this scale. At 100 TB the
    # pagerank pattern applies verbatim if the edge re-exchange ever
    # dominates a profile; the artifact documents both shapes.
    dir_e = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).union(und.select(F.col("b").alias("u"), F.col("a").alias("v"))).repartition(
        "u"
    ).persist()
    nodes = dir_e.select(F.col("u").alias("node_id")).distinct().persist()
    try:
        labels = nodes.select("node_id", F.col("node_id").alias("lab"))
        w = Window.partitionBy("node_id").orderBy(
            F.desc("c"), F.asc("lab")
        )
        for _ in range(int(rounds)):
            neigh = (
                dir_e.join(
                    labels.withColumnRenamed("node_id", "u"), "u"
                )
                .groupBy(F.col("v").alias("node_id"), "lab")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = (
                neigh.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("node_id", "lab")
                .localCheckpoint(eager=False)
            )
        labels = labels.localCheckpoint(eager=True)
    finally:
        dir_e.unpersist()
        nodes.unpersist()
    sz = Window.partitionBy("lab")
    return labels.select(
        "node_id",
        F.col("lab").cast("bigint").alias("community"),
        F.count(F.lit(1)).over(sz).cast("bigint").alias("community_size"),
    )
