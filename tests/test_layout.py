"""X130 z-order layout — structural properties of the mapping (the
pruning the layout exists for): the z-value must be the exact bit
interleave of the two bucketed keys, the file id its top 6 bits, and
therefore a filter on EITHER single key can only ever touch the 8 =
sqrt(64) files whose grid row/column matches its three high bits —
while a single-key sort layout spreads the other dimension over all
64. Assertions are structural (they hold for any corpus), not counts
of this sample."""

from __future__ import annotations

from gmall_spark.queries import QUERIES


def _allowed_files_for_cust(cb: int) -> set:
    # file bits (z >> 10): bit5=cb7 bit4=db7 bit3=cb6 bit2=db6
    # bit1=cb5 bit0=db5 -> fixing cb leaves the 3 db bits free
    base = (((cb >> 7) & 1) << 5) | (((cb >> 6) & 1) << 3) | (((cb >> 5) & 1) << 1)
    return {base | (d7 << 4) | (d6 << 2) | d5
            for d7 in (0, 1) for d6 in (0, 1) for d5 in (0, 1)}


def test_zorder_mapping_structure_and_pruning(spark):
    rows = QUERIES["layout_zorder_orders"](spark, "/root/testdata/sf0.001").collect()
    assert rows and len({r.file_id for r in rows}) >= 32  # corpus spreads wide
    for r in rows:
        # bit-deinterleave round trip: z IS the interleave of (cb, db)
        cb = sum(((r.zvalue >> (2 * i + 1)) & 1) << i for i in range(8))
        db = sum(((r.zvalue >> (2 * i)) & 1) << i for i in range(8))
        assert (cb, db) == (r.cust_bucket, r.day_bucket)
        assert r.file_id == r.zvalue >> 10
        # the pruning guarantee: this row's file is one of the <= 8
        # files a filter on its cust bucket alone would have to scan
        assert r.file_id in _allowed_files_for_cust(r.cust_bucket)
    # a (cust, day) pair pins exactly one file
    by_pair: dict[tuple, set] = {}
    for r in rows:
        by_pair.setdefault((r.cust_bucket, r.day_bucket), set()).add(r.file_id)
    assert all(len(v) == 1 for v in by_pair.values())


def test_compaction_plan_pairs_adjacent_undersized(spark, sf_dir):
    """X146 invariants: only undersized files move, merge groups hold
    at most two files, partners are ADJACENT in the undersized z
    sequence (clustering preserved), merged_rows is the group sum,
    and a trailing odd file stays for the next cycle."""
    from gmall_spark.queries_llm import warehouse_ops

    rows = warehouse_ops.q_layout_compaction_plan(spark, sf_dir).collect()
    by_target = {}
    for r in rows:
        by_target.setdefault(r.merge_target, []).append(r)
        if not r.undersized:
            assert r.merge_target == r.file_id  # big files never move
    under = sorted(r.file_id for r in rows if r.undersized)
    for tgt, grp in by_target.items():
        assert len(grp) <= 2
        assert sum(r.n_rows for r in grp) == grp[0].merged_rows
        if len(grp) == 2:
            a, b = sorted(r.file_id for r in grp)
            assert a == tgt
            assert all(r.undersized for r in grp)
            # adjacency in the undersized sequence
            assert under.index(b) == under.index(a) + 1
    if len(under) % 2 == 1:  # trailing odd file stays put
        last = under[-1]
        assert len(by_target[last]) == 1
