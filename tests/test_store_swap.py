"""The streaming state layouts (streaming/store.py): the epoch
layout every twin keeps its state in, and the atomic store swap
(ADVICE r4: single-rename pointer swap, crash recovery, legacy-layout
migration) the Bloom/KMV sketches use."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.sql import types as T

from gmall_spark.streaming import store
from gmall_spark.streaming.runner import idempotent_parquet_write

SCHEMA = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _read(spark, path):
    return _rows(store.read_or_empty(spark, path, SCHEMA))


def _rows(df):
    return {(r.k, r.v) for r in df.collect()}


def test_read_epochs_replay_is_a_no_op(spark, tmp_path):
    """A missing store reads as empty; a replayed epoch overwrites
    itself; ``before`` keeps only the earlier epochs."""
    p = str(tmp_path / "e")
    assert _rows(store.read_epochs(spark, p, SCHEMA)) == set()
    write = idempotent_parquet_write(p)
    write(_df(spark, [(1, 10)]), 0)
    write(_df(spark, [(2, 20), (3, 30)]), 1)
    write(_df(spark, [(2, 20), (3, 30)]), 1)  # replay of epoch 1
    assert _rows(store.read_epochs(spark, p, SCHEMA)) == {(1, 10), (2, 20), (3, 30)}
    assert store.read_epochs(spark, p, SCHEMA).count() == 3
    assert _rows(store.read_epochs(spark, p, SCHEMA, before=1)) == {(1, 10)}
    assert store.read_epochs(spark, p).columns == ["k", "v"]


STREAMING = pathlib.Path(store.__file__).parent
BUCKETED_CATALOG_STORES = {"BucketedStore", "BucketedVersionStore"}


def _calls(path: pathlib.Path, attr: str, exempt_scopes: set[str]) -> list[ast.Call]:
    """``x.<attr>(...)`` calls in ``path`` outside the named classes
    and functions."""
    tree = ast.parse(path.read_text())
    skip = {
        id(n)
        for scope in ast.walk(tree)
        if isinstance(scope, ast.ClassDef | ast.FunctionDef)
        and scope.name in exempt_scopes
        for n in ast.walk(scope)
    }
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and id(n) not in skip
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def test_streaming_state_uses_the_epoch_layout():
    """Spark-free lint: a twin's state goes through
    runner.idempotent_parquet_write and store.read_epochs. An append
    double-counts a replayed epoch, and a hand-rolled directory lister
    duplicates read_epochs. Exempt: store.py's version-dir write, the
    two bucketed catalog stores, and incremental_range_plan's plan
    versions."""
    offenders = []
    for path in sorted(STREAMING.glob("*.py")):
        if path.name != "store.py":
            offenders += [
                f"{path.name}:{c.lineno} mode('append')"
                for c in _calls(path, "mode", BUCKETED_CATALOG_STORES)
                if [getattr(a, "value", None) for a in c.args] == ["append"]
            ]
        if path.name.startswith("incremental_"):
            plan_versions = path.name == "incremental_range_plan.py"
            exempt = {"_plan_versions"} if plan_versions else set()
            offenders += [
                f"{path.name}:{c.lineno} os.listdir"
                for c in _calls(path, "listdir", exempt)
            ]
    assert not offenders, offenders


def test_swap_is_pointer_and_reaps_old_versions(spark, tmp_path):
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    assert _read(spark, p) == {(1, 10)}
    assert os.path.islink(p)
    store.swap_write(_df(spark, [(2, 20)]), p)
    store.swap_write(_df(spark, [(3, 30)]), p)
    assert _read(spark, p) == {(3, 30)}
    # current + one grace version retained, older reaped
    versions = [e for e in os.listdir(tmp_path) if e.startswith("s.v")]
    assert sorted(versions) == ["s.v1", "s.v2"]


def test_missing_store_is_empty_not_error(spark, tmp_path):
    assert _read(spark, str(tmp_path / "never_written")) == set()


def test_dangling_link_recovers_to_newest_complete_version(spark, tmp_path):
    """The r4 crash shape: store pointer gone but complete version
    dirs on disk — the reader must recover the newest complete one,
    NOT treat the store as empty (the silent-reset bug)."""
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    store.swap_write(_df(spark, [(2, 20)]), p)
    os.remove(p)  # simulate the crash window: no pointer
    # plant an INCOMPLETE newer version (no _SUCCESS): must be skipped
    os.makedirs(str(tmp_path / "s.v9"))
    assert _read(spark, p) == {(2, 20)}
    assert os.path.islink(p)


def test_stale_tmp_link_is_cleaned(spark, tmp_path):
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    os.symlink("nowhere", p + ".lnk.tmp")
    store.swap_write(_df(spark, [(2, 20)]), p)
    assert _read(spark, p) == {(2, 20)}
    assert not os.path.lexists(p + ".lnk.tmp")


def test_legacy_real_dir_migrates(spark, tmp_path):
    """A store written by the pre-symlink layout (a real parquet dir)
    is migrated to a version dir and swapped atomically from then on."""
    p = str(tmp_path / "s")
    _df(spark, [(1, 10)]).write.mode("overwrite").parquet(p)
    assert not os.path.islink(p)
    assert _read(spark, p) == {(1, 10)}  # read migrates
    assert os.path.islink(p)
    store.swap_write(_df(spark, [(2, 20)]), p)
    assert _read(spark, p) == {(2, 20)}


def test_legacy_real_dir_migrates_even_when_v0_exists(spark, tmp_path):
    """ADVICE r5: a legacy real dir coexisting with an old .v0 used to
    dead-end recover() (return without migrating), and the next swap's
    os.replace onto the non-empty real dir raised ENOTEMPTY. Migration
    now claims the next FREE version number."""
    p = str(tmp_path / "s")
    _df(spark, [(0, 0)]).write.mode("overwrite").parquet(p + ".v0")
    _df(spark, [(1, 10)]).write.mode("overwrite").parquet(p)
    assert _read(spark, p) == {(1, 10)}  # migrated, newest content wins
    assert os.path.islink(p)
    assert os.path.isdir(p + ".v1")
    store.swap_write(_df(spark, [(2, 20)]), p)  # must not ENOTEMPTY
    assert _read(spark, p) == {(2, 20)}


def _dead_pid() -> int:
    """A pid guaranteed dead: fork a child that exits immediately and
    reap it."""
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_read_path_leaves_foreign_staging_links_alone(spark, tmp_path):
    """ADVICE r5 (medium): read_or_empty's recover() must NOT delete
    another writer's in-flight staging link — only swap_write reaps
    stale (dead-writer) ones."""
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    foreign = p + f".lnk.tmp.{_dead_pid()}"
    os.symlink(os.path.basename(p + ".v0"), foreign)
    assert _read(spark, p) == {(1, 10)}
    assert os.path.lexists(foreign), "read path deleted a writer's staging link"
    store.swap_write(_df(spark, [(2, 20)]), p)  # writer path reaps it
    assert not os.path.lexists(foreign)


def test_sweep_spares_live_writers_staging_link(spark, tmp_path):
    """ADVICE r6 (medium): the writer-path staging sweep must skip a
    link whose pid suffix is a RUNNING process — removing it between
    that writer's os.symlink and os.replace fails its swap. pid 1 is
    always alive; a legacy suffix-less link is always reaped."""
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    live = p + ".lnk.tmp.1"
    legacy = p + ".lnk.tmp"
    os.symlink("s.v0", live)
    os.symlink("s.v0", legacy)
    store.swap_write(_df(spark, [(2, 20)]), p)
    assert os.path.lexists(live), "sweep removed a live writer's staging link"
    assert not os.path.lexists(legacy)
    os.remove(live)


def test_incomplete_version_does_not_trigger_early_reap(spark, tmp_path):
    """ADVICE r6 (medium): an empty junk .vN (crashed writer, no
    _SUCCESS, no live claimant) must not count toward keep_previous —
    it used to get the real previous LIVE version rmtree'd one swap
    early. The junk dir itself must be cleaned."""
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)  # s.v0, live
    os.makedirs(p + ".v1")  # crashed writer's empty claim, no _CLAIM
    store.swap_write(_df(spark, [(2, 20)]), p)  # claims s.v2
    # keep-previous guarantee: v0 (the real previous) is retained
    assert os.path.exists(p + ".v0/_SUCCESS"), "live previous version reaped early"
    assert not os.path.exists(p + ".v1"), "junk incomplete version not cleaned"
    assert _read(spark, p) == {(2, 20)}
    store.swap_write(_df(spark, [(3, 30)]), p)
    assert not os.path.exists(p + ".v0"), "reap of old complete versions broke"
    assert os.path.exists(p + ".v2")


def test_incomplete_version_with_live_claimant_is_spared(spark, tmp_path):
    """An incomplete version dir claimed by a RUNNING writer is a
    concurrent swap_write mid-parquet-write — reaping it would destroy
    that writer's output. Claim files with dead pids are fair game."""
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    os.makedirs(p + ".v1")
    with open(p + ".v1/_CLAIM", "w") as f:
        f.write("1")  # pid 1: always alive
    os.makedirs(p + ".v2")
    with open(p + ".v2/_CLAIM", "w") as f:
        f.write(str(_dead_pid()))
    store.swap_write(_df(spark, [(2, 20)]), p)  # claims s.v3
    assert os.path.exists(p + ".v1"), "reaped a live concurrent writer's dir"
    assert not os.path.exists(p + ".v2"), "dead-claimant leftover not cleaned"
    assert _read(spark, p) == {(2, 20)}


def test_concurrent_version_claim_is_exclusive(spark, tmp_path):
    """Two writers computing the same next version number must not
    write into the same dir: the exclusive mkdir claim skips numbers
    already taken (simulated by pre-creating the contended dir)."""
    p = str(tmp_path / "s")
    store.swap_write(_df(spark, [(1, 10)]), p)
    os.makedirs(p + ".v1")  # the other writer just claimed v1
    store.swap_write(_df(spark, [(2, 20)]), p)
    assert _read(spark, p) == {(2, 20)}
    assert os.path.realpath(p).endswith("s.v2")


def test_time_travel_reads_retained_versions(spark, tmpdir):
    """Snapshot reads (X153): each committed version stays readable
    for keep_previous swaps; a reaped version raises with the list of
    what IS retained; the live read always matches the newest
    version."""
    import pytest

    from gmall_spark.streaming import store

    d = f"{tmpdir}/tt_store"
    schema = "k long"
    for n in (1, 2, 3):
        store.swap_write(
            spark.range(n * 10).selectExpr("id AS k"), d, keep_previous=1
        )
    vs = store.list_versions(d)
    assert len(vs) == 2  # live + one previous
    live, prev = vs[-1], vs[0]
    assert store.read_version(spark, d, schema, live).count() == 30
    assert store.read_version(spark, d, schema, prev).count() == 20
    assert store.read_or_empty(spark, d, schema).count() == 30
    with pytest.raises(ValueError) as ei:
        store.read_version(spark, d, schema, prev - 1)
    assert str(prev) in str(ei.value)  # the error lists retained versions


_WRITER_SCRIPT = r"""
import os, random, sys, time

sys.path.insert(0, "/root/repo")
from gmall_spark.streaming import store

store_dir, wid, n_swaps = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])


class _FakeWrite:
    '''Duck-typed stand-in for DataFrame.write: one parquet part +
    trailing _SUCCESS, i.e. the same on-disk contract Spark commits —
    the race under test lives entirely in store.py's filesystem
    protocol, so no JVM is needed per writer process.'''

    def __init__(self, rows):
        self.rows = rows

    def mode(self, m):
        assert m == "append"
        return self

    def parquet(self, path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table({"k": [r[0] for r in self.rows],
                      "v": [r[1] for r in self.rows]}),
            os.path.join(path, "part-00000.parquet"),
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()


class _FakeDF:
    def __init__(self, rows):
        self.write = _FakeWrite(rows)


rng = random.Random(wid)
for seq in range(n_swaps):
    store.swap_write(_FakeDF([(wid, seq)]), store_dir)
    time.sleep(rng.random() * 0.003)
print("OK")
"""


def test_concurrent_writers_never_break_readers(tmp_path):
    """Writer-vs-writer concurrency property (VERDICT r7 item 4): N
    writer PROCESSES x M swaps on ONE store, with a reader polling
    throughout. Invariants: no swap_write ever raises; once the first
    version commits the pointer never dangles; a freshly resolved
    target is always a complete (_SUCCESS-marked) version (one
    re-resolve allowed — between readlink and the completeness probe
    another writer may legitimately land and reap past keep_previous);
    and the surviving store holds exactly one writer's payload (no
    version-dir mixing)."""
    import subprocess
    import sys
    import time

    import pyarrow.parquet as pq

    p = str(tmp_path / "s")
    script = tmp_path / "writer.py"
    script.write_text(_WRITER_SCRIPT)
    n_writers, n_swaps = 4, 12
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), p, str(w), str(n_swaps)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for w in range(n_writers)
    ]

    def _fresh_resolve_is_complete() -> bool:
        target = os.path.realpath(p)
        return os.path.exists(os.path.join(target, "_SUCCESS"))

    seen_store = False
    deadline = time.time() + 60
    while any(pr.poll() is None for pr in procs):
        assert time.time() < deadline, "writers wedged"
        if os.path.lexists(p):
            seen_store = True
        if seen_store:
            # the pointer must never dangle once the first version landed
            assert os.path.lexists(p), "store link vanished mid-run"
            # fresh resolve -> complete version, one retry for the
            # legitimate resolve/reap race between two NEWER swaps
            assert (
                _fresh_resolve_is_complete() or _fresh_resolve_is_complete()
            ), "freshly resolved store target is not a complete version"
        time.sleep(0.001)

    for pr in procs:
        out, err = pr.communicate()
        assert pr.returncode == 0, err.decode()[-2000:]
        assert b"OK" in out

    # quiescent state: link resolves to a complete version holding
    # exactly one writer's final payload; retained versions all read
    from gmall_spark.streaming import store

    assert _fresh_resolve_is_complete()
    t = pq.read_table(os.path.realpath(p))
    rows = list(zip(t.column("k").to_pylist(), t.column("v").to_pylist()))
    assert len(rows) == 1, f"mixed version contents: {rows}"
    wid, seq = rows[0]
    assert 0 <= wid < n_writers and seq == n_swaps - 1
    assert store.list_versions(p), "no committed versions retained"
