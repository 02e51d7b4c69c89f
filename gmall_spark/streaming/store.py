"""The two state layouts of the streaming twins.

Every twin keeps its state under ``<store>/<sub>/epoch=<batch_id>``,
written by ``runner.idempotent_parquet_write`` and read back by
:func:`read_epochs`: a replayed foreachBatch epoch overwrites its own
partition and reads only earlier ones, so the replay is a no-op. The
Bloom and KMV sketches instead keep one capped table that each batch
rewrites through the atomic swap below; their merges (``bit_or``,
distinct k-min) are idempotent, so re-merging a replayed batch
changes nothing.

Atomic parquet store swap for the Bloom/KMV sketches.

The r4 pattern (write ``.next``, ``os.replace(final, old)``,
``os.replace(next, final)``) had two defects (ADVICE r4):

- a crash between the two renames leaves NO store, and the readers'
  missing-path-means-first-batch contract silently resets the state
  (false negatives for everything previously ingested);
- a leftover non-empty ``.old`` from such a crash makes the next
  ``os.replace(final, old)`` raise ENOTEMPTY.

This module swaps via a SINGLE atomic rename instead: data is written
to immutable version directories ``<store>.v<N>`` and ``<store>``
itself is a symlink repointed with ``symlink + os.replace`` (rename
over a symlink is atomic on POSIX). At every instant ``<store>``
resolves to a complete version — readers never see a torn or missing
store — and :func:`recover` re-points a dangling link at the newest
complete (``_SUCCESS``-marked) version after any crash.

The previous version is retained for one swap (readers that resolved
the link just before a swap can still finish lazily); older versions
are reaped on the next write. On HDFS/S3 (no symlinks) the same
design becomes a one-line manifest file updated by atomic rename —
the version-dir layout and recovery logic carry over unchanged.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VERSION_RE = re.compile(r"\.v(\d+)$")
# pid of the writer that claimed a version dir. The claim means
# "in-flight: claimed, possibly fully written, NOT yet pointed" — it
# is removed right after the claimant's _point, so a complete-but-
# still-claimed dir must never be reaped while the claimant runs (the
# writer is between its _SUCCESS and its _point; reaping there makes
# its swap publish a dangling link — caught by the r8 multiprocess
# property test).
_CLAIM = "_CLAIM"


def _pid_alive(pid: int) -> bool:
    """True when ``pid`` is a running process (signal-0 probe;
    EPERM means alive-but-foreign)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except (PermissionError, OSError):
        return True
    return True


def _claimed_by_live_writer(vdir: str) -> bool:
    """True when ``vdir``'s claim file names a still-running pid —
    i.e. an in-flight concurrent write we must not touch."""
    try:
        with open(os.path.join(vdir, _CLAIM)) as f:
            return _pid_alive(int(f.read().strip()))
    except (FileNotFoundError, ValueError, OSError):
        return False


def _versions(final: str) -> list[tuple[int, str]]:
    """Existing version dirs as (n, path), ascending."""
    parent, name = os.path.split(final)
    out = []
    try:
        entries = os.listdir(parent or ".")
    except FileNotFoundError:
        return []
    for e in entries:
        if e.startswith(name + ".v"):
            m = _VERSION_RE.search(e)
            if m:
                out.append((int(m.group(1)), os.path.join(parent, e)))
    return sorted(out)


def _complete(vdir: str) -> bool:
    return os.path.exists(os.path.join(vdir, "_SUCCESS"))


def _point(final: str, vdir: str) -> None:
    """Atomically (re)point the ``final`` symlink at ``vdir``.

    The staging link name is per-writer (pid-suffixed, like
    save_codebooks): a shared name let a reader's or second writer's
    cleanup delete the link between ``os.symlink`` and ``os.replace``
    and fail this writer's swap with FileNotFoundError (ADVICE r5).
    The symlink+replace is additionally retried on FileNotFoundError
    (ADVICE r6): even the per-pid name can be swept by a concurrent
    writer whose liveness probe raced this process' exit/spawn —
    recreating the link and replacing again is always safe because
    the staging name is ours alone while we are alive."""
    tmp = f"{final}.lnk.tmp.{os.getpid()}"
    last_exc: Exception | None = None
    for _ in range(3):
        try:
            if os.path.lexists(tmp):
                os.remove(tmp)
            os.symlink(os.path.basename(vdir), tmp)
            os.replace(tmp, final)
            return
        except FileNotFoundError as exc:  # tmp swept mid-swap
            last_exc = exc
    raise last_exc  # three sweeps in a row: surface it


def recover(store_dir: str) -> None:
    """Repair crash leftovers — READ-SAFE: never touches staging
    links (a concurrent writer may be mid-swap on one; stale ones are
    reaped by the next ``swap_write``). A dangling/missing link with
    complete version dirs on disk is re-pointed at the newest one; a
    legacy real directory (pre-symlink layout) is migrated to the
    next FREE version number (hardcoding ``.v0`` wedged the store
    when ``.v0`` already existed — ADVICE r5)."""
    final = store_dir.rstrip("/")
    if os.path.exists(final) and not os.path.islink(final):
        versions = _versions(final)
        n = versions[-1][0] + 1 if versions else 0
        vdir = f"{final}.v{n}"
        os.replace(final, vdir)
        _point(final, vdir)
        return
    if os.path.islink(final) and not os.path.exists(final):
        os.remove(final)  # dangling link
    if not os.path.lexists(final):
        complete = [(n, p) for n, p in _versions(final) if _complete(p)]
        if complete:
            _point(final, complete[-1][1])


def swap_write(df: DataFrame, store_dir: str, keep_previous: int = 1) -> None:
    """Write ``df`` as the new store content with one atomic pointer
    swap; reap versions older than the previous ``keep_previous``."""
    final = store_dir.rstrip("/")
    # writer-path-only cleanup of staging links abandoned by DEAD
    # writers. A live pid suffix means a concurrent writer may be
    # between its os.symlink and os.replace — removing its link there
    # fails its swap with FileNotFoundError (ADVICE r6); skip those.
    # Suffix-less links are the legacy shared name: no live writer
    # uses it, always reap.
    parent, name = os.path.split(final)
    try:
        for e in os.listdir(parent or "."):
            if not e.startswith(name + ".lnk.tmp"):
                continue
            suffix = e[len(name + ".lnk.tmp") :]
            if suffix.startswith("."):
                try:
                    pid = int(suffix[1:])
                except ValueError:
                    pid = -1
                if pid != os.getpid() and _pid_alive(pid):
                    continue  # in-flight concurrent writer
            try:
                os.remove(os.path.join(parent, e))
            except OSError:
                pass
    except FileNotFoundError:
        pass
    recover(final)
    versions = _versions(final)
    n = versions[-1][0] + 1 if versions else 0
    # claim the version number with an exclusive mkdir so two
    # concurrent writers can never write into the same dir; record
    # the claimant pid so crash leftovers are distinguishable from
    # in-flight writes when reaping
    while True:
        vdir = f"{final}.v{n}"
        try:
            os.makedirs(vdir)
            break
        except FileExistsError:
            n += 1
    with open(os.path.join(vdir, _CLAIM), "w") as f:
        f.write(str(os.getpid()))
    # append, not overwrite: the dir was exclusively created empty just
    # above, so append writes the same content — but overwrite DELETES
    # the dir (and the _CLAIM marker) at job start, leaving a window
    # where a concurrent writer's reap sees an unclaimed incomplete dir
    # mid-write. Spark readers ignore underscore-prefixed files.
    df.write.mode("append").parquet(vdir)
    _point(final, vdir)
    # published: drop the claim so future reapers may age this version
    # out once it stops being current
    try:
        os.remove(os.path.join(vdir, _CLAIM))
    except OSError:
        pass

    def _reapable(path: str) -> bool:
        # Order matters (r8 property-test finding): a complete dir
        # whose claimant is alive is a concurrent swap between its
        # _SUCCESS and its _point — reaping it makes that swap publish
        # a dangling link. The claim is removed only AFTER _point, so
        # checking the claim FIRST and the link target SECOND closes
        # the race: if the claim is gone the point already happened,
        # and a subsequent realpath sees that version when it is the
        # live target.
        if _claimed_by_live_writer(path):
            return False
        try:
            cur = os.path.realpath(final)
        except OSError:
            return False
        return os.path.realpath(path) != cur

    # Reap on COMPLETE versions only (ADVICE r6): counting junk or
    # crashed-writer leftovers in `versions` deleted the real previous
    # live version one swap early, breaking the keep-previous reader
    # guarantee. Incomplete dirs are reaped separately, and only when
    # their claiming writer is no longer running (a live claimant is a
    # concurrent swap_write mid-parquet-write).
    complete = [(vn, path) for vn, path in versions if _complete(path)]
    for vn, path in complete[: max(0, len(complete) - keep_previous)]:
        if _reapable(path):
            shutil.rmtree(path, ignore_errors=True)
    for vn, path in versions:
        if not _complete(path) and not _claimed_by_live_writer(path):
            shutil.rmtree(path, ignore_errors=True)


def read_or_empty(spark: SparkSession, store_dir: str, schema) -> DataFrame:
    """Current store content; ONLY a genuinely absent store (no link,
    no recoverable version) means 'first batch' — any other read
    failure surfaces (the incremental_dedup contract, ADVICE r3)."""
    from pyspark.errors import AnalysisException

    final = store_dir.rstrip("/")
    recover(final)
    try:
        return spark.read.schema(schema).parquet(final)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return spark.createDataFrame([], schema)
        raise


def read_epochs(
    spark: SparkSession, path: str, schema=None, before: int | None = None
) -> DataFrame:
    """A twin's state: the ``epoch=<batch_id>`` partitions under
    ``path``, read by partition discovery, with ``epoch`` dropped.
    ``before`` keeps only epochs < ``before``; a twin that reads its
    own state mid-batch passes its batch id, so a replay sees exactly
    what its first attempt saw. ONLY a missing path means 'first
    batch' (empty ``schema`` rows); any other read failure surfaces —
    treating a corrupt store as empty would silently drop state
    (ADVICE r3)."""
    from pyspark.errors import AnalysisException

    # the root path stays the same as epochs land: refresh any Dataset
    # cached from an earlier read (an operator may persist it), or
    # this identical plan would be served from that cache without the
    # new epochs
    spark.catalog.refreshByPath(path)
    reader = spark.read
    if schema is not None:
        # ``epoch`` in the schema keeps the column on an empty dir too
        reader = reader.schema(
            f"{schema}, epoch long"
            if isinstance(schema, str)
            else T.StructType([*schema.fields, T.StructField("epoch", T.LongType())])
        )
    try:
        df = reader.parquet(path)
    except AnalysisException as exc:
        missing = "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)
        if schema is None or not missing:
            raise
        return spark.createDataFrame([], schema)
    if before is not None:
        df = df.filter(F.col("epoch") < before)
    return df.drop("epoch")


def list_versions(store_dir: str) -> list[int]:
    """COMPLETE (committed) version numbers still on disk, ascending.
    The window is bounded by ``keep_previous`` — this is Delta-style
    time travel over the retained tail, not an unbounded log."""
    final = store_dir.rstrip("/")
    return sorted(vn for vn, path in _versions(final) if _complete(path))


def read_version(
    spark: SparkSession, store_dir: str, schema, version: int
) -> DataFrame:
    """Snapshot read of one retained store version (the
    ``versionAsOf`` contract): version directories are immutable once
    ``_SUCCESS``-marked, so the read is stable even while newer swaps
    land concurrently. Raises ``ValueError`` (listing what IS
    retained) for a reaped or never-committed version — silently
    returning the live store would be a wrong-answer bug in any
    consumer doing an audit diff."""
    final = store_dir.rstrip("/")
    avail = list_versions(final)
    if version not in avail:
        raise ValueError(
            f"version {version} not retained for {final!r}; "
            f"available: {avail} (older versions are reaped "
            f"keep_previous swaps after they stop being live)"
        )
    return spark.read.schema(schema).parquet(f"{final}.v{version}")
