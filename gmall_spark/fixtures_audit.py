"""Session-memo registry: every value a session reuses across queries.

One memo stands behind every per-session reuse in the package — the
analog of the reference's materialized DWD Kafka topics, which each
DWD fact writes once and many DWS jobs read:

- shared fixtures (_lm_scores, _knn_edges, centroids, DSIR weights,
  containment postings, ...) — checkpointed relations or trained
  models built lazily by whichever query touches them first;
- plan memos (base-table scans, the CDC envelope) and Column memos
  (the widest expression trees) — immutable objects that cost py4j
  round trips to build but cache no data;
- small values (row counts, embedding width, scan fan-out decisions).

Keys are ``(applicationId, name, *args)``: ``applicationId`` is unique
per SparkContext lifetime (``id(spark)`` can be reused after a session
is collected and would inherit stale entries), and ``name`` is the
memo's namespace. A hit costs one ``applicationId`` read and a dict
lookup; no other py4j call.

Timing. Fixtures memoized with ``timed=True`` record their build wall
seconds in ``TIMINGS`` under ``name``; bench.py emits the map as its
``"fixtures"`` line item so cold cost stays visible even though the
bench's min-of-3 excludes the run that paid it. Plan, Column and value
memos stay out of the map.

Release. A build's checkpoint and cache blocks are the persistent RDDs
that appear in ``sc.getPersistentRDDs()`` while it runs; the registry
records their ids. ``clear()`` empties every memo, drops the session's
cached Datasets and unpersists the recorded blocks, so a long-lived
session (a REPL, a query server) frees executor storage with one call
(``queries.clear_cache``).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager, nullcontext
from typing import Any, Callable, Iterator, TypeVar

T = TypeVar("T")

# fixture name -> cumulative build seconds since the last reset()
TIMINGS: dict[str, float] = {}

# Active timer() blocks: [name, t0, child_seconds]. Builds nest
# (curation_v4 builds lm_scores/dedup_groups/... inside its own
# block); recording the FULL elapsed time of both parent and child
# double-counts the child in sum(TIMINGS.values()). Each entry
# therefore records EXCLUSIVE seconds (elapsed minus time spent in
# nested timer() blocks), so the map's sum is the true cold cost
# regardless of query order.
_STACK: list[list] = []

# (applicationId, name, *args) -> memoized value
_MEMO: dict[tuple, Any] = {}

# (applicationId, rdd id) of persistent RDDs that appeared during a build
_HELD: set[tuple[str, int]] = set()


@contextmanager
def timer(name: str) -> Iterator[None]:
    """Record the wall-clock seconds of a fixture build under ``name``.

    Cumulative: a fixture rebuilt after clear() (or built per sf_dir)
    adds to its entry rather than overwriting, so the map reflects
    total build cost in the audited window. Nested blocks record
    exclusive time (see _STACK note above).
    """
    frame = [name, time.perf_counter(), 0.0]
    _STACK.append(frame)
    try:
        yield
    finally:
        _STACK.pop()
        elapsed = time.perf_counter() - frame[1]
        if _STACK:
            _STACK[-1][2] += elapsed
        TIMINGS[name] = round(TIMINGS.get(name, 0.0) + (elapsed - frame[2]), 3)


def _persistent_ids(jsc) -> set[int]:
    # one toString() round trip instead of one py4j call per element
    ids = jsc.getPersistentRDDs().keySet().toString().strip("[]")
    return {int(i) for i in ids.split(",") if i.strip()}


def memo(spark, key: tuple, build: Callable[[], T], *, timed: bool = False) -> T:
    """The value memoized under ``(spark's applicationId, *key)``;
    ``build()`` runs on a miss. ``key[0]`` names the memo (the
    ``entries`` namespace and, with ``timed``, the ``TIMINGS`` name)."""
    app = spark.sparkContext.applicationId
    full = (app, *key)
    try:
        return _MEMO[full]
    except KeyError:
        pass
    jsc = spark.sparkContext._jsc
    before = _persistent_ids(jsc)
    try:
        with timer(key[0]) if timed else nullcontext():
            value = build()
    finally:  # a failed build's blocks are released by clear() too
        _HELD.update((app, i) for i in _persistent_ids(jsc) - before)
    _MEMO[full] = value
    return value


def memoized(name: str, *, timed: bool = False):
    """Decorator form of :func:`memo` for ``fn(spark, *args)``: the
    key is ``(name, *args)``."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, *args):
            return memo(spark, (name, *args), lambda: fn(spark, *args), timed=timed)

        return wrapper

    return deco


def entries(name: str) -> list:
    """The values memoized under ``name``, in build order."""
    return [v for k, v in _MEMO.items() if k[1] == name]


def clear() -> None:
    """Empty every memo and free the executor storage behind them.

    Drops the active session's cached Datasets (the DWD
    materializations and the operators' persisted intermediates) and
    unpersists the checkpoint blocks recorded during this app's
    builds. Idempotent; safe after the session stopped."""
    from py4j.protocol import Py4JError
    from pyspark.sql import SparkSession

    _MEMO.clear()
    held = set(_HELD)
    _HELD.clear()
    try:
        spark = SparkSession.getActiveSession()
        if spark is None:
            return
        spark.catalog.clearCache()
        app = spark.sparkContext.applicationId
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for held_app, rid in held:
            rdd = rdds.get(rid) if held_app == app else None
            if rdd is not None:
                rdd.unpersist(False)
    except Py4JError:
        pass  # the SparkContext stopped under the active session


def reset() -> None:
    TIMINGS.clear()


def snapshot() -> dict[str, float]:
    return dict(TIMINGS)
