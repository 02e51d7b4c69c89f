"""The session-memo registry (gmall_spark.fixtures_audit): one memo
behind every per-session reuse, build timing, and release; plus the
Python-worker environment get_session sets up and its scoped conf
flip."""

from __future__ import annotations

import ast
import pathlib
import time
import types

import pytest

from gmall_spark import fixtures_audit

PKG = pathlib.Path(__file__).resolve().parents[1] / "gmall_spark"


def _empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict | ast.List):
        return not (node.keys if isinstance(node, ast.Dict) else node.elts)
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list")
        and not node.args
        and not node.keywords
    )


def test_no_module_level_memo_outside_registry():
    """Spark-free lint: a module-level ``_UPPER = {}`` (or ``[]`` /
    ``dict()``) is a hand-rolled session memo that clear_cache cannot
    see; memoize through fixtures_audit.memo instead."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "fixtures_audit.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.startswith("_")
                    and t.id.isupper()
                    and _empty_container(value)
                ):
                    offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno} {t.id}")
    assert not offenders, offenders


class _FakeJsc:
    """getPersistentRDDs().keySet().toString() over a fixed id set."""

    def __init__(self):
        self.ids: set[int] = set()

    def getPersistentRDDs(self):
        ids = self.ids
        return types.SimpleNamespace(
            keySet=lambda: types.SimpleNamespace(
                toString=lambda: "[" + ", ".join(map(str, sorted(ids))) + "]"
            )
        )


def _fake_spark(app: str):
    sc = types.SimpleNamespace(applicationId=app, _jsc=_FakeJsc())
    return types.SimpleNamespace(sparkContext=sc)


@pytest.fixture
def registry(monkeypatch):
    """An empty registry for the test, the session's restored after."""
    monkeypatch.setattr(fixtures_audit, "_MEMO", {})
    monkeypatch.setattr(fixtures_audit, "_HELD", set())
    monkeypatch.setattr(fixtures_audit, "TIMINGS", {})


def test_memo_keys_builds_and_times(registry):
    """One build per (applicationId, key); only timed memos reach the
    fixtures map; nested timed builds record exclusive time; RDD ids
    that appear during a build are recorded for release."""
    calls = []
    a, b = _fake_spark("app-a"), _fake_spark("app-b")

    @fixtures_audit.memoized("outer", timed=True)
    def outer(spark, sf):
        calls.append(("outer", sf))
        spark.sparkContext._jsc.ids.add(7)
        return inner(spark, sf) + 1

    @fixtures_audit.memoized("inner", timed=True)
    def inner(spark, sf):
        calls.append(("inner", sf))
        time.sleep(0.05)
        return 41

    assert outer(a, "x") == outer(a, "x") == 42
    assert calls == [("outer", "x"), ("inner", "x")]
    outer(b, "x")  # another app: its own entry
    assert len(fixtures_audit.entries("outer")) == 2
    assert fixtures_audit.memo(a, ("plain", 1), lambda: "v") == "v"
    timings = fixtures_audit.snapshot()
    assert set(timings) == {"outer", "inner"}
    assert timings["outer"] < 0.05 <= timings["inner"]  # exclusive time
    assert ("app-a", 7) in fixtures_audit._HELD


def test_clear_cache_releases_fixture_storage(spark, sf_dir):
    """clear_cache must free the checkpoint blocks the fixture builds
    created, not only forget the memo entries — a long-lived session
    otherwise leaks executor storage on every clear."""
    from gmall_spark import queries as Q
    from gmall_spark import queries_llm as QL

    jsc = spark.sparkContext._jsc

    def stored() -> set[int]:
        return {info.id() for info in jsc.sc().getRDDStorageInfo()}

    Q.clear_cache()
    before = fixtures_audit._persistent_ids(jsc)
    QL._boiler_clean(spark, sf_dir)
    QL._shot_boundaries(spark, sf_dir)
    created = fixtures_audit._persistent_ids(jsc) - before
    assert len(created) >= 2 and created <= stored()

    Q.clear_cache()
    assert not created & fixtures_audit._persistent_ids(jsc)
    assert not created & stored()


def test_python_udf_runs_from_a_script_outside_the_repo(tmp_path, sf_dir):
    """A script started elsewhere, with only ``sys.path`` pointing at
    the package, must still run a Python/Arrow UDF: the workers import
    ``gmall_spark`` too, so get_session exports the package root to
    them. Runs in a subprocess so the session is fresh."""
    import os
    import subprocess
    import sys

    script = tmp_path / "udf_script.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(PKG.parent)!r})\n"
        "from gmall_spark.queries import QUERIES\n"
        "from gmall_spark.session import get_session\n"
        "spark = get_session(app_name='udf_outside_repo', shuffle_partitions=2)\n"
        # collect, not count: count would prune the UDF column
        "rows = QUERIES['sft_novelty_rougel'](spark, sys.argv[1]).collect()\n"
        "print('ROWS', len(rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, str(script), sf_dir],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS " in out.stdout, out.stdout[-2000:]


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """scoped_conf sets the key inside the block only: a key that was
    set gets its value back, an unset key is unset again, also when
    the body raises."""
    from gmall_spark.session import scoped_conf

    key = "spark.sql.optimizer.collapseProjectAlwaysInline"
    spark.conf.unset(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, key, "true"):
            assert spark.conf.get(key) == "true"
            raise RuntimeError("body failed")
    assert spark.conf.get(key, None) is None
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev
