"""The session-memo registry (gmall_spark.fixtures_audit): one memo
behind every per-session reuse, build timing, and release; plus the
Python-worker environment get_session sets up, its checkpoint-manager
rule and its scoped conf flip."""

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


def test_literal_rows_go_through_local_rows():
    """Spark-free lint: ``createDataFrame(list)`` and ``parallelize``
    plan a pickled PythonRDD whose tasks start Python workers; every
    literal relation in the package goes through session.local_rows,
    a JVM LocalRelation."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        helper = set()
        for f in tree.body:
            if path.name == "session.py" and getattr(f, "name", None) == "local_rows":
                helper = {id(n) for n in ast.walk(f)}
        offenders += [
            f"{path.relative_to(PKG.parent)}:{node.lineno} {node.func.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("createDataFrame", "parallelize")
            and id(node) not in helper
        ]
    assert not offenders, offenders


ROOT = PKG.parent
LLM = "gmall_spark.queries_llm"
FAMILIES = {p.stem for p in (PKG / "queries_llm").glob("*.py")} - {"__init__"}
SOURCE_HOOKS = {"_docs", "_emb", "_t"}


def _registry_offences(path: pathlib.Path) -> list[str]:
    """Names read off the ``queries_llm`` package instead of the family
    module that owns them, and assignments to the source hooks."""
    tree = ast.parse(path.read_text())
    aliases = set()  # names bound to the package itself
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            aliases |= {a.asname for a in node.names if a.name == LLM and a.asname}
        elif isinstance(node, ast.ImportFrom) and node.module == "gmall_spark":
            aliases |= {a.asname or a.name for a in node.names if a.name == "queries_llm"}
        elif isinstance(node, ast.ImportFrom) and node.module == LLM:
            out += [f"{node.lineno} imports {a.name}" for a in node.names if a.name not in FAMILIES]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr not in FAMILIES
            and (
                isinstance(node.value, ast.Name) and node.value.id in aliases
                or ast.unparse(node.value) == LLM
            )
        ):
            out.append(f"{node.lineno} reads {ast.unparse(node)}")
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AugAssign | ast.AnnAssign):
            targets = [node.target]
        out += [
            f"{node.lineno} assigns {ast.unparse(t)}"
            for t in targets
            if isinstance(t, ast.Attribute) and t.attr in SOURCE_HOOKS
        ]
        if (
            isinstance(node, ast.Call)
            and ast.unparse(node.func).split(".")[-1] == "setattr"
            and node.args
        ):
            name = [a.value for a in node.args[:2] if isinstance(a, ast.Constant)]
            if name and str(name[0]).split(".")[-1] in SOURCE_HOOKS:
                out.append(f"{node.lineno} assigns {name[0]} via setattr")
    return out


def test_registered_queries_have_one_import_path():
    """Spark-free lint: every ``queries_llm`` name is imported from (or
    read off) the family module that owns it, never off the package;
    no code patches the source hooks ``_docs``/``_emb``/``_t`` (a test
    plants a corpus with the ``plant`` fixture instead); and the
    package is only the ordered family imports plus one finalize."""
    paths = [*PKG.rglob("*.py"), *(ROOT / "tests").glob("*.py"),
             *(ROOT / "tools").glob("*.py"), ROOT / "bench.py"]
    offenders = [
        f"{p.relative_to(ROOT)}:{o}" for p in sorted(paths) for o in _registry_offences(p)
    ]
    assert not offenders, offenders

    body = ast.parse((PKG / "queries_llm" / "__init__.py").read_text()).body
    doc, *imports, finalize_import, finalize = body
    assert isinstance(doc, ast.Expr) and isinstance(doc.value, ast.Constant)
    imported = [a.name for node in imports for a in node.names]
    assert all(isinstance(n, ast.ImportFrom) and n.module == LLM for n in imports)
    assert sorted(imported) == sorted(FAMILIES), imported
    assert ast.unparse(finalize_import) == "from gmall_spark.queries import _finalize_registry"
    assert ast.unparse(finalize) == "_finalize_registry()"
    for path in PKG.rglob("*.py"):
        assert "_REGISTERED" not in path.read_text(), path


_IMPORT_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[2])
calls = []
sys.setprofile(lambda frame, event, arg: event == "call"
               and frame.f_code.co_name == "_finalize_registry"
               and calls.append(1))
__import__(sys.argv[1])
sys.setprofile(None)
from gmall_spark.queries import ORACLES, QUERIES
print(json.dumps({"finalized": len(calls), "queries": list(QUERIES),
                  "oracles": sorted(ORACLES.items())}))
"""


def test_registry_is_the_same_under_both_import_orders():
    """Importing ``gmall_spark.queries`` first or ``queries_llm`` first
    must finalize the registry exactly once and give the same 323
    queries in the same order, with the same 319 oracles. One fresh
    interpreter per order; Spark-free (no session starts)."""
    import json
    import subprocess
    import sys

    got = {}
    for first in ("gmall_spark.queries", LLM):
        out = subprocess.run(
            [sys.executable, "-c", _IMPORT_PROBE, first, str(ROOT)],
            capture_output=True, text=True, timeout=300, check=True,
        )
        got[first] = json.loads(out.stdout.splitlines()[-1])
        assert got[first]["finalized"] == 1, (first, got[first]["finalized"])
    a, b = got.values()
    assert len(a["queries"]) == 323 and len(a["oracles"]) == 319
    assert a == b


def test_default_driver_heap_fits_the_host():
    """Spark-free: with SPARK_DRIVER_MEMORY unset the driver heap is at
    most half the host's physical memory, and 48g on hosts of 96 GB
    or more."""
    import os

    from gmall_spark.session import DEFAULT_DRIVER_MEMORY

    assert DEFAULT_DRIVER_MEMORY.endswith("m")
    heap = int(DEFAULT_DRIVER_MEMORY[:-1]) << 20
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= host // 2
    assert heap == min(48 << 30, host // 2 >> 20 << 20)


class _RecordingBuilder:
    """SparkSession.builder stand-in: keeps the last value set per
    conf key, as Spark's builder does, and builds nothing."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(
            conf=self.conf,
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None),
        )


def test_checkpoint_manager_rule(monkeypatch):
    """Spark-free: get_session selects the FileSystem-based checkpoint
    manager; a manager the caller sets in extra_conf wins."""
    from gmall_spark import session
    from gmall_spark.session import CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER

    def built_conf(**kw):
        fake = types.SimpleNamespace(builder=_RecordingBuilder())
        monkeypatch.setattr(session, "SparkSession", fake)
        return session.get_session(**kw).conf

    assert built_conf()[CHECKPOINT_MANAGER_KEY] == LOCAL_CHECKPOINT_MANAGER
    mine = {CHECKPOINT_MANAGER_KEY: "my.Manager"}
    assert built_conf(extra_conf=mine)[CHECKPOINT_MANAGER_KEY] == "my.Manager"


def test_session_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    """The live session's streaming checkpoints, which Spark opens with
    CheckpointFileManager.create over the session's Hadoop conf, go
    through the FileSystem-based manager."""
    from gmall_spark.session import LOCAL_CHECKPOINT_MANAGER

    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    ckpt = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/ckpt")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert manager.create(ckpt, hadoop_conf).getClass().getName() == LOCAL_CHECKPOINT_MANAGER


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
    from gmall_spark.queries_llm import prelude

    jsc = spark.sparkContext._jsc

    def stored() -> set[int]:
        return {info.id() for info in jsc.sc().getRDDStorageInfo()}

    Q.clear_cache()
    before = fixtures_audit._persistent_ids(jsc)
    prelude._boiler_clean(spark, sf_dir)
    prelude._shot_boundaries(spark, sf_dir)
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
