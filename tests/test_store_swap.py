"""The streaming state layout (streaming/store.py): the
``epoch=<batch_id>`` partitions every twin keeps its state in, and
what a twin module may hold at all."""

from __future__ import annotations

import ast
import inspect
import io
import pathlib
import tokenize

import pytest
from pyspark.sql import types as T

from gmall_spark.streaming import store
from gmall_spark.streaming.runner import idempotent_parquet_write

SCHEMA = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.LongType())])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


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


def test_missing_store_is_empty_not_error(spark, tmp_path):
    """Only a missing path means 'first batch': a store that exists
    but cannot be read as parquet raises instead of reading as empty,
    which would silently drop the twin's state."""
    assert _rows(store.read_epochs(spark, str(tmp_path / "never"), SCHEMA)) == set()
    bad = tmp_path / "bad"
    (bad / "epoch=0").mkdir(parents=True)
    (bad / "epoch=0" / "part-0.parquet").write_text("not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        store.read_epochs(spark, str(bad), SCHEMA).collect()


def test_time_travel_reads_retained_versions(spark, tmp_path):
    """A batch writes only its own epoch, so every earlier epoch is a
    retained version: ``before=v + 1`` reads the state as of epoch
    ``v``, and that read stays the same as newer epochs land."""
    p = str(tmp_path / "tt")
    write = idempotent_parquet_write(p)
    for v in range(3):
        write(spark.range(v * 10, v * 10 + 10).selectExpr("id AS k", "id AS v"), v)
    assert store.read_epochs(spark, p, SCHEMA, before=1).count() == 10
    as_of_1 = store.read_epochs(spark, p, SCHEMA, before=2)
    assert as_of_1.count() == 20
    write(spark.range(30, 40).selectExpr("id AS k", "id AS v"), 3)
    assert as_of_1.count() == 20
    assert store.read_epochs(spark, p, SCHEMA).count() == 40


STREAMING = pathlib.Path(store.__file__).parent


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
    or a catalog-table write (``saveAsTable``) ignores the batch id
    and double-counts a replayed epoch, and a hand-rolled directory
    lister duplicates read_epochs. The one exemption is
    incremental_range_plan's plan versions."""
    offenders = []
    for path in sorted(STREAMING.glob("*.py")):
        offenders += [
            f"{path.name}:{c.lineno} mode('append')"
            for c in _calls(path, "mode", set())
            if [getattr(a, "value", None) for a in c.args] == ["append"]
        ]
        offenders += [
            f"{path.name}:{c.lineno} saveAsTable"
            for c in _calls(path, "saveAsTable", set())
        ]
        if path.name.startswith("incremental_"):
            plan_versions = path.name == "incremental_range_plan.py"
            exempt = {"_plan_versions"} if plan_versions else set()
            offenders += [
                f"{path.name}:{c.lineno} os.listdir"
                for c in _calls(path, "listdir", exempt)
            ]
    assert not offenders, offenders


# the longest run of code tokens a twin may share with another module,
# about nine lines of code. The longest shared runs left (45-51 tokens)
# are imports plus a process_batch signature, two image twins' one-line
# store readers, and the column names incremental_domain_rollup's merge
# shares with web_domain_rollup
COPY_TOKENS = 60

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _code_tokens(src: str) -> list[tuple[int, str]]:
    """(line number, text) of every code token of ``src``: comments,
    docstrings and layout (line breaks, indentation) dropped, so a copy
    wrapped or indented differently has its original's token stream."""
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Module | ast.ClassDef | ast.FunctionDef):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docs.add((first.lineno, first.col_offset))
    return [
        (tok.start[0], tok.string)
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type not in _LAYOUT and tok.start not in docs
    ]


def _windows(sources: dict[str, str]) -> dict[tuple[str, ...], list[tuple[str, int]]]:
    """Every window of COPY_TOKENS consecutive code tokens of
    ``sources`` (module name -> source text), keyed by its tokens, with
    the (module, line) of each place it starts."""
    places: dict[tuple[str, ...], list[tuple[str, int]]] = {}
    for name, src in sources.items():
        code = _code_tokens(src)
        texts = [t for _, t in code]
        for i in range(len(texts) - COPY_TOKENS + 1):
            places.setdefault(tuple(texts[i : i + COPY_TOKENS]), []).append((name, code[i][0]))
    return places


def _copies(sources: dict[str, str], twins: list[str]) -> list[str]:
    """"<twin>:<line> also in <modules>" for every window of COPY_TOKENS
    consecutive code tokens of a twin in ``twins`` that also appears in
    another of ``sources`` (module name -> source text)."""
    offenders = []
    for places in _windows(sources).values():
        names = {name for name, _ in places}
        offenders += [
            f"{name}:{line} also in " + ", ".join(sorted(names - {name}))
            for name, line in places
            if name in twins and names - {name}
        ]
    return offenders


def _repeats(sources: dict[str, str]) -> list[str]:
    """"<module>:<line> also at <module>:<line>, ..." for every window
    of COPY_TOKENS code tokens that starts at two or more places of
    ``sources``, inside one module or across them."""
    return [
        f"{name}:{line} also at " + ", ".join(f"{n}:{k}" for n, k in places if (n, k) != (name, line))
        for places in _windows(sources).values()
        if len(places) > 1
        for name, line in places
    ]


def test_twins_call_their_batch_functions_instead_of_copying():
    """Spark-free lint: a twin's increment and view call the batch
    query's functions; a run of COPY_TOKENS code tokens in a
    streaming/incremental_*.py module that also appears in another
    module is a copy that only the equality tests keep in step."""
    pkg = STREAMING.parent
    sources = {str(p.relative_to(pkg)): p.read_text() for p in sorted(pkg.rglob("*.py"))}
    twins = [n for n in sources if n.startswith("streaming/incremental_")]
    assert len(twins) > 30
    offenders = _copies(sources, twins)
    assert not offenders, offenders


def test_copy_lint_sees_a_rewrapped_copy():
    """Spark-free: a copy of tok_media.edit_verify_rows with every
    statement on one line and its tokens respaced shares no code line
    with the original, so no run of lines matches, yet the token
    windows flag it, in another module and in the same one."""
    from gmall_spark.queries_llm import tok_media

    pkg = STREAMING.parent
    original = (pkg / "queries_llm" / "tok_media.py").read_text()
    func = inspect.getsource(tok_media.edit_verify_rows)
    doc = ast.parse(func).body[0].body[0]
    copy = tokenize.untokenize(
        (t.type, t.string)
        for t in tokenize.generate_tokens(io.StringIO(func).readline)
        if t.type not in (tokenize.NL, tokenize.COMMENT)
        and t.start != (doc.lineno, doc.col_offset)
    )
    compile(copy, "planted", "exec")

    def lines(src):
        return {" ".join(line.split()) for line in src.splitlines()} - {""}

    assert not lines(copy) & lines(original), lines(copy) & lines(original)
    sources = {"queries_llm/tok_media.py": original, "streaming/incremental_planted.py": copy}
    assert _copies(sources, ["streaming/incremental_planted.py"])
    # pasted into the same module, the copy is a repeat the twin lint
    # (across modules only) does not report
    assert _repeats({"queries_llm/tok_media.py": original + "\n" + copy})


# the vector top-k tiers and their queries; ann_oracles.py is the
# reference SQL the parity tests compare against, so it stays out
ANN_MODULES = [
    "operators/similarity.py",
    "operators/ivf.py",
    "operators/pq.py",
    "operators/sq.py",
    "queries_llm/ann_topk.py",
    "queries_llm/ann_eval.py",
]


def test_ann_tiers_share_one_search_core():
    """Spark-free lint: every ANN tier ranks through
    similarity.rank_topk/refine_topk and trains through ivf.md5_sample
    and ivf.lloyd, so no run of COPY_TOKENS code tokens appears twice
    in or across the ANN modules."""
    pkg = STREAMING.parent
    offenders = _repeats({name: (pkg / name).read_text() for name in ANN_MODULES})
    assert not offenders, offenders
