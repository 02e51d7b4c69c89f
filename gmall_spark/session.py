"""SparkSession factory.

Replaces the per-job ``StreamExecutionEnvironment`` boilerplate of the
reference (e.g. gmall-realtime/src/main/java/com/atguigu/app/dwd/log/
BaseLogApp.java:29-36): one factory, scale-aware defaults.

Design notes for the 100 TB deployment (tested on local[32]):

- AQE on: runtime partition coalescing, skew-join splitting and
  dynamic join-strategy switching replace the reference's hand-pinned
  parallelism (1–4, tied to Kafka partition counts).
- ``spark.sql.shuffle.partitions`` defaults to 2× local cores; on a
  real cluster this is the *initial* number only — AQE coalesces.
- Session timezone defaults to UTC so parquet timestamps compare
  byte-for-byte with the DuckDB oracle; the reference pins GMT+8
  (DwdTradePayDetailSuc.java:24) — pass ``tz="GMT+8"`` to reproduce.
- Arrow enabled for every Pandas-UDF boundary.
- Python workers get the package root on their ``PYTHONPATH``, so a
  program started outside the repo root (with only ``sys.path``
  pointing at it) can run Python/Arrow UDFs.
- Streaming checkpoints (offsets, commits, state deltas, file-source
  logs) go through Spark's ``FileSystemBasedCheckpointFileManager``,
  the manager Spark itself falls back to for filesystems without a
  FileContext. Spark's default, the FileContext-based manager, gains
  nothing on the local FS: its no-overwrite rename there is the
  generic ``AbstractFileSystem.renameInternal``, a
  ``getFileLinkStatus`` check and then a rename, the same
  check-then-rename the FileSystem-based manager does. Without
  Hadoop's native library that link check forks a ``readlink`` for
  every checkpoint file. On HDFS, ``FileSystem.rename`` refuses an
  existing destination, so a commit still cannot overwrite one. A
  caller's own ``extra_conf`` setting of the key wins.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmall_spark import fixtures_audit

_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DEFAULT_SHUFFLE_PARTITIONS = int(_CPUS)
# Driver heap when SPARK_DRIVER_MEMORY is unset: half the host's
# physical memory, at most 48g, so the JVM never outgrows the host.
_HOST_MIB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
DEFAULT_DRIVER_MEMORY = f"{min(48 << 10, _HOST_MIB // 2)}m"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_session(
    app_name: str = "gmall_spark",
    master: str | None = None,
    tz: str = "UTC",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-aware defaults."""
    master = master or f"local[{_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the JVM merges this into each Python worker's PYTHONPATH
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY),
        )
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""),
        )
        # At 100 TB: ~128 MB split targets keep scan tasks balanced.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set the session conf ``key`` to ``value`` for the body of a
    ``with`` block, then restore the previous value (or unset it), also
    when the body raises. The flip is still session-global while the
    body runs: a query compiled at the same time on another thread of
    this session sees it too. Isolating it needs a
    ``spark.newSession()`` child (ROADMAP item 3), not this helper."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of the Python-literal tuples in the list ``rows``
    under ``schema`` (a DDL string or a ``StructType``), with the same
    schema, nullability included, as
    ``spark.createDataFrame(rows, schema)``.

    The rows travel as one Arrow table, so the plan's leaf is a JVM
    ``LocalRelation``: no pickled ``PythonRDD``, so no Python worker
    starts when the plan runs, and the relation carries real
    statistics for join planning. Every literal relation in the
    package goes through here (tests/test_session_memo.py lints for
    it)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


# Fact-sized tables whose downstream plans do heavy per-row derivation
# (CDC envelopes, log JSON, shingling, embedding folds). Dim tables
# (region/nation/part/supplier) stay un-normalized: they broadcast.
HEAVY_TABLES = frozenset(
    {"orders", "lineitem", "events", "customer", "documents", "embeddings"}
)


def parallel_scan(spark: SparkSession, df, heavy: bool = True):
    """Normalize scan parallelism for small-file inputs.

    A parquet file is splittable only at row-group boundaries; the
    driver's testdata writes ONE row group per table, so every scan —
    and all per-row derivation above it, until the first shuffle —
    runs in a single task regardless of cores. One round-robin
    repartition fans that work out across the cluster.

    Guarded so it is a no-op at real scale: when the scan already has
    at least ``defaultParallelism`` splits (any 100 TB table does),
    no exchange is added. AQE never coalesces an explicit
    ``repartition(n)``, so the fan-out survives adaptive re-planning.
    """
    if not heavy:
        return df
    target = spark.sparkContext.defaultParallelism

    def fans_out() -> bool:
        # df.rdd forces an RDD lineage conversion: cheap, but repeated
        # per call, and the answer depends only on the scanned files
        # and the parallelism — so it is memoized on those (ADVICE r2)
        try:
            return df.rdd.getNumPartitions() < target
        except Exception:  # pragma: no cover - exotic sources without RDD view
            return False

    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover - exotic sources
        fan_out = fans_out()
    else:
        fan_out = fixtures_audit.memo(spark, ("scan_fan_out", files, target), fans_out)
    return df.repartition(target) if fan_out else df


