from __future__ import annotations

import os

import pytest

from gmall_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="gmall_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            # keep catalog artifacts (bucketed-table tests) out of the repo
            "spark.sql.warehouse.dir": "/tmp/gmall_spark_test_warehouse",
            "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/gmall_spark_test_derby",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def plant(sf_dir, tmp_path_factory):
    """Plant a corpus for the registered queries to read through their
    real reader (``queries._t``): ``plant(documents=df)`` writes each
    frame to ``<fresh dir>/<table>.parquet``, links every other table
    of ``sf_dir`` beside it, and returns the fresh dir to pass as
    ``sf_dir``. One dir per call: session memos are keyed on the
    ``sf_dir`` path, so a reused dir would serve the previous corpus."""

    def _plant(**frames) -> str:
        d = tmp_path_factory.mktemp("planted")
        for table, df in frames.items():
            df.coalesce(1).write.parquet(str(d / f"{table}.parquet"))
        for name in os.listdir(sf_dir):
            if not (d / name).exists():
                os.symlink(os.path.join(sf_dir, name), d / name)
        return str(d)

    return _plant
