"""The session factory's worker daemon: Spark's own archives are not
re-read per task, archives added mid-session still import, and a
spark-submit session (`cluster=True`) keeps Spark's stock daemon.  The
driver heap defaults to half the host's memory."""

from __future__ import annotations

import os
import zipfile
from unittest import mock

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from biomedical_el_spark.session import get_spark


def test_worker_does_not_reread_spark_archives_per_task(spark):
    """Count the archive directory reads that a task's
    `importlib.invalidate_caches()` (as `setup_spark_files` calls it)
    makes for pyspark.zip, py4j and the spark-core jar."""

    @F.pandas_udf("long")
    def spark_archive_reads(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        archives = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: (archives.append(a), read(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        spark_reads = [
            a for a in archives
            if os.path.basename(a).startswith(("pyspark", "py4j", "spark-core"))
        ]
        return pd.Series([len(spark_reads)] * len(s))

    df = spark.range(0, 64, numPartitions=8)
    reads = df.select(spark_archive_reads("id").alias("n")).agg(F.max("n")).first()[0]
    assert reads == 0


def test_add_py_file_imports_mid_session(spark, tmp_path):
    """A zip added by addPyFile after workers have run tasks is still
    found: its importer is not pinned."""

    @F.pandas_udf("long")
    def identity(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 8, numPartitions=8).select(identity("id")).collect()
    path = str(tmp_path / "session_addpyfile_mod.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("session_addpyfile_mod.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(path)

    @F.pandas_udf("long")
    def from_added_zip(s: pd.Series) -> pd.Series:
        import session_addpyfile_mod

        return s * 0 + session_addpyfile_mod.VALUE + 1

    got = spark.range(0, 16, numPartitions=8).select(from_added_zip("id")).collect()
    assert {r[0] for r in got} == {42}


@pytest.fixture
def builder_options(monkeypatch):
    """The options `get_spark` sets on the builder, captured instead of
    building a session."""
    options = {}

    def capture(builder):
        options.clear()
        options.update(builder._options)
        return mock.MagicMock()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    return options


def test_only_local_sessions_set_the_daemon_module(builder_options):
    options = builder_options
    get_spark(cluster=True, shuffle_partitions=8)
    assert "spark.app.name" in options
    assert "spark.python.daemon.module" not in options
    get_spark(cores=2, shuffle_partitions=8)
    assert options["spark.python.daemon.module"] == "biomedical_el_spark._daemon"


def test_driver_memory_defaults_to_half_the_host(builder_options, monkeypatch):
    """Half of physical memory, capped at 24g; SPARK_DRIVER_MEM wins."""
    sysconf = os.sysconf
    host = {}
    monkeypatch.setattr(
        os, "sysconf",
        lambda name: host[name] if name in host else sysconf(name),
    )
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    for gib, want in ((15, "7680m"), (64, "24576m")):
        host.update(SC_PAGE_SIZE=4096, SC_PHYS_PAGES=gib * 2**30 // 4096)
        get_spark(cores=2, shuffle_partitions=8)
        assert builder_options["spark.driver.memory"] == want
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    get_spark(cores=2, shuffle_partitions=8)
    assert builder_options["spark.driver.memory"] == "3g"
