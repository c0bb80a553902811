"""The single-file CSV sink's atomic swap, the rename-aside directory
promotion and the one parser of ``SPARK_GRAFT_CPUS``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.session import graft_cpus
from finance_etl_pipeline_monthly_close_dataset_spark.sources.writers import (
    promote_dir,
    recover_dir,
    write_csv_single_file,
)


def test_csv_single_file_replaces_the_previous_file(spark, tmp_path):
    path = str(tmp_path / "audit" / "dq_summary.csv")
    write_csv_single_file(spark.createDataFrame([(1,)], "n int"), path)
    write_csv_single_file(spark.createDataFrame([(2,), (3,)], "n int"), path)
    with open(path) as fh:
        assert fh.read() == "n\n2\n3\n"
    assert os.listdir(tmp_path / "audit") == ["dq_summary.csv"]


def test_csv_single_file_failed_write_keeps_the_previous_file(spark, tmp_path):
    path = str(tmp_path / "dq_exceptions.csv")
    write_csv_single_file(spark.createDataFrame([("old",)], "v string"), path)
    failing = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("v")
    )
    with pytest.raises(Exception, match="boom"):
        write_csv_single_file(failing, path)
    with open(path) as fh:
        assert fh.read() == "v\nold\n"
    assert os.listdir(tmp_path) == ["dq_exceptions.csv"]  # no temp dir left behind


def _mkdir(path, marker):
    os.makedirs(path)
    open(os.path.join(path, marker), "w").close()
    return str(path)


def test_promote_dir_recovers_every_crash_point(tmp_path):
    path = str(tmp_path / "t")
    old, scratch = path + "__old", path + "__building"

    # first promotion: no previous directory
    promote_dir(_mkdir(scratch, "v1"), path)
    assert os.listdir(tmp_path) == ["t"] and os.listdir(path) == ["v1"]

    # crash between the renames: only __old is left -> restored
    os.rename(path, old)
    recover_dir(path)
    assert os.listdir(path) == ["v1"] and not os.path.exists(old)

    # crash after the second rename: both present -> __old dropped;
    # a half-written scratch build is dropped too
    _mkdir(old, "v0")
    _mkdir(scratch, "half")
    recover_dir(path, scratch)
    assert os.listdir(tmp_path) == ["t"] and os.listdir(path) == ["v1"]

    # a promotion that finds a stale __old next to the current copy
    _mkdir(old, "v0")
    promote_dir(_mkdir(scratch, "v2"), path)
    assert os.listdir(tmp_path) == ["t"] and os.listdir(path) == ["v2"]


@pytest.mark.parametrize(
    "value,expected",
    [("8", 8), (" 4 ", 4), ("abc", None), ("", None), ("0", None), ("-2", None), (None, None)],
)
def test_graft_cpus_parses_positive_integers_only(monkeypatch, value, expected):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert graft_cpus() == expected
