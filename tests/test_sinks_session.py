"""The single-file CSV sink's atomic swap, the rename-aside directory
promotion and the staged commit's recovery, and the one parser of
``SPARK_GRAFT_CPUS``."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.session import graft_cpus
from finance_etl_pipeline_monthly_close_dataset_spark.sources.writers import (
    promote_dir,
    recover_commit,
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

    # commit_dir over the same rule: at each crash point the next
    # start's recover_commit leaves the old set before the commit
    # rename and the whole new set after it
    def commit(t):
        os.rename(os.path.join(t, "_staging"), os.path.join(t, "_commit"))

    def move(name, how=promote_dir):
        return lambda t: how(os.path.join(t, "_commit", name), os.path.join(t, name))

    def aside(name):
        return lambda t: os.rename(os.path.join(t, name), os.path.join(t, name + "__old"))

    crash_points = {  # crash point: (the steps done before it, the set recovered)
        "staged": ([], "old"),
        "staged_with_an_aside_copy": ([aside("a")], "old"),
        "renamed": ([commit], "new"),
        "first_moved": ([commit, move("a")], "new"),
        "aside_copy_left": ([commit, move("a"), lambda t: _mkdir(os.path.join(t, "a__old"), "old")], "new"),
        "between_renames": ([commit, move("a"), aside("b")], "new"),
        "all_moved": ([commit, move("a"), move("b"), move("f", os.replace)], "new"),
    }
    for crash, (steps, want) in crash_points.items():
        target = _version_set(tmp_path / crash, "old")
        _version_set(tmp_path / crash / "_staging", "new")
        for step in steps:
            step(target)
        recover_commit(target)
        assert _versions(target) == want, crash


def _version_set(root, version):
    """Directories ``a`` and ``b`` and a file ``f``, each holding ``version``."""
    for d in ("a", "b"):
        _mkdir(root / d, version)
    (root / "f").write_text(version)
    return str(root)


def _versions(root):
    """The one version a ``_version_set`` holds, with nothing else left in ``root``."""
    assert sorted(os.listdir(root)) == ["a", "b", "f"]
    (version,) = {*os.listdir(os.path.join(root, "a")), *os.listdir(os.path.join(root, "b")),
                  Path(root, "f").read_text()}
    return version


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
