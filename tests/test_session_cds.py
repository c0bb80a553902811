"""Class-data sharing for the driver JVM (``session._cds_options`` and
``session._promote_recording``): which options a launch gets, when CDS
stays off, and that only a complete recording is ever promoted.

Each test uses its own cache directory through ``XDG_CACHE_HOME``.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from finance_etl_pipeline_monthly_close_dataset_spark import session

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A Spark install of one jar and a template-only conf directory,
    an empty cache, and none of the settings that turn CDS off."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    return home


def test_missing_archive_records_into_a_per_process_temp_file(install):
    opts, conf_dir, (tmp, archive) = session._cds_options("", "8g")
    assert opts == f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=off -Xlog:cds+dynamic=off"
    assert tmp.name.endswith(f".{os.getpid()}.tmp") and tmp.parent == archive.parent
    assert not archive.exists()
    assert conf_dir.is_dir() and not any(conf_dir.iterdir())


def test_archive_with_the_right_key_is_read(install):
    _, _, (_, archive) = session._cds_options("", "8g")
    archive.write_bytes(session._CDS_MAGIC)
    opts, _, recording = session._cds_options("", "8g")
    assert recording is None
    assert opts.startswith(f"-XX:SharedArchiveFile={archive} ")


@pytest.mark.parametrize("change", ["jar", "new_jar"])
def test_stale_key_records_afresh_and_prunes_the_old_archive(install, change):
    _, _, (_, old) = session._cds_options("", "8g")
    old.write_bytes(session._CDS_MAGIC)
    if change == "jar":
        (install / "jars" / "spark-core.jar").write_bytes(b"a rebuilt jar")
    else:
        (install / "jars" / "spark-sql.jar").write_bytes(b"jar")
    opts, _, (tmp, new) = session._cds_options("", "8g")
    assert new != old and not old.exists()
    assert opts.startswith(f"-XX:ArchiveClassesAtExit={tmp} ")


def test_archives_of_two_heaps_coexist(install):
    """Two driver heaps alternating in one cache each keep their archive."""
    archives = {}
    for memory in ("8g", "4g"):
        _, _, (_, archives[memory]) = session._cds_options("", memory)
        archives[memory].write_bytes(session._CDS_MAGIC)
    assert archives["8g"] != archives["4g"]
    for memory in ("8g", "4g", "8g"):
        opts, _, recording = session._cds_options("", memory)
        assert recording is None
        assert opts.startswith(f"-XX:SharedArchiveFile={archives[memory]} ")
    assert all(a.exists() for a in archives.values())


def test_no_second_recording_while_another_process_records(install):
    _, _, (tmp, archive) = session._cds_options("", "8g")
    recorder = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE)
    theirs = tmp.with_name(f"{tmp.name.split('.')[0]}.{recorder.pid}.tmp")
    theirs.write_bytes(b"\0")
    try:
        assert session._cds_options("", "8g") is None  # a plain start
        # another heap's archive is not the one being recorded
        assert session._cds_options("", "4g")[2] is not None
    finally:
        recorder.stdin.close()
        recorder.wait()
    # once the recorder is gone its temp file is an orphan: record afresh
    opts, _, (mine, _) = session._cds_options("", "8g")
    assert not theirs.exists() and not archive.exists()
    assert opts.startswith(f"-XX:ArchiveClassesAtExit={mine} ")


def test_orphaned_temp_files_are_pruned(install):
    _, _, (tmp, _) = session._cds_options("", "8g")
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    orphan = tmp.with_name(f"{tmp.name.split('.')[0]}.{dead.pid}.tmp")
    live = tmp.with_name(f"{tmp.name.split('.')[0]}.{os.getppid()}.tmp")
    orphan.write_bytes(b"\0")
    live.write_bytes(b"\0")
    session._cds_options("", "8g")
    assert not orphan.exists() and live.exists()


@pytest.mark.parametrize("case", ["user_conf_dir", "non_template_conf", "xshare_off", "unwritable_cache"])
def test_cds_stays_off(install, tmp_path, monkeypatch, case):
    user_opts = ""
    if case == "user_conf_dir":
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "my-conf"))
    elif case == "non_template_conf":
        (install / "conf" / "spark-defaults.conf").write_text("spark.driver.cores 2\n")
    elif case == "xshare_off":
        user_opts = "-Dfoo=bar -Xshare:off"
    else:
        (tmp_path / "not-a-dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not-a-dir"))
    assert session._cds_options(user_opts, "8g") is None
    assert os.environ.get("SPARK_CONF_DIR") == (str(tmp_path / "my-conf") if case == "user_conf_dir" else None)
    assert not (tmp_path / "cache").exists()


@pytest.mark.parametrize(
    "exit_how, header, promoted",
    [
        ("killed", session._CDS_MAGIC, False),  # a killed JVM, whatever it left
        ("clean", b"\0\0\0\0", False),  # the dump stopped before its header
        ("clean", session._CDS_MAGIC, True),
    ],
)
def test_only_a_complete_recording_is_promoted(spark, install, monkeypatch, exit_how, header, promoted):
    monkeypatch.setattr(session, "_recording", {})
    _, _, (tmp, archive) = session._cds_options("", "8g")
    jvm = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"], stdin=subprocess.PIPE)
    tmp.write_bytes(header + b"\0" * 4096)
    session._recording.update(proc=jvm, tmp=tmp, archive=archive)
    # while the JVM runs, a new launch leaves the recording pending
    session._promote_recording(wait=False)
    assert tmp.exists() and not archive.exists() and session._recording
    if exit_how == "killed":
        jvm.kill()
    session._promote_recording(wait=True)  # what the exit hook does
    assert jvm.returncode == (0 if exit_how == "clean" else -9)
    assert archive.exists() == promoted
    assert not tmp.exists() and not session._recording
    # the hook stops only the context of the JVM it recorded
    assert spark.range(3).count() == 3


def _session_in_subprocess(cache: Path) -> subprocess.CompletedProcess:
    """A fresh interpreter that starts the engine's session, runs one
    query and prints its answer."""
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "PYTHONPATH": str(ROOT)}
    env.pop("SPARK_CONF_DIR", None)
    script = (
        "from finance_etl_pipeline_monthly_close_dataset_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1,"
        " extra_conf={'spark.ui.showConsoleProgress': 'false'})\n"
        "print(spark.range(10).selectExpr('sum(id)').first()[0])\n"
    )
    return subprocess.run([sys.executable, "-c", script], env=env, cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


def _keyed_archive(cache: Path) -> Path:
    from pyspark.find_spark_home import _find_spark_home

    key = session._cds_archive_key(_find_spark_home(), os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    return cache / "finance-etl-spark" / "cds" / f"{key}.jsa"


def test_corrupt_archive_falls_back_to_a_normal_start(tmp_path):
    archive = _keyed_archive(tmp_path)
    archive.parent.mkdir(parents=True)
    archive.write_bytes(os.urandom(1 << 16))
    out = _session_in_subprocess(tmp_path)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == "45\n"


def test_first_run_records_and_the_next_reads_with_clean_stdout(tmp_path):
    archive = _keyed_archive(tmp_path)
    first = _session_in_subprocess(tmp_path)
    assert first.returncode == 0, first.stderr[-2000:]
    assert first.stdout == "45\n"
    with open(archive, "rb") as fh:
        assert fh.read(4) == session._CDS_MAGIC
    assert [p.name for p in archive.parent.iterdir() if p.is_file()] == [archive.name]
    second = _session_in_subprocess(tmp_path)
    assert second.returncode == 0, second.stderr[-2000:]
    assert second.stdout == "45\n"
