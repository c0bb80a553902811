"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same settings are what we would
ship on a 1000-executor cluster:

* AQE on (runtime coalescing of shuffle partitions, skew-join
  splitting, dynamic broadcast conversion) so plans tuned at sf0.1
  survive a 100x scale-up.
* ANSI off: the reference engine has pandas cast semantics
  (failed cast -> null, division by zero -> no error), and the DuckDB
  oracle comparisons assume non-throwing casts.
* Session timezone UTC so ``date_format``/``to_date`` agree with the
  oracle regardless of host timezone.

The driver JVM starts from a dynamic class-data-sharing (CDS) archive
when one exists for this JDK, Spark install and driver heap; otherwise
it records one as it exits, and this process moves the archive into
place once that JVM has exited cleanly (see ``_cds_options``).
``-Xshare:off`` in ``spark.driver.extraJavaOptions`` opts out.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# a complete dynamic archive starts with JDK 17's CDS_DYNAMIC_ARCHIVE_MAGIC;
# the JVM writes the header last, so a dump cut short leaves it zeroed
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# a corrupt or mismatched archive falls back to a normal start; these
# keep the JVM's CDS warnings off the driver's stdout
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_recording: dict = {}  # the one recording this process owns: proc, tmp, archive


def graft_cpus() -> int | None:
    """The core count in ``SPARK_GRAFT_CPUS``, or None when it is unset,
    empty or not a positive integer (the caller then uses its default)."""
    value = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(value) if value.isdigit() and int(value) > 0 else None


def _cds_archive_key(spark_home: str, driver_memory: str) -> str | None:
    """``<install>-<heap>``, digests of what makes the JVM refuse an
    archive: the install is the ``java`` binary, its JDK release and
    the Spark jars (names, sizes, mtimes); the heap is the driver's.
    None when no ``java`` is found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    release = Path(java).parents[1] / "release"
    parts = [java, os.stat(java).st_mtime_ns, release.read_bytes() if release.is_file() else b""]
    jars = Path(spark_home) / "jars"
    if jars.is_dir():
        parts += sorted((j.name, j.stat().st_size, j.stat().st_mtime_ns) for j in jars.iterdir())

    def digest(value) -> str:
        return hashlib.sha256(repr(value).encode()).hexdigest()

    return f"{digest(parts)[:16]}-{digest(driver_memory)[:8]}"


def _prune(cache: Path, key: str) -> None:
    """Remove archives of another install and temp files whose process
    is gone; archives of the same install with another heap stay, so
    configurations that alternate in one cache keep theirs."""
    install = key.split("-")[0]
    for f in cache.iterdir():
        if f.suffix == ".jsa" and f.stem.split("-")[0] != install:
            f.unlink(missing_ok=True)
        elif f.suffix == ".tmp":
            pid = f.name.split(".")[1]
            try:
                os.kill(int(pid), 0)
            except (ValueError, ProcessLookupError):
                f.unlink(missing_ok=True)
            except PermissionError:
                pass


def _cds_options(user_java_opts: str, driver_memory: str) -> tuple[str, Path, tuple[Path, Path] | None] | None:
    """The JVM options that start the driver from the archive, or record
    it when none exists; the (empty) conf directory the JVM must see;
    and, when recording, the temp file and the archive path it goes to.

    None means a plain start: the caller opted out (``-Xshare`` or an
    archive of its own in its options), ``SPARK_CONF_DIR`` is set, the
    conf directory holds more than ``*.template`` files (CDS refuses a
    non-empty directory on the class path, and only then does pointing
    Spark at an empty one change nothing it reads), the cache cannot
    be written, or another live process is recording this key's archive
    (it is promoted when that process exits; a second recording would
    only pay the dump again)."""
    opts = f"{user_java_opts} {os.environ.get('JAVA_TOOL_OPTIONS', '')}"
    if any(flag in opts for flag in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None
    if os.environ.get("SPARK_CONF_DIR") or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    conf = Path(spark_home) / "conf"
    if conf.is_dir() and any(not f.name.endswith(".template") for f in conf.iterdir()):
        return None
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache") / "finance-etl-spark" / "cds"
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
    except OSError:
        return None
    key = _cds_archive_key(spark_home, driver_memory)
    # extraJavaOptions is split on whitespace; a non-empty conf/ would be read by Spark
    if key is None or not os.access(cache, os.W_OK) or any(c.isspace() for c in str(cache)) \
            or any((cache / "conf").iterdir()):
        return None
    _prune(cache, key)
    archive = cache / f"{key}.jsa"
    if archive.is_file():
        return f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", cache / "conf", None
    tmp = cache / f"{key}.{os.getpid()}.tmp"
    if any(f != tmp for f in cache.glob(f"{key}.*.tmp")):  # _prune left only live recorders
        return None
    return f"-XX:ArchiveClassesAtExit={tmp} {_CDS_QUIET}", cache / "conf", (tmp, archive)


def _promote_recording(wait: bool) -> None:
    """Move this process's recorded archive into place once its JVM has
    exited cleanly and the file is complete; a JVM that was killed, or
    a dump cut short, leaves nothing promoted.  ``wait`` (at exit) stops
    a context left running, whose accumulator server would otherwise
    report the JVM's exit as an error, then closes the JVM's stdin,
    which makes it exit, and waits for its dump."""
    if not _recording:
        return
    proc, tmp, archive = _recording["proc"], _recording["tmp"], _recording["archive"]
    if wait and proc.poll() is None:
        gateway, sc = SparkContext._gateway, SparkContext._active_spark_context
        if sc is not None and gateway is not None and gateway.proc is proc:
            sc.stop()
        proc.stdin.close()
    try:
        rc = proc.wait(timeout=120 if wait else 0)  # a close's classes dump in about 12 s
    except subprocess.TimeoutExpired:
        return
    _recording.clear()
    try:
        with open(tmp, "rb") as fh:
            complete = rc == 0 and fh.read(4) == _CDS_MAGIC
        if complete:
            os.replace(tmp, archive)
        else:
            tmp.unlink()
    except OSError:
        pass


atexit.register(_promote_recording, True)


def get_spark(
    app_name: str = "finance-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would size it to ~2-3x total executor cores, or simply
    rely on AQE coalescing from a higher initial number.
    """
    cpus = graft_cpus()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or 32

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # dimension joins should broadcast aggressively on big-memory
        # executors; AQE still decides from runtime sizes, so an
        # oversized estimate cannot OOM a genuinely large build side
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        # re-running a month must replace only that month's partition
        # in the curated lake, not truncate the table
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    # class-data sharing applies only where a new driver JVM launches
    _promote_recording(wait=False)
    cds = None
    if SparkContext._gateway is None and not _recording:
        cds = _cds_options(conf.get("spark.driver.extraJavaOptions", ""), conf["spark.driver.memory"])
    if cds:
        java_opts, conf_dir, recording = cds
        conf["spark.driver.extraJavaOptions"] = f"{conf.get('spark.driver.extraJavaOptions', '')} {java_opts}".strip()
        os.environ["SPARK_CONF_DIR"] = str(conf_dir)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            del os.environ["SPARK_CONF_DIR"]
    if cds and recording:
        _recording.update(proc=SparkContext._gateway.proc, tmp=recording[0], archive=recording[1])
    return spark
