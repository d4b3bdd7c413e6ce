"""SparkSession factory.

Defaults are tuned for the local test harness (``local[N]``, one JVM) while
remaining correct on a real cluster: AQE enabled for runtime re-planning
(partition coalescing, skew-join splitting, broadcast demotion), UTC session
timezone so results compare bit-for-bit against the DuckDB oracle, and Arrow
for every Pandas-UDF exchange.

At 100 TB the only knobs that change are sizing knobs, not code:
``spark.sql.shuffle.partitions`` (set ~2-3x total cores; AQE coalesces down),
``spark.sql.files.maxPartitionBytes`` (keep scan tasks ~128-256 MB), and
executor memory. Every plan in this repo is declarative, so Catalyst keeps
predicate pushdown / column pruning / join selection at any scale.

Driver start-up. Most of a fresh driver's set-up is loading, parsing and
verifying Spark's and Scala's classes, so the driver JVM starts from a
dynamic class-data archive (JEP 350) that the engine trains itself.
``archive_launch`` keys it by the JDK (the realpath of the ``java`` that
spark-class runs: ``$JAVA_HOME/bin/java``, else the one on ``PATH``) and the
name, size and mtime of every jar under ``$SPARK_HOME/jars``, and keeps it
at ``${XDG_CACHE_HOME:-~/.cache}/airflow_spotify_etl_spark/cds/<key>.jsa``:

- archive present: the JVM starts with ``-XX:SharedArchiveFile``;
- archive absent: the JVM starts with ``-XX:ArchiveClassesAtExit`` on
  ``<key>.<python pid>.tmp`` and dumps the classes of its own code path as
  it exits (about 20 s, once per host). The next launch promotes a
  ``.tmp`` that carries the dynamic-archive magic (the JDK writes the
  header last, so a dump cut short is never promoted) and deletes every
  other ``.tmp`` and every other key's archive.

JDK 17 refuses an archive whose classpath holds a non-empty directory, and
spark-class puts ``$SPARK_CONF_DIR`` first on it, so for the launch only a
conf directory that holds nothing but ``*.template`` files is swapped for an
empty one in the cache. With live config there, an unwritable cache or a
JVM that is already running, the driver starts exactly as it would without
the archive. After start, ``get_spark`` logs one INFO line on the engine's
logger (``driver class-data archive: used <path> | training <tmp> |
off (<reason>) | unknown <path>``), and deletes an archive that the JVM was
given but did not map, so the next launch trains a new one.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import logging
import os
import shutil
import subprocess
from dataclasses import dataclass
from typing import Mapping

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

__all__ = ["ArchiveLaunch", "archive_launch", "get_spark", "stop_spark"]

log = logging.getLogger("airflow_spotify_etl_spark")

# First four bytes of a JDK dynamic archive (0xf00baba8, little-endian).
_DYNAMIC_MAGIC = b"\xa8\xab\x0b\xf0"
# Keep the dump's ~570 "[cds] Skipping ..." warnings off the job's stdout.
_QUIET_CDS = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_DUMP_WAIT_S = 120.0


@dataclass(frozen=True)
class ArchiveLaunch:
    """How a new driver JVM uses the class-data archive. ``mode`` is
    ``used`` (``path`` is the archive), ``training`` (``path`` is the
    ``.tmp`` the JVM dumps to at exit) or ``off`` (today's launch, for
    ``reason``). ``java_options`` go into ``spark.driver.extraJavaOptions``
    and ``conf_dir`` replaces ``SPARK_CONF_DIR`` for the launch."""

    mode: str
    path: str = ""
    java_options: str = ""
    conf_dir: str | None = None
    reason: str = ""


def _off(reason: str) -> ArchiveLaunch:
    return ArchiveLaunch("off", reason=reason)


def _java(environ: Mapping[str, str]) -> str:
    """The ``java`` that spark-class runs for ``environ``."""
    if environ.get("JAVA_HOME"):
        return os.path.join(environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java", path=environ.get("PATH")) or ""


def _archive_key(java: str, jars_dir: str) -> str:
    h = hashlib.sha256(os.path.realpath(java).encode())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _has_magic(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _DYNAMIC_MAGIC
    except OSError:
        return False


def _promote(cds: str, key: str) -> None:
    """Move this key's newest complete dump into place (never over an
    existing archive), then delete every ``.tmp`` and every other key's
    archive."""
    archive = os.path.join(cds, f"{key}.jsa")
    names = os.listdir(cds)
    done = [os.path.join(cds, n) for n in names if n.startswith(f"{key}.") and n.endswith(".tmp")
            and _has_magic(os.path.join(cds, n))]
    if done and not os.path.exists(archive):
        os.replace(max(done, key=os.path.getmtime), archive)
    for n in names:
        if n.endswith(".tmp") or (n.endswith(".jsa") and n != f"{key}.jsa"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(cds, n))


def archive_launch(environ: Mapping[str, str]) -> ArchiveLaunch:
    """Decide how a new driver JVM, launched with ``environ``, uses the
    class-data archive: prepare the cache (promote a finished dump, delete
    stale files), then use the archive or train a missing one."""
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    real_conf = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    live = [n for n in (os.listdir(real_conf) if os.path.isdir(real_conf) else [])
            if not n.endswith(".template")]
    if live:
        return _off(f"live config in {real_conf}: {', '.join(sorted(live))}")
    cache = environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cds = os.path.join(cache, "airflow_spotify_etl_spark", "cds")
    try:
        key = _archive_key(_java(environ), os.path.join(spark_home, "jars"))
        os.makedirs(os.path.join(cds, "conf"), exist_ok=True)
        if not os.access(cds, os.W_OK):
            raise PermissionError(f"{cds} is not writable")
        _promote(cds, key)
        cds = os.path.realpath(cds)
        conf_dir = os.path.join(cds, "conf")
        if os.listdir(conf_dir):
            return _off(f"{conf_dir} is not empty")
    except OSError as exc:
        return _off(f"archive cache unusable: {exc}")
    if any(c.isspace() for c in cds):
        return _off(f"whitespace in {cds}")

    archive = os.path.join(cds, f"{key}.jsa")
    if os.path.isfile(archive):
        return ArchiveLaunch(
            "used", archive, f"{_QUIET_CDS} -XX:SharedArchiveFile={archive}", conf_dir
        )
    dump = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    return ArchiveLaunch(
        "training", dump, f"{_QUIET_CDS} -XX:ArchiveClassesAtExit={dump}", conf_dir
    )


@contextlib.contextmanager
def _conf_dir_for_launch(conf_dir: str | None):
    if conf_dir is None:
        yield
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _finish_dump() -> None:
    """At interpreter exit after a training launch: stop the context, close
    the gateway's stdin (the JVM exits on EOF and dumps the archive) and
    wait up to ``_DUMP_WAIT_S`` for the JVM, so no orphan JVM is still
    writing after Python returns. A no-op once the gateway is gone (as
    after perfbench's ``stop_engine``, which waits 30 s before SIGTERM: a
    dump it cuts short leaves a zero header, which the next launch deletes
    before training again)."""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Py4JError):  # the JVM may already be gone
            SparkContext._active_spark_context.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    with contextlib.suppress(subprocess.TimeoutExpired):
        proc.wait(timeout=_DUMP_WAIT_S)


def _report(spark: SparkSession, launch: ArchiveLaunch) -> None:
    """Log whether the archive served this launch; drop one it rejected."""
    if launch.mode != "used":
        what = f"training {launch.path}" if launch.mode == "training" else f"off ({launch.reason})"
        log.info("driver class-data archive: %s", what)
        return
    pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    try:
        with open(f"/proc/{pid}/maps") as f:
            mapped = launch.path in f.read()
    except OSError:
        log.info("driver class-data archive: unknown %s", launch.path)
        return
    if mapped:
        log.info("driver class-data archive: used %s", launch.path)
        return
    log.info("driver class-data archive: off (%s was not mapped; deleted)", launch.path)
    with contextlib.suppress(FileNotFoundError):
        os.remove(launch.path)


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "airflow_spotify_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create the engine's SparkSession, or return the active one unchanged.

    Parameters mirror what an Airflow ``SparkSubmitOperator`` would pass as
    ``--conf`` (reference keeps Airflow as scheduler only; see
    spotify_dag.py:29-34 in the reference for the orchestration seam).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cores = _default_parallelism()
    resolved_master = master or f"local[{cores}]"
    conf = {
        # Shuffle sizing: ~cores locally. On a cluster this is 2-3x total
        # cores; AQE coalesces small post-shuffle partitions either way.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # UTC so timestamp results hash-match the (UTC-naive) DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        # Arrow batches for createDataFrame/toPandas and pandas UDFs.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # The test events table stores TIMESTAMP(NANOS) which the parquet
        # vectorized reader can't map to TimestampType; read as long and
        # convert (sources/files.py truncates ns → µs like DuckDB does).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Keep scan tasks ~128 MB so a 100 TB table yields ~800k tasks, not 8.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Quiet, headless local runs.
        "spark.ui.enabled": "false",
        # No Python call-site capture: with it on, PySpark wraps every
        # Column/functions call in py4j round trips (origin set and clear,
        # a conf read) and a Python stack walk: more than half of the
        # round trips of a cold operation. It only adds the Python
        # file:line to an error's query context; errors still raise, with
        # their JVM-side context (the SQL fragment and the plan).
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.extraJavaOptions": "-Dlog4j2.level=warn",
    }
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        conf["spark.driver.memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    elif resolved_master.startswith("local"):
        # In local mode the driver JVM IS every executor; the JVM's ~1g
        # default heap OOMs on wide shuffles long before the machine does.
        conf["spark.driver.memory"] = "16g"
    conf.update(extra_conf or {})
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        launch = _off("the driver JVM is already running")
    else:
        launch = archive_launch(os.environ)
    if launch.java_options:
        opts = conf["spark.driver.extraJavaOptions"]
        conf["spark.driver.extraJavaOptions"] = f"{opts} {launch.java_options}"
    builder = SparkSession.builder.appName(app_name).master(resolved_master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _conf_dir_for_launch(launch.conf_dir):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _report(spark, launch)
    if launch.mode == "training":
        atexit.register(_finish_dump)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
