"""The driver JVM's class-data archive (session.archive_launch, get_spark),
and the session's call-site capture setting.

The fast tests drive ``archive_launch`` over a fake JDK, Spark home and
cache, with no JVM. The slow ones run a small pipeline in child processes
that share one fresh cache: the first trains the archive, the second starts
from it, and a garbage archive is rejected, deleted and the run is still
correct."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from airflow_spotify_etl_spark.session import _DYNAMIC_MAGIC, _archive_key, _java, archive_launch

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture()
def env(tmp_path):
    jdk, spark = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "bin" / "java").chmod(0o755)
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    for name in ("spark-core.jar", "scala-library.jar"):
        (spark / "jars" / name).write_bytes(b"x" * 10)
    (spark / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    return {
        "JAVA_HOME": str(jdk),
        "SPARK_HOME": str(spark),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "PATH": os.environ.get("PATH", ""),
    }


def _cds(env) -> Path:
    return Path(env["XDG_CACHE_HOME"]) / "airflow_spotify_etl_spark" / "cds"


def _key(env) -> str:
    return _archive_key(_java(env), os.path.join(env["SPARK_HOME"], "jars"))


def test_key_follows_jar_size_mtime_and_java_home(env, tmp_path):
    key = _key(env)
    assert _key(env) == key
    jar = Path(env["SPARK_HOME"]) / "jars" / "spark-core.jar"
    jar.write_bytes(b"x" * 11)
    assert _key(env) != key
    key = _key(env)
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _key(env) != key
    key = _key(env)
    other_jdk = tmp_path / "jdk2"
    other_jdk.mkdir()
    assert _key({**env, "JAVA_HOME": str(other_jdk)}) != key


def test_key_is_the_same_whether_java_comes_from_java_home_or_path(env, tmp_path):
    """spark-class runs ``$JAVA_HOME/bin/java``, else the ``java`` on
    ``PATH``; one JDK gives one key either way, also through a symlink (as
    ``/usr/bin/java``), so launches of the two kinds share one archive."""
    jdk_bin = Path(env["JAVA_HOME"]) / "bin"
    links = tmp_path / "usr-bin"
    links.mkdir()
    (links / "java").symlink_to(jdk_bin / "java")
    key = _key(env)
    for path in (str(jdk_bin), str(links)):
        no_home = {k: v for k, v in env.items() if k != "JAVA_HOME"}
        assert _key({**no_home, "PATH": path}) == key
        launch = archive_launch({**no_home, "PATH": path})
        assert Path(launch.path).name.startswith(f"{key}.")


def test_missing_archive_trains_on_a_pid_tmp(env):
    launch = archive_launch(env)
    cds = _cds(env)
    assert launch.mode == "training"
    assert launch.path == str(cds / f"{_key(env)}.{os.getpid()}.tmp")
    assert launch.java_options.split() == [
        "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-XX:ArchiveClassesAtExit={launch.path}",
    ]


def test_complete_dump_is_promoted_and_every_other_file_deleted(env):
    cds, key = _cds(env), _key(env)
    cds.mkdir(parents=True)
    (cds / f"{key}.11.tmp").write_bytes(_DYNAMIC_MAGIC + b"archive")
    (cds / f"{key}.12.tmp").write_bytes(b"\0\0\0\0cut short")
    (cds / "0123456789abcdef.13.tmp").write_bytes(_DYNAMIC_MAGIC + b"other key")
    (cds / "0123456789abcdef.jsa").write_bytes(_DYNAMIC_MAGIC + b"other key")
    launch = archive_launch(env)
    assert launch.mode == "used" and launch.path == str(cds / f"{key}.jsa")
    assert launch.java_options.split() == [
        "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-XX:SharedArchiveFile={launch.path}",
    ]
    assert {p.name for p in cds.iterdir()} == {"conf", f"{key}.jsa"}
    assert (cds / f"{key}.jsa").read_bytes() == _DYNAMIC_MAGIC + b"archive"


def test_zero_header_dump_is_deleted_and_retrained(env):
    cds, key = _cds(env), _key(env)
    cds.mkdir(parents=True)
    (cds / f"{key}.12.tmp").write_bytes(b"\0" * 64)
    launch = archive_launch(env)
    assert launch.mode == "training"
    assert {p.name for p in cds.iterdir()} == {"conf"}


def test_existing_archive_is_never_overwritten(env):
    cds, key = _cds(env), _key(env)
    cds.mkdir(parents=True)
    (cds / f"{key}.jsa").write_bytes(_DYNAMIC_MAGIC + b"first")
    (cds / f"{key}.11.tmp").write_bytes(_DYNAMIC_MAGIC + b"second")
    assert archive_launch(env).mode == "used"
    assert (cds / f"{key}.jsa").read_bytes() == _DYNAMIC_MAGIC + b"first"
    assert not (cds / f"{key}.11.tmp").exists()


def test_templates_only_conf_dir_is_swapped_for_an_empty_one(env):
    launch = archive_launch(env)
    conf_dir = _cds(env) / "conf"
    assert launch.conf_dir == str(conf_dir)
    assert conf_dir.is_dir() and not any(conf_dir.iterdir())


@pytest.mark.parametrize("where", ["spark_home", "spark_conf_dir"])
def test_live_config_starts_as_today(env, tmp_path, where):
    if where == "spark_home":
        conf = Path(env["SPARK_HOME"]) / "conf"
    else:
        conf = tmp_path / "site-conf"
        conf.mkdir()
        env = {**env, "SPARK_CONF_DIR": str(conf)}
    (conf / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    launch = archive_launch(env)
    assert launch.mode == "off" and "spark-defaults.conf" in launch.reason
    assert launch.java_options == "" and launch.conf_dir is None
    assert not _cds(env).exists()


def test_unwritable_cache_starts_as_today(env, tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    launch = archive_launch({**env, "XDG_CACHE_HOME": str(blocker)})
    assert launch.mode == "off" and launch.reason.startswith("archive cache unusable")
    assert launch.java_options == "" and launch.conf_dir is None


# ---------------------------------------------------------------------------
# Slow tier: real driver JVMs in child processes over one fresh cache.
# ---------------------------------------------------------------------------
_CHILD = """
import json, logging, sys
log = logging.getLogger("airflow_spotify_etl_spark")
log.addHandler(logging.StreamHandler(sys.stdout))
log.setLevel(logging.INFO)
from airflow_spotify_etl_spark.pipelines import run_recently_played_analysis
from airflow_spotify_etl_spark.session import get_spark
from airflow_spotify_etl_spark.sources.rest import SpotifyRestSource
from tests.test_pipelines import CannedTransport
spark = get_spark("archive-test")
out = sys.argv[1]
src = SpotifyRestSource(spark, transport=CannedTransport(), token="t")
summary = run_recently_played_analysis(spark, src, out, limit=10, display_results=False)
rows = sorted(map(list, spark.read.option("header", True).csv(out).collect()))
print("RESULT " + json.dumps({"summary": summary, "rows": rows}, sort_keys=True))
"""


def _run_child(cache: Path, out: Path) -> tuple[str, dict]:
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(cache),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": str(ROOT),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(out)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    (status,) = [ln for ln in lines if ln.startswith("driver class-data archive: ")]
    (result,) = [ln for ln in lines if ln.startswith("RESULT ")]
    return status, json.loads(result[len("RESULT "):])


def test_first_run_trains_and_second_run_uses_the_archive(tmp_path):
    status, first = _run_child(tmp_path, tmp_path / "out1")
    assert status.startswith("driver class-data archive: training ")
    dumps = list((tmp_path / "airflow_spotify_etl_spark" / "cds").glob("*.tmp"))
    assert len(dumps) == 1 and dumps[0].read_bytes()[:4] == _DYNAMIC_MAGIC
    key = dumps[0].name.split(".")[0]
    archive = dumps[0].parent / f"{key}.jsa"

    status, second = _run_child(tmp_path, tmp_path / "out2")
    assert status == f"driver class-data archive: used {archive}"
    assert archive.exists() and not list(archive.parent.glob("*.tmp"))
    for run in (first, second):
        run["summary"].pop("output_path")
    assert second == first
    assert first["summary"]["tracks_processed"] == 5 and len(first["rows"]) == 5


def test_garbage_archive_is_rejected_deleted_and_the_run_correct(tmp_path):
    launch = archive_launch({**os.environ, "XDG_CACHE_HOME": str(tmp_path)})
    assert launch.mode == "training"
    archive = Path(launch.path).with_name(Path(launch.path).name.split(".")[0] + ".jsa")
    archive.write_bytes(os.urandom(1 << 16))
    status, result = _run_child(tmp_path, tmp_path / "out")
    assert status.startswith("driver class-data archive: off (")
    assert not archive.exists()
    assert result["summary"]["tracks_processed"] == 5 and len(result["rows"]) == 5


def test_get_spark_returns_the_active_session_unchanged(spark):
    from airflow_spotify_etl_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark("another-app", shuffle_partitions=int(before) + 7)
    assert again is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# Python call-site capture is off: plan building pays no per-call round trips.
# ---------------------------------------------------------------------------
_MINHASH_BUILD_ROUND_TRIPS = 5900  # 1.5x the 3,933 measured with capture off


def test_call_site_capture_is_off_and_errors_still_name_the_column(spark):
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(AnalysisException, match="no_such_col"):
        df.select("no_such_col").collect()


def test_building_a_plan_costs_few_py4j_round_trips(spark, monkeypatch):
    """Building, not running, ``minhash_lsh_pairs`` must not pay py4j
    round trips per Column call: with call-site capture on, each call
    also sets and clears a JVM origin and reads a conf. Counted by
    wrapping the py4j connection's ``send_command``; the second build is
    counted so one-time lookups of the first do not enter the count."""
    from py4j.clientserver import ClientServerConnection

    from airflow_spotify_etl_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
    minhash_lsh_pairs(df)
    sent = [0]
    real = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    minhash_lsh_pairs(df)
    monkeypatch.setattr(ClientServerConnection, "send_command", real)
    assert sent[0] <= _MINHASH_BUILD_ROUND_TRIPS, sent[0]
