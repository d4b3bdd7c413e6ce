"""perfbench: the engine's seeded end-to-end benchmark.

    python3 perfbench/run.py --workload dag_day --seed 1 --seconds 30 --trace 0

Run from the repository root. One process generates the workload's inputs
from ``--seed``, starts the engine's session at ``local[nproc]``, runs one
operation in that fresh session (as every DAG task's spark-submit does),
checks every output, and prints one JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (event log on, spans around each layer). A line
before it, ``{"report": ...}``, carries per-operation times, input
fingerprints and any correctness problems. The exit code is 0 only when
every check passed. The measured work is fixed, so ``--seconds`` is
accepted for the common benchmark interface and does not change it.
Before it exits the run stops the JVM and waits for every process it
started.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"  # the JVM heap a DAG task's spark-submit would be given
JOB_FLOOR_REPS = 5

LAYER_DEFAULTS = {  # workload-specific layer metrics, zero on the workload that bypasses them
    "sinks.append_useful_ratio": 0.0,
    "sinks.table_files": 0.0,
    "operators.text.lang_probe_s": 0.0,
    "operators.dedup.exact_probe_s": 0.0,
    "operators.dedup.near_pairs": 0.0,
    "operators.dedup.components": 0.0,
    "operators.dedup.exact_drop_ratio": 0.0,
    "operators.dedup.near_drop_ratio": 0.0,
}


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as declared
    in the repository's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _session_env(work: str) -> None:
    """Keep every file the engine, the JVM and Python workers write inside
    ``work``, and size Spark to the machine (``local[nproc]``)."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )


def start_session(work: str, event_log: str | None = None):
    """``get_spark`` plus one trivial action: the set-up every DAG task's
    spark-submit pays before its first real job."""
    from airflow_spotify_etl_spark.session import get_spark

    conf = {
        # The heap starts at its maximum, never resizes and is touched up
        # front, so the resident peak moves with off-heap, metaspace and
        # Python memory, not with how much of the heap the collector's
        # adaptive sizing happened to use.
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).collect()
    return spark


def _children() -> list[tuple[int, str]]:
    """(pid, command name) of each live child of this process."""
    me = os.getpid()
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[1]) == me:
            kids.append((int(entry), stat[stat.index("(") + 1 : stat.rindex(")")]))
    return kids


def _driver_pids() -> list[int]:
    """This process and its JVM child."""
    return [os.getpid()] + [pid for pid, comm in _children() if comm == "java"]


def become_subreaper() -> None:
    """Adopt orphaned descendants, such as the Python workers the JVM forks,
    so ``stop_engine`` can wait for every process the run started."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_engine(grace_s: float = 30.0) -> None:
    """Stop Spark, end its JVM by closing the JVM's stdin (the gateway exits
    on EOF), and wait until every child process has ended: after ``grace_s``
    the rest get SIGTERM, then SIGKILL."""
    import signal

    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        sc = sc_cls._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        gateway = sc_cls._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        sc_cls._gateway = sc_cls._jvm = None

    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid, _ in _children():
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MB. The inputs are
    written by a child process, so the peak is the engine's."""

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    return sum(hwm_kb(pid) for pid in _driver_pids()) / 1024.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_layer(counts, tracer, spans, jobs, traced_ops, op_times, untraced, floor, cores):
    from spans import layer_report, union_length

    rep = layer_report(spans, jobs, traced_ops, cores)
    n = rep["n_ops"]
    layers = rep["layers"]

    def self_s(*names: str) -> float:
        return sum(layers.get(k, {}).get("self_s", 0.0) for k in names)

    def total_s(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name and s.op in traced_ops) / n

    by_sid = {s.sid: s for s in spans}

    def under(span, name: str) -> bool:
        while span is not None:
            if span.name == name:
                return True
            span = by_sid.get(span.parent)
        return False

    def job_time(pred) -> float:
        return union_length([(j.submit, j.end) for j, s in rep["jobs"] if pred(s)]) / n

    m = {
        f"jobs.task_s.{t}": total_s(f"jobs.{t}")
        for t in ("top_tracks_etl", "recently_played_etl", "recently_played_analysis")
    }
    m.update(
        {
            "pipelines.etl.self_s": self_s("pipelines.etl"),
            "sources.rest.scan_s": self_s("sources.rest.scan"),
            "operators.quality.assert_s": self_s("operators.quality.assert"),
            "sinks.append_s": self_s("sinks.append"),
            "sinks.append_jobs": layers.get("sinks.append", {}).get("jobs", 0.0),
            "sinks.csv_s": self_s("sinks.csv"),
            "sinks.summary_s": self_s("sinks.summary"),
            "sources.files.load_s": self_s("sources.files.load"),
            "sources.files.bytes_read": rep["spark"]["bytes_read"],
            "sources.files.scan_tasks": rep["spark"]["scan_tasks"],
            "pipelines.corpus.self_s": self_s("pipelines.corpus"),
            "pipelines.corpus.frontier_s": job_time(lambda s: s.name == "pipelines.corpus"),
            "pipelines.corpus.near_dedup_write_s": job_time(
                lambda s: under(s, "sinks.observed_write")
            ),
            "pipelines.corpus.readback_s": job_time(
                lambda s: s.name == "sinks.summary" and under(s, "pipelines.corpus")
            ),
            "operators.dedup.near_s": self_s("operators.dedup.minhash", "operators.dedup.components"),
            "spark.job_floor_s": floor,
            "trace.op_p50_s": _median(op_times),
            "trace.untraced_op_p50_s": _median(untraced),
            "trace.span_overhead_s": _median(op_times) - _median(untraced),
            "trace.bookkeeping_s": tracer.bookkeeping_s / n,
            "trace.spans_per_op": sum(1 for s in spans if s.op in traced_ops) / n,
        }
    )
    for k in ("jobs_per_op", "tasks_per_op", "driver_s", "executor_run_s", "cpu_util",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s"):
        m[f"spark.{k}"] = rep["spark"][k]
    m.update(LAYER_DEFAULTS)
    m.update(counts)
    by_site: dict[str, float] = {}
    for j, _ in rep["jobs"]:
        by_site[j.call_site] = by_site.get(j.call_site, 0.0) + (j.end - j.submit) / n
    top_sites = sorted(by_site.items(), key=lambda kv: -kv[1])[:8]
    return m, {"traced_ops": len(traced_ops), "top_call_sites_s": dict(top_sites)}


def run(args, work: str) -> tuple[dict, dict]:
    _session_env(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = start_session(work, event_log)
    setup_main = time.perf_counter() - T_START

    from spans import Tracer, instrument, read_event_log, restore
    from workloads import WORKLOADS

    # A run times one operation in its fresh session: what each DAG task's
    # spark-submit pays after set-up. A traced run follows it with an
    # untraced, a traced and an untraced operation, so a warming trend
    # cancels out of the span overhead.
    n_ops = 4 if args.trace else 1
    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[args.workload](spark, ROOT, work, args.seed, args.scale, tracer, n_ops)
    t0 = time.perf_counter()
    info = wl.prepare()
    gen_s = time.perf_counter() - t0
    patched = instrument(tracer, getattr(wl, "job", None)) if args.trace else []

    problems: list[str] = []
    attempted = failed = 0
    op_times: list[float] = []  # trace mode: the traced operation
    untraced: list[float] = []  # trace mode: the untraced warm operations
    traced_ops: list[int] = []
    cold_s = 0.0
    for i in range(n_ops):
        traced = i == 2
        tracer.enabled, tracer.op = traced, i
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                op_problems = wl.run_op(i)
        except Exception as exc:  # noqa: BLE001 - an engine failure is a failed operation
            problems.append(f"op {i}: {type(exc).__name__}: {exc}")
            failed += 1
            break
        dt = time.perf_counter() - t
        tracer.enabled = False
        if op_problems:
            failed += 1
            problems += op_problems
        if i == 0:
            cold_s = dt
        elif traced:
            op_times.append(dt)
            traced_ops.append(i)
        else:
            untraced.append(dt)
    rss = peak_rss_mb()

    try:
        if args.corrupt:
            wl.corrupt()
        check = wl.check()
    except Exception as exc:  # noqa: BLE001 - a check that cannot run fails
        check = [f"check: {type(exc).__name__}: {exc}"]
    if check:
        problems += check
        failed = min(attempted, failed + 1)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": _cpus(),
        "inputs": info,
        "input_gen_s": gen_s,
        "cold_op_s": cold_s,
        "traced_op_s": op_times,
        "untraced_op_s": untraced,
        "problems": problems[:20],
    }
    metrics: dict[str, float] = {}
    if args.trace:
        floor = []
        for _ in range(JOB_FLOOR_REPS):
            t = time.perf_counter()
            spark.range(0).write.format("noop").mode("overwrite").save()
            floor.append(time.perf_counter() - t)
        counts = {**wl.probes(), **wl.counts()}  # Spark jobs, so before the stop
        restore(patched)
        spark.stop()
        jobs = read_event_log(event_log)
        metrics, extra = _per_layer(
            counts, tracer, tracer.spans, jobs, traced_ops, op_times, untraced,
            _median(floor), _cpus(),
        )
        report.update(extra)
    else:
        spark.stop()
        metrics = {"cold_op_s": cold_s, "setup_s": setup_main, "peak_rss_mb": rss}
    units = metric_units("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["dag_day", "corpus_build"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=16.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt the output after the pass; the check must fail")
    args = p.parse_args(argv)
    if not args.workload:
        p.error("--workload is required")
    sys.path[:0] = [HERE, ROOT]
    become_subreaper()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, report = run(args, work)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
