"""Shared plumbing for the benchmark: pinned environment, the Spark session,
timing helpers, event-log folding and the result line.

Nothing here imports the package under test at module import time; the
workloads import it after :func:`pin_env` has put the checkout on the path.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"


class CheckFailed(AssertionError):
    """An output of the program disagrees with the benchmark's own
    recomputation (or with a property the method must have)."""


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def ncpus() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> None:
    """Pin everything the session and its Python workers inherit.

    - the checkout root on PYTHONPATH, so workers import the package no
      matter where the command was started;
    - ``SPARK_GRAFT_CPUS = nproc`` and a driver heap sized for a small host
      (``get_spark`` defaults to 32g);
    - Spark's local dirs and every temp file inside the work directory.
      ``-XX:-UsePerfData`` keeps the JVMs from writing hsperfdata files
      to the system temp dir.
    """
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, event_log_dir: str | None = None):
    """One ``local[nproc]`` session with the engine's standard config.
    ``event_log_dir`` turns on the uncompressed event log the traced run
    folds into engine-boundary metrics."""
    from go_log_forwarder_spark.session import get_spark

    n = ncpus()
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    else:
        conf["spark.eventLog.enabled"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context (flushes the event log); the JVM stays up for a
    possible second session in this process."""
    spark.stop()


def shutdown_jvm() -> None:
    """End the gateway JVM this process launched and wait for it (its
    Python worker daemons exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)


@contextmanager
def work_dir(workload: str):
    path = os.path.join(WORK_BASE, f"{workload}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:
            pass  # another run still uses it


class Clock:
    """Wall-clock spans recorded by the benchmark around calls into each
    layer (``time.perf_counter``), kept in memory."""

    def __init__(self):
        self.spans: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append(time.perf_counter() - t0)


def timed_passes(seconds: float, one_pass) -> list:
    """Run whole passes until ``seconds`` of measurement have elapsed (at
    least one). Returns each pass's result."""
    out = []
    t_end = time.perf_counter() + seconds
    while not out or time.perf_counter() < t_end:
        out.append(one_pass(len(out)))
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checksum/marker files."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# event log -> engine-boundary metrics
# ---------------------------------------------------------------------------

_PY_ACCUMS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def read_event_log(event_log_dir: str) -> list[dict]:
    events = []
    for d, _, names in os.walk(event_log_dir):
        for n in sorted(names):
            if not n.startswith("events_") and not n.startswith("local-"):
                continue
            with open(os.path.join(d, n)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def jobs_in(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Job id -> stage ids, for the jobs submitted inside any window."""
    return {
        e["Job ID"]: e["Stage IDs"]
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and any(t0 <= e["Submission Time"] <= t1 for t0, t1 in windows)
    }


def engine_metrics(events: list[dict], windows: list[tuple[float, float]], passes: int) -> dict:
    """Fold the tasks of every job submitted inside one of the ``windows``
    (epoch ms) into per-pass engine-boundary metrics: Python worker
    start/init/run time and bytes each way, shuffle bytes and write time,
    shuffle-map task skew, GC time, job and task counts."""
    jobs = jobs_in(events, windows)
    stages = {s for ids in jobs.values() for s in ids}
    acc = {v: 0.0 for v in _PY_ACCUMS.values()}
    sh_bytes = sh_ns = gc_ms = 0
    n_tasks = 0
    stage_tasks: dict[tuple, list[float]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        n_tasks += 1
        info = e["Task Info"]
        for a in info.get("Accumulables", []):
            key = _PY_ACCUMS.get(a.get("Name"))
            if key is not None:
                acc[key] += float(a.get("Update", 0) or 0)
        tm = e.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        sh_bytes += sw.get("Shuffle Bytes Written", 0)
        sh_ns += sw.get("Shuffle Write Time", 0)
        gc_ms += tm.get("JVM GC Time", 0)
        if sw.get("Shuffle Records Written", 0) or sw.get("Shuffle Bytes Written", 0):
            key = (e["Stage ID"], e["Stage Attempt ID"])
            stage_tasks.setdefault(key, []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0
            )
    skews = [
        max(ts) / max(statistics.median(ts), 1e-3)
        for ts in stage_tasks.values()
        if len(ts) >= 2
    ]
    p = max(passes, 1)
    out = {
        "python.boot_s": acc["python.boot_s"] / 1000.0 / p,
        "python.init_s": acc["python.init_s"] / 1000.0 / p,
        "python.run_s": acc["python.run_s"] / 1000.0 / p,
        "python.bytes_sent": acc["python.bytes_sent"] / p,
        "python.bytes_received": acc["python.bytes_received"] / p,
        "shuffle.write_bytes": sh_bytes / p,
        "shuffle.write_s": sh_ns / 1e9 / p,
        "shuffle.task_skew": float(statistics.median(skews)) if skews else 1.0,
        "jvm.gc_s": gc_ms / 1000.0 / p,
        "spark.jobs": len(jobs) / p,
        "spark.tasks": n_tasks / p,
    }
    return out


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    """Print the one-line JSON result as the last line of stdout."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()
