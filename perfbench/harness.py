"""Shared plumbing for the pipeline benchmark: the pinned session, the
per-run work directory, the failure tally, the percentile rule and the
process-level measurements (peak RSS, CPU per thread group).

Nothing here imports the engine at module import time, so the helpers
can be unit-tested without a JVM.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import time

ENGINE_PACKAGE = "quantum_rag_data_pipeline_spark"

#: a percentile is reported only if this many samples lie beyond it
MIN_SAMPLES_BEYOND = 10


# -- statistics ---------------------------------------------------------------

def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of n."""
    return n - math.ceil(p / 100.0 * n)


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than
    ``MIN_SAMPLES_BEYOND`` samples lie beyond it. The median of an even
    count is the mean of the two middle values, as ``statistics.median``."""
    n = len(values)
    if n == 0 or samples_beyond(n, p) < MIN_SAMPLES_BEYOND:
        return None
    if p == 50:
        return statistics.median(values)
    return sorted(values)[math.ceil(p / 100.0 * n) - 1]


# -- failure accounting ---------------------------------------------------------

class Tally:
    """Attempted/failed operations. An operation fails when it raises or
    when any of its output checks does not hold; each failure keeps a
    one-line reason for the report."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def run(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` as one attempted operation; returns (ok, result).
        An exception is recorded, never raised."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self._fail(name, f"{type(exc).__name__}: {exc}")
            return False, None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record one output check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self._fail(name, detail or "check failed")
        return ok

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.reasons.append(f"{name}: {why.splitlines()[0][:300] if why else ''}")

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- work directory and session -----------------------------------------------------

def make_work_dir(root: str) -> str:
    """A per-process directory under the checkout for every file the run
    writes: Spark scratch, stores, sinks, event logs, temp files."""
    work = os.path.join(root, ".bench_work", f"run_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "cache", "local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    return work


def point_env_at(root: str, work: str) -> None:
    """Route temp files into the work directory and put the engine
    package on the Python workers' import path, so the engine's worker-
    side imports resolve from any working directory."""
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def cores() -> int:
    """The cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def session_settings(work: str, traced: bool) -> dict[str, str]:
    """The settings every run pins, whatever the engine's defaults are:
    one local executor per core, a driver heap sized for a 16 GB host
    rather than the engine's 48g default, and 2 shuffle partitions per
    core. Recorded in the run's report line."""
    n = cores()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.driver.memory": "4g",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if traced:
        # the event log works with the UI off; uncompressed and unrolled
        # so it is one JSON-lines file read back after the session stops
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict[str, str]):
    from quantum_rag_data_pipeline_spark.session import get_spark

    extra = {k: v for k, v in conf.items()
             if k not in ("spark.master", "spark.sql.shuffle.partitions")}
    spark = get_spark(
        app_name="perfbench",
        master=conf["spark.master"],
        shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    pids = []
    try:
        pids = [jvm_pid(spark)] + descendants(jvm_pid(spark))
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        for pid in pids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- /proc measurements ----------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses; fields resume after the last ')'
    return raw.rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """Every live descendant process of ``pid`` (the JVM's Python
    daemon and its forked workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                kids = []
            out.extend(kids)
            todo.extend(kids)
    return out


def thread_group(comm: str) -> str:
    """Bucket a JVM thread by its (15-character) name."""
    if comm.startswith(("C2 Compiler", "C1 Compiler", "C2 CompilerThre", "C1 CompilerThre")):
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task"):
        return "task"
    return "other"


def jvm_thread_cpu(pid: int) -> dict[str, float]:
    """CPU seconds (user + system) per thread group of the JVM."""
    out = {"jit": 0.0, "gc": 0.0, "task": 0.0, "other": 0.0}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if fields is None:
            continue
        out[thread_group(comm)] += (int(fields[11]) + int(fields[12])) / _TICK
    return out


def process_tree_cpu(pids: list[int]) -> float:
    """CPU seconds of the given processes, including their reaped children."""
    total = 0.0
    for pid in pids:
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields is not None:
            total += sum(int(x) for x in fields[11:15]) / _TICK
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
