"""Shared machinery of the benchmark: the Spark session and its end, the
timed-pass loop, worker memory and the host-speed control.

Everything a run writes lives under one work directory inside the
checkout, since the benchmark writes nowhere else (so on the checkout's
disk, not on tmpfs); the caller removes it when the run ends.
"""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# One driver process and at most nproc task slots (4 on the reference host).
SLOTS = max(1, min(4, os.cpu_count() or 1))
# Tasks of the extraction stage (extract_documents' num_partitions): four
# per slot let the scheduler even out a slot that runs slow, where one
# task per slot makes every pass wait for the slowest core.  Every other
# shuffle uses one partition per slot.
EXTRACT_TASKS = 4 * SLOTS
JVM_HEAP = "2g"


def start_session(work: Path, event_log: bool = False):
    """The repo's own session factory, pointed at `work` for every file
    Spark, the JVM and the Python workers write."""
    from pdf_extract_spark.plans.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: GC does not resize it differently from run to run
        "spark.driver.memory": JVM_HEAP,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        # one plain JSON-lines file (Spark 4 defaults to rolled zstd files)
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(
        app_name="perfbench", master=f"local[{SLOTS}]", shuffle_partitions=SLOTS, extra_conf=conf
    )


def stop_session() -> None:
    """Stop the running session, if any, and the JVM pyspark launched for
    it.  pyspark leaves the JVM to exit by itself once its stdin closes,
    which it otherwise does only after this process has gone."""
    from pyspark import SparkContext

    sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
    try:
        if sc is not None:
            sc.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on end of input
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    process whose parent ends first (a Python worker under the JVM) is
    re-parented to this one and reap_children waits for it too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(grace: float = 60.0) -> None:
    """Wait until every process under this one has ended and been reaped:
    they get `grace` seconds to end by themselves, then SIGTERM, then
    SIGKILL after 10 more seconds."""
    start = time.monotonic()
    sent: set = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > grace + 10 else signal.SIGTERM if waited > grace else None
        for child in _children(os.getpid()) if sig else ():
            if (child, sig) not in sent:
                sent.add((child, sig))
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def timed_passes(run_pass, seconds: float, min_passes: int = 4) -> list:
    """Call `run_pass(i)` until `seconds` have passed (and at least
    `min_passes` times, so a median never rests on fewer than four passes
    of the longer workload).  `run_pass` returns the wall time of its
    timed region; its output check runs outside that region."""
    times: list[float] = []
    deadline = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < deadline:
        times.append(run_pass(len(times)))
    return times


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count of a list of timings."""
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"n": len(values), "median": statistics.median(values), "q1": q[0], "q3": q[2],
            "min": min(values), "max": max(values)}


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def _process_tree() -> dict[int, list[int]]:
    """parent pid -> pids of its children, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_status(int(name))["PPid"])
            except (OSError, KeyError, ValueError):
                continue  # the process ended while the table was read
            children.setdefault(ppid, []).append(int(name))
    return children


def _children(pid: int) -> list[int]:
    return _process_tree().get(pid, [])


def _descendants(pid: int) -> list[int]:
    children = _process_tree()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def worker_peak_rss_mb(spark) -> float:
    """Largest VmHWM among the Python worker processes under the JVM."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    peaks = []
    for pid in _descendants(jvm):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    peaks.append(int(_status(pid)["VmHWM"].split()[0]))
        except (OSError, KeyError):
            continue  # the process ended while it was read
    if not peaks:
        raise RuntimeError("no Python worker process under the Spark JVM")
    return max(peaks) / 1024.0


def host_control(docs) -> float:
    """A fixed single-process kernel loop: the seconds one extraction of
    `docs` takes in this process.  Recorded before and after a run so a
    slow window on the host shows when two runs are compared."""
    from pdf_extract_spark.extract import extract_spans_flat_from_mem

    for d in docs:  # imports and the font cache
        extract_spans_flat_from_mem(d.content)
    t0 = time.perf_counter()
    for d in docs:
        extract_spans_flat_from_mem(d.content)
    return time.perf_counter() - t0
