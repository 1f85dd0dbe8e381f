"""Host facts, the benchmark's Spark session, and process hygiene.

The session is sized from the host instead of the repo's bench defaults:
the JVM heap is a fixed share of MemTotal (clamped), never pre-touched,
so a small shared host does not OOM-kill the JVM. Every temporary file the
JVM, the Python workers or the package writes lands under the run's work
directory, inside the checkout.
"""

from __future__ import annotations

import ctypes
import glob
import os
import signal
import time

HEAP_SHARE = 6  # JVM heap = MemTotal / HEAP_SHARE ...
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 4096  # ... clamped to this range


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, mem_total_mb() // HEAP_SHARE))


def memcpy_gbps() -> float:
    """Best-of-5 GB/s of a 10 MB buffer copy: a gauge of the host's memory
    bandwidth at the time of the run, so a reader can tell a slow host
    window from a slow program."""
    import numpy as np

    a = np.ones(10_000_000, dtype=np.uint8)
    best = 0.0
    for _ in range(5):
        t0 = time.perf_counter()
        a.copy()
        best = max(best, 0.01 / (time.perf_counter() - t0))
    return best


def facts() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "heap_mb": heap_mb(),
        "pyspark": pyspark.__version__,
        "memcpy_gbps": round(memcpy_gbps(), 3),
    }


def start_spark(work: str):
    """local[nproc] session with the package's own configuration
    (blogparser_spark.session.get_spark) plus host-sized memory and
    in-checkout scratch directories."""
    from blogparser_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says;
    # the launcher JVM that spark-submit starts first reads this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        master=f"local[{nproc()}]",
        shuffle_partitions=nproc(),
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": f"{heap_mb()}m",
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session (if one was made) AND its JVM, and wait for the JVM
    to exit; the Python worker daemon is the JVM's child and ends with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 20  # time the processes left at the end get to exit by themselves


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that a
    process orphaned by its parent's exit (the UDF worker daemon when the
    JVM ends, a launcher shell the JVM never waited for) becomes this
    process's child, and reap_children() can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children() -> None:
    """Wait until every process under this one has ended: REAP_GRACE_S for
    them to exit by themselves, then SIGTERM, then SIGKILL. Zombies are
    reaped as they appear."""
    deadline = time.monotonic() + REAP_GRACE_S
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # no children left, running or zombie
        live = _descendants(os.getpid())
        if sig is None and time.monotonic() > deadline:
            sig = signal.SIGTERM
        elif sig == signal.SIGTERM and time.monotonic() > deadline + 5:
            sig = signal.SIGKILL
        if sig is not None:
            for p in live:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass  # ended since it was listed
        time.sleep(0.05)


def _children(pid: int) -> list[int]:
    """Children of every thread of pid (a JVM forks from its worker threads)."""
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def python_peak_rss_kb() -> dict[int, int]:
    """VmHWM (kB) of this process and of every Python process under
    it (the UDF worker daemon and its forked workers). The JVM is left out:
    its footprint is the configured heap."""
    pids = [os.getpid()] + [p for p in _descendants(os.getpid()) if _is_python(p)]
    return {p: _vm_hwm_kb(p) for p in pids}
