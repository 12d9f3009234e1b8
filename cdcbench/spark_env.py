"""Session settings, process-tree memory and clean-up, and the host-drift
probe.

Every Spark setting the benchmark depends on is set here explicitly and
printed with each result, so a run never inherits the engine defaults
(24g driver, ``local[*]``) or ``SPARK_GRAFT_*`` variables from the
environment.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

CORES = 4
DRIVER_MEMORY = "3g"


def isolate(work: str) -> None:
    """Keep every temporary file inside ``work`` and drop environment
    overrides of the engine's session defaults. Call before importing
    the engine. Also makes this process the reaper of its orphaned
    descendants, so ``stop_processes`` finds and waits for every process
    the run started, even one whose parent has already exited."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # both JVMs (spark-submit's launcher and the driver): no hsperfdata
    # files and no temp files outside ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def session_conf(work: str, n_buckets: int, cores: int, event_log_dir: str | None) -> dict:
    from clinvar_ingest_spark import session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.default.parallelism": str(cores),
        "spark.sql.shuffle.partitions": str(n_buckets),
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": session._JAVA_OPTS,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.reuse": "true",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, n_buckets: int, cores: int = CORES,
                  event_log_dir: str | None = None):
    """Start the Spark session; returns ``(spark, settings)``."""
    from clinvar_ingest_spark import get_spark

    conf = session_conf(work, n_buckets, cores, event_log_dir)
    master = f"local[{cores}]"
    spark = get_spark(
        app_name="cdcbench", master=master, shuffle_partitions=n_buckets,
        extra_conf=conf,
    )
    return spark, {"master": master, **conf}


def stop_session() -> None:
    """Stop the active Spark session and its JVM, and wait for the JVM to
    exit. The JVM otherwise exits on its own only after this process has
    closed its stdin, i.e. after this process is gone."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 10.0, limit_s: float = 30.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: the Spark session and JVM first, then SIGTERM
    to whatever is left (Python workers, a child run), SIGKILL after
    ``grace_s``."""
    try:
        stop_session()
    except Exception as e:  # the sweep below still ends the JVM
        print(f"cdcbench: session stop failed: {e!r}", file=sys.stderr)
    start = time.monotonic()
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > limit_s:
            print(f"cdcbench: processes {pids} did not end", file=sys.stderr)
            return
        sig = signal.SIGTERM if waited < grace_s else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: driver JVM and Python workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def host_probe() -> dict:
    """Fixed work that does not depend on the engine: a 64 MiB numpy copy
    and ``extract_text_series`` over a constant page buffer. Reported
    beside each run so a stalled host shows; never used to rescale."""
    import numpy as np

    from clinvar_ingest_spark.functions.extract import extract_text_series
    from clinvar_ingest_spark.sources.changelog import ChangelogSpec, generate_changelog

    src = np.ones(8 << 20)
    dst = np.empty_like(src)
    copies = []
    for _ in range(5):
        t = time.perf_counter()
        np.copyto(dst, src)
        copies.append(time.perf_counter() - t)
    html = generate_changelog(
        ChangelogSpec(n_events=200, seed=0, words_per_page=40, tag_dense=True)
    )["html"].dropna()
    n_bytes = int(html.map(len).sum())
    runs = []
    for _ in range(5):
        t = time.perf_counter()
        extract_text_series(html)
        runs.append(time.perf_counter() - t)
    return {
        "copy_gb_per_s": round(src.nbytes / sorted(copies)[2] / 1e9, 3),
        "extract_mb_per_s": round(n_bytes / sorted(runs)[2] / 1e6, 3),
    }
