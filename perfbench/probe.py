"""Host record, process-tree CPU/RSS probes and the Spark session.

The process tree is the driver JVM and everything under it (the
Python worker daemon and its forked workers). CPU is read from
``/proc`` per JVM thread and per worker process, RSS from
``/proc/<pid>/statm``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat(path: str) -> List[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(f"/proc/{name}/stat")[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> List[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_snapshot(root: int) -> Dict[str, float]:
    """CPU seconds per JVM thread and per process below the JVM.

    JVM threads are read one by one so the JIT compiler threads can be
    told apart; worker processes count their reaped children too."""
    snap = {}
    for pid in tree(root):
        try:
            if pid == root:
                for task in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{task}/comm") as fh:
                        jit = "CompilerThre" in fh.read()
                    f = _stat(f"/proc/{pid}/task/{task}/stat")
                    key = ("jit:" if jit else "jvm:") + task
                    snap[key] = (int(f[11]) + int(f[12])) / _TICK
            else:
                f = _stat(f"/proc/{pid}/stat")
                snap[f"proc:{pid}"] = sum(int(x) for x in f[11:15]) / _TICK
        except (OSError, IndexError, ValueError):
            continue  # the thread or process ended while being read
    return snap


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2 ** 20


class TreeMeter:
    """CPU spent by a JVM and its workers over a ``with`` block.

    ``cpu_s`` is user+system time of every JVM thread except the JIT
    compiler threads, plus the Python workers; ``jit_cpu_s`` is the JIT
    compiler threads' share. Threads and processes that end inside the
    block are not counted. With ``sample_rss`` a thread also samples the
    tree's summed RSS every 50 ms into ``peak_rss_mb``."""

    def __init__(self, root: int, sample_rss: bool = False):
        self.root, self.sample_rss = root, sample_rss
        self.peak_rss_mb = self.cpu_s = self.jit_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = None

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
            self._stop.wait(0.05)

    def __enter__(self):
        self._start = cpu_snapshot(self.root)
        if self.sample_rss:
            self._thread = threading.Thread(target=self._sample, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.root))
        for key, v in cpu_snapshot(self.root).items():
            delta = v - self._start.get(key, 0.0)
            if key.startswith("jit:"):
                self.jit_cpu_s += delta
            else:
                self.cpu_s += delta
        return False


def kernel_canary(reps: int = 5) -> float:
    """Min-of-``reps`` seconds of ``_analyze_batch`` over the fixed
    3000-document, 24-profile synth batch (seed 42)."""
    import pyarrow as pa

    from content_extractor_spark import synth
    from content_extractor_spark.kernel.profiles import normalize_host
    from content_extractor_spark.operators.extract import _analyze_batch

    import gen

    rows = list(synth.gen_rows(0, 3000, n_hosts=24, seed=42))
    batch = pa.RecordBatch.from_pylist(rows, schema=gen.DOCS_SCHEMA)
    profs = {normalize_host(k): v for k, v in synth.all_profiles(24).items()}
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        _analyze_batch(batch, profs)
        best = min(best, time.perf_counter() - t0)
    return best


def spark_session(work: str, event_log: str | None = None):
    """``session.get_spark`` at local[nproc] with deployment settings
    only: loopback driver address, local dirs inside the work directory,
    no console progress bar, and (traced runs) the event log."""
    from content_extractor_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log
        # one plain JSON-lines file the benchmark can read back
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def job_counts(spark, group: str) -> dict:
    """Spark jobs, stages and tasks the status tracker saw for a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it first when it is our own child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child: its new parent reaps it
    try:
        return _stat(f"/proc/{pid}/stat")[0] != "Z"
    except (OSError, IndexError):
        return False


def _signal_until_gone(pids, sig, timeout: float) -> set:
    """Sends ``sig`` to ``pids`` and waits up to ``timeout`` seconds for
    them to end; returns the ones still running."""
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    left = {p for p in pids if _alive(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _alive(p)}
    return left


def shutdown(spark=None) -> None:
    """Stops the Spark session, the py4j gateway JVM and every process
    below this one (the Python worker daemon and its workers), and waits
    until each has ended.

    ``spark.stop()`` alone leaves the JVM running until this process
    exits, and it then ends on its own a second or so later; here it is
    ended and waited for before returning. The descendants are listed
    before the JVM goes, since they are re-parented once it has."""
    me = os.getpid()
    pids = set(tree(me)) - {me}
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a broken session must not keep the JVM alive
            pass
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gateway = getattr(SparkContext, "_gateway", None)
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    pids |= set(tree(me)) - {me}
    left = _signal_until_gone(pids, signal.SIGTERM, 10)
    _signal_until_gone(left, signal.SIGKILL, 10)
