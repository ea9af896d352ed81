"""Spark session lifecycle and outside-in measurement for the benchmark.

Everything here observes the program from outside: wall clocks around
calls into its public functions, ``/proc`` for CPU time and resident
memory of the JVM and its Python workers, and Spark's own event log for
task, stage, shuffle and Python-boundary metrics.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
TRACE_GROUP = "perfbench-traced"


def box_cpus() -> int:
    """Cores this process may run on (``nproc`` without OMP overrides)."""
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


# --- /proc -----------------------------------------------------------------


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                children.setdefault(st[0], []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+sys seconds of the tree, reaped children included, so a worker
    that exits between two readings is still counted once."""
    ticks = 0
    for pid in process_tree(root):
        st = _proc_stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / CLK_TCK


def steal_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _python_pids(pids: list[int]) -> list[int]:
    """The Python processes among ``pids`` (the pyspark daemon and its
    workers). Other children of the JVM are short-lived helpers it spawns
    for file-system calls; until they exec they share the JVM's address
    space, so their RSS would count the JVM a second time."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            pass
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked workers are
    divided among them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the JVM plus its Python workers, sampled
    every ``period`` seconds on a background thread while the context is
    open: the JVM's RSS plus the workers' summed PSS in the same sample.
    The workers' own peak is kept apart. The tree is re-listed every
    ``relist`` seconds, so sampling stays cheap."""

    def __init__(self, root: int, period: float = 0.1, relist: float = 0.5):
        self.root, self.period, self.relist = root, period, relist
        self.peak_total = self.peak_workers = self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, workers: list[int]) -> None:
        try:
            with open(f"/proc/{self.root}/statm") as f:
                jvm = int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            jvm = 0
        pss = [_pss_bytes(pid) for pid in workers]
        self.peak_workers = max(self.peak_workers, sum(pss))
        self.peak_total = max(self.peak_total, jvm + sum(pss))
        self.max_workers = max(self.max_workers, sum(1 for p in pss if p))

    def _workers(self) -> list[int]:
        return _python_pids(process_tree(self.root)[1:])

    def _loop(self) -> None:
        listed = 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed >= self.relist:
                workers, listed = self._workers(), time.monotonic()
            self._sample(workers)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample(self._workers())


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def file_set(path: Path) -> dict[str, int]:
    """relative path -> size of every regular file under ``path``."""
    path = Path(path)
    if not path.exists():
        return {}
    return {str(p.relative_to(path)): p.stat().st_size for p in path.rglob("*") if p.is_file()}


# --- Spark session ------------------------------------------------------


class Engine:
    """Owns the JVM gateway and the current SparkSession.

    ``setup()`` builds a session with the program's own ``get_spark`` and
    runs a warm-up that spawns the Python workers, recording the seconds
    of each. Only the first call launches the JVM. ``shutdown()`` stops
    the context, closes the gateway and waits for the JVM to exit.
    """

    def __init__(self, work: Path):
        self.work = work
        self.spark = None
        self.session_s: list[float] = []
        self.worker_s: list[float] = []
        self.event_dir: Path | None = None
        self._jvm_proc = None

    @property
    def jvm_pid(self) -> int:
        return self._jvm_proc.pid

    def setup(self, cpus: int, warm, event_log: bool = False) -> float:
        """Start a session at ``local[cpus]`` and run ``warm(spark)``.
        Returns the set-up seconds (session start + worker spawn)."""
        from finetoo_sp_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            self.event_dir = self.work / f"events-{len(self.session_s)}"
            self.event_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir.as_uri(),
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        warm(self.spark)
        t2 = time.perf_counter()
        self.session_s.append(t1 - t0)
        self.worker_s.append(t2 - t1)
        if self._jvm_proc is None:
            from pyspark import SparkContext

            self._jvm_proc = SparkContext._gateway.proc
        return t2 - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._jvm_proc
        if proc is not None and proc.poll() is None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self._jvm_proc = None


class Job:
    """One timed call: wall and CPU time of the JVM tree, peak memory of
    the JVM plus its Python workers and of the workers alone, and host
    steal over the same interval."""

    def __init__(self, engine: Engine):
        self.engine = engine
        self.wall_s = self.cpu_s = self.steal_pct = 0.0
        self.peak_rss = self.peak_worker_rss = self.max_workers = 0

    def __enter__(self) -> "Job":
        pid = self.engine.jvm_pid
        self._rss = RssSampler(pid).__enter__()
        self._steal0 = steal_jiffies()
        self._cpu0 = tree_cpu_s(pid)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s(self.engine.jvm_pid) - self._cpu0
        s1, j1 = steal_jiffies()
        self.steal_pct = 100.0 * (s1 - self._steal0[0]) / max(j1 - self._steal0[1], 1)
        self._rss.__exit__(*exc)
        self.peak_rss, self.peak_worker_rss = self._rss.peak_total, self._rss.peak_workers
        self.max_workers = self._rss.max_workers


# --- event log ------------------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
}


def parse_event_log(event_dir: Path, group: str) -> dict:
    """Sum task metrics over the stages of jobs in ``group``.

    Spark 4 writes a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``;
    a plain single file is read too."""
    files = sorted(
        glob.glob(str(event_dir / "eventlog_v2_*" / "events_*")),
        key=lambda p: int(Path(p).name.split("_")[1]),
    ) or sorted(p for p in glob.glob(str(event_dir / "*")) if os.path.isfile(p))
    stage_ids: set[int] = set()
    tot = {k: 0 for k in (
        "tasks", "stages", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read",
        "input_bytes", "input_records", "output_bytes", *_PY_METRICS.values(),
    )}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stage_ids.update(ev["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_ids:
                        tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    tot["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    tot["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    tot["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    for acc in ev["Task Info"].get("Accumulables", []):
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key is not None:
                            tot[key] += int(acc.get("Update") or 0)
    return tot


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
