"""Run plumbing shared by the workloads: work directories inside the
checkout, the Spark session, the process-tree RSS sampler, the host
record and the result line."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything a run writes lives under here (git-ignored); lakes and
# SPARK_LOCAL_DIRS stay on disk, not /dev/shm: the process tree alone
# peaks near 10 GB on a 15 GB host
OUT_DIR = os.path.join(ROOT, ".perfbench")
MASTER = "local[4]"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class WorkDir:
    """A per-run scratch directory, removed when the run ends."""

    def __init__(self, run_id: str):
        self.path = os.path.join(OUT_DIR, "work", run_id)
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_session(app: str, work: WorkDir):
    """The engine's own session (``get_spark`` defaults) at local[4],
    with Spark's scratch space inside the run's work directory."""
    from arc_spark.session import get_spark

    # temp files of Python, the JVMs (the launcher's too) and the workers
    # stay in the run; no JVM writes its perf-data file to /tmp
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark's scratch space; the variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    spark = get_spark(
        app,
        master=MASTER,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# the process tree: RSS, and stopping every process a run starts
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, resident bytes, state) of every process."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: fields start after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        table[int(d)] = (int(fields[1]), int(fields[21]) * page, fields[0])
    return table


def _descendants(table: dict, root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    table = _proc_table()
    return sum(
        table[p][1] for p in [root_pid, *_descendants(table, root_pid)] if p in table
    )


def become_subreaper() -> None:
    """Make this process the parent of any descendant orphaned below it
    (Python workers outliving the JVM that forked them), so that
    ``reap_descendants`` still finds and waits for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace: float = 30.0) -> None:
    """Wait until no process below this one is left: ``grace`` seconds
    for them to end on their own, then SIGTERM, then SIGKILL."""
    import signal

    deadline = time.monotonic() + grace
    sent = None
    while True:
        _reap_zombies()
        table = _proc_table()
        below = _descendants(table, os.getpid())
        if not below:
            return
        alive = [p for p in below if table[p][2] != "Z"]
        now = time.monotonic()
        if alive and now >= deadline and sent != signal.SIGKILL:
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            for p in alive:
                try:
                    os.kill(p, sent)
                except ProcessLookupError:
                    pass
            deadline = now + 10.0
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it (it exits when its stdin
    closes), and wait for it and every other process below this one."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None and proc.stdin is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
        reap_descendants()


class RssSampler:
    """Peak resident set of this process plus every descendant (the JVM
    and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------


def _calibrate_cpu(reps: int = 3) -> float:
    """Seconds for a fixed pure-Python integer loop (median of reps)."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFF
        out.append(time.perf_counter() - t0)
    return sorted(out)[len(out) // 2]


def _calibrate_memcpy(reps: int = 3) -> float:
    """GB/s copying a 64 MiB buffer (median of reps)."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024, dtype=np.uint8)
    b = np.empty_like(a)
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        out.append(a.nbytes / (time.perf_counter() - t0) / 1e9)
    return sorted(out)[len(out) // 2]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a shared host slowing every phase of a run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def host_record() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "cpu_loop_s": _calibrate_cpu(),
        "memcpy_gb_per_s": _calibrate_memcpy(),
    }


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------


def write_record(run_id: str, record: dict) -> str:
    path = os.path.join(OUT_DIR, "records", f"{run_id}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(value), "unit": unit}
                for name, (value, unit) in metrics.items()
            },
        }
    )
