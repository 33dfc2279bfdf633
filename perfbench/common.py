"""Shared plumbing: the run's work directory and environment, child
process lifecycle, process-tree memory sampling and summary statistics."""

from __future__ import annotations

import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
NPROC = os.cpu_count() or 4
DRIVER_MEM = "2g"


class Run:
    """One benchmark run: a private work directory inside the checkout,
    the environment every engine process gets, and the child processes
    to stop on exit."""

    def __init__(self, workload: str, seed: int):
        self.work = os.path.join(ROOT, ".perfbench-work", f"{workload}-{seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        tmp = os.path.join(self.work, "tmp")
        conf = os.path.join(self.work, "conf")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(conf, exist_ok=True)
        # console progress bars only flood the log
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
            f.write("spark.ui.showConsoleProgress false\n")
        self.env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([ROOT, BENCH_DIR]),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(NPROC),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            SPARK_CONF_DIR=conf,
        )
        self.procs: list[subprocess.Popen] = []

    def adopt_env(self) -> None:
        """Give this process the engine environment (in-process engine)."""
        os.environ.update(self.env)
        for p in self.env["PYTHONPATH"].split(os.pathsep):
            if p not in sys.path:
                sys.path.insert(0, p)

    def spawn(self, argv: list[str]) -> subprocess.Popen:
        """Start a child in its own process group, logging to stderr."""
        p = subprocess.Popen(
            argv, cwd=self.work, env=self.env, stdout=sys.stderr,
            stderr=sys.stderr, start_new_session=True,
        )
        self.procs.append(p)
        return p

    def close(self) -> None:
        for p in self.procs:
            stop_group(p)
        stop_descendants()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _group_members(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def stop_group(p: subprocess.Popen, grace: float = 5.0) -> None:
    """SIGTERM the child's process group (server, JVM, Python workers),
    SIGKILL what is left after ``grace`` seconds, and wait until every
    member has ended."""
    pgid = p.pid
    for sig, wait_s in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if p.poll() is not None and not _group_members(pgid):
                return
            time.sleep(0.05)
    p.wait(timeout=5)


def stop_descendants(grace: float = 5.0) -> None:
    """Stop every remaining descendant of this process (the in-process
    engine's JVM and its Python workers) and reap them."""
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        for pid in children_of(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not children_of(me):
                return
            time.sleep(0.05)


def children_of(pid: int) -> list[int]:
    """All descendants of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if fields[0] != "Z":
                    parent[int(d)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        nxt = [c for c, pp in parent.items() if pp in frontier]
        out += nxt
        frontier = nxt
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, with their reaped children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


class TreeSampler:
    """For a process tree over a timed window: peak resident memory,
    sampled every 0.2 s, and the CPU seconds it used."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak = 0.0
        self.cpu = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def pids(self) -> list[int]:
        return [self.root] + children_of(self.root)

    def sample(self) -> None:
        self.peak = max(self.peak, rss_mb(self.pids()))

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def __enter__(self):
        self.sample()
        self.cpu = -cpu_s(self.pids())
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.sample()
        self.cpu += cpu_s(self.pids())


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def wait_listening(port: int, proc: subprocess.Popen, timeout: float = 120.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with code {proc.returncode}")
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=0.5):
                return
        except OSError:
            time.sleep(0.05)
    raise RuntimeError("server did not start listening")


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """The q-th percentile (0..100), linear interpolation."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)
