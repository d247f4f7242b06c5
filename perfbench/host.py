"""Process-tree memory sampling and the host regime of one invocation."""

from __future__ import annotations

import contextlib
import hashlib
import os
import platform
import signal
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root_pid: int) -> list[int]:
    """Pids of every process below `root_pid` (JVM driver, Python daemon
    and workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Resident bytes of `root_pid` and all its descendants, as (Python
    processes, the rest — the JVM)."""
    python = other = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_python = f.read().startswith("python")
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        if is_python:
            python += rss
        else:
            other += rss
    return python, other


def _running(pid: int) -> bool:
    """False once `pid` has exited; reaps it if it is our own child."""
    with contextlib.suppress(ChildProcessError):
        os.waitpid(pid, os.WNOHANG)
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


class PeakRss:
    """Samples the process tree's resident memory in a background thread
    while active and keeps the largest samples: of the Python processes
    (driver and UDF workers), of the rest (the JVM), and of the whole tree."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = {"python": 0, "jvm": 0, "tree": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        python, jvm = _tree_rss_bytes(os.getpid())
        for k, v in (("python", python), ("jvm", jvm), ("tree", python + jvm)):
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def mb(self, part: str) -> float:
        return self.peak[part] / (1024 * 1024)


def source_digest(pkg_dir: str) -> str:
    """Content hash of the engine's .py files: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(repo_root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo_root,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def regime(spark, repo_root: str, pkg_dir: str, corpus_key: str, load_before) -> dict:
    """Everything about the host and build that a reading depends on. No
    copy-probe gate: on a 4-core host the probe measures our own load."""
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(repo_root),
        "engine_digest": source_digest(pkg_dir),
        "corpus_key": corpus_key,
        "argv": sys.argv[1:],
    }
