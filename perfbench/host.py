"""Host facts for a benchmark run, read from ``/proc`` (psutil is not a
dependency): the run-context record, the peak resident set of the process
tree, and shutting that tree down."""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import signal
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(text[text.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(text.split()[0]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Peak RSS (``VmHWM``) summed over this process and every live
    descendant: the Spark JVM and its Python daemon and workers."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *descendants(me)]) / 1024.0


def wait_for_exit(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid has ended; SIGKILL what is left at the
    deadline. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # reap our own direct children so none is left a zombie
    for pid in alive:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    return alive


def source_digest(root: str) -> str:
    """SHA-256 over the engine's Python sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    paths = sorted(
        glob.glob(os.path.join(root, "wavelet_decomposition_spark", "**", "*.py"),
                  recursive=True)
        + [os.path.join(root, "__spark_entry__.py")]
    )
    for path in paths:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def run_context(root: str, seed: int) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg_before": os.getloadavg(),
        "mem_available_mb_before": round(mem_available_mb(), 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "commit": git_commit(root),
        "source_sha256": source_digest(root),
        "seed": seed,
    }


def close_context(ctx: dict) -> dict:
    ctx["loadavg_after"] = os.getloadavg()
    ctx["mem_available_mb_after"] = round(mem_available_mb(), 1)
    # runs taken on a host busier than its core count read slow: flag them
    ctx["contended"] = max(ctx["loadavg_before"][0],
                           ctx["loadavg_after"][0]) > ctx["nproc"]
    return ctx
