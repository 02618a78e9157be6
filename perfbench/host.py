"""Host sizing, disk guard, process-tree RSS sampling and in-memory spans.

Everything here reads ``/proc`` or the file system of the checkout; no
Spark import, so the sizing is known before the session starts.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Host:
    nproc: int
    mem_total_mb: int
    driver_heap_mb: int

    def as_report(self) -> dict:
        from pyspark import __version__ as pyspark_version

        return {
            "nproc": self.nproc,
            "mem_total_mb": self.mem_total_mb,
            "driver_heap_mb": self.driver_heap_mb,
            "pyspark": pyspark_version,
        }


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def probe_host() -> Host:
    """Cores as ``nproc`` reports them (the affinity mask) and a driver
    heap of a quarter of MemTotal, between 1 and 8 GiB. MemTotal, not
    MemAvailable, so the heap is the same on every run of one host."""
    nproc = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_kb("MemTotal") // 1024
    heap_mb = max(1024, min(8192, mem_mb // 4))
    return Host(nproc=nproc, mem_total_mb=mem_mb, driver_heap_mb=heap_mb)


def check_disk(path: str, need_bytes: int) -> None:
    """Refuse to run when the inputs still to be written plus scratch space
    do not fit on the disk that holds the checkout."""
    free = shutil.disk_usage(path).free
    if need_bytes > free:
        raise SystemExit(
            f"perfbench: needs {need_bytes / 2**30:.2f} GiB for inputs and "
            f"scratch under {path}, but only {free / 2**30:.2f} GiB is free"
        )


def data_files(path: str) -> list[str]:
    """Data files under ``path``, without the checksum and marker files
    (``.*.crc``, ``_SUCCESS``) that carry no rows."""
    return [
        os.path.join(root, name)
        for root, _dirs, files in os.walk(path)
        for name in files
        if not name.startswith((".", "_"))
    ]


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    files = data_files(path)
    return sum(os.path.getsize(f) for f in files), len(files)


# ------------------------------------------- process tree: RSS and shutdown ---


def descendants(root_pid: int) -> list[int]:
    """Every live descendant of ``root_pid``, from ``/proc``."""
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process ended between listdir and open
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_kb(root_pid: int) -> int:
    """Summed RSS of every descendant of ``root_pid`` (not the root
    itself): the driver JVM and the Python workers it forks."""
    return sum(_rss_kb(pid) for pid in descendants(root_pid))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the Spark session and the gateway JVM behind it, then wait
    until every process this one started (the JVM, the Python worker
    daemon and its workers) has ended; whatever outlives ``timeout_s`` is
    killed. The JVM's descendants are listed first: once it exits, they
    are re-parented and no longer show as its children."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    left = _wait_gone(pids, timeout_s)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    if _wait_gone(left, 10.0):
        raise RuntimeError(f"perfbench: processes {left} did not end")


def end_descendants(timeout_s: float = 10.0) -> None:
    """Terminate whatever this process still has running under it and
    wait for it to end (a safety net; normally nothing is left)."""
    import signal

    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        pids = _wait_gone(pids, timeout_s)
        if not pids:
            return
    raise RuntimeError(f"perfbench: processes {pids} did not end")


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive at
    the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


class RssSampler:
    """Background thread that keeps the peak of ``descendants_rss_kb``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, descendants_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------- spans ---


@dataclass
class Spans:
    """Benchmark-side spans (name, start, end, parent) kept in memory and
    written once at exit. Times are seconds since the run started."""

    t0: float = field(default_factory=time.perf_counter)
    rows: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, attrs: dict):
        self.spans, self.name, self.attrs = spans, name, attrs

    def __enter__(self) -> dict:
        s = self.spans
        self.row = {
            "id": len(s.rows),
            "name": self.name,
            "parent": s._stack[-1] if s._stack else None,
            "start": time.perf_counter() - s.t0,
            "end": None,
            **self.attrs,
        }
        s.rows.append(self.row)
        s._stack.append(self.row["id"])
        return self.row

    def __exit__(self, *exc) -> None:
        self.row["end"] = time.perf_counter() - self.spans.t0
        self.spans._stack.pop()
