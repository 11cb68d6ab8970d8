"""Summary statistics, run facts and a peak-RSS sampler."""

from __future__ import annotations

import math
import os
import platform
import re
import statistics
import subprocess
import threading

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def check_name(name: str) -> str:
    """Metric names are made of letters, digits, ``_``, ``.`` and ``-``."""
    if len(name) > 64 or not NAME_RE.fullmatch(name) or not name[0].isalnum():
        raise ValueError(f"bad metric name {name!r}")
    return name


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p with at least 10 of ``n`` samples above
    it (``n * (1 - p/100) >= 10``); None when n < 10 + 1."""
    if n <= 10:
        return None
    p = math.floor(100 * (1 - 10 / n))
    return p if p >= 50 else None


def summarize(samples) -> dict:
    """Median, tail percentile (if any) and sample count."""
    xs = sorted(float(x) for x in samples)
    if not xs:
        return {"median": None, "n": 0}
    out = {"median": statistics.median(xs), "n": len(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        rank = max(0, math.ceil(p / 100 * len(xs)) - 1)
        out[f"p{p}"] = xs[rank]
    return out


def iqr_spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# --- run facts ---------------------------------------------------------------

def cpu_sample() -> tuple[int, int] | None:
    """(steal jiffies, total jiffies) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(a, b) -> float | None:
    if a is None or b is None or b[1] <= a[1]:
        return None
    return 100.0 * (b[0] - a[0]) / (b[1] - a[1])


def mem_total_mb() -> float | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return None


def source_id(root: str) -> str:
    """The git commit of ``root`` if it is a checkout, otherwise a digest
    of the package's Python sources."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    import hashlib

    h = hashlib.blake2b(digest_size=10)
    pkg = os.path.join(root, "rastertiler_rs_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-" + h.hexdigest()


def run_facts(root: str, trace: bool) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "source": source_id(root),
        "trace": bool(trace),
    }


# --- peak RSS ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class PeakRss:
    """Samples the summed RSS of this process's descendants (the Spark
    JVM and its Python workers) inside a ``with`` block."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, rss_mb(descendants(me)))
