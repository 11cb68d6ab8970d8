"""Driver-side spans kept in memory and written out when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    """A span is (id, name, start, end, parent, pass id); times are
    ``time.time()`` seconds so they line up with Spark's event log."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.records)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, **attrs}
        self.records.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def around(self, module: str, attr: str, name: str):
        """Record a span around every call of ``module.attr``, including
        calls made from inside the package, for the block's duration."""
        import importlib

        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            setattr(mod, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.records:
                f.write(json.dumps(rec) + "\n")


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(records) -> dict[int, float]:
    """Per span: its duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for r in records:
        if r["parent"] is not None:
            kids.setdefault(r["parent"], []).append(r)
    out = {}
    for r in records:
        ch = [(max(c["start"], r["start"]), min(c["end"], r["end"]))
              for c in kids.get(r["id"], [])]
        ch = [(s, e) for s, e in ch if e > s]
        out[r["id"]] = (r["end"] - r["start"]) - covered(ch)
    return out


def totals_by_name(records, pass_id=None) -> dict[str, dict]:
    """calls, total seconds and self seconds per span name."""
    selfs = self_times(records)
    out: dict[str, dict] = {}
    for r in records:
        if pass_id is not None and r["pass"] != pass_id:
            continue
        agg = out.setdefault(r["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += r["end"] - r["start"]
        agg["self_s"] += selfs[r["id"]]
    return out
