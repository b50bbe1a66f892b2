"""In-memory span recorder for the traced run, and process CPU and memory
readings.

A span has a name, start, end, parent span and op id. Spans are kept in a
list and written out once, at exit. A span's self time is its duration minus
the part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict, kids: list[dict] | None = None) -> float:
        """Duration minus the union of the child spans' intervals."""
        if kids is None:
            kids = [s for s in self.spans if s["parent"] == rec["id"]]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((k["start"], k["end"]) for k in kids):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            kids: dict[int, list[dict]] = {}
            for s in self.spans:
                kids.setdefault(s["parent"], []).append(s)
            json.dump([{**s, "self": self.self_time(s, kids.get(s["id"], []))}
                       for s in self.spans], fh)


class NullTracer(Tracer):
    """Records nothing: the tracer of the untraced (measured) runs."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, from the ppid field of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, plus those of reaped children) of ``root``
    and every process below it. Time the host steals from a virtual CPU is
    not counted, unlike wall time."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since it was listed
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def jvm_threads(pid: int | None) -> dict[int, tuple[str, float]]:
    """{thread id: (group, CPU seconds)} of the JVM's live threads, grouped by
    name: JIT compiler threads ("jit"), garbage-collector threads ("gc") and
    the rest ("other")."""
    out: dict[int, tuple[str, float]] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task") if pid else []
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended since it was listed
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        f = stat.rsplit(")", 1)[1].split()
        group = ("jit" if "Compiler" in name else
                 "gc" if "GC" in name or name.startswith("G1") else "other")
        out[int(tid)] = (group, (int(f[11]) + int(f[12])) / _TICK)
    return out


def thread_cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per group between two ``jvm_threads`` readings, over the
    threads alive at the second one (the JVM starts and ends compiler threads
    as its queue demands)."""
    out = {"jit": 0.0, "gc": 0.0, "other": 0.0}
    for tid, (group, cpu) in after.items():
        out[group] += cpu - before.get(tid, (group, 0.0))[1]
    return out


class MemorySampler:
    """Resident memory of the Spark driver process (this one), the JVM and the Python worker tree
    (every process below the JVM), sampled between ops; keeps the peaks."""

    def __init__(self, jvm_pid: int | None) -> None:
        self.jvm_pid = jvm_pid
        self.peak = {"driver": 0.0, "jvm": 0.0, "worker": 0.0, "total": 0.0}

    def sample(self) -> None:
        mb = {
            "driver": _status_kb(os.getpid(), "VmRSS") / 1024,
            "jvm": _status_kb(self.jvm_pid, "VmRSS") / 1024 if self.jvm_pid else 0.0,
            "worker": sum(_status_kb(p, "VmRSS") for p in descendants(self.jvm_pid)) / 1024
            if self.jvm_pid
            else 0.0,
        }
        mb["total"] = mb["driver"] + mb["jvm"] + mb["worker"]
        for k, v in mb.items():
            self.peak[k] = max(self.peak[k], v)
