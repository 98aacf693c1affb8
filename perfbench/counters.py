"""Counters read from outside the package: the process tree under /proc,
Spark's status store over its REST API, and a fixed host-speed probe."""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree() -> list[int]:
    """This process and every live descendant."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except (OSError, IndexError):
        return False


#: Peak resident set (kB) of every process of the tree seen so far, keyed
#: by (pid, start time): a worker that has exited keeps its last reading.
_PEAK_KB: dict[tuple[int, str], int] = {}


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, including children each member
    has already reaped (finished Python workers are reaped by their
    daemon, so their time shows in its cutime/cstime).  Each call also
    records every member's peak resident set for ``tree_peak_rss_mb``."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/status") as f:
                hwm = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        _PEAK_KB[(p, fields[19])] = hwm  # fields[19]: start time
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over every process
    of the tree seen at an op boundary, including those that have exited
    since.  The peaks need not coincide, so this bounds the tree's
    simultaneous peak from above."""
    tree_cpu_s()
    return sum(_PEAK_KB.values()) / 1024


def host_loop_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: moves only with the host."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        s = 0
        for i in range(400_000):
            s += i * i % 7
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


# -- Spark status store -------------------------------------------------------


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=30) as r:
        return json.load(r)


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class StatusStore:
    """Jobs and stages of the running application, fetched once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = sc.uiWebUrl.rstrip("/")
        app = sc.applicationId
        self.jobs = [
            {
                "id": j["jobId"],
                "start": _epoch(j.get("submissionTime")),
                "end": _epoch(j.get("completionTime")),
                "stages": j.get("stageIds", []),
            }
            for j in _get(self.base, f"/applications/{app}/jobs")
        ]
        self.stages = {}
        for s in _get(self.base, f"/applications/{app}/stages?status=complete"):
            st = self.stages.setdefault(s["stageId"], {
                "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                "shuffle_b": 0, "input_b": 0, "output_b": 0,
            })
            st["tasks"] += s.get("numCompleteTasks", 0)
            st["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            st["run_s"] += s.get("executorRunTime", 0) / 1e3
            st["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            st["shuffle_b"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
            st["input_b"] += s.get("inputBytes", 0)
            st["output_b"] += s.get("outputBytes", 0)
        self._sql = None
        self._app = app

    def window(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted inside [t0, t1]: an op's job-id window, which also
        catches jobs that helper threads without the op's local properties
        submit."""
        return [j for j in self.jobs if j["start"] is not None and t0 <= j["start"] <= t1]

    def totals(self, jobs: list[dict]) -> dict:
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
               "gc_s": 0.0, "shuffle_b": 0, "input_b": 0, "output_b": 0}
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st is None:
                    continue  # skipped stage: its output was reused
                out["stages"] += 1
                for k in ("tasks", "cpu_s", "run_s", "gc_s", "shuffle_b", "input_b", "output_b"):
                    out[k] += st[k]
        return out

    @staticmethod
    def busy_s(jobs: list[dict], t0: float, t1: float) -> float:
        """Wall time inside [t0, t1] during which at least one job ran."""
        iv = sorted((max(t0, j["start"]), min(t1, j["end"] or t1)) for j in jobs)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def python_exec(self, t0: float, t1: float) -> tuple[float, float]:
        """(MB sent to + returned from Python workers, rows out of Python
        exec nodes) summed over SQL executions started inside [t0, t1]."""
        if self._sql is None:
            self._sql = _get(self.base, f"/applications/{self._app}/sql?details=true&planDescription=false&length=100000")
        mb = rows = 0.0
        for ex in self._sql:
            start = _epoch(ex.get("submissionTime"))
            if start is None or not t0 <= start <= t1:
                continue
            for node in ex.get("nodes", []):
                if "Python" not in node.get("nodeName", "") and "Pandas" not in node.get("nodeName", ""):
                    continue
                for m in node.get("metrics", []):
                    name = m.get("name", "")
                    if name.startswith("data sent to Python") or name.startswith("data returned from Python"):
                        mb += _size_mb(m.get("value", ""))
                    elif name == "number of output rows":
                        rows += _first_number(m.get("value", ""))
        return mb, rows


_UNITS = {"B": 1 / 2**20, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0}


def _size_mb(text: str) -> float:
    # "total (min, med, max ...)\n1.2 MiB (...)" or plain "1.2 MiB"
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _first_number(text: str) -> float:
    m = re.search(r"[\d,]+", text.split("\n")[-1])
    return float(m.group(0).replace(",", "")) if m else 0.0
