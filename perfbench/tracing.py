"""Measurement plumbing kept outside the engine.

* :class:`Tracer` — spans around calls into the engine's public functions,
  kept in memory and written out when the run ends.
* :class:`SparkRest` — stage and SQL-node metrics from the driver's local
  REST UI, for work that happens inside lazy plans.
* :class:`UsageSampler` — peak RSS and CPU time of the JVM and the Python
  workers this process starts, sampled from ``/proc``.
* :func:`codegen_fallbacks` — whole-stage-codegen fallbacks in the driver log.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request
from dataclasses import dataclass
from typing import Optional


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory spans. A disabled tracer records nothing and costs one
    attribute check per call, so untraced runs share the same code path."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name, restore: list) -> None:
        """Replace ``owner.attr`` by a spanned wrapper; ``name`` is the span
        name or a function of the call's arguments that returns it;
        ``restore`` collects the originals so :func:`unwrap` can put them
        back."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        restore.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    @staticmethod
    def unwrap(restore: list) -> None:
        for owner, attr, orig in reversed(restore):
            setattr(owner, attr, orig)
        restore.clear()

    def total_ms(self, name: str, since: int = 0) -> float:
        return sum(s.ms for s in self.spans[since:] if s.name == name)

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s.name == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": k, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                    for k, s in enumerate(self.spans)
                ],
                fh,
            )


# ---------------------------------------------------------------------------
# Spark REST UI

_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_UNITS_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(value: str) -> float:
    """Total of a formatted SQL metric: ``"1,234"``, ``"1.2 s"``,
    ``"3.0 MiB"`` or ``"total (min, med, max ...)\\n12 ms (...)"``."""
    v = value.split("\n", 1)[1] if "\n" in value else value
    v = v.split(" (", 1)[0].strip()
    parts = v.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return num
    unit = parts[1]
    if unit in _UNITS_MS:
        return num * _UNITS_MS[unit]
    if unit in _UNITS_B:
        return num * _UNITS_B[unit]
    raise ValueError(f"unknown metric unit in {value!r}")


class SparkRest:
    """Read-only client of the driver's local status REST API."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def jobs(self, group: str, timeout: float = 20.0) -> list:
        """Finished jobs of a job group. The status store fills from the
        listener bus asynchronously, so poll until every job is done."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of group {group} did not finish in the UI")
            time.sleep(0.1)

    def stages(self, group: str) -> list:
        ids = sorted({s for j in self.jobs(group) for s in j["stageIds"]})
        out = []
        for st in self.get("/stages?details=false"):
            if st["stageId"] in ids and st["status"] == "COMPLETE":
                out.append(st)
        return out

    def task_quantiles(self, stage: dict, quantiles=(0.5, 1.0)) -> list:
        q = ",".join(str(x) for x in quantiles)
        summ = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles={q}")
        return summ["executorRunTime"]

    def sql_nodes(self, group: str, timeout: float = 20.0) -> list:
        """All plan nodes (name + parsed metrics) of the SQL executions whose
        jobs belong to ``group``."""
        job_ids = {j["jobId"] for j in self.jobs(group)}
        deadline = time.monotonic() + timeout
        while True:
            execs = self.get("/sql?details=true&planDescription=false&length=100000")
            mine = [e for e in execs if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]
            if mine and all(e["status"] != "RUNNING" for e in mine):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"SQL executions of group {group} did not finish in the UI")
            time.sleep(0.1)
        nodes = []
        for e in mine:
            for n in e.get("nodes", []):
                metrics = {}
                for m in n.get("metrics", []):
                    try:
                        metrics[m["name"]] = parse_metric(m["value"])
                    except (ValueError, IndexError):
                        continue
                nodes.append({"name": n["nodeName"], "metrics": metrics})
        return nodes


def node_metric(nodes: list, prefix: str, metric: str) -> float:
    """Sum of ``metric`` over nodes whose name starts with ``prefix``."""
    return sum(n["metrics"].get(metric, 0.0) for n in nodes if n["name"].startswith(prefix))


# ---------------------------------------------------------------------------
# memory


def children(pid: int) -> list:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return kids


def tree_usage(root: int) -> dict:
    """RSS bytes and CPU seconds of the descendants of ``root`` (not
    ``root`` itself), split by executable name: ``java`` is the JVM,
    everything else the Python workers; ``procs`` counts the processes.
    CPU includes the reaped children of each process, so a worker that
    exits keeps counting under its parent."""
    out = {"jvm": 0, "python": 0, "procs": 0, "jvm_cpu": 0.0, "python_cpu": 0.0}
    todo = children(root)
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        kind = "jvm" if comm == "java" else "python"
        out[kind] += rss
        out[kind + "_cpu"] += sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
        out["procs"] += 1
        todo += children(pid)
    return out


class UsageSampler:
    """Background sampler of the RSS of this process's descendants (the
    JVM and the Python workers it forks; the benchmark's own process,
    which holds the corpus and the expected outputs, is left out).
    Each :meth:`active` window appends its peak RSS values to ``peaks``
    and the CPU seconds its processes used to ``cpu``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peaks: list = []
        self.cpu: list = []
        self._cur: dict = {}
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> dict:
        r = tree_usage(os.getpid())
        r["total"] = r["jvm"] + r["python"]
        with self._lock:
            for k in ("jvm", "python", "total", "procs"):
                self._cur[k] = max(self._cur.get(k, 0), r[k])
        return r

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            time.sleep(self.interval)

    def __enter__(self) -> "UsageSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @contextlib.contextmanager
    def active(self):
        with self._lock:
            self._cur = {}
        start = self._sample()
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            end = self._sample()
            with self._lock:
                self.peaks.append(self._cur)
                self.cpu.append({k: end[k + "_cpu"] - start[k + "_cpu"] for k in ("jvm", "python")})


# ---------------------------------------------------------------------------
# driver log

_FALLBACK = re.compile(r"Whole-stage codegen disabled|grows beyond 64 KB")


def codegen_fallbacks(log_path: str) -> int:
    """Whole-stage-codegen fallbacks seen in the driver log: the janino
    "grows beyond 64 KB" compile failure and the WARN that disables
    codegen for the plan both mark one; count the larger of the two so
    one fallback that logs both lines is counted once."""
    disabled = too_big = 0
    try:
        with open(log_path, errors="replace") as fh:
            for line in fh:
                m = _FALLBACK.search(line)
                if m:
                    if m.group(0).startswith("Whole"):
                        disabled += 1
                    else:
                        too_big += 1
    except OSError:
        return 0
    return max(disabled, too_big)
