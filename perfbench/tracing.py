"""Spans, counters and Spark status probes for the traced run.

The benchmark records spans from its own files, around each call into a
layer's public function; nothing inside the engine is instrumented. A
disabled ``Tracer`` hands out one shared null context, so the untraced
run pays a method call per span and nothing else.

Counters come from Spark's public status surfaces:

- the status store's job and stage lists (jobs started, executor run
  time, shuffle bytes, spill) — populated with the UI disabled;
- ``QueryExecution.tracker()`` phases (analysis, optimization, planning);
- ``StreamingQueryProgress`` reports (read by the workloads);
- the py4j client, wrapped to count round trips.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class Tracer:
    """In-memory spans (name, start, end, parent) and counters, written
    out once at the end of the run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its direct children
        cover (children never overlap: spans nest on one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, **extra) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        doc = {
            **extra,
            "spans": [
                {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
            ],
            "counters": dict(self.counters),
            "self_time_s": self.self_times(),
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


class Py4jCounter:
    """Counts py4j round trips by wrapping the session's gateway client.

    Every JavaObject/JavaMember calls ``gateway_client.send_command``, so
    an instance attribute on that one client sees every call."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        self._orig = self._client.send_command

        def send_command(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command


class SparkProbe:
    """Job and stage counters from the status store, as deltas between
    two marks. The store lists jobs and stages newest first, so a mark
    reads one element and a delta reads only the new stages."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()  # noqa: SLF001
        self._gw = sc._gateway  # noqa: SLF001

    def _stages(self):
        gw = self._gw
        return self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )

    def mark(self) -> tuple[int, int]:
        """(newest job id, newest stage id) so far."""
        jobs, stages = self._store.jobsList(None), self._stages()
        job = jobs.apply(0).jobId() if jobs.size() else -1
        stage = stages.apply(0).stageId() if stages.size() else -1
        return job, stage

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Jobs and stages started after ``mark``: job count, stage
        count, executor run time, shuffle write and spill."""
        jobs = self._store.jobsList(None)
        newest = jobs.apply(0).jobId() if jobs.size() else -1
        out = {"jobs": newest - mark[0], "stages": 0, "executor_run_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        return out


def planning_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own QueryExecution. Analysis ran
    when the DataFrame was built; reading ``executedPlan`` runs (and
    records) optimization and planning, a second time next to the sink
    action's own — part of the tracing overhead."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
        for p in ("analysis", "optimization", "planning")
    }


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident set of a process tree (the driver JVM and the Python
    workers it forks), sampled from /proc every ``period_s``."""

    def __init__(self, root_pid: int, period_s: float = 0.25) -> None:
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = _descendants(self.root_pid)
        self.pids.update(pids)
        self.peak_mb = max(self.peak_mb, sum(_rss_kb(p) for p in pids) / 1024)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
