"""Spans, Spark counters and process memory for one benchmark run.

A span wraps one call into the engine. In a traced run each span is its
own Spark job group. Between operations its jobs' stages are read back
from Spark's status store (stage count, shuffle bytes written, executor
CPU), so the reads fall outside every span's clock.
Spans stay in memory and are written out once, when the run ends. In an
untraced run ``span`` only yields, so the end-to-end timings carry no
tracing cost.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent reading counters back
        self._stack: list[dict] = []
        self._n = 0
        self._sql_seen = 0
        self._unsettled: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        gid = f"perfbench-{self._n}"
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "group": gid, "children": []}
        sc.setJobGroup(gid, name)
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
                parent["children"].append(rec)
            else:
                sc._jsc.clearJobGroup()
            # Children end before their parent, so they come first.
            self.spans.append(rec)
            self._unsettled.append(rec)

    def settle(self) -> None:
        """Read the counters of every span ended since the last call.

        Called between operations, so the reads fall outside every
        span's clock. A span's counters include its children's."""
        for rec in self._unsettled:
            own = self.group_counters(rec["group"])
            for child in rec["children"]:
                for k in own:
                    own[k] += child[k]
            rec.update(own)
        self._unsettled = []

    def record(self, name: str, **fields) -> None:
        """Keep a record that is not a span (e.g. a streaming query's
        progress) for the trace file."""
        self.spans.append({"name": name, **fields})

    def group_counters(self, group: str) -> dict:
        """Stages run, shuffle bytes written and executor CPU seconds of
        every job in a job group, from the status store."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        out = {"stages": 0, "shuffle_write_bytes": 0, "executor_cpu_s": 0.0}
        stage_ids = set()
        for job in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(job)
            stage_ids.update(info.stageIds if info else ())
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        self.overhead_s += time.perf_counter() - t0
        return out

    def scan_rows(self, node_name: str) -> tuple[int, int]:
        """(executions, rows) of the SQL executions since the last call
        whose plan has a ``node_name`` node: how often a source was
        scanned, and how many rows those scans emitted in total."""
        t1 = time.perf_counter()
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = sql.executionsCount()
        execs = sql.executionsList(self._sql_seen, total - self._sql_seen)
        self._sql_seen = total
        n_exec, rows = 0, 0
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            hit = False
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name() != node_name:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        rows += int(v.get().replace(",", ""))
                        hit = True
            n_exec += hit
        self.overhead_s += time.perf_counter() - t1
        return n_exec, rows

    def cache_counters(self) -> dict:
        """Persisted RDDs and the bytes they hold right now."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        self.overhead_s += time.perf_counter() - t0
        return {
            "cache.persisted_rdds": sc._jsc.getPersistentRDDs().size(),
            "cache.storage_bytes": held,
        }

    def totals(self, name: str) -> dict:
        """Wall and counters summed over every span called ``name``."""
        out = {"wall_s": 0.0, "stages": 0, "shuffle_write_bytes": 0, "executor_cpu_s": 0.0}
        for s in self.spans:
            if s["name"] == name and "group" in s:
                for k in out:
                    out[k] += s[k]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        flat = [{k: v for k, v in s.items() if k != "children"} for s in self.spans]
        with open(path, "w") as f:
            json.dump(flat, f, indent=1)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


class PeakRss:
    """Samples the resident memory of a process tree (the Spark JVM and
    the Python workers it forks) and keeps the peak of the sum."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = _children_map()
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        self.peak = max(self.peak, total)
        return total

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
