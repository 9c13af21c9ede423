"""Spans, Spark counters and peak RSS, all taken from outside the program.

Every call the benchmark makes into a linkgraph layer runs inside a span,
and every span runs under its own Spark job group.  A span records its
name, start, end, parent span and run id in memory; ``Tracer.dump`` writes
them out when the run ends.

Spark counters (jobs, stages, executor run time, shuffle bytes, spill) come
from ``statusTracker().getJobIdsForGroup`` and the status store's stage
list.  Both work with ``spark.ui.enabled=false``.  The stage list is read
after the timed work, so reading it costs no timed time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

MB = 1e6


class Tracer:
    """In-memory spans, one Spark job group per span."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._stages: dict[int, dict] | None = None  # cleared when a span ends

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setJobGroup(f"{self.run_id}/none", "outside any span")
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def record(self, name: str, start: float, end: float) -> dict:
        """A span timed by the caller, for work that ran before the
        tracer existed (session start)."""
        span = {"id": len(self.spans) + 1, "name": name, "parent": None,
                "run_id": self.run_id, "group": None,
                "start": start, "end": end}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans) + 1
        span = {"id": sid, "name": name,
                "parent": parent["id"] if parent else None,
                "run_id": self.run_id, "group": f"{self.run_id}/{sid}",
                "start": time.time(), "end": None}
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stages = None
            self._stack.pop()
            self._set_group(parent)

    # -- counters ----------------------------------------------------------

    def _stage_table(self) -> dict[int, dict]:
        """stageId -> summed metrics over all attempts, read again only
        after more spans have ended."""
        if self._stages is None:
            jvm, gw = self.sc._jvm, self.sc._gateway
            store = self.sc._jsc.sc().statusStore()
            seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                                  gw.new_array(jvm.double, 0),
                                  jvm.java.util.ArrayList())
            table: dict[int, dict] = {}
            for i in range(seq.length()):
                s = seq.apply(i)
                row = table.setdefault(int(s.stageId()), {
                    "run_ms": 0, "shuffle_write": 0, "shuffle_read": 0,
                    "spill": 0})
                row["run_ms"] += int(s.executorRunTime())
                row["shuffle_write"] += int(s.shuffleWriteBytes())
                row["shuffle_read"] += int(s.shuffleReadBytes())
                row["spill"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            self._stages = table
        return self._stages

    def counters(self, span: dict, cores: int) -> dict:
        """Spark cost of a span and every span nested in it."""
        groups = [s["group"] for s in self._subtree(span) if s["group"]]
        tracker = self.sc.statusTracker()
        table = self._stage_table()
        jobs, stages = 0, set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(int(x) for x in info.stageIds)
        rows = [table[s] for s in stages if s in table]
        wall = span["end"] - span["start"]
        run_s = sum(r["run_ms"] for r in rows) / 1000.0
        return {
            "wall_s": wall,
            "jobs": jobs,
            "stages": len(stages),
            "run_s": run_s,
            "busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
            "shuffle_write_mb": sum(r["shuffle_write"] for r in rows) / MB,
            "shuffle_read_mb": sum(r["shuffle_read"] for r in rows) / MB,
            "spill_mb": sum(r["spill"] for r in rows) / MB,
        }

    def _subtree(self, span: dict) -> list[dict]:
        out, frontier = [span], [span["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += kids
            frontier = [s["id"] for s in kids]
        return out

    def dump(self, path: str, cores: int) -> None:
        """Write the spans, each with its Spark counters, as JSON."""
        out = [dict(s, counters=self.counters(s, cores) if s["group"] else None)
               for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _proc_tree_rss(root: int, page: int) -> int:
    """Summed RSS bytes of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
        todo += children.get(pid, [])
    return total


class RssSampler:
    """Samples the RSS of a process tree (the Spark JVM and the Python
    workers it forks) from /proc on a background thread; ``peak_mb`` is
    the highest sum seen since the last ``reset``."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _proc_tree_rss(self.root, self.page))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak = 0

    @property
    def peak_mb(self) -> float:
        return self.peak / MB
