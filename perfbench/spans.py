"""Spans kept in memory, and per-operation Spark counters from the event log.

Every operation of a pass runs inside ``Spans.op``: the span gives its
wall time, and in a traced run the operation's Spark jobs carry its id as
their job group, so the event log can be attributed after the timed loop.
Jobs that Spark runs from its own threads (a streaming query's
micro-batches carry the stream's id as job group) are attributed to the
tagged operation whose wall-time window holds their submission.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Spans:
    """Spans as ``[name, start, end, parent_index, op_id]`` rows."""

    def __init__(self):
        self.rows: list[list] = []
        self._stack: list[int] = []
        self._sc = None
        self.tagged: dict[str, tuple[float, float]] = {}  # op id -> window

    def tag_jobs(self, sc) -> None:
        """Tag each operation's Spark jobs with its id (``sc``), or stop
        tagging (``None``)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.rows[parent][4]
        idx = len(self.rows)
        self.rows.append([name, time.time(), None, parent, op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.rows[idx][2] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, name: str, op_id: str):
        """A top-level operation: a span whose Spark jobs carry ``op_id``."""
        sc = self._sc
        if sc is not None:
            sc.setLocalProperty(_GROUP, op_id)
        idx = len(self.rows)
        try:
            with self.span(name, op_id):
                yield
        finally:
            if sc is not None:
                sc.setLocalProperty(_GROUP, None)
                self.tagged[op_id] = tuple(self.rows[idx][1:3])

    def seconds(self, name: str, op_ids: set[str]) -> float:
        """Total duration of the spans called ``name`` within ``op_ids``."""
        return sum(
            end - start
            for n, start, end, _, op in self.rows
            if n == name and op in op_ids
        )

    def op_window(self, op_id: str) -> tuple[float, float]:
        for name, start, end, parent, op in self.rows:
            if op == op_id and parent is None:
                return start, end
        raise KeyError(op_id)

    def dump(self, path: str, groups: dict) -> None:
        """One JSON object per span; a top-level operation also carries its
        Spark counters from the event log."""
        with open(path, "w") as f:
            for i, (name, start, end, parent, op) in enumerate(self.rows):
                rec = {"span": i, "name": name, "start": start, "end": end,
                       "parent": parent, "op_id": op}
                if parent is None and op in groups:
                    rec["spark"] = groups[op]
                f.write(json.dumps(rec) + "\n")


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def parse_event_log(log_dir: str, windows: dict) -> dict[str, dict]:
    """Per tagged operation (``windows``: op id -> wall-time window): jobs,
    busy time (union of job intervals, s), task time, GC time and shuffle
    bytes written, from Spark's JSON event log."""

    def owner(group, submitted: float):
        if group in windows:
            return group
        for op, (start, end) in windows.items():
            if start <= submitted <= end:
                return op
        return None

    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    submitted = ev["Submission Time"] / 1000.0
                    g = owner(
                        (ev.get("Properties") or {}).get(_GROUP), submitted
                    )
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = submitted
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    rec = groups.setdefault(g, {
                        "jobs": 0, "intervals": [], "task_s": 0.0,
                        "gc_s": 0.0, "shuffle_bytes": 0,
                    })
                    rec["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["intervals"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if g is None or not metrics:
                        continue
                    rec = groups[g]
                    rec["task_s"] += metrics["Executor Run Time"] / 1000.0
                    rec["gc_s"] += metrics["JVM GC Time"] / 1000.0
                    rec["shuffle_bytes"] += metrics["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"
                    ]
    for rec in groups.values():
        rec["busy_s"] = _union_seconds(rec.pop("intervals"))
    return groups
