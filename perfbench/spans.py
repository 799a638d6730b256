"""Span recorder for the traced run, and the fold of Spark's event log.

Spans are recorded from the benchmark's side of each layer boundary: the
public entry points of ``fusets_spark`` are wrapped while a traced pass
runs, and so are the PySpark actions they trigger, so a ``write_batch``
splits into its write job and its stats job. Each span sets the Spark job
group to its own id; the event log, folded per job group, then attributes
every job, stage and task to the innermost span that launched it.

Spans stay in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

_INHERITED = object()


class Tracer:
    """Nested spans: name, start, end and parent, plus Spark job groups."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "t0": time.monotonic(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name, False)
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
        (owner, attr, name) target; restore the originals on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                # a class may inherit the attribute: remember whether it
                # owned it, so restoring never leaves a copy behind
                saved.append((owner, attr, vars(owner).get(attr, _INHERITED)))
                setattr(owner, attr, self.wrap(getattr(owner, attr), name))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                if orig is _INHERITED:
                    delattr(owner, attr)
                else:
                    setattr(owner, attr, orig)

    # --- derived views -------------------------------------------------------
    def children(self) -> dict[str | None, list[dict]]:
        out: dict[str | None, list[dict]] = defaultdict(list)
        for s in self.spans:
            out[s["parent"]].append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the union of its children's intervals
        (children of one span never overlap: one client thread)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            dur = s["t1"] - s["t0"]
            covered = sum(c["t1"] - c["t0"] for c in kids.get(s["id"], []))
            out[s["id"]] = max(0.0, dur - covered)
        return out

    def subtree(self, root_id: str) -> list[dict]:
        kids = self.children()
        out, todo = [], [root_id]
        while todo:
            sid = todo.pop()
            for c in kids.get(sid, []):
                out.append(c)
                todo.append(c["id"])
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def ids_under(self, name: str) -> set[str]:
        """Ids of the spans called `name` and of everything below them."""
        return {
            c["id"] for s in self.by_name(name)
            for c in [s, *self.subtree(s["id"])]
        }

    def total(self, name: str, under: str | None = None) -> float:
        """Summed duration of spans called `name` (optionally only those
        below a span called `under`)."""
        spans = self.by_name(name)
        if under is not None:
            inside = self.ids_under(under)
            spans = [s for s in spans if s["id"] in inside]
        return sum(s["t1"] - s["t0"] for s in spans)


# --- Spark event log ---------------------------------------------------------

_ACC_MS = {
    "scan time": "scan_time_s",
    "time in aggregation build": "agg_build_time_s",
    "sort time": "sort_time_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}
_ACC_BYTES = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Fold every event log under `log_dir` into one row per job group:
    jobs, tasks, failed tasks, JVM CPU, GC, shuffle, spill, the SQL layer
    metrics and, per stage, the slowest and median task durations."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and os.path.basename(p).startswith(("events_", "local-"))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                    groups[g or "-"]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    row = groups[stage_group.get(sid) or "-"]
                    info = e.get("Task Info", {})
                    row["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        row["tasks_failed"] += 1
                    if info.get("Finish Time") and info.get("Launch Time"):
                        stage_tasks[sid].append(
                            (info["Finish Time"] - info["Launch Time"]) / 1e3
                        )
                    m = e.get("Task Metrics") or {}
                    row["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    row["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    row["shuffle_write_time_s"] += sw.get("Shuffle Write Time", 0) / 1e9
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if upd is None:
                            continue
                        if name in _ACC_MS:
                            row[_ACC_MS[name]] += float(upd) / 1e3
                        elif name in _ACC_BYTES:
                            row[_ACC_BYTES[name]] += float(upd)
    # stage skew: slowest / median task of each group's longest stage
    longest: dict[str, tuple[float, float]] = {}
    for sid, durs in stage_tasks.items():
        g = stage_group.get(sid) or "-"
        total = sum(durs)
        if g not in longest or total > longest[g][0]:
            med = statistics.median(durs)
            longest[g] = (total, max(durs) / med if med > 0 else 1.0)
    for g, (_, skew) in longest.items():
        groups[g]["stage_skew"] = skew
    return {g: dict(v) for g, v in groups.items()}


SPARK_FIELDS = [
    "scan_time_s", "shuffle_write_time_s", "shuffle_bytes",
    "agg_build_time_s", "sort_time_s", "python_start_s", "python_init_s",
    "python_run_s", "python_bytes_sent", "python_bytes_returned",
    "jvm_cpu_s", "gc_s", "spill_bytes", "jobs", "tasks", "tasks_failed",
]


def spark_totals(folded: dict[str, dict], span_ids: set[str]) -> dict[str, float]:
    """Sum the folded rows of the given job groups (span ids); stage_skew is
    the largest over them."""
    out = {k: 0.0 for k in SPARK_FIELDS}
    out["stage_skew"] = 0.0
    for g, row in folded.items():
        if g not in span_ids:
            continue
        for k in SPARK_FIELDS:
            out[k] += row.get(k, 0.0)
        out["stage_skew"] = max(out["stage_skew"], row.get("stage_skew", 0.0))
    return out
