"""Spans around the calls into each layer, and Spark's task metrics folded
onto them.

A span is opened by the benchmark around one call into a layer
(``tracer.span("ner")``). Each span tags the Spark jobs it starts with its
own job group (``SparkContext.setJobGroup``), so after the session stops the
event log's ``TaskEnd`` records can be folded back onto the span that
caused them. Spans stay in memory and are written as JSON at exit.

Span names are ``<layer>`` or ``<layer>.<part>`` (``snapshots.append``,
``sparql.exec``). Names holding ``:`` are the benchmark's own spans: the
operation that groups one batch or request (``op:batch``), input
preparation (``prep:...``), output checks (``check:...``) and the extra
jobs that count a layer's useful-over-attempted ratios (``probe:...``).
They are not layers, so their jobs never inflate a layer's counters.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

LAYERS = (
    "session",
    "extraction",
    "segment",
    "ner",
    "relations",
    "triples",
    "linking",
    "canonicalize",
    "snapshots",
    "surfaces",
    "sparql",
    "paths",
    "graph",
)


class Tracer:
    """Records spans; a disabled tracer records nothing and tags no jobs."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def attach(self, spark) -> None:
        """Start tagging jobs; called as soon as the session exists, so the
        session's first job lands in the open ``session`` span."""
        if self.enabled:
            self.spark = spark
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setJobGroup("untraced", "untraced")
        else:
            sc.setJobGroup(f"s{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; yields a dict the caller may add counters to
        (``rows_out`` and ratios)."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "op": parent["op"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        if name.startswith("op:"):
            rec["op"] = rec["id"]
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def layer_of(name: str) -> str | None:
    if ":" in name:
        return None
    layer = name.split(".", 1)[0]
    return layer if layer in LAYERS else None


# -- event log ------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application that logged into ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files += [
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".crc")
    ]

    def index(p: str) -> int:
        base = os.path.basename(p)
        parts = base.split("_")
        return int(parts[1]) if base.startswith("events_") else 0

    events = []
    for p in sorted(files, key=index):
        with open(p) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


_PY_RUN = "time to run Python workers"


def fold_tasks(events: list[dict]) -> dict:
    """Fold job and task records by job group: ``groups[g]`` holds the
    number of ``jobs`` and the list of ``tasks`` (launch/finish time in s,
    stage, CPU/GC/shuffle/spill/Python time)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
        groups.setdefault(g, {"jobs": 0, "tasks": []})["jobs"] += 1
        for sid in e.get("Stage IDs", []):
            stage_group[sid] = g
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e["Stage ID"], "untraced")
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        py_ms = 0.0
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == _PY_RUN:
                py_ms += float(acc.get("Update") or 0)
        groups.setdefault(g, {"jobs": 0, "tasks": []})["tasks"].append(
            {
                "stage": e["Stage ID"],
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_bytes": (
                    tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                ),
                "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
                "python_s": py_ms / 1e3,
            }
        )
    return groups


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_metrics(spans: list[dict], groups: dict) -> None:
    """Attach per-span self time and task counters in place."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        dur = s["end"] - s["start"]
        kids = children.get(s["id"], [])
        s["self_s"] = dur - sum(k["end"] - k["start"] for k in kids)
        g = groups.get(f"s{s['id']}", {"jobs": 0, "tasks": []})
        tasks = g["tasks"]
        s["jobs"] = g["jobs"]
        s["tasks"] = len(tasks)
        for key in (
            "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "python_s",
        ):
            s[key] = sum(t[key] for t in tasks)
        # time this span (outside its children) ran no task of its own
        kid_iv = [(k["start"], k["end"]) for k in kids]
        busy = _covered(
            [(t["launch"], t["finish"]) for t in tasks] + kid_iv,
            s["start"],
            s["end"],
        ) - _covered(kid_iv, s["start"], s["end"])
        s["driver_s"] = max(0.0, s["self_s"] - busy)
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
        ratios = [
            max(d) / statistics.median(d)
            for d in by_stage.values()
            if len(d) >= 2 and statistics.median(d) > 0
        ]
        s["straggler_ratio"] = max(ratios) if ratios else 0.0


_SUMMED = {
    "self_s": "self_s",
    "rows_out": "rows_out",
    "jobs": "jobs",
    "tasks": "tasks",
    "executor_cpu_s": "cpu_s",
    "gc_s": "gc_s",
    "shuffle_write_bytes": "shuffle_write_bytes",
    "spill_bytes": "spill_bytes",
    "driver_s": "driver_s",
    "python_s": "python_s",
}


def layer_metrics(spans: list[dict], warm_ops: set[int]) -> dict[str, float]:
    """Per-layer metrics over the warm operations of a traced run.

    Counters are summed over a layer's spans and divided by the number of
    warm operations that entered the layer, so runs of different length
    compare. ``<layer>.<part>_s`` sums the wall time of spans named
    ``<layer>.<part>``. Ratios and flags a span records are averaged over
    the spans that recorded them. The ``session`` layer is the one set-up
    span and is never divided.
    """
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [
            s
            for s in spans
            if layer_of(s["name"]) == layer
            and (layer == "session" or s["op"] in warm_ops)
        ]
        n_ops = len({s["op"] for s in mine}) if layer != "session" else 1
        if not mine:
            continue
        for metric, key in _SUMMED.items():
            out[f"{layer}.{metric}"] = (
                sum(s.get(key, 0) or 0 for s in mine) / n_ops
            )
        out[f"{layer}.straggler_ratio"] = max(
            s["straggler_ratio"] for s in mine
        )
        parts: dict[str, float] = {}
        for s in mine:
            if "." in s["name"]:
                part = s["name"].split(".", 1)[1]
                parts[part] = parts.get(part, 0.0) + s["end"] - s["start"]
        for part, total in parts.items():
            out[f"{layer}.{part}_s"] = total / n_ops
        recorded: dict[str, list[float]] = {}
        for s in mine:
            for k, v in (s.get("ratios") or {}).items():
                recorded.setdefault(k, []).append(float(v))
        for k, vs in recorded.items():
            out[f"{layer}.{k}"] = sum(vs) / len(vs)
    return out


def run_totals(groups: dict) -> dict[str, float]:
    """Whole-run executor CPU, and the part no span tagged, for reconciling
    the per-layer sums."""
    def cpu(tasks):
        return sum(t["cpu_s"] for t in tasks)

    return {
        "executor_cpu_s": cpu(t for g in groups.values() for t in g["tasks"]),
        "untraced_cpu_s": cpu(groups.get("untraced", {"tasks": []})["tasks"]),
    }
