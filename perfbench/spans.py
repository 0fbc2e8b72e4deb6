"""Spans around the benchmark's calls into each layer, and the per-layer
report built from them plus the Spark event log.

Each span that names a layer tags the Spark jobs it triggers with
``setJobGroup(<layer>)``; the event log then attributes every job, stage
and task to a layer by that tag. Stage timing comes from the existing
``BENCH/stage_analysis.parse_stages`` reader; the per-task fields it does
not keep (shuffle bytes, input records, failures) and the job → group tag
are read here in the same keyed pass.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from BENCH.stage_analysis import parse_stages

LAYERS = ("canonicalize", "fused", "lsh_bands", "pairs", "simhash", "suffix",
          "connected_components", "checkpoint", "incremental", "search")
COMMON = ("wall_s", "task_s", "driver_gap_s", "jobs", "shuffle_write_mb",
          "rows_out", "failed_tasks")
EXTRAS = {
    "canonicalize": ("rows_in",),
    "fused": ("null_sig_docs",),
    "lsh_bands": ("candidates", "hot_buckets"),
    "pairs": ("verified_ratio",),
    "simhash": ("pairs_out", "grams_in"),
    "suffix": ("pairs_out", "grams_in"),
    "connected_components": ("edges_in",),
    "checkpoint": ("bytes_written_mb", "index_files"),
    "incremental": ("candidates", "flags"),
    "search": ("rows_scanned_per_probe",),
}
# jobs run by the benchmark itself (output counters, gates) carry this tag
# and belong to no layer
BENCH_GROUP = "_bench"


class Tracer:
    """In-memory spans (name, layer, start, end, parent); a span with a
    layer tags the jobs it runs with that layer's job group. Disabled, it
    records nothing and leaves the job group alone."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        if enabled:
            sc.setJobGroup(BENCH_GROUP, BENCH_GROUP)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "layer": layer, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if layer:
            self.sc.setJobGroup(layer, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = next((self.spans[i]["layer"] for i in reversed(self._stack)
                          if self.spans[i]["layer"]), BENCH_GROUP)
            self.sc.setJobGroup(outer, outer)

    def count(self, layer: str, key: str, value: float) -> None:
        """Add to a layer counter (rows_out and the layer extras)."""
        if self.enabled:
            self.counts[layer][key] += value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "counts": {k: dict(v) for k, v in self.counts.items()}},
                      f, indent=1)


def _task_events(event_dir: str):
    """Job → group tags and per-stage task sums from the event log."""
    stage_group: dict[int, str] = {}
    group_jobs: dict[str, int] = defaultdict(int)
    per_stage: dict[int, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    files = [fp for fp in glob.glob(os.path.join(event_dir, "**", "*"),
                                    recursive=True) if os.path.isfile(fp)]
    for fp in sorted(files):
        with open(fp, errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", BENCH_GROUP)
                    group_jobs[group] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    st = per_stage[ev["Stage ID"]]
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                            ).get("Shuffle Bytes Written", 0)
                    st["input_records"] += (m.get("Input Metrics") or {}
                                            ).get("Records Read", 0)
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st["failed"] += 1
    return stage_group, group_jobs, per_stage


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def layer_report(event_dir: str, tracer: Tracer) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in LAYERS (see module doc)."""
    stage_group, group_jobs, per_stage = _task_events(event_dir)
    stage_iv: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for rec in parse_stages(event_dir):
        group = stage_group.get(rec["stage"])
        if group and rec["submission"] and rec["completion"]:
            stage_iv[group].append((rec["submission"] / 1000.0,
                                    rec["completion"] / 1000.0))
    out: dict[str, float] = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s["layer"] == layer]
        wall = sum(s["end"] - s["start"] for s in spans)
        busy = 0.0
        for s in spans:
            clipped = [(max(a, s["start"]), min(b, s["end"]))
                       for a, b in stage_iv[layer]
                       if b > s["start"] and a < s["end"]]
            busy += _covered(clipped)
        stages = [sid for sid, g in stage_group.items() if g == layer]
        sums = defaultdict(float)
        for sid in stages:
            for k, v in per_stage.get(sid, {}).items():
                sums[k] += v
        counts = tracer.counts.get(layer, {})
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.task_s": sums["run_ms"] / 1000.0,
            f"{layer}.driver_gap_s": max(0.0, wall - busy),
            f"{layer}.jobs": group_jobs.get(layer, 0),
            f"{layer}.shuffle_write_mb": sums["shuffle_bytes"] / 2**20,
            f"{layer}.rows_out": counts.get("rows_out", 0),
            f"{layer}.failed_tasks": sums["failed"],
        })
        if layer == "search":
            out["search.rows_scanned_per_probe"] = (
                sums["input_records"] / max(1, counts.get("probes", 0)))
        for key in EXTRAS[layer]:
            out.setdefault(f"{layer}.{key}", counts.get(key, 0))
    return out
