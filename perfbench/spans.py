"""Spans around calls into the library, and the Spark event log folded
per span.

A span is (id, name, start, end, parent, run id). Each span is also a
Spark job group, so every job, stage and task in the event log maps back
to the span that was open when it was submitted. Nothing inside the
library is instrumented: ``Tracer.patch`` wraps a public function where
its caller imports it and ``unpatch`` restores it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    run: int | None


class NullTracer:
    """What the untraced runs use: no spans, no job groups."""

    run: int | None = None

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, key: str, value: float) -> None:
        pass


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self.run: int | None = None
        self._stack: list[tuple[str, str]] = []
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{name}#{next(self._ids)}"
        parent = self._stack[-1][0] if self._stack else None
        self.sc.setJobGroup(sid, name)
        self._stack.append((sid, name))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.run))
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, key: str, value: float) -> None:
        self.counts[(self.run, key)] += value

    def patch(self, owner, attr: str, name: str, counter=None) -> None:
        """Wrap ``owner.attr`` in a span; ``counter(result)`` adds to the
        ``name`` count of the current run."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if counter is not None:
                self.count(name, counter(out))
            return out

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def patch_library(tr: Tracer) -> None:
    """Spans on the public functions the workloads reach, patched in the
    module that calls them."""
    from validatelite_spark.operators import engine, repetition, uniqueness
    from validatelite_spark.pipeline import curation, quality
    from validatelite_spark.plans import merger

    tr.patch(engine, "prevalidate", "plans.prevalidate")
    tr.patch(engine, "compile_rule", "plans.compile")
    tr.patch(quality, "compile_rule", "plans.compile")
    tr.patch(engine, "build_merge_groups", "plans.merge", counter=len)
    tr.patch(merger.MergeGroup, "run", "engine.merged_scan")
    tr.patch(uniqueness, "unique_counts", "engine.unique")
    tr.patch(uniqueness, "duplicate_samples", "engine.unique_samples")
    tr.patch(quality.QualityPipeline, "annotate", "quality.build")
    tr.patch(curation, "exact_dedup", "curation.exact_dedup")
    tr.patch(curation, "token_budget_filter", "curation.token_budget")
    tr.patch(repetition, "contaminated_docs", "curation.contaminated_docs")


# --------------------------------------------------------- event log
_SQL_METRICS = {"time to start Python workers": "py_boot",
       "time to initialize Python workers": "py_init",
       "time to run Python workers": "py_run",
       "data sent to Python workers": "py_bytes_in",
       "data returned from Python workers": "py_bytes_out",
       "time in aggregation build": "agg_build",
       "avg hash probes per key": "hash_probes"}


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def event_lines(logdir: str, app_id: str):
    """Lines of an application's event log: a single file, or the
    numbered parts of a rolling log directory."""
    single = os.path.join(logdir, app_id)
    if os.path.isfile(single):
        parts = [single]
    else:
        d = os.path.join(logdir, f"eventlog_v2_{app_id}")
        parts = sorted((os.path.join(d, f) for f in os.listdir(d)
                        if f.startswith("events_")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    for p in parts:
        with open(p) as f:
            yield from f


def fold_event_log(lines) -> dict[str, dict]:
    """Per job group: jobs, tasks, CPU, GC, shuffle and spill bytes,
    output bytes, Python-worker and hash-aggregate SQL metrics, and the
    task skew of its slowest stage."""
    stage_group: dict[int, str] = {}
    stage_span: dict[int, float] = {}
    task_times: dict[int, list[float]] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            if g:
                out[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Submission Time") and info.get("Completion Time"):
                stage_span[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            m = ev.get("Task Metrics") or {}
            o = out[g]
            o["tasks"] += 1
            o["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            o["output_bytes"] += (m.get("Output Metrics") or {}
                                  ).get("Bytes Written", 0)
            task_times[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
            for acc in ev["Task Info"].get("Accumulables", []):
                key = _SQL_METRICS.get(acc.get("Name"))
                if key is None or acc.get("Update") is None:
                    continue
                v = float(acc["Update"])
                if key == "hash_probes":
                    if v > 0:   # stored x10 (SQLMetrics average metric)
                        o["hash_probe_sum"] += v / 10.0
                        o["hash_probe_tasks"] += 1
                else:
                    o[key] += v
    # skew: max over median task run time in the group's slowest stage
    slowest: dict[str, tuple[float, int]] = {}
    for st, g in stage_group.items():
        d = stage_span.get(st, 0.0)
        if g not in slowest or d > slowest[g][0]:
            slowest[g] = (d, st)
    for g, (_, st) in slowest.items():
        ts = task_times.get(st) or [0]
        med = statistics.median(ts)
        out[g]["task_skew"] = max(ts) / med if med > 0 else 1.0
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered
