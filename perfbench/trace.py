"""Spans around calls into the engine, and per-layer counters derived
from a Spark event log.

The benchmark records a span for each call it makes into a layer. In a
traced run every such call also runs under its own Spark job group
(``<layer>#<pass>.<call>``), and the uncompressed event log is parsed
after the session stops: JobStart/JobEnd give each call's job intervals,
StageCompleted and TaskEnd give its tasks and their metrics. Spans stay
in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# Layers the benchmark calls directly, and the counters each reports.
CALLED_LAYERS = ("extract", "vertices", "pagerank", "cc", "lpa", "triangles",
                 "cliques")
ITERATIVE_LAYERS = ("pagerank", "cc", "lpa")
BASE_COUNTERS = {
    "wall_s": "s", "driver_s": "s", "task_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "gc_s": "s",
}
ITERATIVE_COUNTERS = {"supersteps": "count", "jobs_per_superstep": "count",
                      "superstep_s": "s"}
EXTRA_COUNTERS = {
    "session.wall_s": ("s", "lower"),
    "extract.rows_out": ("count", "higher"),
    "checkpoint.wall_s": ("s", "lower"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.snapshots": ("count", "lower"),
    "checkpoint.bytes_written": ("B", "lower"),
    "checkpoint.bytes_read": ("B", "lower"),
    "skew.task_skew": ("ratio", "lower"),
    "skew.record_skew": ("ratio", "lower"),
    "trace.wall_s": ("s", "lower"),
}
# Counters that a change to the engine should move only on purpose; the
# self-check reports which of them repeat exactly across traced passes.
EXACT_CANDIDATES = ("jobs", "tasks", "supersteps", "jobs_per_superstep",
                    "rows_out", "snapshots", "shuffle_write_bytes",
                    "spill_bytes", "bytes_written", "bytes_read", "record_skew")

# Which end-to-end metric each layer metric should move, and where.
LAYER_TO_END_TO_END = [
    ("pagerank.jobs_per_superstep, pagerank.driver_s, checkpoint.write_s",
     "pagerank_edges_per_s, resume_s, wall_s", "both", "triangles_s, files_per_s"),
    ("extract.task_s, vertices.wall_s", "files_per_s, wall_s", "both",
     "pagerank_edges_per_s, triangles_s"),
    ("triangles.task_s, triangles.shuffle_write_bytes, cliques.task_s",
     "triangles_s, wall_s", "dense_wcoj (csr plan)", "corpus_pipeline (join plan)"),
    ("skew.task_skew, skew.record_skew, pagerank.shuffle_write_bytes", "pagerank_edges_per_s",
     "corpus_pipeline (salted)", "dense_wcoj (unsalted)"),
    ("checkpoint.snapshots, checkpoint.bytes_read", "resume_s", "both", "triangles_s"),
    ("cc.supersteps, cc.driver_s", "wall_s", "corpus_pipeline", "dense_wcoj (no CC)"),
    ("lpa.supersteps, lpa.driver_s", "wall_s", "corpus_pipeline", "dense_wcoj (no LPA)"),
    ("session.wall_s", "setup_s", "both", "every timed metric"),
]


def per_layer_catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) for every per-layer metric, in report order."""
    out = []
    for layer in CALLED_LAYERS:
        for c, unit in BASE_COUNTERS.items():
            out.append((f"{layer}.{c}", unit, "lower"))
        if layer in ITERATIVE_LAYERS:
            for c, unit in ITERATIVE_COUNTERS.items():
                out.append((f"{layer}.{c}", unit, "lower"))
    out += [(k, u, b) for k, (u, b) in EXTRA_COUNTERS.items()]
    return out


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; tags Spark jobs with a group per call when
    ``sc`` is given (traced run only)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, parent: Span | None = None, group: str | None = None):
        s = Span(len(self.spans), name, time.time(),
                 parent=parent.id if parent else None,
                 group=group if self.sc else None)
        self.spans.append(s)
        if s.group:
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            if s.group:
                self.sc.setJobGroup("perfbench", "benchmark bookkeeping")

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class EventLog:
    jobs: dict[int, dict]                 # job id -> group, start, end (s)
    tasks: dict[str, list[dict]]          # group -> task records
    stages: dict[str, dict[int, list]]    # group -> stage id -> (seconds, records read)


def read_event_log(log_dir: str) -> EventLog:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {paths}")
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    stages: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"group": group,
                                      "start": ev["Submission Time"] / 1000.0,
                                      "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                rec = {
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                }
                tasks[group].append(rec)
                records = ((m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                           + (m.get("Input Metrics") or {}).get("Records Read", 0))
                stages[group][ev["Stage ID"]].append(
                    ((info["Finish Time"] - info["Launch Time"]) / 1000.0, records))
    return EventLog(jobs, tasks, stages)


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_counters(spans: list[Span], log: EventLog) -> dict[str, float]:
    """Base counters per layer for the call spans given (one pass)."""
    by_group: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for j in log.jobs.values():
        if j["group"] and j["end"] is not None:
            by_group[j["group"]].append((j["start"], j["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        busy = _union_within(by_group.get(s.group, []), s.start, s.end)
        ts = log.tasks.get(s.group, [])
        layer = s.name
        out[f"{layer}.wall_s"] += s.seconds
        out[f"{layer}.driver_s"] += s.seconds - busy
        out[f"{layer}.task_s"] += sum(t["run_s"] for t in ts)
        out[f"{layer}.jobs"] += len(by_group.get(s.group, []))
        out[f"{layer}.tasks"] += len(ts)
        out[f"{layer}.shuffle_write_bytes"] += sum(t["shuffle_write_bytes"] for t in ts)
        out[f"{layer}.spill_bytes"] += sum(t["spill_bytes"] for t in ts)
        out[f"{layer}.gc_s"] += sum(t["gc_s"] for t in ts)
        if layer in ITERATIVE_LAYERS:
            out["checkpoint.bytes_written"] += sum(t["bytes_written"] for t in ts)
            out["checkpoint.bytes_read"] += sum(t["bytes_read"] for t in ts)
    return dict(out)


def task_skew(spans: list[Span], log: EventLog) -> tuple[float, float]:
    """Skew over the stages (two tasks or more) of the given calls: max/median
    task time in each call's heaviest stage (most summed task time), and the
    largest max/median records read per task among stages that read
    records. Either is 0 when no stage qualifies."""
    time_skew = record_skew = 0.0
    for s in spans:
        stages = [t for t in log.stages.get(s.group, {}).values() if len(t) >= 2]
        if stages:
            secs = [t for t, _ in max(stages, key=lambda st: sum(t for t, _ in st))]
            time_skew = max(time_skew, max(secs) / max(statistics.median(secs), 1e-3))
        for tasks in stages:
            records = [r for _, r in tasks]
            if statistics.median(records) > 0:
                record_skew = max(record_skew, max(records) / statistics.median(records))
    return time_skew, record_skew


def repeatability(per_pass: list[dict[str, float]]) -> tuple[list[str], dict[str, tuple]]:
    """Split counters into those equal on every pass and those that vary."""
    exact, varying = [], {}
    for k in sorted(per_pass[0]):
        if k.rsplit(".", 1)[-1] not in EXACT_CANDIDATES:
            continue
        vals = [p.get(k, 0) for p in per_pass]
        if all(v == vals[0] for v in vals):
            exact.append(k)
        else:
            varying[k] = (min(vals), max(vals))
    return exact, varying
