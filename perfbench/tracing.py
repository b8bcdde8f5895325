"""Per-layer attribution for the traced pass.

Three sources, all read after the timed region ends:

- the streaming progress of every query (``QueryHandle.query.
  recentProgress``): trigger phases (engine), source rows (sources),
  state-operator fields and RocksDB ``customMetrics`` (state);
- the benchmark's own wrapper around each ``IdempotentSink.__call__``
  (sink call spans);
- Spark's event log: per-stage task metrics, attributed to the module
  whose operator the stage runs, and one SQL execution per sink write,
  told apart by its output path (``data/``, ``dlq/``, ``lineage/``).

Spans are plain dicts ``{id, name, start, end, parent}`` in epoch
seconds, kept in memory and written once when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict
from datetime import datetime

#: trigger phases in the order MicroBatchExecution runs them; Spark
#: reports durations only, so phase spans are laid end to end in this
#: order from the trigger's start
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
_PHASE_METRIC = {
    "latestOffset": "engine.latest_offset_ms",
    "getBatch": "engine.get_batch_ms",
    "queryPlanning": "engine.query_planning_ms",
    "addBatch": "engine.add_batch_ms",
    "walCommit": "engine.wal_commit_ms",
    "commitOffsets": "engine.commit_offsets_ms",
}

_STATE_SCOPE = re.compile(
    r"StateStore|SymmetricHashJoin|InPandasWithState|SessionWindow|Deduplicate"
)
_PYTHON_SCOPE = re.compile(r"InPandas|InArrow|EvalPython")
_SCAN_SCOPE = re.compile(r"^(?!InMemory).*Scan")
_SINK_PATH = re.compile(r"([^\s,\[\]]+)/(data|dlq|lineage)/batch_id=(-?\d+)")


def epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Spans:
    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.items)
        self.items.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return sid

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


# -- streaming progress -> engine / sources / state ----------------------


def edge_batches(progress: list[dict]) -> list[dict]:
    """The first batch of a query plus its trailing flush / empty
    batches (those after the last batch carrying >= 1% of the largest
    batch's rows)."""
    if not progress:
        return []
    big = max(p["numInputRows"] for p in progress)
    last_data = max(
        (i for i, p in enumerate(progress) if p["numInputRows"] >= 0.01 * big), default=0
    )
    return [progress[0]] + progress[max(last_data + 1, 1):]


def engine_metrics(queries: list[tuple[float, list[dict]]]) -> dict[str, float]:
    """``queries`` holds (wall seconds, progress list) per query."""
    m: dict[str, float] = defaultdict(float)
    triggers = []
    wall_ms = 0.0
    for wall, progress in queries:
        wall_ms += wall * 1000
        for p in progress:
            d = p["durationMs"]
            m["engine.batches"] += 1
            m["engine.empty_batches"] += p["numInputRows"] == 0
            m["engine.trigger_ms"] += d.get("triggerExecution", 0)
            triggers.append(d.get("triggerExecution", 0))
            for phase, name in _PHASE_METRIC.items():
                m[name] += d.get(phase, 0)
        m["engine.edge_batches_ms"] += sum(
            p["durationMs"].get("triggerExecution", 0) for p in edge_batches(progress)
        )
    m["engine.between_triggers_ms"] = wall_ms - m["engine.trigger_ms"]
    m["engine.trigger_p50_ms"] = statistics.median(triggers) if triggers else 0.0
    named = sum(m[n] for n in _PHASE_METRIC.values()) + m["engine.between_triggers_ms"]
    m["engine.coverage"] = named / wall_ms if wall_ms else 0.0
    return dict(m)


def source_rows(progress: list[dict]) -> int:
    return sum(s["numInputRows"] for p in progress for s in p.get("sources", []))


def state_metrics(progress: list[dict]) -> dict[str, float]:
    m: dict[str, float] = defaultdict(float)
    for p in progress:
        ops = p.get("stateOperators") or []
        m["state.rows_total"] = max(m["state.rows_total"], sum(o["numRowsTotal"] for o in ops))
        m["state.memory_bytes_max"] = max(
            m["state.memory_bytes_max"], sum(o["memoryUsedBytes"] for o in ops)
        )
        for o in ops:
            cm = o.get("customMetrics") or {}
            name = o["operatorName"]
            for key, val in (
                ("rows_updated", o["numRowsUpdated"]),
                ("rows_removed", o["numRowsRemoved"]),
                ("commit_ms", o["commitTimeMs"]),
                ("updates_ms", o["allUpdatesTimeMs"]),
                ("removals_ms", o["allRemovalsTimeMs"]),
                ("rows_dropped_late", o["numRowsDroppedByWatermark"]),
                ("rocksdb_checkpoint_ms", cm.get("rocksdbCommitCheckpointLatency", 0)),
                ("rocksdb_flush_ms", cm.get("rocksdbCommitFlushLatency", 0)),
                ("rocksdb_file_sync_ms", cm.get("rocksdbCommitFileSyncLatencyMs", 0)),
                ("rocksdb_bytes_copied", cm.get("rocksdbBytesCopied", 0)),
            ):
                m[f"state.{key}"] += val
                if key in ("commit_ms", "updates_ms"):
                    m[f"state.{key}.{name}"] += val
            m[f"state.rows_total.{name}"] = max(m[f"state.rows_total.{name}"], o["numRowsTotal"])
    return dict(m)


def progress_spans(spans: Spans, parent: int, query: str, progress: list[dict]) -> dict[int, int]:
    """Micro-batch and trigger-phase spans; returns batchId -> the id
    of its addBatch span (the sink call's parent)."""
    add_batch = {}
    for p in progress:
        start = epoch(p["timestamp"])
        d = p["durationMs"]
        bid = spans.add(
            "micro-batch", start, start + d.get("triggerExecution", 0) / 1000, parent,
            query=query, batch_id=p["batchId"], rows=p["numInputRows"],
        )
        t = start
        for phase in PHASES:
            dur = d.get(phase, 0) / 1000
            sid = spans.add(f"phase.{phase}", t, t + dur, bid)
            if phase == "addBatch":
                add_batch[p["batchId"]] = sid
            t += dur
    return add_batch


# -- Spark event log -> exec / per-module task metrics / sink writes ------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith((".crc", ".inprogress.crc")):
            with open(path) as f:
                for line in f:
                    events.append(json.loads(line))
    return events


def stage_module(scopes: list[str], default: str) -> str:
    """The module whose operator a stage runs. A stage that holds a
    stateful operator is ``state``; one that crosses into Python for a
    transform stage is ``stages``; a plain file scan is ``sources``; a
    stage that only re-reads the sink's cached batch is ``sink``."""
    if default == "queries":
        return "queries"
    if any(_STATE_SCOPE.search(s) for s in scopes):
        return "state"
    if any(_PYTHON_SCOPE.search(s) for s in scopes):
        return "stages"
    if any(_SCAN_SCOPE.search(s) and "ExistingRDD" not in s for s in scopes):
        return "sources"
    return default


class EventLog:
    """Task, stage and SQL-execution records inside one time window."""

    def __init__(self, events: list[dict], start: float, end: float, default_module: str) -> None:
        lo, hi = start * 1000, end * 1000
        self.stages: dict[int, dict] = {}
        tasks: dict[int, list[dict]] = defaultdict(list)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if not lo <= info.get("Submission Time", 0) <= hi:
                    continue
                scopes = []
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        scopes.append(json.loads(rdd["Scope"])["name"])
                acc = defaultdict(float)
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] += float(a.get("Value", 0))
                    except (TypeError, ValueError):
                        continue
                self.stages[info["Stage ID"]] = {
                    "module": stage_module(scopes, default_module),
                    "acc": acc,
                    "start": info["Submission Time"] / 1000,
                    "end": info.get("Completion Time", info["Submission Time"]) / 1000,
                }
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                tasks[e["Stage ID"]].append(e["Task Metrics"])
        self.tasks = {sid: tasks.get(sid, []) for sid in self.stages}
        self.writes = []  # (section, sink dir, batch id, start, end)
        starts = {}
        for e in events:
            kind = e["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                m = _SINK_PATH.search(e.get("physicalPlanDescription", ""))
                if m and lo <= e["time"] <= hi:
                    starts[e["executionId"]] = (m.group(2), m.group(1), int(m.group(3)), e["time"] / 1000)
            elif kind.endswith("SparkListenerSQLExecutionEnd") and e["executionId"] in starts:
                section, sink_dir, batch_id, t0 = starts.pop(e["executionId"])
                self.writes.append((section, sink_dir, batch_id, t0, e["time"] / 1000))

    def exec_metrics(self) -> dict[str, float]:
        m: dict[str, float] = defaultdict(float)
        per_stage_run = {}
        for sid, tms in self.tasks.items():
            module = self.stages[sid]["module"]
            for t in tms:
                run, cpu = t["Executor Run Time"], t["Executor CPU Time"] / 1e6
                m["exec.run_ms"] += run
                m["exec.cpu_ms"] += cpu
                m["exec.gc_ms"] += t["JVM GC Time"]
                sr = t.get("Shuffle Read Metrics", {})
                m["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["exec.shuffle_write_bytes"] += t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                if module in ("stages", "state"):
                    m[f"{module}.cpu_ms"] += cpu
            per_stage_run[sid] = [t["Executor Run Time"] for t in tms]
        for stage in self.stages.values():
            if stage["module"] == "stages":
                m["stages.python_bytes_sent"] += stage["acc"].get("data sent to Python workers", 0)
                m["stages.python_bytes_returned"] += stage["acc"].get(
                    "data returned from Python workers", 0
                )
        if per_stage_run:
            runs = max(per_stage_run.values(), key=sum)
            med = statistics.median(runs) if runs else 0
            m["exec.task_skew"] = max(runs) / med if med else 1.0
        return dict(m)

    def write_ms(self) -> dict[str, float]:
        m = {"sink.write_ok_ms": 0.0, "sink.write_dlq_ms": 0.0, "sink.write_lineage_ms": 0.0}
        key = {"data": "sink.write_ok_ms", "dlq": "sink.write_dlq_ms", "lineage": "sink.write_lineage_ms"}
        for section, _dir, _bid, t0, t1 in self.writes:
            m[key[section]] += (t1 - t0) * 1000
        return m
