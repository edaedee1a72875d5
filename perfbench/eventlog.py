"""Parser for an uncompressed Spark event log.

Reads one log file, one rolled log directory (``eventlog_v2_*`` with
``events_<n>_*`` parts), or a directory holding several rolled logs (one per
SparkContext). Keeps only what the per-layer report needs:

- per stage attempt: job group, submit/complete time, task count, per-task
  run times, executor CPU, result bytes, shuffle bytes written, spill,
  input/output bytes, and the per-stage sum of every SQL metric update;
- per SQL metric accumulator: the plan node it belongs to (from every plan
  version AQE publishes) and its metric type;
- driver-side SQL metric updates (files read, files written).
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple


@dataclass
class Stage:
    id: int
    attempt: int
    group: Optional[str] = None
    exec_id: Optional[int] = None
    t0: float = 0.0
    t1: float = 0.0
    run_ms: List[float] = field(default_factory=list)
    cpu_s: float = 0.0
    result_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    sql: Dict[int, float] = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return len(self.run_ms)


@dataclass
class SqlMetric:
    exec_id: int
    node: str
    desc: str
    name: str
    type: str


@dataclass
class EventLog:
    stages: List[Stage]
    metrics: Dict[int, SqlMetric]
    driver: Dict[int, float]

    def sql_sum(self, stage: Stage, node_re: str, metric: str) -> float:
        """Sum of one SQL metric over the plan nodes whose description
        matches ``node_re``, as updated by this stage's tasks."""
        pat = re.compile(node_re)
        return sum(v for acc, v in stage.sql.items()
                   if acc in self.metrics
                   and self.metrics[acc].name == metric
                   and pat.search(self.metrics[acc].desc))

    def sql_total(self, stage: Stage, metric: str) -> float:
        """Sum of one SQL metric over every plan node, for this stage."""
        return sum(v for acc, v in stage.sql.items()
                   if acc in self.metrics and self.metrics[acc].name == metric)

    def driver_sum(self, exec_ids, node_re: str, metric: str) -> float:
        pat = re.compile(node_re)
        return sum(v for acc, v in self.driver.items()
                   if acc in self.metrics
                   and self.metrics[acc].exec_id in exec_ids
                   and self.metrics[acc].name == metric
                   and pat.search(self.metrics[acc].desc))


def log_dirs(path: str) -> List[str]:
    """One entry per application log under ``path``: the file itself, the
    rolled directory itself, or every ``eventlog_v2_*`` directory below."""
    if os.path.isfile(path) or glob.glob(os.path.join(path, "events_*")):
        return [path]
    rolled = sorted(glob.glob(os.path.join(path, "eventlog_v2_*")))
    if not rolled:
        raise FileNotFoundError(f"no Spark event log under {path}")
    return rolled


def log_files(app_path: str) -> List[str]:
    """The part files of one application log, in write order."""
    if os.path.isfile(app_path):
        return [app_path]

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0
    return sorted(glob.glob(os.path.join(app_path, "events_*")), key=index)


def _events(app_path: str) -> Iterator[dict]:
    for part in log_files(app_path):
        with open(part) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _walk_plan(node: dict, exec_id: int, out: Dict[int, SqlMetric]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = SqlMetric(
            exec_id, node.get("nodeName", ""), node.get("simpleString", ""),
            m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _walk_plan(child, exec_id, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def load(path: str) -> EventLog:
    """Every application log under ``path``. Stage ids restart with each
    SparkContext, so stages are keyed by (application, stage, attempt);
    accumulator ids are unique within the JVM that wrote the logs."""
    stages: Dict[Tuple[int, int, int], Stage] = {}
    metrics: Dict[int, SqlMetric] = {}
    driver: Dict[int, float] = {}
    for app, app_path in enumerate(log_dirs(path)):
        _load_app(app, app_path, stages, metrics, driver)
    done = [s for s in stages.values() if s.t1 > 0]
    return EventLog(sorted(done, key=lambda s: (s.t0, s.id)), metrics, driver)


def _load_app(app: int, app_path: str, stages: dict, metrics: dict,
              driver: dict) -> None:
    def stage(info: dict) -> Stage:
        key = (app, info["Stage ID"], info.get("Stage Attempt ID", 0))
        if key not in stages:
            stages[key] = Stage(*key[1:])
        return stages[key]

    for e in _events(app_path):
        kind = e.get("Event", "")
        if kind == "SparkListenerStageSubmitted":
            s = stage(e["Stage Info"])
            props = e.get("Properties") or {}
            s.group = props.get("spark.jobGroup.id")
            if props.get("spark.sql.execution.id") is not None:
                s.exec_id = int(props["spark.sql.execution.id"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info)
            s.t0 = _num(info.get("Submission Time")) / 1000.0
            s.t1 = _num(info.get("Completion Time")) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if not tm:
                continue
            s = stage({"Stage ID": e["Stage ID"],
                       "Stage Attempt ID": e.get("Stage Attempt ID", 0)})
            s.run_ms.append(_num(tm.get("Executor Run Time")))
            s.cpu_s += _num(tm.get("Executor CPU Time")) / 1e9
            s.result_bytes += _num(tm.get("Result Size"))
            s.shuffle_write_bytes += _num(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            s.spill_bytes += _num(tm.get("Disk Bytes Spilled"))
            s.input_bytes += _num((tm.get("Input Metrics") or {}).get("Bytes Read"))
            s.output_bytes += _num(
                (tm.get("Output Metrics") or {}).get("Bytes Written"))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    aid = int(acc["ID"])
                    s.sql[aid] = s.sql.get(aid, 0.0) + _num(acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo") or {}, int(e["executionId"]),
                       metrics)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates", []):
                driver[int(aid)] = driver.get(int(aid), 0.0) + _num(v)
