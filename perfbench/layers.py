"""Per-layer attribution of a traced run.

The span tree is the benchmark's own spans (perfbench/spans.py) plus one
span per Spark stage, hung under the span whose id the stage's job group
carries. A stage span takes the layer of the operator it runs when the plan
shows it (the tile join's broadcast hash join on the coarse cell key); else
it inherits its parent's layer. Stage spans are clipped into the gaps
between their parent's other children, so that no span's children overlap.
Most clipped time is stages running side by side, and stays covered by a
sibling; the rest (``lost_s``: stage time outside the parent, or cut where
a benchmark span starts) falls to the parent's self time or out of the
operation, and is reported. ``trace_problems`` checks the tree against the
operations' measured wall times.

Values are per round: per operation for the tile workloads, per pass of
the nine queries for the query mix; ``session`` and ``pipeline.synth`` are
per set-up.
"""

from __future__ import annotations

import re
from collections import defaultdict
from typing import Dict, List, Optional

from spans import Span
from stats import median

#: the package's layers, as span names (longest prefix wins)
LAYERS = [
    "session", "pipeline.synth", "pipeline.tiling", "split.density",
    "split.quadtree", "operators.tile_join", "pipeline.lineage", "queries",
    "operators.range_join", "operators.knn", "operators.knn_hex",
    "operators.pip", "functions.dedup", "functions.phash",
    "functions.checksum", "streaming.incremental",
]
SETUP_LAYERS = {"session", "pipeline.synth"}

_UNITS = {"wall_s": ("s", "lower"), "self_s": ("s", "lower"),
          "executor_cpu_s": ("s", "lower"), "python_worker_s": ("s", "lower"),
          "shuffle_write_bytes": ("B", "lower"), "spill_bytes": ("B", "lower"),
          "tasks": ("count", "lower"), "task_skew": ("ratio", "lower")}
_ALL = list(_UNITS)
_DRIVER_ONLY = ["wall_s", "self_s"]
_JVM = ["wall_s", "self_s", "executor_cpu_s", "shuffle_write_bytes",
        "tasks", "task_skew"]

#: Spark columns kept per layer: columns that read zero on every workload
#: (spill at these sizes, Python time in JVM-only layers, everything but
#: time in driver-only layers) are left out
COLUMNS = {
    "session": _DRIVER_ONLY,
    "pipeline.synth": ["wall_s", "executor_cpu_s", "python_worker_s",
                       "tasks", "task_skew"],
    "pipeline.tiling": _DRIVER_ONLY,
    "split.density": _JVM,
    "split.quadtree": _DRIVER_ONLY,
    "operators.tile_join": _JVM,
    "pipeline.lineage": _JVM,
    "queries": _DRIVER_ONLY,
    "operators.range_join": _JVM,
    "operators.knn": _JVM,
    "operators.knn_hex": _JVM,
    "operators.pip": _ALL[:5] + ["tasks", "task_skew"],
    "functions.dedup": _JVM,
    "functions.phash": _ALL[:5] + ["tasks", "task_skew"],
    "functions.checksum": _ALL[:5] + ["tasks", "task_skew"],
    "streaming.incremental": _JVM,
}

#: counts where a layer can waste work: (metric, unit, better)
COUNTS = [
    ("split.density.occupied_cells", "count", "lower"),
    ("split.density.result_bytes", "B", "lower"),
    ("split.quadtree.grid_cells", "count", "lower"),
    ("split.quadtree.tiles", "count", "lower"),
    ("operators.tile_join.candidate_rows", "count", "lower"),
    ("operators.tile_join.assigned_rows", "count", "lower"),
    ("operators.tile_join.fanout", "ratio", "lower"),
    ("operators.tile_join.survivor_ratio", "ratio", "higher"),
    ("pipeline.lineage.bytes_written", "B", "lower"),
    ("pipeline.lineage.files_written", "count", "lower"),
    ("pipeline.lineage.manifests", "count", "lower"),
    ("pipeline.lineage.tile_join_passes", "count", "lower"),
    ("pipeline.lineage.commit_self_s", "s", "lower"),
    ("pipeline.lineage.read_input_bytes", "B", "lower"),
    ("pipeline.lineage.read_files", "count", "lower"),
    ("pipeline.lineage.read_s_p50", "s", "lower"),
    ("pipeline.lineage.stored_bytes_per_row", "B/row", "lower"),
    ("queries.scan_tasks", "count", "lower"),
    ("queries.scan_input_bytes", "B", "lower"),
    ("operators.range_join.output_rows", "count", "lower"),
    ("raw_setup_s", "s", "lower"),
    ("raw_round_s_p50", "s", "lower"),
    ("ref_s_p50", "s", "lower"),
    ("op_s_p50", "s", "lower"),
    ("op_s_tail", "s", "lower"),
    ("op_s_tail_pct", "pct", "higher"),
    ("op_samples", "count", "higher"),
    ("tile_assignments_per_s", "rows/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("fail_frac", "ratio", "lower"),
    ("tracing_overhead_s", "s", "lower"),
    ("trace_bookkeeping_s", "s", "lower"),
    ("trace_lost_stage_s", "s", "lower"),
]

#: a root span may differ from its operation's measured wall time by the
#: tracer's own bookkeeping: up to this many seconds plus this share
ROOT_TOL_S = 0.01
ROOT_TOL_SHARE = 0.01
#: lost stage seconds, as a share of operation time, worth a warning
LOST_WARN_SHARE = 0.02


def per_layer_metrics() -> List[dict]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    out = []
    for layer in LAYERS:
        for col in COLUMNS[layer]:
            unit, better = _UNITS[col]
            out.append({"name": f"{layer}.{col}", "unit": unit,
                        "better": better})
    out += [{"name": n, "unit": u, "better": b} for n, u, b in COUNTS]
    return out


def layer_of(name: str) -> str:
    best = ""
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and len(layer) > len(best):
            best = layer
    return best or name


TILE_JOIN_RE = r"^BroadcastHashJoin \[cell_x#\d+L?, cell_y#\d+L?\]"
RANGE_JOIN_RE = r"Join \[_ix#\d+L?, _iy#\d+L?\]"
PY_WORKER = "time to run Python workers"


def _runs_tile_join(log, stage) -> bool:
    return any(acc in log.metrics
               and re.search(TILE_JOIN_RE, log.metrics[acc].desc)
               for acc in stage.sql)


def build_tree(spans: List[Span], log) -> Dict[int, Span]:
    """Spans by id with the stage spans added; warm-up spans dropped."""
    tree = {s.id: s for s in spans if s.op >= -1}
    if log is None:
        return tree
    next_id = max(tree, default=0) + 1
    for st in log.stages:
        if st.group is None or not st.group.isdigit() or int(st.group) not in tree:
            continue
        parent = tree[int(st.group)]
        name = ("operators.tile_join" if _runs_tile_join(log, st)
                else parent.name)
        s = Span(next_id, name, parent.id, parent.op, st.t0, st.t1,
                 attrs={"stage": 1})
        s.stage = st
        tree[next_id] = s
        next_id += 1
    _clip_stage_spans(tree)
    return tree


def children_of(tree: Dict[int, Span]) -> Dict[Optional[int], List[Span]]:
    kids = defaultdict(list)
    for s in tree.values():
        kids[s.parent].append(s)
    return kids


def _clip_stage_spans(tree: Dict[int, Span]) -> None:
    """Fit every stage span into its parent, after its earlier siblings and
    before the next benchmark span, so that siblings never overlap. The
    seconds removed go to ``attrs["clipped_s"]``, and those of them that no
    sibling covers to ``attrs["lost_s"]``."""
    for pid, kids in children_of(tree).items():
        if pid is None:
            continue
        parent = tree[pid]
        kids.sort(key=lambda s: (s.t0, s.id))
        real = [s for s in kids if "stage" not in s.attrs]
        cursor = parent.t0
        seen = {}
        for s in kids:
            if "stage" in s.attrs:
                seen[s.id] = (s.t0, s.t1)
                nxt = min((r.t0 for r in real if r.t0 >= cursor and r.t0 >= s.t0),
                          default=parent.t1)
                s.t0 = min(max(s.t0, cursor), parent.t1)
                s.t1 = max(min(s.t1, nxt, parent.t1), s.t0)
                s.attrs["clipped_s"] = seen[s.id][1] - seen[s.id][0] - s.dur
            cursor = max(cursor, s.t1)
        # the children are disjoint now
        for s in kids:
            if s.id in seen:
                t0, t1 = seen[s.id]
                covered = sum(max(0.0, min(t1, k.t1) - max(t0, k.t0)) for k in kids)
                s.attrs["lost_s"] = t1 - t0 - covered


def self_times(tree: Dict[int, Span]) -> Dict[int, float]:
    kids = children_of(tree)
    return {sid: s.dur - sum(k.dur for k in kids.get(sid, []))
            for sid, s in tree.items()}


def trace_problems(tree: Dict[int, Span], ops: List[dict]) -> List[str]:
    """What is wrong with the span tree of the traced operations ``ops``:
    an operation without exactly one root span, a root span whose length
    differs from the operation's measured wall time, a negative self time.
    With none, the self times of each operation's spans sum to its wall
    time."""
    bad = []
    roots = defaultdict(list)
    for s in tree.values():
        if s.parent is None and s.op >= 0:
            roots[s.op].append(s)
    for rec in ops:
        got = roots.pop(rec["i"], [])
        if len(got) != 1:
            bad.append(f"op {rec['i']}: {len(got)} root spans")
        elif abs(got[0].dur - rec["t"]) > ROOT_TOL_S + ROOT_TOL_SHARE * rec["t"]:
            bad.append(f"op {rec['i']}: root span {got[0].dur:.4f} s, "
                       f"operation {rec['t']:.4f} s")
    bad += [f"op {op}: root span without an operation" for op in sorted(roots)]
    for sid, v in self_times(tree).items():
        if v < -1e-6:
            s = tree[sid]
            bad.append(f"op {s.op}: span {sid} ({s.name}) self time {v:.4f} s")
    return bad


def clipped_by_layer(tree: Dict[int, Span], key: str) -> Dict[str, float]:
    """Stage seconds clipped (``key`` "clipped_s") or lost ("lost_s") in the
    operations, per layer."""
    out: Dict[str, float] = defaultdict(float)
    for s in tree.values():
        if s.op >= 0 and s.attrs.get(key):
            out[layer_of(s.name)] += s.attrs[key]
    return dict(out)


def _outermost(tree: Dict[int, Span], s: Span) -> bool:
    layer = layer_of(s.name)
    p = s.parent
    while p is not None:
        if layer_of(tree[p].name) == layer:
            return False
        p = tree[p].parent
    return True


def _root(tree: Dict[int, Span], s: Span) -> Span:
    while s.parent is not None:
        s = tree[s.parent]
    return s


def analyze(spans: List[Span], log, ops: List[dict], setups: int,
            ops_per_round: int) -> Dict[str, float]:
    tree = build_tree(spans, log)
    selfs = self_times(tree)
    rounds = max(1.0, len(ops) / ops_per_round)
    m: Dict[str, float] = defaultdict(float)

    def norm(layer: str) -> float:
        return float(setups) if layer in SETUP_LAYERS else rounds

    def counted(s: Span) -> bool:
        layer = layer_of(s.name)
        return s.op == -1 if layer in SETUP_LAYERS else s.op >= 0

    skew_w: Dict[str, float] = defaultdict(float)
    assign_calls = sorted((s for s in tree.values()
                           if "candidate_rows" in s.attrs and s.op >= 0),
                          key=lambda s: s.t0)
    execs: Dict[tuple, dict] = {}
    read_execs = set()
    for s in tree.values():
        layer = layer_of(s.name)
        if not counted(s):
            continue
        n = norm(layer)
        if _outermost(tree, s):
            m[f"{layer}.wall_s"] += s.dur / n
        m[f"{layer}.self_s"] += selfs[s.id] / n
        for k in ("occupied_cells", "grid_cells", "tiles"):
            if k in s.attrs and layer in ("split.density", "split.quadtree"):
                m[f"{layer}.{k}"] += s.attrs[k] / n
        if s.name == "pipeline.lineage.commit":
            m["pipeline.lineage.commit_self_s"] += selfs[s.id] / n
        st = getattr(s, "stage", None)
        if st is None:
            continue
        if s.op >= 0:
            m["trace_lost_stage_s"] += s.attrs["lost_s"] / rounds
        m[f"{layer}.executor_cpu_s"] += st.cpu_s / n
        m[f"{layer}.python_worker_s"] += log.sql_total(st, PY_WORKER) / 1e3 / n
        m[f"{layer}.shuffle_write_bytes"] += st.shuffle_write_bytes / n
        m[f"{layer}.spill_bytes"] += st.spill_bytes / n
        m[f"{layer}.tasks"] += st.tasks / n
        if st.tasks >= 2:
            med = median(st.run_ms)
            if med > 0:
                w = sum(st.run_ms)
                m[f"{layer}.task_skew"] += max(st.run_ms) / med * w
                skew_w[layer] += w
        if layer == "split.density":
            m["split.density.result_bytes"] += st.result_bytes / n
        parent = tree[s.parent]
        root = _root(tree, s)
        if root.name == "pipeline.lineage":
            m["pipeline.lineage.bytes_written"] += st.output_bytes / n
        if parent.name == "pipeline.lineage.read":
            m["pipeline.lineage.read_input_bytes"] += st.input_bytes / n
            read_execs.add(st.exec_id)
        if root.name == "queries" and st.input_bytes > 0:
            m["queries.scan_tasks"] += st.tasks / n
            m["queries.scan_input_bytes"] += st.input_bytes / n
        if layer == "operators.range_join":
            m["operators.range_join.output_rows"] += log.sql_sum(
                st, RANGE_JOIN_RE, "number of output rows") / n
        if layer == "operators.tile_join":
            e = execs.setdefault((s.op, st.exec_id), {"assigned": 0.0, "t0": st.t0})
            e["assigned"] += log.sql_sum(st, TILE_JOIN_RE, "number of output rows")
            e["t0"] = min(e["t0"], st.t0)
    for layer, w in skew_w.items():
        m[f"{layer}.task_skew"] /= w

    # tile-join executions: candidates come from the latest assign call
    # before the execution in the same operation
    cand = inp = assigned = 0.0
    used_calls = set()
    for (op, _), e in execs.items():
        calls = [a for a in assign_calls if a.op == op and a.t0 <= e["t0"]]
        if not calls:
            continue
        a = calls[-1]
        used_calls.add(a.id)
        cand += a.attrs["candidate_rows"]
        inp += a.attrs["input_rows"]
        assigned += e["assigned"]
    if execs:
        m["operators.tile_join.candidate_rows"] = cand / rounds
        m["operators.tile_join.assigned_rows"] = assigned / rounds
        m["operators.tile_join.fanout"] = assigned / inp if inp else 0.0
        m["operators.tile_join.survivor_ratio"] = assigned / cand if cand else 0.0
        if any(_root(tree, tree[c]).name == "pipeline.lineage" for c in used_calls):
            m["pipeline.lineage.tile_join_passes"] = len(execs) / max(1, len(used_calls))
    if read_execs:
        m["pipeline.lineage.read_files"] = log.driver_sum(
            read_execs, r"Scan parquet", "number of files read") / rounds
    return dict(m)


def op_level(ops: List[dict], ops_per_round: int) -> Dict[str, float]:
    """Per-layer figures the workload's own counters give (no event log)."""
    m: Dict[str, float] = {}
    reads = [o["read_s"] for o in ops if "read_s" in o]
    if reads:
        m["pipeline.lineage.read_s_p50"] = median(reads)
    per_row = [o["stored_bytes"] / o["rows"] for o in ops
               if "stored_bytes" in o and o["rows"]]
    if per_row:
        m["pipeline.lineage.stored_bytes_per_row"] = median(per_row)
    for k in ("files_written", "manifests"):
        vals = [o[k] for o in ops if k in o]
        if vals:
            m[f"pipeline.lineage.{k}"] = sum(vals) / max(1.0, len(ops) / ops_per_round)
    return m
