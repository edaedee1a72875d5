"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Workloads (perfbench/workloads.py):
``tile_plan_r13`` and ``query_commit_mix``.

The measured process is perfbench/harness.py, started with the session
sized from outside the package: ``local[<cpus>]``, shuffle partitions =
cpus, a driver heap below the machine's memory, PYTHONPATH pointing at the
checkout (Python workers import the package), and Spark's scratch space
inside the checkout. With ``--trace 1`` the process measures half of
the seconds untraced, then the other half in a new session of the same JVM
with spans and the Spark event log on; the per-layer figures come from the
traced half, and the difference between the halves' round_s_p50 is the
tracing overhead. A workload timed cold (the query mix) has no untraced
half: its one cold pass is the traced one, and it reports no overhead.

Prints the settings and every metric by name with its unit, then, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exits non-zero without that line if a run cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import layers  # noqa: E402
from spans import Span  # noqa: E402
from stats import median, tail  # noqa: E402

WORKLOADS = ("tile_plan_r13", "query_commit_mix")
#: end-to-end metrics: name -> unit
END_TO_END = {"setup_s": "s", "round_s_p50": "s", "rows_per_s": "rows/s",
              "driver_rss_mb": "MB"}
DRIVER_MEM = "2g"
#: the driver JVM compiles with C1 only: with C2 the operations keep
#: getting faster for ~100 s (2.5 s -> 1.5 s per tile plan), longer than a
#: run, so every run would time a different point of the JIT's warm-up
JIT = "-XX:TieredStopAtLevel=1"
#: nominal seconds of the reference job (harness.reference): about its
#: median on an idle 4-CPU machine with the JIT setting above. End-to-end
#: times are reported as if the machine ran at the speed where the job
#: takes this long.
REF_S = 0.3
#: whole run, both processes included
BUDGET_S = 170.0


def settings(workdir: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        # no JVM (launcher or driver) writes outside the checkout: the
        # perf-data file would go to /tmp whatever java.io.tmpdir says
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                              + " " + JIT).strip(),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the harness left (JVM, Python workers) and wait
    until they are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_harness(args, workdir: str, trace: bool, timeout: float,
                setups: int) -> dict:
    shutil.rmtree(workdir, ignore_errors=True)
    env = dict(os.environ)
    env.update(settings(workdir))
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    out = os.path.join(workdir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(int(trace)),
           "--out", out, "--workdir", workdir, "--setups", str(setups)]
    with open(os.path.join(workdir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(workdir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness exited with {code} "
                           f"({'timeout' if code is None else 'error'})")
    with open(out) as f:
        return json.load(f)


def round_times(ops, per_round: int) -> list:
    """Wall time of each complete round (one operation, or one pass of the
    mix): the sum of its operations' times."""
    n = len(ops) // per_round
    return [sum(o["t"] for o in ops[k * per_round:(k + 1) * per_round])
            for k in range(n)]


def scaled_times(ops) -> list:
    """Each operation's time at the reference speed: its measured time
    times REF_S over the mean of the reference times just before and just
    after it."""
    return [o["t"] * 2 * REF_S / (o["ref_before"] + o["ref"]) for o in ops]


def scaled_setups(res: dict) -> list:
    """Each set-up's time at the reference speed, like an operation's: the
    reference job is timed after every set-up."""
    refs = res["setup_ref_s"]
    around = [refs[0]] + [(a + b) / 2 for a, b in zip(refs, refs[1:])]
    return [t * REF_S / r for t, r in zip(res["setup_s"], around)]


def end_to_end(res: dict, per_round: int) -> dict:
    """The bounded metrics, times at the reference speed: the shared
    machine's speed moves by tens of percent within a minute (other
    tenants' load shows as steal time), and the reference job, timed
    between the operations of the same run, moves with it."""
    ops = res["ops"]
    scaled = [dict(o, t=t) for o, t in zip(ops, scaled_times(ops))]
    return {
        "setup_s": median(scaled_setups(res)),
        "round_s_p50": median(round_times(scaled, per_round)),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(o["t"] for o in scaled),
        "driver_rss_mb": res["rss_mb"]["python"],
    }


def fail_frac(ops) -> float:
    """Operations that raised or failed an output check, over attempted."""
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def unbounded(res: dict, per_round: int) -> dict:
    """Figures printed beside the end-to-end metrics that BENCHMARK.json
    lists per layer (see perfbench/NOTES.md for why each is not bounded)."""
    ops = res["ops"]
    t = [o["t"] for o in ops]
    got = tail(t)
    value, pct = (got[0], got[1]) if got else (0.0, 0.0)
    tiling = [o["rows"] / o["t"] for o in ops if "query" not in o]
    out = {"raw_setup_s": median(res["setup_s"]),
           "raw_round_s_p50": median(round_times(ops, per_round)),
           "ref_s_p50": median([o["ref"] for o in ops]),
           "op_s_p50": median(t), "op_s_tail": value, "op_s_tail_pct": pct,
           "op_samples": len(t), "tile_assignments_per_s": median(tiling),
           "peak_rss_mb": res["rss_mb"]["python"] + res["rss_mb"]["jvm"],
           "fail_frac": fail_frac(ops)}
    out.update(layers.op_level(ops, per_round))
    return out


def traced_layers(res: dict, work: str, per_round: int, timed_cold: bool):
    """Per-layer figures from the traced half of a ``--trace 1`` run. A
    workload timed cold has no untraced half to compare against: a second
    pass in the same JVM would run warm."""
    log = eventlog.load(os.path.join(work, "eventlog"))
    spans = [Span.from_json(s) for s in res["spans"]]
    got = layers.analyze(spans, log, res["traced_ops"], 1, per_round)
    if not timed_cold:
        got["tracing_overhead_s"] = (
            median(round_times(res["traced_ops"], per_round))
            - median(round_times(res["ops"], per_round)))
    got["trace_bookkeeping_s"] = res["bookkeeping_s"] / max(
        1.0, len(res["traced_ops"]) / per_round)
    tree = layers.build_tree(spans, log)
    selfs = layers.self_times(tree)
    problems = layers.trace_problems(tree, res["traced_ops"])
    clipped = {k: layers.clipped_by_layer(tree, k) for k in ("clipped_s", "lost_s")}
    with open(os.path.join(work, "layers.json"), "w") as f:
        json.dump({"per_layer": got, "trace_problems": problems,
                   "stage_s_by_layer": clipped,
                   "spans": [dict(s.to_json(), self_s=selfs[s.id])
                             for s in tree.values()]}, f)
    return got, problems, clipped


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "osm2garmin_spark", "__init__.py")):
        sys.stderr.write("perfbench: the osm2garmin_spark package is not in "
                         f"{ROOT}; run from the root of a source checkout\n")
        return 2

    from workloads import WORKLOADS as CLASSES
    per_round = CLASSES[args.workload].ops_per_round
    timed_cold = CLASSES[args.workload].timed_cold
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    # a traced run reports no setup_s: it sets up once
    base = run_harness(args, work, bool(args.trace), BUDGET_S,
                       1 if args.trace else CLASSES[args.workload].setups)
    e2e = end_to_end(base, per_round)
    extra = unbounded(base, per_round)
    failures = base["failures"]
    if args.trace:
        got, problems, clipped = traced_layers(base, work, per_round, timed_cold)
        extra.update(got)
        if problems:
            failures = failures + [{"op": "trace", "problems": problems}]

    units = dict(END_TO_END)
    units.update((m["name"], m["unit"]) for m in layers.per_layer_metrics())
    print(f"workload {args.workload}  seed {args.seed}  "
          f"seconds {args.seconds}  trace {args.trace}")
    env = settings(work)
    cpus = env["SPARK_GRAFT_CPUS"]
    print(f"settings master=local[{cpus}] spark.sql.shuffle.partitions={cpus} "
          + " ".join(f"{k}={v}" for k, v in sorted(env.items())))
    if args.trace:
        print(f"  traced half: spark.eventLog.enabled=true "
              f"spark.eventLog.dir={work}/eventlog spark.eventLog.compress=false")
    print(f"  end-to-end times at the reference speed: each operation's time "
          f"x {REF_S} s / the mean of the reference job's times before and "
          f"after it (ref_s_p50 {extra['ref_s_p50']:.4f} s this run); "
          f"each set-up's the same way")
    for k, v in e2e.items():
        print(f"  {k:44s} {v:14.6g} {units[k]}")
    if extra["op_s_tail_pct"]:
        print(f"  {'op_s_tail':44s} {extra['op_s_tail']:14.6g} s   "
              f"p{extra['op_s_tail_pct']:g} of {extra['op_samples']} samples, "
              f"at least 10 beyond it")
    else:
        print(f"  {'op_s_tail':44s} {'n/a':>14s}     {extra['op_samples']} "
              f"samples: no percentile has 10 beyond it")
    for k, v in extra.items():
        if not k.startswith("op_s_tail") and k in units:
            print(f"  {k:44s} {v:14.6g} {units.get(k, '')}")
    for f in failures[:10]:
        print(f"  FAILED op {f['op']}: {'; '.join(f['problems'])[:500]}")
    if args.trace:
        op_s = sum(o["t"] for o in base["traced_ops"])
        print(f"  trace: {len(base['traced_ops'])} operations, root spans "
              f"match their wall times, no negative self time: "
              f"{'no' if problems else 'yes'}")
        for k, what in (("clipped_s", "clipped (overlapping a sibling or "
                                      "outside the parent)"),
                        ("lost_s", "lost (covered by no span after clipping)")):
            print(f"  trace: stage seconds {what}, per layer: "
                  + (", ".join(f"{layer} {v:.3f}" for layer, v
                               in sorted(clipped[k].items())) or "none"))
        if timed_cold:
            print("  tracing_overhead_s: n/a, the workload is timed cold and "
                  "a traced run times only its traced pass")
        lost = sum(clipped["lost_s"].values())
        if lost > layers.LOST_WARN_SHARE * op_s:
            print(f"  WARNING: {lost:.3f} s of stage time in {op_s:.3f} s of "
                  f"operations is covered by no span: it counts as the "
                  f"parents' self time or not at all")
        metrics = {m["name"]: {"value": extra.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in layers.per_layer_metrics()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    ops = base["ops"]
    print(json.dumps({"correct": not failures, "attempted": len(ops),
                      "failed": sum(1 for o in ops if not o["ok"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
