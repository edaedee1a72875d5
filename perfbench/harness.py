"""One measured process: set up a workload several times, run its closed
loop for the requested seconds, check every output, and write the raw
samples (and, when tracing, the spans) as JSON.

Usage: python3 perfbench/harness.py --workload W --seed N --seconds S
       --trace 0|1 --out result.json --workdir DIR --setups K

The session is sized from outside the package through the environment that
perfbench/run.py sets (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM, PYTHONPATH,
Spark's scratch directories), and the event log is switched on by the
SparkContext this harness creates; the package's code is unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

#: rows of the reference job
REF_ROWS = 8_000_000


def reference(spark, cores: int) -> float:
    """Seconds of the reference job: a fixed Spark computation on all cores
    that runs no code of the package. Timed after every operation, it
    tracks the speed the shared machine gives the process at that moment,
    which perfbench/run.py divides out of the end-to-end times. It is timed
    after each set-up too, and its first run in a new JVM is untimed."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, REF_ROWS, 1, cores).select(
        F.sum(F.xxhash64("id") % 1000)).collect()
    return time.perf_counter() - t0


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def child_pids(pid: int) -> list:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def peak_rss_mb() -> dict:
    """Peak RSS of this driver process and of its JVM child."""
    return {"python": vm_hwm_mb("self"),
            "jvm": sum(vm_hwm_mb(p) for p in child_pids(os.getpid()))}


def measure(wl, tracer, seconds: float, ref):
    """The closed loop: run operations until ``seconds`` have passed and a
    round (one pass of the query mix) is complete, timing the reference job
    ``ref()`` before the first operation and after each operation and its
    check. Returns the per-operation records, with the reference times
    before and after the operation as ``ref_before`` and ``ref``, and the
    failures; an operation that raises or fails its output check is
    recorded with ok=False."""
    ops, failures = [], []
    deadline = time.perf_counter() + seconds
    i = 0
    before = ref()
    while time.perf_counter() < deadline or i % wl.ops_per_round != 0:
        tracer.op = i
        rec = {"i": i, "t": 0.0, "ok": False, "rows": 0}
        t0 = time.perf_counter()
        try:
            with tracer.span(wl.root(i)):
                r = wl.run(i)
            rec["t"] = time.perf_counter() - t0
            rec["rows"] = r["rows"]
            if "query" in r:
                rec["query"], rec["fp"] = r["query"], r["fp"]
            rec.update(wl.counts(r))
            problems = wl.check(r)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["t"] = rec["t"] or time.perf_counter() - t0
            problems = [traceback.format_exc(limit=3)]
        rec["ok"] = not problems
        if problems:
            failures.append({"op": i, "problems": problems})
        rec["ref_before"], rec["ref"] = before, ref()
        before = rec["ref"]
        ops.append(rec)
        i += 1
    tracer.op = -1
    return ops, failures


def late_checks(wl, ops) -> list:
    """The workload's checks that are too costly to run between timed
    operations, made after the loop; an operation that fails one is
    recorded with ok=False."""
    failures = []
    for i, problems in sorted(wl.finish(ops).items()):
        ops[i]["ok"] = False
        failures.append({"op": i, "problems": problems})
    return failures


def event_log_context(workdir: str, app: str, cores: int):
    """A SparkContext that writes an uncompressed event log under
    ``workdir``; the package's get_spark then reuses it."""
    from pyspark import SparkConf, SparkContext

    conf = (SparkConf().setMaster(f"local[{cores}]").setAppName(app)
            .set("spark.ui.enabled", "false")
            .set("spark.eventLog.enabled", "true")
            .set("spark.eventLog.dir", f"file://{workdir}/eventlog")
            .set("spark.eventLog.compress", "false"))
    return SparkContext(conf=conf)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--setups", type=int, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from spans import Tracer, package_spans, patched
    from workloads import WORKLOADS

    from osm2garmin_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    app = f"perfbench-{args.workload}"
    tracer = Tracer(False)
    wl = WORKLOADS[args.workload](tracer, args.workdir, cores)
    result = {"workload": args.workload, "seed": args.seed,
              "setup_s": [], "setup_ref_s": [], "ops": [], "failures": []}

    spark = None
    for k in range(args.setups):
        if spark is not None:
            wl.close()
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app, master=f"local[{cores}]", shuffle_partitions=cores)
        wl.build(spark, args.seed)
        result["setup_s"].append(time.perf_counter() - t0)
        if k == 0:
            reference(spark, cores)
        result["setup_ref_s"].append(reference(spark, cores))

    # untimed warm-up operations, then the references the output checks
    # compare against; the warm-up results are checked too
    t0 = time.perf_counter()
    warm = wl.warmup()
    result["warmup_s"] = time.perf_counter() - t0
    wl.prepare(warm)
    for r in warm:
        bad = wl.check(r)
        if bad:
            result["failures"].append({"op": "warm-up", "problems": bad})

    # a traced run splits its seconds: half untraced, then half traced in a
    # new session of the same JVM whose context writes the event log. A
    # workload timed cold skips the untraced half, so that its traced half
    # is the cold one, as the untraced run's is.
    seconds = args.seconds / 2 if args.trace else args.seconds
    untraced = not (args.trace and wl.timed_cold)
    if untraced:
        result["ops"], failures = measure(
            wl, tracer, seconds, lambda: reference(spark, cores))
        result["rss_mb"] = peak_rss_mb()
        result["failures"] += failures + late_checks(wl, result["ops"])

    if args.trace:
        wl.close()
        spark.stop()
        tracer.enabled = True
        with tracer.span("session"):
            event_log_context(args.workdir, app, cores)
            spark = get_spark(app, master=f"local[{cores}]",
                              shuffle_partitions=cores)
        tracer.sc = spark.sparkContext
        with tracer.span("pipeline.synth"):
            wl.build(spark, args.seed)
        with patched(package_spans(tracer)):
            result["traced_ops"], failures = measure(
                wl, tracer, seconds, lambda: reference(spark, cores))
        if not untraced:
            result["ops"], result["rss_mb"] = result["traced_ops"], peak_rss_mb()
        result["failures"] += failures + late_checks(wl, result["traced_ops"])
        tracer.sc = None
        tracer.count_calls(getattr(wl, "points", None))
        result["spans"] = [s.to_json() for s in tracer.spans]
        result["bookkeeping_s"] = tracer.bookkeeping_s

    wl.close()
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
