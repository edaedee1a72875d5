"""Output checks: a tampered result is a failed operation and counts in
fail_frac. No Spark session: the workloads' check methods compare plain
results, and the closed loop runs a workload whose operations return canned
outputs."""

import numpy as np

import harness
import run
from spans import Tracer
from workloads import PointIndex, QueryCommitMix, TilePlan, map_unit_np

from osm2garmin_spark.geo.area import Area


def _plan():
    wl = TilePlan(Tracer(False), "unused", 1)
    tiles = [Area(0, 0, 100_000, 100_000, map_id=1),
             Area(0, 100_000, 100_000, 200_000, map_id=2)]
    deg = np.array([0.5, 1.0, 1.5, 2.0]) * 360.0 / (1 << 24) * 50_000
    wl.points = PointIndex(deg, deg)      # 25000 .. 100000 map units
    wl.tiles_ref = [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
                    for t in tiles]
    wl.expected = wl.points.contained(tiles, wl.overlap)
    return wl, tiles


def test_map_unit_twin_truncates_toward_zero():
    assert map_unit_np(np.array([0.0, -0.0000001, 180.0, -90.0])).tolist() == [
        0, 0, 8388608, -4194304]


def test_brute_force_containment_and_candidates():
    wl, tiles = _plan()
    # tile 2's extended bbox starts at 98000: only the point at 100000
    assert wl.expected == {1: 4, 2: 1}
    counts = wl.points.assign_counts(tiles, wl.overlap)
    # all four points share one coarse cell, which both tiles cover
    assert counts == {"candidate_rows": 8, "input_rows": 4}


class _CannedPlan(TilePlan):
    """Operation i returns the right answer, except every third one, whose
    first tile count is off by one."""

    def run(self, i):
        counts = dict(self.expected)
        if i % 3 == 2:
            counts[1] += 1
        return {"tiles": list(self.tiles_ref), "counts": counts,
                "rows": sum(counts.values())}


def test_tampered_output_counts_in_fail_frac():
    wl, _ = _plan()
    canned = _CannedPlan(Tracer(False), "unused", 1)
    canned.__dict__.update(wl.__dict__)
    canned.ops_per_round = 9
    ops, failures = harness.measure(canned, Tracer(False), 0.01, lambda: 0.2)
    assert len(ops) % 9 == 0 and len(ops) >= 9
    bad = [o["i"] for o in ops if not o["ok"]]
    assert bad == [i for i in range(len(ops)) if i % 3 == 2]
    assert [f["op"] for f in failures] == bad
    assert "brute force" in failures[0]["problems"][0]
    assert run.fail_frac(ops) == len(bad) / len(ops)


def test_tile_list_change_is_a_failure():
    wl, tiles = _plan()
    r = {"tiles": wl.tiles_ref[:1], "counts": dict(wl.expected), "rows": 5}
    assert wl.check(r) == ["tile list differs from the first operation's"]


def test_query_fingerprint_must_repeat_and_match_its_oracle_twin():
    wl = QueryCommitMix(Tracer(False), "unused", 1)
    ok = {"query": "q", "rows": 3, "fp": (3, "123"), "schema": None}
    assert wl.check(ok) == []
    assert wl.check(dict(ok, fp=(3, "124")))      # differs from the first pass
    # the oracle comparison comes after the loop and fails the operation
    wl.ref = {"q": (3, "124"), "p": ("columns", "[a] vs [b]")}
    ops = [{"i": 0, "query": "q", "fp": [3, "123"], "ok": True},
           {"i": 1, "query": "q", "fp": [3, "124"], "ok": True},
           {"i": 2, "query": "p", "fp": [3, "123"], "ok": True},
           {"i": 3, "ok": True}]
    failures = harness.late_checks(wl, ops)
    assert [f["op"] for f in failures] == [0, 2]
    assert "oracle_sql twin" in failures[0]["problems"][0]
    assert [o["ok"] for o in ops] == [False, True, False, True]
    assert run.fail_frac(ops) == 0.5


def test_operation_that_raises_is_counted():
    class Broken(_CannedPlan):
        def run(self, i):
            raise RuntimeError("boom")

    wl, _ = _plan()
    broken = Broken(Tracer(False), "unused", 1)
    broken.__dict__.update(wl.__dict__)
    ops, failures = harness.measure(broken, Tracer(False), 0.0, lambda: 0.2)
    assert ops == [] and failures == []
    ops, failures = harness.measure(broken, Tracer(False), 0.001, lambda: 0.2)
    assert ops and all(not o["ok"] for o in ops)
    assert "boom" in failures[0]["problems"][0]
    assert run.fail_frac(ops) == 1.0


def test_end_to_end_times_are_brought_to_the_reference_speed():
    # the same run on a machine at half speed: operations and the reference
    # job between them take twice as long
    def result(speed):
        ops = [{"t": 2.0 / speed, "rows": 100, "ref_before": r / speed,
                "ref": r / speed, "ok": True} for r in (0.1, 0.2, 0.4)]
        return {"ops": ops, "setup_s": [3.0 / speed, 1.0 / speed, 2.0 / speed],
                "setup_ref_s": [0.2 / speed, 0.2 / speed, 0.2 / speed],
                "rss_mb": {"python": 500.0}}

    fast, slow = (run.end_to_end(result(s), 1) for s in (1.0, 0.5))
    for k in fast:
        assert abs(fast[k] - slow[k]) <= 1e-9 * abs(fast[k])
    # each operation is scaled by the reference times around it: 2 s at
    # 0.1, 0.2 and 0.4 s of reference time; the set-ups by 0.2 s
    scaled = [2.0 * run.REF_S / r for r in (0.1, 0.2, 0.4)]
    assert abs(fast["round_s_p50"] - scaled[1]) < 1e-12
    assert abs(fast["rows_per_s"] - 300 / sum(scaled)) < 1e-9
    assert abs(fast["setup_s"] - 2.0 * run.REF_S / 0.2) < 1e-12
