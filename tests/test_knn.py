"""kNN: grid-accelerated path must equal the exact broadcast path,
including the exact-boundary-tie case (ADVICE round 1, item 4)."""

import numpy as np
import pandas as pd

from osm2garmin_spark.operators.knn import knn_broadcast, knn_grid


def test_grid_matches_broadcast_random(spark):
    rng = np.random.default_rng(7)
    q = pd.DataFrame({"q_id": np.arange(200),
                      "q_lat": rng.uniform(-10, 10, 200),
                      "q_lon": rng.uniform(-10, 10, 200)})
    nb = pd.DataFrame({"n_id": np.arange(500),
                       "n_lat": rng.uniform(-10, 10, 500),
                       "n_lon": rng.uniform(-10, 10, 500)})
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    got = sorted(map(tuple, knn_grid(qd, nd, 3, cell_deg=2.0).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_boundary_tie_escalates(spark):
    """Query (0.75, 0.5) with cell 1.0: guaranteed-covered radius is
    exactly 1.25. Neighbor 1 sits exactly ON the 3x3 block boundary at
    (2.0, 0.5) (outside the candidate ring, d^2 = 1.5625); neighbor 2 is
    inside the ring at (1.75, 1.25) with the SAME d^2. The k-th distance
    ties margin^2, so completeness must NOT be assumed: tie-break by n_id
    says neighbor 1 wins, which only the escalation path can see."""
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0], "q_lat": [0.75], "q_lon": [0.5]}))
    nb = spark.createDataFrame(pd.DataFrame(
        {"n_id": [1, 2], "n_lat": [2.0, 1.75], "n_lon": [0.5, 1.25]}))
    out = knn_grid(q, nb, 1, cell_deg=1.0).collect()
    assert len(out) == 1
    assert out[0]["n_id"] == 1


def test_knn_grid_empty_neighbors(spark):
    import pandas as pd
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0, 1], "q_lat": [0.0, 1.0], "q_lon": [0.0, 1.0]}))
    nb = spark.createDataFrame([], "n_id long, n_lat double, n_lon double")
    assert knn_grid(q, nb, 3).count() == 0


def test_knn_fewer_neighbors_than_k(spark):
    import pandas as pd
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0], "q_lat": [0.0], "q_lon": [0.0]}))
    nb = spark.createDataFrame(pd.DataFrame(
        {"n_id": [7, 8], "n_lat": [1.0, 2.0], "n_lon": [0.0, 0.0]}))
    out = sorted((r["n_id"], r["rnk"]) for r in knn_grid(q, nb, 5).collect())
    assert out == [(7, 1), (8, 2)]


def test_grid_escalation_never_collects_neighbors(spark, monkeypatch, caplog):
    """VERDICT r2 #1: the grid path (the both-sides-large case) must never
    materialize the neighbor table on the driver. Force the grid path with
    an explicit cell and a clustered layout where many queries escalate;
    knn_bruteforce_np (the collect-based kernel) must never be invoked, and
    results must still equal the exact broadcast path."""
    import logging
    import osm2garmin_spark.operators.knn as K

    def _boom(*a, **kw):
        raise AssertionError("grid escalation must not collect the "
                             "neighbor table (knn_bruteforce_np called)")
    monkeypatch.setattr(K, "knn_bruteforce_np", _boom)

    rng = np.random.default_rng(11)
    # neighbors clustered far from half the queries → those queries have
    # empty/insufficient rings at cell_deg=1 and must escalate several
    # levels before their ring reaches the cluster
    q = pd.DataFrame({"q_id": np.arange(120),
                      "q_lat": np.where(np.arange(120) < 60,
                                        rng.uniform(-1, 1, 120),
                                        rng.uniform(40, 42, 120)),
                      "q_lon": rng.uniform(-1, 1, 120)})
    nb = pd.DataFrame({"n_id": np.arange(300),
                       "n_lat": rng.uniform(-1, 1, 300),
                       "n_lon": rng.uniform(-1, 1, 300)})
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    with caplog.at_level(logging.INFO, logger="osm2garmin_spark.operators.knn"):
        got = sorted(map(tuple, K.knn_grid(qd, nd, 3, cell_deg=1.0).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want
    # escalation-round count is logged (VERDICT done-criterion)
    assert any("level" in r.message for r in caplog.records)


def test_grid_auto_small_neighbors_still_uses_bruteforce(spark, monkeypatch):
    """Auto dispatch keeps the guarded collect fast path for small tables."""
    import osm2garmin_spark.operators.knn as K
    calls = []
    orig = K.knn_bruteforce_np
    monkeypatch.setattr(K, "knn_bruteforce_np",
                        lambda *a, **kw: calls.append(1) or orig(*a, **kw))
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0, 1], "q_lat": [0.0, 1.0], "q_lon": [0.0, 1.0]}))
    nb = spark.createDataFrame(pd.DataFrame(
        {"n_id": [1, 2], "n_lat": [0.5, 2.0], "n_lon": [0.0, 1.0]}))
    out = K.knn_grid(q, nb, 1)
    assert out.count() == 2 and calls == [1]


def test_stratified_matches_broadcast_and_cuts_candidates(spark):
    """VERDICT r3 #4: a metro cell at 100x the base density. Per-stratum
    cell sizing must (a) return bit-identical results to knn_broadcast
    (escalation keeps every band exact regardless of its cell) and
    (b) beat the single global tuned cell on level-0 candidate-pair
    volume — the global cell targets the AVERAGE density, so metro
    queries otherwise drag ~100x the target candidates into the join."""
    from osm2garmin_spark.operators.knn import (knn_grid_stratified,
                                                plan_strata, tune_cell_deg)

    rng = np.random.default_rng(11)
    base = 4000
    nb = pd.DataFrame({
        "n_id": np.arange(2 * base),
        "n_lat": np.concatenate([rng.uniform(0, 10, base),
                                 rng.uniform(4.5, 5.5, base)]),
        "n_lon": np.concatenate([rng.uniform(0, 10, base),
                                 rng.uniform(4.5, 5.5, base)]),
    })
    q = pd.DataFrame({
        "q_id": np.arange(300),
        "q_lat": np.concatenate([rng.uniform(0, 10, 150),
                                 rng.uniform(4.5, 5.5, 150)]),
        "q_lon": np.concatenate([rng.uniform(0, 10, 150),
                                 rng.uniform(4.5, 5.5, 150)]),
    })
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)

    got = sorted(map(tuple,
                     knn_grid_stratified(qd, nd, 3, coarse=32,
                                         n_strata=3).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want

    # ---- level-0 candidate-pair volume: stratified vs one global cell ----
    def candidates(cells_per_query):
        tot = 0
        for cell, mask in cells_per_query:
            qx = np.floor(q["q_lat"].to_numpy()[mask] / cell)[:, None]
            qy = np.floor(q["q_lon"].to_numpy()[mask] / cell)[:, None]
            nx = np.floor(nb["n_lat"].to_numpy() / cell)[None, :]
            ny = np.floor(nb["n_lon"].to_numpy() / cell)[None, :]
            tot += int(((np.abs(qx - nx) <= 1)
                        & (np.abs(qy - ny) <= 1)).sum())
        return tot

    cell_global = tune_cell_deg(nd, 3)
    cand_global = candidates([(cell_global, np.ones(len(q), dtype=bool))])

    stats, cell_map, stratum_cells, (step_lat, step_lon) = plan_strata(
        nd, 3, coarse=32, n_strata=3)
    smap = {(ix, iy): s for ix, iy, s in cell_map}
    qix = np.clip(np.floor((q["q_lat"].to_numpy() - stats["lat0"])
                           / step_lat), 0, 31).astype(int)
    qiy = np.clip(np.floor((q["q_lon"].to_numpy() - stats["lon0"])
                           / step_lon), 0, 31).astype(int)
    q_stratum = np.array([smap.get((x, y), 0) for x, y in zip(qix, qiy)])
    cand_strat = candidates([(c, q_stratum == s)
                             for s, c in stratum_cells.items()])

    # dense bands must get smaller cells than sparse ones, and the total
    # join volume must drop by a real margin (typically ~3-5x here)
    cells = [stratum_cells[s] for s in sorted(stratum_cells)]
    assert cells[-1] < cells[0]
    assert cand_strat < 0.6 * cand_global, (cand_strat, cand_global)


def test_stratified_skewed_single_cell_and_outside_queries(spark):
    """Degenerate banding: nearly all neighbors in ONE coarse cell makes
    equal-point-mass banding start above stratum 0, so stratum 0 has no
    cells — queries landing in unoccupied coarse cells (or outside the
    neighbor extent entirely) must fall to the sparsest EXISTING band
    and still be answered exactly; empty bands must be skipped, not
    crash."""
    from osm2garmin_spark.operators.knn import knn_grid_stratified

    rng = np.random.default_rng(31)
    nb = pd.DataFrame({
        "n_id": np.arange(2000),
        "n_lat": np.concatenate([rng.uniform(5.0, 5.05, 1990),
                                 rng.uniform(0, 10, 10)]),
        "n_lon": np.concatenate([rng.uniform(5.0, 5.05, 1990),
                                 rng.uniform(0, 10, 10)]),
    })
    q = pd.DataFrame({
        "q_id": np.arange(60),
        # 20 in the hot cell, 20 scattered, 20 OUTSIDE the extent
        "q_lat": np.concatenate([rng.uniform(5.0, 5.05, 20),
                                 rng.uniform(0, 10, 20),
                                 rng.uniform(14, 15, 20)]),
        "q_lon": np.concatenate([rng.uniform(5.0, 5.05, 20),
                                 rng.uniform(0, 10, 20),
                                 rng.uniform(-6, -5, 20)]),
    })
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    got = sorted(map(tuple,
                     knn_grid_stratified(qd, nd, 3, coarse=16,
                                         n_strata=4).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_plan_strata_spike_cell_gets_own_stratum(spark):
    """Round 5: a single coarse cell at >=64x the mean occupied-cell
    density must be carved into its OWN stratum with a cell tuned to its
    exact density — equal-point-mass banding alone dilutes a sub-half-
    band spike across hundreds of average cells (measured 0.66 deg band
    cell for a spike whose true density implies ~0.04 deg). Results stay
    bit-identical to broadcast."""
    from osm2garmin_spark.operators.knn import (knn_broadcast,
                                                knn_grid_stratified,
                                                plan_strata)

    rng = np.random.default_rng(17)
    nb = pd.DataFrame({
        "n_id": np.arange(12000),
        # 8000 uniform over 20x20 deg + a 4000-point 0.05-deg spike
        # (spike holds 1/3 of mass: below the old half-band threshold)
        "n_lat": np.concatenate([rng.uniform(0, 20, 8000),
                                 10.0 + rng.uniform(0, 0.05, 4000)]),
        "n_lon": np.concatenate([rng.uniform(0, 20, 8000),
                                 10.0 + rng.uniform(0, 0.05, 4000)]),
    })
    nd = spark.createDataFrame(nb)
    n_strata = 4
    stats, cell_map, stratum_cells, _ = plan_strata(nd, 3, coarse=32,
                                                    n_strata=n_strata)
    spikes = [s for s in stratum_cells if s >= n_strata]
    assert spikes, stratum_cells
    # the spike stratum's cell reflects its own density: far below every
    # equal-mass band's cell
    band_cells = [c for s, c in stratum_cells.items() if s < n_strata]
    assert max(stratum_cells[s] for s in spikes) < 0.2 * min(band_cells), \
        stratum_cells

    q = pd.DataFrame({
        "q_id": np.arange(200),
        "q_lat": np.concatenate([rng.uniform(0, 20, 100),
                                 10.0 + rng.uniform(-0.1, 0.15, 100)]),
        "q_lon": np.concatenate([rng.uniform(0, 20, 100),
                                 10.0 + rng.uniform(-0.1, 0.15, 100)]),
    })
    qd = spark.createDataFrame(q)
    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3, coarse=32,
                                                n_strata=n_strata).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_plan_strata_multi_spike_median_threshold(spark):
    """Regression (round-5 review): the spike threshold must be computed
    against the MEDIAN occupied-cell count, not the mean — with hot mass
    spread over several cells the spikes inflate the mean past 64x and
    the carve-out self-defeats (here: 20 cells of ~1000 over ~1000 cells
    of ~2 push 64x-mean to ~1400 > 1000, carving NOTHING; 64x-median is
    128 and every hot cell qualifies, capped at the 2*n_strata highest).
    Results stay bit-identical to broadcast."""
    from osm2garmin_spark.operators.knn import (knn_broadcast,
                                                knn_grid_stratified,
                                                plan_strata)

    rng = np.random.default_rng(23)
    hot_lat, hot_lon = [], []
    centers = [(0.7 + 0.93 * i, 19.0 - 0.91 * i) for i in range(20)]
    for cy, cx in centers:
        hot_lat.append(cy + rng.uniform(0, 0.05, 1000))
        hot_lon.append(cx + rng.uniform(0, 0.05, 1000))
    nb = pd.DataFrame({
        "n_id": np.arange(22000),
        "n_lat": np.concatenate([rng.uniform(0, 20, 2000)] + hot_lat),
        "n_lon": np.concatenate([rng.uniform(0, 20, 2000)] + hot_lon),
    })
    nd = spark.createDataFrame(nb)
    n_strata = 4
    stats, cell_map, stratum_cells, _ = plan_strata(nd, 3, coarse=32,
                                                    n_strata=n_strata)
    spikes = [s for s in stratum_cells if s >= n_strata]
    # the cap bounds driver-thread fan-out; the 2*n_strata HIGHEST carve
    # (the old mean rule carved NOTHING here)
    assert len(spikes) == 2 * n_strata, stratum_cells
    # every spike cell is tuned to its own ~2500 pts/deg^2 density
    # (~0.05 deg), not to a sparse-diluted band (the 0.625-deg coarse
    # step or worse)
    assert all(stratum_cells[s] < 0.12 for s in spikes), stratum_cells

    q = pd.DataFrame({
        "q_id": np.arange(150),
        "q_lat": np.concatenate([rng.uniform(0, 20, 50),
                                 centers[3][0] + rng.uniform(-0.1, 0.15, 50),
                                 centers[11][0] + rng.uniform(-0.1, 0.15, 50)]),
        "q_lon": np.concatenate([rng.uniform(0, 20, 50),
                                 centers[3][1] + rng.uniform(-0.1, 0.15, 50),
                                 centers[11][1] + rng.uniform(-0.1, 0.15, 50)]),
    })
    qd = spark.createDataFrame(q)
    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3, coarse=32,
                                                n_strata=n_strata).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_bruteforce_np_ranks_nan_neighbor_last(spark):
    """Spark sorts a NaN distance above every double, so the window twin
    ranks a NaN-coordinate neighbor after all finite ones (n_id order
    among NaNs) and a NaN query's neighbors purely by n_id. The numpy
    kernel must agree; np.argmin alone ranks a NaN neighbor first. Two
    finite neighbors and k=3, so the NaN row must still fill rank 3."""
    from osm2garmin_spark.operators.knn import knn_bruteforce_np

    nan = float("nan")
    # row lists, not pandas: the Arrow conversion turns NaN into NULL
    q = spark.createDataFrame([(0, 0.0, 0.0), (1, 5.0, 5.0), (2, nan, 0.0)],
                              "q_id long, q_lat double, q_lon double")
    nb = spark.createDataFrame([(3, 1.0, 1.0), (5, nan, 0.0), (8, 2.0, 2.0)],
                               "n_id long, n_lat double, n_lon double")
    got = sorted(map(tuple, knn_bruteforce_np(q, nb, 3).collect()))
    want = sorted(map(tuple, knn_broadcast(q, nb, 3).collect()))
    assert (0, 5, 3) in want and (2, 5, 2) in want
    assert got == want
