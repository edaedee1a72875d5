"""Quadtree split: property tests + oracle parity.

The oracle is an independent brute-force re-check: node→cell binning done
per-point in a plain Python loop (addNode semantics, DensityMap.java:63-78)
and the split-invariants the reference guarantees (every returned tile
aligned; every tile's count ≤ max_nodes unless at minimum size; tiles
non-overlapping in interiors; union covers all counted nodes).
"""

import hashlib
from collections import Counter

import numpy as np
import pytest

from osm2garmin_spark.geo.area import Area, PLANET, round_area
from osm2garmin_spark.geo.units import to_degrees, to_map_unit
from osm2garmin_spark.split.quadtree import DensityGrid, split_area

RES = 13
SHIFT = 24 - RES


def _grid_from_cells(cells, res=RES, bounds=PLANET):
    """DensityGrid over ``bounds`` from a {(x, y): count} mapping."""
    xs = np.array([x for x, _ in cells], dtype=np.int64)
    ys = np.array([y for _, y in cells], dtype=np.int64)
    cnts = np.array(list(cells.values()), dtype=np.int64)
    return DensityGrid(bounds, res, xs, ys, cnts)


def _make_grid_from_points(lats_mu, lons_mu, bounds=PLANET):
    """Brute-force addNode loop (oracle path — no vectorization)."""
    b = DensityGrid(bounds, RES).bounds
    width, height = b.width >> SHIFT, b.height >> SHIFT
    cells = Counter()
    for lat, lon in zip(lats_mu, lons_mu):
        if not b.contains(lat, lon):
            continue
        x = (lon - b.min_long) >> SHIFT
        if x == width:
            x -= 1
        y = (lat - b.min_lat) >> SHIFT
        if y == height:
            y -= 1
        cells[(int(x), int(y))] += 1
    return _grid_from_cells(cells, RES, bounds)


def _synth_points(n, seed=7):
    rng = np.random.default_rng(seed)
    # two dense clusters + uniform background
    lat = np.concatenate([
        rng.normal(40.0, 1.0, n // 3),
        rng.normal(-10.0, 0.5, n // 3),
        rng.uniform(-80, 80, n - 2 * (n // 3)),
    ])
    lon = np.concatenate([
        rng.normal(-74.0, 1.5, n // 3),
        rng.normal(120.0, 0.5, n // 3),
        rng.uniform(-179, 179, n - 2 * (n // 3)),
    ])
    return to_map_unit(lat), to_map_unit(lon)


def _count_in(area: Area, lats, lons):
    return int(np.sum((lats >= area.min_lat) & (lats <= area.max_lat)
                      & (lons >= area.min_long) & (lons <= area.max_long)))


def test_split_invariants():
    lats, lons = _synth_points(20000)
    grid = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    max_nodes = 1500
    tiles = split_area(grid, exact, RES, max_nodes)

    assert len(tiles) > 1
    align = 1 << SHIFT
    total_in_tiles_grid = 0
    for t in tiles:
        # aligned edges, even cell sizes
        assert t.min_lat % align == 0 and t.max_lat % align == 0
        assert t.min_long % align == 0 and t.max_long % align == 0
        assert t.width % (2 * align) == 0 and t.height % (2 * align) == 0
        # grid-count within tile ≤ max_nodes unless tile at min cell size
        sub = grid.subset(t)
        w_cells = t.width >> SHIFT
        h_cells = t.height >> SHIFT
        if w_cells >= 4 or h_cells >= 4:
            assert sub.node_count() <= max_nodes, str(t)
        total_in_tiles_grid += sub.node_count()

    # disjoint interiors: pairwise no overlap beyond shared edges
    for i in range(len(tiles)):
        for j in range(i + 1, len(tiles)):
            a, b = tiles[i], tiles[j]
            inter_w = min(a.max_long, b.max_long) - max(a.min_long, b.min_long)
            inter_h = min(a.max_lat, b.max_lat) - max(a.min_lat, b.min_lat)
            assert inter_w <= 0 or inter_h <= 0, (str(a), str(b))

    # union covers every counted node: each in-bounds point in ≥1 tile
    rounded = round_area(exact, RES)
    b = grid.bounds
    in_scope = ((lats >= max(rounded.min_lat, b.min_lat)) & (lats <= min(rounded.max_lat, b.max_lat))
                & (lons >= max(rounded.min_long, b.min_long)) & (lons <= min(rounded.max_long, b.max_long)))
    covered = np.zeros(len(lats), dtype=bool)
    for t in tiles:
        covered |= ((lats >= t.min_lat) & (lats <= t.max_lat)
                    & (lons >= t.min_long) & (lons <= t.max_long))
    assert covered[in_scope].all()


def test_split_deterministic_order_and_mapids():
    lats, lons = _synth_points(5000, seed=3)
    grid1 = _make_grid_from_points(lats, lons)
    grid2 = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    t1 = split_area(grid1, exact, RES, 800)
    t2 = split_area(grid2, exact, RES, 800)
    assert [(t.min_lat, t.min_long, t.max_lat, t.max_long, t.map_id) for t in t1] \
        == [(t.min_lat, t.min_long, t.max_lat, t.max_long, t.map_id) for t in t2]
    assert t1[0].map_id == 63240001
    assert [t.map_id for t in t1] == list(range(63240001, 63240001 + len(t1)))


def test_single_tile_when_under_max():
    lats, lons = _synth_points(100, seed=1)
    grid = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    tiles = split_area(grid, exact, RES, max_nodes=10**9)
    assert len(tiles) == 1


def test_empty_grid():
    grid = DensityGrid(PLANET, RES)
    exact = Area(0, 0, 100, 100)
    assert split_area(grid, exact, RES, 100) == []


def test_single_point_fallback_tile():
    """data confined to a sub-alignment sliver still yields one tile
    (padded-bbox fallback; the reference would emit zero areas here)"""
    lat, lon = to_map_unit(40.2000), to_map_unit(-74.4999)
    b = DensityGrid(PLANET, RES).bounds
    grid = _grid_from_cells(
        {((lon - b.min_long) >> SHIFT, (lat - b.min_lat) >> SHIFT): 1})
    exact = Area(lat, lon, lat + 1, lon + 1)
    tiles = split_area(grid, exact, RES, 100)
    assert len(tiles) == 1
    assert tiles[0].contains(lat, lon)


def test_bottom_sliver_points_get_a_tile(spark):
    """Robustness divergence #2: RoundingUtils.round moves the min-lat
    edge up, so a point mass in the bottom sub-alignment sliver of the
    exact bbox used to round OUTSIDE the split area — trim then hugged
    the surviving bands and the sliver's points landed in no tile (600
    of 3000 rows silently dropped in this corpus). split_area must pad
    the excluded side by one alignment so every in-(polar)-bounds input
    point is covered by some tile."""
    from pyspark.sql import functions as F
    from osm2garmin_spark.split.density import collect_density
    from osm2garmin_spark.split.quadtree import split_area
    from osm2garmin_spark.operators.tile_join import assign_points_to_tiles

    pts = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        ((F.col("id") / 600).cast("int") * 10.0 - 20.0).alias("lat"),
        ((F.col("id") % 600) / 60.0 - 5.0).alias("lon"))
    grid, exact = collect_density(pts, "lat", "lon", 13)
    tiles = split_area(grid, exact, 13, 300)
    assigned = assign_points_to_tiles(pts, tiles, 2000, "lat", "lon")
    covered = assigned.select("event_id").distinct().count()
    assert covered == 3000


def _tiles_digest(tiles):
    """(count, sha256) of the (map_id, min_lat, min_long, max_lat, max_long)
    rows as little-endian int64."""
    rows = [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
            for t in tiles]
    return len(rows), hashlib.sha256(
        np.asarray(rows, dtype="<i8").tobytes()).hexdigest()


def test_split_matches_golden_tiles():
    """The occupied-cell grid reproduces, tile for tile, what the dense
    grid (with and without its summed-area table) produced on the same
    inputs; the digests were captured from that implementation."""
    rng = np.random.default_rng(7)
    golden = {
        9: (108, "fbe7a73df3bc05922bd56e662f62330e"
                 "9581b46e27dc934e3fb0c713659c4fa9"),
        11: (172, "877ef729e4ad1dc577fd0a539f979e54"
                  "eea442e307e542fc54c6e099e0159f8d"),
    }
    for res, n_pts, max_nodes in ((9, 4000, 50), (11, 20000, 200)):
        planet = DensityGrid(PLANET, res)
        xs = rng.integers(0, planet.width, n_pts)
        ys = rng.integers(0, planet.height, n_pts)
        # clustered + uniform mix so trim and the median clamp both fire
        xs[: n_pts // 2] = xs[: n_pts // 2] % max(planet.width // 7, 1)
        grid = _grid_from_cells(Counter(zip(xs.tolist(), ys.tolist())), res)
        exact = Area(grid.y_to_lat(int(ys.min())), grid.x_to_lon(int(xs.min())),
                     grid.y_to_lat(int(ys.max()) + 1),
                     grid.x_to_lon(int(xs.max()) + 1))
        assert _tiles_digest(split_area(grid, exact, res, max_nodes)) \
            == golden[res]

    lats, lons = _synth_points(20000)
    grid = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    assert _tiles_digest(split_area(grid, exact, RES, 1500)) == (
        25, "25ca29b271eb0b7f4d63b34ad62d7533"
            "60d242dacf547757aa169fec1e2631a0")


def test_subset_counts_only_the_copied_window():
    """subset copies parent cells [start, start + max) of the trimmed area
    (DensityMap.java:119-135), even where re-rounding that unaligned area
    gives bounds past the window. Here the bottom row of the resolution-4
    planet grid lies below the 85° clamp: the trimmed area clamps to a
    1-unit sliver, so the copied window has no rows while the rounded
    result bounds cover the occupied cells above it."""
    res, shift = 4, 20
    cells = {(4, 0): 3, (4, 1): 5, (5, 2): 7, (9, 1): 11}
    grid = _grid_from_cells(cells, res)
    area = Area(grid.bounds.min_lat, grid.x_to_lon(4),
                grid.y_to_lat(1) + 1000, grid.x_to_lon(6))
    sub = grid.subset(area)

    trimmed = grid._trim(area)
    sx, sy = grid.lon_to_x(trimmed.min_long), grid.lat_to_y(trimmed.min_lat)
    mx = min(trimmed.width >> shift, sub.width)
    my = min(trimmed.height >> shift, sub.height)
    assert (sub.width, sub.height) != (mx, my)      # rounding overhangs
    b = sub.bounds
    overhang = sum(c for (x, y), c in cells.items()
                   if b.min_long <= grid.x_to_lon(x) < b.max_long
                   and b.min_lat <= grid.y_to_lat(y) < b.max_lat
                   and not (sx <= x < sx + mx and sy <= y < sy + my))
    assert overhang > 0
    brute = sum(c for (x, y), c in cells.items()
                if sx <= x < sx + mx and sy <= y < sy + my)
    assert sub.node_count() == brute


def _uniform(rng, n, lat=(-60, 60), lon=(-170, 170)):
    return np.stack([rng.uniform(*lat, n), rng.uniform(*lon, n)], axis=1)


def _polar_bottom_row(seed):
    rng = np.random.default_rng(seed)
    floor = to_degrees(round_area(PLANET, 8).min_lat)
    bottom = np.stack([rng.uniform(floor, floor + 0.005, 50),
                       rng.uniform(-10, 10, 50)], axis=1)
    return np.concatenate([bottom, _uniform(rng, 500)]), 8, 100


def _lon_180():
    rng = np.random.default_rng(3)
    edge = np.stack([rng.uniform(-60, 60, 200), np.full(200, 180.0)], axis=1)
    return np.concatenate([edge, _uniform(rng, 300)]), 10, 60


EDGE_INPUTS = {
    "polar-bottom-row-seed0": lambda: _polar_bottom_row(0),
    "polar-bottom-row-seed1": lambda: _polar_bottom_row(1),
    "empty": lambda: (np.zeros((0, 2)), 13, 100),
    "one-point": lambda: (np.array([[12.34, 56.78]]), 13, 100),
    "one-cell": lambda: (np.array([40.0, -74.0])
                         + np.random.default_rng(5).uniform(0, 1e-4, (300, 2)),
                         13, 100),
    "lon-180": _lon_180,
}


@pytest.mark.parametrize("case", list(EDGE_INPUTS))
def test_driver_split_matches_distributed_on_edge_inputs(spark, case):
    """collect_density + split_area against the level-synchronous twin,
    which never builds a grid; every counted point lies in some tile."""
    from osm2garmin_spark.split.density import collect_density, density_cells
    from osm2garmin_spark.split.distributed import split_area_distributed

    pts, res, max_nodes = EDGE_INPUTS[case]()
    df = spark.createDataFrame([(float(a), float(o)) for a, o in pts],
                               "lat double, lon double").cache()
    grid, exact = collect_density(df, resolution=res)
    if exact is None:
        assert len(pts) == 0 and grid.node_count() == 0
        return
    tiles = split_area(grid, exact, res, max_nodes)
    cells = density_cells(df, resolution=res).persist()
    twin = split_area_distributed(cells, exact, res, max_nodes)
    cells.unpersist()
    assert [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
            for t in tiles] == \
        [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
         for t in twin]

    b = grid.bounds
    lats, lons = to_map_unit(pts[:, 0]), to_map_unit(pts[:, 1])
    counted = ((lats >= b.min_lat) & (lats <= b.max_lat)
               & (lons >= b.min_long) & (lons <= b.max_long))
    assert grid.node_count() == int(counted.sum())
    covered = np.zeros(len(pts), dtype=bool)
    for t in tiles:
        covered |= ((lats >= t.min_lat) & (lats <= t.max_lat)
                    & (lons >= t.min_long) & (lons <= t.max_long))
    assert covered[counted].all()
