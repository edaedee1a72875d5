"""Driver-side density grid + recursive weighted-median quadtree split.

This is the analytics core of the reference's splitter pass 1, ported
integer-exact so tile boundaries reproduce bit-for-bit:

- ``DensityGrid``            ≙ DensityMap.java:24-220 (subset, trim, cell codec)
- ``SplittableDensityArea``  ≙ SplittableDensityArea.java:27-196 (split
                               recursion, aspect ratio, weighted-mean split
                               point, 3/5-quantile clamp, even-parity split,
                               interleave+reverse result mixing)

The *histogram itself* is computed distributed (see ``split.density``); only
its occupied cells reach the driver, and the grid holds nothing else: no
planet-sized array exists at any resolution. Each recursion node masks its
parent's cells, so the split costs O(occupied cells × tree depth), and the
driver holds O(occupied cells) however many input rows there are.

Java-semantics notes (SURVEY.md §7.3 "what's hard"):
- ``int`` casts truncate toward zero (np.trunc / int()).
- ``>>>`` handled by geo.units.round_* helpers.
- ``(int)(weightedSum / sum)`` is long division of non-negatives → ``//``.
- aspect ratio uses cos of the *rounded* bounds' min/max latitude.
"""

from __future__ import annotations

import math
from typing import List, Optional

import numpy as np

from ..geo.area import Area, EMPTY_AREA, round_area
from ..geo.units import to_degrees, to_map_unit


class DensityGrid:
    """Occupied cells of a 2D node-count histogram over a rounded area.

    Coordinates are [x][y] like the reference (x = longitude cell, y =
    latitude cell, grid-local); shift = 24 - resolution (DensityMap.java:
    37-45). Only occupied cells are held, as three parallel int64 arrays
    ``xs``, ``ys`` and ``grid`` (the counts, every one > 0); a cell not
    listed holds zero.
    """

    def __init__(self, area: Area, resolution: int,
                 xs: Optional[np.ndarray] = None,
                 ys: Optional[np.ndarray] = None,
                 counts: Optional[np.ndarray] = None):
        assert 1 <= resolution <= 24
        self.shift = 24 - resolution
        if area is EMPTY_AREA or (area.width == 0 or area.height == 0):
            self.bounds = EMPTY_AREA
            self.width = 0
            self.height = 0
        else:
            self.bounds = round_area(area, resolution)
            self.height = self.bounds.height >> self.shift
            self.width = self.bounds.width >> self.shift
        if counts is None:
            xs = ys = counts = np.zeros(0, dtype=np.int64)
        self.xs, self.ys, self.grid = xs, ys, counts
        self.total = int(counts.sum())

    # --- cell codecs (DensityMap.java:203-219) -------------------------
    def lon_to_x(self, lon: int) -> int:
        return (lon - self.bounds.min_long) >> self.shift

    def lat_to_y(self, lat: int) -> int:
        return (lat - self.bounds.min_lat) >> self.shift

    def x_to_lon(self, x: int) -> int:
        return (x << self.shift) + self.bounds.min_long

    def y_to_lat(self, y: int) -> int:
        return (y << self.shift) + self.bounds.min_lat

    def node_count(self) -> int:
        return self.total

    def _window(self, x0: int, x1: int, y0: int, y1: int) -> np.ndarray:
        """Mask of the cells inside [x0, x1) × [y0, y1)."""
        xs, ys = self.xs, self.ys
        return (xs >= x0) & (xs < x1) & (ys >= y0) & (ys < y1)

    # --- subset + trim (DensityMap.java:88-179) -------------------------
    def subset(self, sub: Area) -> "DensityGrid":
        resolution = 24 - self.shift
        min_lat = max(self.bounds.min_lat, sub.min_lat)
        min_lon = max(self.bounds.min_long, sub.min_long)
        max_lat = min(self.bounds.max_lat, sub.max_lat)
        max_lon = min(self.bounds.max_long, sub.max_long)
        if min_lat > max_lat or min_lon > max_lon:
            return DensityGrid(EMPTY_AREA, resolution)

        sub = self._trim(Area(min_lat, min_lon, max_lat, max_lon))
        if sub is EMPTY_AREA or sub.width == 0 or sub.height == 0:
            return DensityGrid(EMPTY_AREA, resolution)

        result = DensityGrid(sub, resolution)
        # the reference's arraycopy loop (DensityMap.java:119-135): parent
        # cells [start, start + max) land at result-local [0, max), where
        # start comes from the (possibly unaligned) trimmed area and max is
        # clamped to the re-rounded result dims. Cells outside the parent
        # grid (the trimmed area may round past its edge) do not exist, so
        # they read as zero.
        start_x = self.lon_to_x(sub.min_long)
        start_y = self.lat_to_y(sub.min_lat)
        max_x = min(sub.width >> self.shift, result.width)
        max_y = min(sub.height >> self.shift, result.height)
        keep = self._window(start_x, start_x + max_x,
                            start_y, start_y + max_y)
        result.xs = self.xs[keep] - start_x
        result.ys = self.ys[keep] - start_y
        result.grid = self.grid[keep]
        result.total = int(result.grid.sum())
        return result

    def _trim(self, area: Area) -> Area:
        """Shave empty edge rows/columns then re-round (DensityMap.java:137-179):
        the occupied cells' x/y extent inside the area's window."""
        inside = self._window(self.lon_to_x(area.min_long),
                              self.lon_to_x(area.max_long),
                              self.lat_to_y(area.min_lat),
                              self.lat_to_y(area.max_lat))
        if not inside.any():
            return EMPTY_AREA
        xs, ys = self.xs[inside], self.ys[inside]
        min_x, max_x = int(xs.min()), int(xs.max()) + 1
        min_y, max_y = int(ys.min()), int(ys.max()) + 1

        trimmed = Area(self.y_to_lat(min_y), self.x_to_lon(min_x),
                       self.y_to_lat(max_y), self.x_to_lon(max_x))
        rounded = round_area(trimmed, 24 - self.shift)

        # keep the rounding inside the original boundaries (DensityMap.java:166-175)
        lat_adjust = max(0, rounded.max_lat - area.max_lat)
        lon_adjust = max(0, rounded.max_long - area.max_long)
        if lat_adjust > 0 or lon_adjust > 0:
            rounded = Area(rounded.min_lat - lat_adjust,
                           rounded.min_long - lon_adjust,
                           rounded.max_lat - lat_adjust,
                           rounded.max_long - lon_adjust)
        return rounded


class SplittableDensityArea:
    """Recursive split of a density grid into areas of ≤ max_nodes counts.

    Port of SplittableDensityArea.java:27-196.
    """

    def __init__(self, densities: DensityGrid):
        self.densities: Optional[DensityGrid] = densities

    def get_bounds(self) -> Area:
        return self.densities.bounds

    def get_aspect_ratio(self) -> float:
        """SplittableDensityArea.java:40-48 — width cos-corrected at both
        latitudes, Java (int) truncation."""
        d = self.densities
        bounds = d.bounds
        width1 = int(np.trunc(d.width * math.cos(math.radians(to_degrees(bounds.min_lat)))))
        width2 = int(np.trunc(d.width * math.cos(math.radians(to_degrees(bounds.max_lat)))))
        width = max(width1, width2)
        return float(width) / d.height

    def split(self, max_nodes: int) -> List[Area]:
        """SplittableDensityArea.java:52-100."""
        d = self.densities
        if d is None or d.node_count() == 0:
            return []
        bounds = d.bounds
        if d.node_count() <= max_nodes:
            self.densities = None
            return [bounds]
        if d.width < 4 and d.height < 4:
            return [bounds]

        split_result = None
        split_x = self._get_split_horiz()
        split_y = self._get_split_vert()

        if self.get_aspect_ratio() <= 1.0 and d.height >= 4 and split_y is not None:
            split_result = self._split_vert(split_y)
        if split_result is None and d.width >= 4 and split_x is not None:
            split_result = self._split_horiz(split_x)
        if self.get_aspect_ratio() > 1.0 and split_result is None and d.height >= 4 and split_y is not None:
            split_result = self._split_vert(split_y)
        if split_result is None:
            return [bounds]

        self.densities = None
        return _mix_results(split_result[0].split(max_nodes),
                            split_result[1].split(max_nodes))

    # --- split point selection (SplittableDensityArea.java:127-196) -----
    # weighted mean Σcnt·x // Σcnt over the occupied cells, exact int64
    def _get_split_horiz(self) -> Optional[int]:
        d = self.densities
        return self._limit(0, d.width, int(np.dot(d.grid, d.xs)) // d.total)

    def _get_split_vert(self) -> Optional[int]:
        d = self.densities
        return self._limit(0, d.height, int(np.dot(d.grid, d.ys)) // d.total)

    @staticmethod
    def _limit(first: int, second: int, calc_offset: int) -> Optional[int]:
        """Clamp to middle 3/5 quantiles, force even parity
        (SplittableDensityArea.java:182-196)."""
        mid = first + calc_offset
        limitoff = (second - first) // 5
        if mid - first < limitoff:
            mid = first + limitoff
        elif second - mid < limitoff:
            mid = second - limitoff
        if mid % 2 != 0:
            mid -= 1
        if mid == first or mid == second:
            return None
        return mid

    def _split_horiz(self, split_x: int):
        d = self.densities
        bounds = d.bounds
        mid = bounds.min_long + (split_x << d.shift)
        left = Area(bounds.min_lat, bounds.min_long, bounds.max_lat, mid)
        right = Area(bounds.min_lat, mid, bounds.max_lat, bounds.max_long)
        return (SplittableDensityArea(d.subset(left)),
                SplittableDensityArea(d.subset(right)))

    def _split_vert(self, split_y: int):
        d = self.densities
        bounds = d.bounds
        mid = bounds.min_lat + (split_y << d.shift)
        bottom = Area(bounds.min_lat, bounds.min_long, mid, bounds.max_long)
        top = Area(mid, bounds.min_long, bounds.max_lat, bounds.max_long)
        return (SplittableDensityArea(d.subset(bottom)),
                SplittableDensityArea(d.subset(top)))


def _mix_results(a1: List[Area], a2: List[Area]) -> List[Area]:
    """Interleave the two halves' results then reverse
    (SplittableDensityArea.java:103-122). The order defines sequential
    map-id assignment (Main.java:181-195), so it must be exact."""
    results: List[Area] = []
    i = j = 0
    while i < len(a1) and j < len(a2):
        results.append(a1[i]); i += 1
        results.append(a2[j]); j += 1
    results.extend(a1[i:])
    results.extend(a2[j:])
    results.reverse()
    return results


def rounded_split_bounds(exact_area: Area, resolution: int) -> Area:
    """round_area plus the sliver-coverage guard — the ONE bbox both the
    driver split (split_area) and the distributed twin
    (split.distributed.split_area_distributed) must use, or they diverge.

    Robustness divergence #2 (same spirit as split_area's empty-areas
    retry): RoundingUtils.round moves the min-lat edge UP and the max-lon
    edge DOWN (RoundingUtils.java:74,89), so data confined to a
    sub-alignment sliver along those two edges falls OUTSIDE the rounded
    bbox — the subset grid never sees those rows, trim hugs the surviving
    bands, and real input points end up in no tile (the ±overlap
    extension cannot rescue them once trim has pulled the nearest tile a
    whole band away). Detect the exclusion and pad the exact bbox by one
    alignment on the excluded side(s); round_area's own parity adjustment
    often pulls an edge outward already, in which case nothing changes
    and tile boundaries stay bit-identical to the reference. The ±85°
    polar clamp is the reference's intentional discard and is honoured
    (no pad below it) — which carries a documented residual: data in the
    sub-alignment band between to_map_unit(-85) and its round-up is
    still excluded, because the PLANET density grid itself starts at the
    rounded clamp (density_cells' containment filter) — exactly the
    reference's near-pole behavior (DensityMapCollector never counts
    those nodes either). Fixing it would mean diverging from the
    TestRounding-pinned clamp semantics, not just padding here."""
    bbounds = round_area(exact_area, resolution)
    align = 1 << (24 - resolution)
    clamped_min_lat = max(exact_area.min_lat, to_map_unit(-85.0))
    grow_down = bbounds.min_lat > clamped_min_lat
    grow_right = bbounds.max_long < exact_area.max_long
    if grow_down or grow_right:
        padded = Area(exact_area.min_lat - (align if grow_down else 0),
                      exact_area.min_long,
                      exact_area.max_lat,
                      exact_area.max_long + (align if grow_right else 0))
        bbounds = round_area(padded, resolution)
    return bbounds


def split_area(grid: DensityGrid, exact_area: Area, resolution: int,
               max_nodes: int, first_map_id: int = 63240001) -> List[Area]:
    """Pass-1 tail: round the exact data bbox, subset+trim the planet density
    grid, split, assign sequential map ids (Main.java:177-195 + nodes.
    getRoundedArea, DensityMapCollector.java:80-83). Returns Areas with
    map_id set in reference traversal order."""
    bbounds = rounded_split_bounds(exact_area, resolution)
    splittable = SplittableDensityArea(grid.subset(bbounds))
    areas = splittable.split(max_nodes)
    if not areas and grid.node_count() > 0:
        # Robustness divergence from the reference: RoundingUtils.round rounds
        # the min-lat edge *up* (RoundingUtils.java:74), so data confined to a
        # sub-alignment sliver can round to a bbox that misses every point and
        # the split yields no tiles (the reference would emit an empty
        # areas.list here). Pad the exact bbox by one alignment and retry so a
        # non-empty input always produces ≥1 tile.
        padded = round_area(exact_area.extend(1 << (24 - resolution)), resolution)
        areas = SplittableDensityArea(grid.subset(padded)).split(max_nodes)
    out = []
    for i, a in enumerate(areas):
        out.append(Area(a.min_lat, a.min_long, a.max_lat, a.max_long,
                        map_id=first_map_id + i))
    return out
