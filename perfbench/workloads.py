"""The benchmark's two workloads, and the tile-commit write cycle the query
mix runs as one of its operations.

Each is a closed loop with one client: the harness calls ``run(i)``, checks
its result, and only then starts the next operation. A workload object
lives for the whole measured process; ``build`` makes its inputs from the
seed in each new session, ``prepare`` computes the references the output
checks compare against, and ``check`` returns the list of problems found in
one result (empty = ok).

The program receives only generated DataFrames (or, for the query mix, the
directory of the checked-in tables); the seed never reaches it.
"""

from __future__ import annotations

import glob
import json
import multiprocessing
import os
import shutil
import time
from typing import Dict, List

import numpy as np

from pyspark.sql import functions as F

from osm2garmin_spark.expressions import DELTA, FULL_CIRCLE
from osm2garmin_spark.operators.tile_join import (DEFAULT_CELL_SHIFT,
                                                  _ORIGIN_LAT, _ORIGIN_LON,
                                                  _tile_cells)

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
SF_TABLES = ("customer", "documents", "events")
#: the oracle twins' fingerprints, kept across runs in the checkout
ORACLE_CACHE = os.path.join(os.path.dirname(HERE), ".perfbench_work",
                            "oracle-cache")


def id_block(seed: int, rows: int) -> int:
    """First id of the seed's block: seeds select disjoint blocks of the
    deterministic generator (ids stay below 2^33, where the generator's
    integer arithmetic cannot overflow)."""
    return (seed % 1000) * rows


def map_unit_np(deg: np.ndarray) -> np.ndarray:
    """numpy twin of expressions.map_unit (same float operation order)."""
    nudged = np.where(deg > 0, deg + DELTA, deg - DELTA)
    scaled = nudged * float(FULL_CIRCLE) / 360.0
    return np.where(scaled >= 0, np.floor(scaled), np.ceil(scaled)).astype(np.int64)


class PointIndex:
    """Collected corpus coordinates in map units: the brute-force reference
    for tile containment and the tile join's candidate count."""

    def __init__(self, lat: np.ndarray, lon: np.ndarray):
        self.lat_mu = map_unit_np(lat)
        self.lon_mu = map_unit_np(lon)
        cx = (self.lon_mu - _ORIGIN_LON) >> DEFAULT_CELL_SHIFT
        cy = (self.lat_mu - _ORIGIN_LAT) >> DEFAULT_CELL_SHIFT
        keys, counts = np.unique(cx * 4096 + cy, return_counts=True)
        self._cells = dict(zip(keys.tolist(), counts.tolist()))

    @classmethod
    def of(cls, df) -> "PointIndex":
        pdf = df.select("lat", "lon").toPandas()
        return cls(pdf["lat"].to_numpy(np.float64), pdf["lon"].to_numpy(np.float64))

    def contained(self, tiles, overlap: int) -> Dict[int, int]:
        """Points inside each tile's extended closed bbox."""
        out = {}
        for t in tiles:
            e = t.extend(overlap)
            inside = ((self.lat_mu >= e.min_lat) & (self.lat_mu <= e.max_lat)
                      & (self.lon_mu >= e.min_long) & (self.lon_mu <= e.max_long))
            out[t.map_id] = int(inside.sum())
        return out

    def assign_counts(self, tiles, overlap: int) -> Dict[str, float]:
        """Equi-join candidates (points sharing a coarse cell with a tile's
        extended bbox, on the tile join's own cell cover) and input rows of
        one tile-join pass over the corpus."""
        cand = sum(self._cells.get(cx * 4096 + cy, 0) for _, cx, cy, _ in
                   _tile_cells(tiles, overlap, DEFAULT_CELL_SHIFT))
        return {"candidate_rows": float(cand),
                "input_rows": float(len(self.lat_mu))}


def tile_key(tiles) -> list:
    return [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
            for t in tiles]


class TilePlan:
    """Full in-memory tiling run plus per-tile counts at resolution 13."""

    name = "tile_plan_r13"
    ops_per_round = 1
    timed_cold = False
    #: set-ups per run (session start + input build); setup_s is their
    #: median. The first launches the JVM, the later ones restart the
    #: session in it.
    setups = 5
    rows = 200_000
    resolution = 13
    max_nodes = 2_000
    overlap = 2000

    def __init__(self, tracer, workdir: str, cores: int):
        self.tracer = tracer
        self.cores = cores
        self.points = None
        self.tiles_ref = None
        self.expected = None

    def build(self, spark, seed: int) -> None:
        from osm2garmin_spark.pipeline.synth import attach_geo

        lo = id_block(seed, self.rows)
        ids = spark.range(lo, lo + self.rows, 1, self.cores * 2).select(
            F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"))
        self.corpus = attach_geo(ids).persist()
        self.corpus.count()

    def root(self, i: int) -> str:
        return "pipeline.tiling"

    def run(self, i: int) -> dict:
        from osm2garmin_spark.pipeline.tiling import run_tiling_pipeline

        res = run_tiling_pipeline(self.corpus, max_nodes=self.max_nodes,
                                  resolution=self.resolution,
                                  overlap=self.overlap)
        with self.tracer.span("operators.tile_join"):
            counts = {r["tile_id"]: r["n_rows"] for r in res.counts.collect()}
        return {"tiles": tile_key(res.tiles), "tile_areas": res.tiles,
                "counts": counts, "rows": sum(counts.values())}

    #: untimed operations before the loop: the first in a new JVM loads and
    #: compiles the density and join code
    warmup_ops = 2

    def warmup(self) -> list:
        return [self.run(-1) for _ in range(self.warmup_ops)]

    def prepare(self, warm: list) -> None:
        self.points = PointIndex.of(self.corpus)
        self.tiles_ref = warm[-1]["tiles"]
        self.expected = self.points.contained(warm[-1]["tile_areas"], self.overlap)

    def check(self, r: dict) -> List[str]:
        bad = []
        if r["tiles"] != self.tiles_ref:
            bad.append("tile list differs from the first operation's")
        if r["counts"] != self.expected:
            diff = sorted(k for k in set(r["counts"]) | set(self.expected)
                          if r["counts"].get(k) != self.expected.get(k))
            bad.append(f"per-tile counts differ from brute force on tiles {diff[:5]}")
        return bad

    def finish(self, ops: List[dict]) -> Dict[int, List[str]]:
        return {}

    def counts(self, r: dict) -> Dict[str, float]:
        return {}

    def close(self) -> None:
        self.corpus.unpersist()


class CommitCycle:
    """One write cycle of the resumable pipeline at resolution 11: a crash
    after about half the tiles, a second crash between data write and
    lineage commit (leaves orphan files), a resume that commits the rest, a
    no-op resume, and the committed read-back (timed apart). Its corpus
    carries image bytes, so stored bytes are realistic."""

    rows = 10_000
    resolution = 11
    max_nodes = 1_000
    overlap = 2000

    def __init__(self, tracer, workdir: str, cores: int):
        self.tracer = tracer
        self.cores = cores
        self.workdir = workdir
        self.expected = None
        self.points = None
        self.cycle = 0

    def build(self, spark, seed: int) -> None:
        from osm2garmin_spark.pipeline.synth import (IMAGE_SCHEMA, _gen_map,
                                                     attach_geo)

        lo = id_block(seed, self.rows)
        images = spark.range(lo, lo + self.rows, 1, self.cores * 2).mapInPandas(
            _gen_map, schema=IMAGE_SCHEMA)
        self.corpus = attach_geo(images).persist()
        self.corpus.count()
        self.spark = spark

    def _kw(self, **extra) -> dict:
        return dict(max_nodes=self.max_nodes, resolution=self.resolution,
                    overlap=self.overlap, id_col="image_id", **extra)

    def run(self) -> dict:
        from osm2garmin_spark.pipeline.lineage import (read_committed_assigned,
                                                       run_tiling_resumable,
                                                       tile_digests)

        self.cycle += 1
        out_dir = os.path.join(self.workdir, f"cycle{self.cycle}")
        shutil.rmtree(os.path.join(self.workdir, f"cycle{self.cycle - 1}"),
                      ignore_errors=True)
        # the split stage persists the tile list, then the crash comes
        # after half of its tiles
        plan = run_tiling_resumable(self.corpus, out_dir, run_id="plan",
                                    **self._kw(fail_after_tiles=0))
        half = plan["tiles"] // 2
        steps = [
            plan,
            run_tiling_resumable(self.corpus, out_dir, run_id="crash",
                                 **self._kw(fail_after_tiles=half)),
            run_tiling_resumable(self.corpus, out_dir, run_id="orphan",
                                 **self._kw(fail_after_tiles=max(1, half // 2),
                                            fail_before_commit=True)),
            run_tiling_resumable(self.corpus, out_dir, run_id="resume",
                                 **self._kw()),
            run_tiling_resumable(self.corpus, out_dir, run_id="noop",
                                 **self._kw()),
        ]
        with self.tracer.span("pipeline.lineage.read"):
            t0 = time.perf_counter()
            back = read_committed_assigned(self.spark, out_dir, id_col="image_id")
            digests = {r["tile_id"]: (r["n_rows"], r["digest"])
                       for r in tile_digests(back, "image_id").collect()}
            read_s = time.perf_counter() - t0
        return {"dir": out_dir, "steps": steps, "half": half, "digests": digests,
                "read_s": read_s, "back": back,
                "rows": sum(n for n, _ in digests.values())}

    def prepare(self, first: dict) -> None:
        from osm2garmin_spark.operators.tile_join import assign_points_to_tiles
        from osm2garmin_spark.pipeline.lineage import LineageStore, tile_digests

        tiles = LineageStore(first["dir"]).load_tiles()
        assigned = assign_points_to_tiles(self.corpus, tiles, self.overlap)
        self.expected = {r["tile_id"]: (r["n_rows"], r["digest"])
                         for r in tile_digests(assigned, "image_id").collect()}
        self.points = PointIndex.of(self.corpus)

    def check(self, r: dict) -> List[str]:
        from osm2garmin_spark.pipeline.lineage import committed_pairs

        bad = []
        plan, crash, orphan, resume, noop = r["steps"]
        n, half = plan["tiles"], r["half"]
        if plan["processed"] != 0 or crash["processed"] != half:
            bad.append(f"crash run processed {crash['processed']} of {n} "
                       f"tiles, not {half}")
        if not orphan.get("crashed"):
            bad.append("orphan run did not stop before its commit")
        if resume["processed"] != n - half or noop["processed"] != 0 \
                or noop["skipped"] != n:
            bad.append(f"resume/no-op runs did not complete the table: "
                       f"{resume} {noop}")
        if r["digests"] != self.expected:
            bad.append("committed per-tile (n_rows, digest) differ from the "
                       "in-memory assignment")
        dups = (r["back"].groupBy("tile_id", "image_id").count()
                .filter(F.col("count") > 1).limit(1).count())
        if dups:
            bad.append("duplicate (tile_id, image_id) rows in the read-back")
        on_disk = {os.path.basename(p).split("=", 1)[1] for p in
                   glob.glob(os.path.join(r["dir"], "assigned", "attempt=*"))}
        committed = {x["attempt"] for x in
                     committed_pairs(self.spark, r["dir"]).collect()}
        orphans = on_disk - committed
        if not any(a.startswith("orphan-") for a in orphans):
            bad.append("the crashed attempt left no files to hide")
        if any(a.startswith("orphan-") for a in committed):
            bad.append("the crashed attempt is visible to the read-back")
        return bad

    def counts(self, r: dict) -> Dict[str, float]:
        files = [os.path.join(d, f) for d, _, fs in os.walk(r["dir"]) for f in fs]
        stored = sum(os.path.getsize(p) for p in files)
        return {"read_s": r["read_s"],
                "stored_bytes": float(stored),
                "files_written": float(sum(
                    1 for p in files if p.endswith(".parquet")
                    and os.sep + "assigned" + os.sep in p)),
                "manifests": float(len(glob.glob(
                    os.path.join(r["dir"], "_lineage", "*.parquet"))))}

    def close(self) -> None:
        self.corpus.unpersist()
        shutil.rmtree(os.path.join(self.workdir, f"cycle{self.cycle}"),
                      ignore_errors=True)


COMMIT = "tile_commit_cycle"

#: (query, layer it exercises) — the nine registry queries of the mix
QUERIES = [
    ("range_join_customers_events", "operators.range_join"),
    ("knn_stratified_customers_events", "operators.knn"),
    ("knn_hex_customers_events", "operators.knn_hex"),
    ("pip_partitioned", "operators.pip"),
    ("jaccard_pairs_docs", "functions.dedup"),
    ("dedup_clusters_docs", "functions.dedup"),
    ("phash_dedup_clusters", "functions.phash"),
    ("events_table_checksums", "functions.checksum"),
    ("apply_changes_gated", "streaming.incremental"),
]


def duckdb_rows(sql: str):
    """(column names, rows) of ``sql`` on DuckDB over the checked-in tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in SF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(SF_DIR, t)}.parquet'")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def fingerprint(df) -> tuple:
    """(rows, order-insensitive content hash) of a DataFrame; evaluating it
    consumes every row and column, as a noop sink does. Floating columns are
    rounded to 9 decimals first, the tolerance of the oracle gate."""
    cols = [F.round(F.col(f.name), 9) if f.dataType.typeName() in ("double", "float")
            else F.col(f.name) for f in df.schema.fields]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), str(r["h"])


class QueryCommitMix:
    """The nine registry queries on the checked-in sf0.01 tables, each
    consumed by a fingerprint aggregate, then one tile-commit write cycle:
    ten operations per pass, always in this order. The seed selects the
    commit corpus.

    There is no warm-up operation, so the timed pass is each query's and
    the write cycle's first execution in the JVM, compile and code
    generation included: a warm pass as well would not fit the run's time
    budget.

    A query's fingerprint must be the same on every pass (checked at once)
    and equal the fingerprint of its ``oracle_sql()`` twin's rows on DuckDB
    (checked in ``finish``, after the timed loop and the RSS reading). The
    twins' fingerprints take ~20 s to compute and depend only on the SQL,
    the checked-in tables and the query's output schema, so they are kept
    in ``ORACLE_CACHE`` under a hash of the three."""

    name = "query_commit_mix"
    ops_per_round = len(QUERIES) + 1
    #: the timed pass runs the queries cold (see above)
    timed_cold = True
    #: three, not five: each builds the commit corpus (~3 s)
    setups = 3

    def __init__(self, tracer, workdir: str, cores: int):
        self.tracer = tracer
        self.commit = CommitCycle(tracer, workdir, cores)
        self.ref = {}
        self.first = {}
        self.schemas = {}

    def build(self, spark, seed: int) -> None:
        from osm2garmin_spark import queries as Q

        self.order = QUERIES + [(COMMIT, "pipeline.lineage")]
        self.registry = Q.queries()
        self.spark = spark
        self.commit.build(spark, seed)

    @property
    def points(self):
        return self.commit.points

    def root(self, i: int) -> str:
        name, _ = self.order[i % len(self.order)]
        return "pipeline.lineage" if name == COMMIT else "queries"

    def run(self, i: int) -> dict:
        name, layer = self.order[i % len(self.order)]
        if name == COMMIT:
            return self.commit.run()
        with self.tracer.span(layer):
            df = self.registry[name](self.spark, SF_DIR)
            n, h = fingerprint(df)
        return {"query": name, "rows": n, "fp": (n, h), "schema": df.schema}

    def warmup(self) -> list:
        return []

    def prepare(self, warm: list) -> None:
        pass

    def check(self, r: dict) -> List[str]:
        if "query" not in r:
            # the reference digests come from the first cycle's tile list
            if self.commit.expected is None:
                self.commit.prepare(r)
            return self.commit.check(r)
        name = r["query"]
        self.schemas.setdefault(name, r["schema"])
        want = self.first.setdefault(name, r["fp"])
        if r["fp"] != want:
            return [f"{name}: fingerprint {r['fp']} differs from the first "
                    f"pass's {want}"]
        return []

    def finish(self, ops: List[dict]) -> Dict[int, List[str]]:
        """Problems, by operation, of the queries whose fingerprint differs
        from their oracle twin's."""
        self._load_oracle(sorted({o["query"] for o in ops if "query" in o}))
        bad = {}
        for o in ops:
            if "query" in o and tuple(o["fp"]) != self.ref[o["query"]]:
                bad[o["i"]] = [f"{o['query']}: fingerprint {tuple(o['fp'])} "
                               f"differs from its oracle_sql twin's "
                               f"{self.ref[o['query']]}"]
        return bad

    def _load_oracle(self, names: List[str]) -> None:
        """Fill ``ref`` with the oracle twins' fingerprints of ``names``,
        from the cache or, for the missing ones, from DuckDB."""
        import hashlib

        from osm2garmin_spark import queries as Q

        sql = Q.oracle_sql(SF_DIR)
        tables = b""
        for t in SF_TABLES:
            with open(os.path.join(SF_DIR, f"{t}.parquet"), "rb") as f:
                tables += f.read()
        paths, todo = {}, []
        for name in names:
            if name in self.ref:
                continue
            key = hashlib.sha256((sql[name] + self.schemas[name].json()).encode()
                                 + tables)
            paths[name] = os.path.join(ORACLE_CACHE,
                                       f"{name}-{key.hexdigest()[:16]}.json")
            if os.path.exists(paths[name]):
                with open(paths[name]) as f:
                    self.ref[name] = tuple(json.load(f))
            else:
                todo.append(name)
        if not todo:
            return
        # a separate process, so that DuckDB's memory stays out of the driver
        pool = multiprocessing.get_context("spawn").Pool(1)
        try:
            got = pool.map(duckdb_rows, [sql[n] for n in todo])
        finally:
            pool.close()
            pool.join()
        os.makedirs(ORACLE_CACHE, exist_ok=True)
        for name, (cols, rows) in zip(todo, got):
            self.ref[name] = self._oracle_fingerprint(self.schemas[name], cols, rows)
            with open(paths[name], "w") as f:
                json.dump(list(self.ref[name]), f)

    def _oracle_fingerprint(self, schema, cols, rows) -> tuple:
        """Fingerprint of the oracle twin's rows as a DataFrame of the
        query's schema."""
        pos = {c.lower(): j for j, c in enumerate(cols)}
        if len(cols) != len(schema.fields) or any(
                f.name.lower() not in pos for f in schema.fields):
            return ("columns", f"{schema.fieldNames()} vs {cols}")
        idx = [pos[f.name.lower()] for f in schema.fields]
        return fingerprint(self.spark.createDataFrame(
            [tuple(r[j] for j in idx) for r in rows], schema))

    def counts(self, r: dict) -> Dict[str, float]:
        return {} if "query" in r else self.commit.counts(r)

    def close(self) -> None:
        self.commit.close()


WORKLOADS = {w.name: w for w in (TilePlan, QueryCommitMix)}
