"""The web-scale fact job: point→zone assignment + cell/tile encoding.

This is the reimplementation of the reference's point-in-polygon parent
lookup (``get_parent`` / ``contains_center``, src/additional_zones.rs:102-120,
src/zone_ext.rs:279-284) redesigned for 10^12 rows:

* the zone dimension (small by design — the reference holds the whole
  planet's zones in one process) is compiled into a **per-cell candidate
  index** on the driver and broadcast to executors once;
* the fact side runs ONE narrow ``mapInPandas`` pass — scan → Arrow
  batch → vectorized numpy kernel → sink. No shuffle at all, so
  megacity-cell skew cannot produce a hot reducer on this path, and
  throughput scales linearly with executors (the north-rule scaling
  criterion);
* cells fully covered by a zone are flagged FULL at index-build time, so
  interior points skip the geometry test entirely — only boundary-cell
  points pay for exact PIP (the dominant cost saver at scale: interior
  cells vastly outnumber boundary cells at fine resolutions);
* points covered by no zone optionally fall back to kNN on zone
  centroids (nearest-zone lookup).

The per-zone choice mirrors build_hierarchy: smallest zone_type wins,
tie-broken by (area, zone_id) — deterministic under any partitioning.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cosmospark import cells, geom
from cosmospark.ztypes import TYPE_RANK

DEFAULT_RESOLUTIONS = (4, 7, 9)
DEFAULT_TILE_Z = 12
# Finer zone indexing than the self-join: more FULL cells. r7: 64 → 256
# — measured on the 2M-point bench mix, the boundary (non-FULL) strip
# thins 3× (4.97M → 1.68M rows through the Arrow/Python cogroup refine,
# the path's scarce resource at scale) while the per-point explode factor
# DROPS (6 → 4 distinct resolutions) and the key broadcast stays
# zone-dim-scale (32.5k cells × 32 B); the keys_small budget gate already
# degrades to a shuffle join when a planet zone dim overflows it.
INDEX_MAX_CELLS = 256

# total (zone, cell) bucket entries the broadcast index may hold
# (~17 bytes each → ~70 MB of CSR arrays; the zone GEOMETRY usually
# dominates the broadcast long before this does)
INDEX_CELL_BUDGET = 4_000_000
INDEX_MAX_CELLS_CAP = 1024


def auto_max_cells(n_zones: int, cell_budget: int = INDEX_CELL_BUDGET) -> int:
    """Per-zone cell cap sized to the zone count: finer cells mean more
    FULL cells (interior points skip the geometry test entirely —
    measured 64→1024 cells/zone takes the assign kernel from 244k to
    874k rows/s/core on the lux world, FULL fraction 0.29→0.80). At
    planet scale (10⁶ zones) this clamps down and the broadcast-budget
    guard hands off to the partitioned path anyway. Granularity does
    not affect results — only how often the exact PIP runs."""
    return int(min(INDEX_MAX_CELLS_CAP, max(16, cell_budget // max(n_zones, 1))))


# ---------------------------------------------------------------------------
# Zone index (driver-built, broadcast)


def _covers_by_zone(lon: np.ndarray, lat: np.ndarray, zs: np.ndarray, rings: dict) -> np.ndarray:
    """pip_covers per (point, zone) candidate pair: the pairs group by
    zone and each zone's rings (``rings[zone_id]``) are tested once,
    vectorized over all of that zone's points."""
    ok = np.zeros(len(zs), dtype=bool)
    if len(zs):
        order = np.argsort(zs, kind="stable")
        for rows in np.split(order, np.flatnonzero(np.diff(zs[order])) + 1):
            ok[rows] = geom.pip_covers(lon[rows], lat[rows], rings[int(zs[rows[0]])])
    return ok


class ZoneIndex:
    """Per-(res, cell) candidate lists + packed geometries, CSR-encoded
    per resolution for vectorized numpy lookup inside Arrow batches."""

    def __init__(self, zone_rows: list[dict], max_cells: int | None = None):
        if max_cells is None:
            max_cells = auto_max_cells(len(zone_rows))
        self.geoms: dict[int, list] = {}
        self.rank: dict[int, int] = {}
        self.area: dict[int, float] = {}
        cent_ids, cent_x, cent_y = [], [], []
        buckets: dict[tuple[int, int], list[tuple[int, bool]]] = {}

        for row in zone_rows:
            zid = int(row["id"])
            rings = geom.rows_to_rings(row["rings"]) if row["rings"] else None
            if rings is None:
                continue
            self.geoms[zid] = rings
            rk = TYPE_RANK.get(row.get("zone_type"), len(TYPE_RANK))
            self.rank[zid] = rk
            a = geom.area(rings)
            self.area[zid] = a
            c = geom.centroid(rings)
            if c is not None:
                cent_ids.append(zid)
                cent_x.append(c[0])
                cent_y.append(c[1])
            minx, miny, maxx, maxy = geom.bbox(rings)
            res = cells.fit_res(minx, miny, maxx, maxy, max_cells)
            cc = cells.cells_for_bbox(minx, miny, maxx, maxy, res)
            # FULL = the whole cell is inside the zone → PIP skipped for
            # its points; marked vectorized across the zone's cells
            # (corners-inside + no-edge-overlap — conservative but O(k))
            if len(cc):
                cminx, cminy, cmaxx, cmaxy = cells.cell_bounds_batch(cc, res)
                fulls_v = geom.rects_fully_covered(cminx, cminy, cmaxx, cmaxy, rings)
            else:
                fulls_v = np.zeros(0, dtype=bool)
            for cell, full in zip(cc, fulls_v):
                buckets.setdefault((res, int(cell)), []).append((zid, bool(full)))

        # dense rank/area lookup arrays (vectorized candidate scoring)
        self._zid_sorted = np.array(sorted(self.rank), dtype=np.int64)
        self._rank_arr = np.array([self.rank[z] for z in self._zid_sorted], dtype=np.int64)
        self._area_arr = np.array([self.area[z] for z in self._zid_sorted], dtype=np.float64)

        self.centroid_ids = np.array(cent_ids, dtype=np.int64)
        self.centroid_x = np.array(cent_x, dtype=np.float64)
        self.centroid_y = np.array(cent_y, dtype=np.float64)

        # CSR per resolution
        self.res_list: list[int] = sorted({r for (r, _) in buckets})
        self.csr: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
        for res in self.res_list:
            items = sorted((c, v) for (r, c), v in buckets.items() if r == res)
            cell_ids = np.array([c for c, _ in items], dtype=np.int64)
            offs = np.zeros(len(items) + 1, dtype=np.int64)
            zids, fulls = [], []
            for i, (_, v) in enumerate(items):
                offs[i + 1] = offs[i] + len(v)
                for zid, full in v:
                    zids.append(zid)
                    fulls.append(full)
            self.csr[res] = (
                cell_ids,
                offs,
                np.array(zids, dtype=np.int64),
                np.array(fulls, dtype=bool),
            )

    # ---- batch kernels ----

    def candidates(self, lon: np.ndarray, lat: np.ndarray):
        """→ (pt_idx, zone_id, full) candidate triples for a point batch."""
        n = len(lon)
        if not self.res_list:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool))
        finest = max(self.res_list)
        base = cells.cell_encode(lon, lat, finest)
        pts_all, zs_all, fl_all = [], [], []
        for res in self.res_list:
            pc = base >> (2 * (finest - res))
            cell_ids, offs, zids, fulls = self.csr[res]
            pos = np.searchsorted(cell_ids, pc)
            pos_c = np.clip(pos, 0, len(cell_ids) - 1)
            hit = (len(cell_ids) > 0) & (cell_ids[pos_c] == pc)
            hit_idx = np.nonzero(hit)[0]
            if len(hit_idx) == 0:
                continue
            starts = offs[pos_c[hit_idx]]
            ends = offs[pos_c[hit_idx] + 1]
            counts = ends - starts
            pts = np.repeat(hit_idx, counts)
            # vectorized CSR range expansion (no per-range python loop)
            total = int(counts.sum())
            if total == 0:
                continue
            bases = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=bases[1:])
            flat = np.arange(total, dtype=np.int64) - np.repeat(bases, counts) + np.repeat(starts, counts)
            pts_all.append(pts)
            zs_all.append(zids[flat])
            fl_all.append(fulls[flat])
        if not pts_all:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool))
        return np.concatenate(pts_all), np.concatenate(zs_all), np.concatenate(fl_all)

    def assign(self, lon: np.ndarray, lat: np.ndarray, knn_fallback: bool = False) -> np.ndarray:
        """→ zone_id per point (-1 = unassigned): candidate lookup, FULL
        short-circuit, per-zone vectorized PIP, min-(rank, area, id)."""
        n = len(lon)
        pts, zs, full = self.candidates(lon, lat)

        if len(pts):
            accept = full.copy()
            todo = np.flatnonzero(~full)
            p = pts[todo]
            accept[todo] = _covers_by_zone(lon[p], lat[p], zs[todo], self.geoms)
            pts, zs = pts[accept], zs[accept]

        out = np.full(n, -1, dtype=np.int64)
        if len(pts):
            pos = np.searchsorted(self._zid_sorted, zs)
            ranks = self._rank_arr[pos]
            areas = self._area_arr[pos]
            order = np.lexsort((zs, areas, ranks, pts))
            pts_o = pts[order]
            first = np.ones(len(pts_o), dtype=bool)
            first[1:] = pts_o[1:] != pts_o[:-1]
            out[pts_o[first]] = zs[order][first]

        if knn_fallback and (out == -1).any() and len(self.centroid_ids):
            miss = np.nonzero(out == -1)[0]
            # brute-force nearest centroid (zone dim is broadcast-scale;
            # the scale path would pre-bucket centroids by coarse cell)
            d2 = (lon[miss, None] - self.centroid_x[None, :]) ** 2 + (
                lat[miss, None] - self.centroid_y[None, :]
            ) ** 2
            out[miss] = self.centroid_ids[np.argmin(d2, axis=1)]
        return out


def build_zone_index(zones: DataFrame, max_cells: int | None = None) -> ZoneIndex:
    rows = [r.asDict(recursive=True) for r in zones.select("id", "zone_type", "rings").collect()]
    return ZoneIndex(rows, max_cells)


# ---------------------------------------------------------------------------
# Fact-side jobs


def encode_points(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    tile_z: int = DEFAULT_TILE_Z,
) -> DataFrame:
    """Add cell_r{res} (multi-resolution quadkey) + tile_id columns, no
    shuffle. Finest res is encoded once; coarser ids are prefix shifts
    (bijective prefix scheme).

    r7: the quadkey columns are pure JVM whole-stage codegen
    (``cells.col_cell_encode`` — bit-identical to the numpy kernel,
    test_col_cell_encode_matches_numpy), so consumers that only need
    cells (the partitioned cogroup path, multi-res rollups) pay NO
    Python boundary at all. Only ``tile_id`` still crosses Arrow, as a
    narrow (lon, lat) → long scalar pandas_udf rather than the old
    full-frame mapInPandas: the WebMercator y uses log/tan/cos, where
    numpy and the JVM's libm may differ in the last ulp — a floor flip
    at a tile boundary would change declared tile-query outputs, so the
    numpy kernel stays authoritative. Catalyst prunes the unused
    ArrowEvalPython when a consumer never touches tile_id."""
    res_sorted = sorted(resolutions)
    finest = res_sorted[-1]
    base = cells.col_cell_encode(F.col(lon_col), F.col(lat_col), finest)
    out = df
    for r in res_sorted:
        out = out.withColumn(f"cell_r{r}", F.shiftright(base, 2 * (finest - r)))

    @F.pandas_udf(T.LongType())
    def _tile(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            cells.tile_encode(
                lon.to_numpy(dtype=np.float64),
                lat.to_numpy(dtype=np.float64),
                tile_z,
            )
        )

    return out.withColumn("tile_id", _tile(F.col(lon_col), F.col(lat_col)))


# Broadcast budget for the zone geometry index. The reference assumes
# all zones fit one process (README.md:55-62); we do NOT: above this
# budget assign_zones(strategy="auto") switches to the partitioned
# cell-cogroup join, because a pickled multi-GB index broadcast to every
# executor is exactly the planet-scale failure hierarchy.find_inclusions
# already refuses (hierarchy.py geometry-join comment).
BROADCAST_BUDGET_BYTES = 256 << 20

# target rows per Python refine group (see _refine_buckets and
# _measured_splits): small enough that one group's candidate rows and
# output fit comfortably in a worker's memory, large enough that the
# per-invocation Arrow/pandas overhead amortizes (~50k (pid, lon, lat,
# zone_id, rank, area) rows ≈ 2.4 MB)
_REFINE_BUCKET_ROWS = 50_000


def _refine_buckets(n_rows: int) -> int:
    """Bucket count for the cogroup PIP refine, from the measured
    boundary-candidate total: about ``_REFINE_BUCKET_ROWS`` rows per
    bucket, a power of two, floored at 64 so small inputs still spread
    over the cluster. Each bucket is one Python invocation — per-group
    Arrow↔pandas overhead, not PIP arithmetic, was ~90 % of the path's
    CPU when the refine cogrouped directly on (res, cell)."""
    b = 64
    while b * _REFINE_BUCKET_ROWS < n_rows and b < (1 << 20):
        b <<= 1
    return b


def _measured_splits(boundary: DataFrame) -> tuple[DataFrame, int]:
    """→ ((zone_id, n_split) for every zone with boundary candidates,
    the candidate total). One JVM-only count per zone; a zone with more
    than ``_REFINE_BUCKET_ROWS`` candidates splits
    ``ceil(count / _REFINE_BUCKET_ROWS)`` ways, so no (zone, split)
    group holds more than about that many rows however hot the zone."""
    counts = boundary.groupBy("zone_id").count().localCheckpoint(eager=True)
    total = counts.agg(F.sum("count")).collect()[0][0] or 0
    splits = counts.select(
        "zone_id",
        F.ceil(F.col("count") / F.lit(_REFINE_BUCKET_ROWS)).cast("int").alias("n_split"),
    )
    return splits, int(total)


def estimate_zone_geom_bytes(zones: DataFrame) -> int:
    """Estimated in-memory size of the broadcast ZoneIndex: 16 bytes per
    vertex (two float64) + ~200 bytes/zone overhead. One JVM-side agg —
    no geometry is collected to decide the strategy."""
    row = zones.select(
        F.sum(
            F.expr(
                "aggregate(coalesce(rings, array()), 0L, (acc, r) -> acc + 16 * size(r.xs))"
            )
        ).alias("geom"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int(row["geom"] or 0) + 200 * int(row["n"])


def assign_zones(
    points: DataFrame,
    zones: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    knn_fallback: bool = False,
    index_max_cells: int | None = None,
    strategy: str = "broadcast",
    id_col: str | None = None,
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
    raster_res: int = 9,
) -> DataFrame:
    """points + zone_id (long, -1 if unassigned and no kNN fallback).

    strategy:
      * ``broadcast`` — compile the zone dim into a per-cell index on the
        driver, broadcast once, ONE narrow mapInPandas over the fact
        side (zero shuffles; the default — zone dims are broadcast-scale
        by design);
      * ``partitioned`` — no driver collect / no geometry broadcast:
        points join the zones' (res, cell) keys, boundary candidates
        refine in a cogroup keyed by (zone, split) and a per-point
        argmin resolves the zone. Requires ``id_col`` (a unique point
        key).
        This is the fallback for zone tables above broadcast budget
        (planet-scale detailed geometry can be tens of GB);
      * ``raster`` — PIXEL-APPROXIMATE assignment via the per-cell
        pixel LUT (``raster.zone_pixel_lut``): zero Python and zero
        shuffle on the fact side; half-pixel boundary error at
        ``raster_res`` (see ``raster.assign_zones_raster``);
      * ``auto`` — measure the geometry size JVM-side and pick an exact
        strategy (never the approximate raster path).
    """
    if strategy == "raster":
        from cosmospark.raster import assign_zones_raster

        return assign_zones_raster(
            points, zones, res=raster_res, lon_col=lon_col, lat_col=lat_col,
            id_col=id_col or "pid",
        )
    if strategy == "auto":
        est = estimate_zone_geom_bytes(zones)
        strategy = (
            "broadcast"
            if est <= broadcast_budget_bytes or id_col is None
            else "partitioned"
        )
    if strategy == "partitioned":
        if id_col is None:
            raise ValueError("partitioned strategy requires id_col (unique point key)")
        return assign_zones_partitioned(
            points, zones, lon_col, lat_col,
            knn_fallback=knn_fallback, index_max_cells=index_max_cells, id_col=id_col,
        )

    spark = points.sparkSession
    index = build_zone_index(zones, index_max_cells)
    bc = spark.sparkContext.broadcast(index)

    out_schema = T.StructType(points.schema.fields + [T.StructField("zone_id", T.LongType())])

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            pdf["zone_id"] = idx.assign(lon, lat, knn_fallback=knn_fallback)
            yield pdf

    return points.mapInPandas(_assign, out_schema)


_ZONE_CELLS_SCHEMA = T.StructType(
    [
        T.StructField(
            "cells",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("res", T.IntegerType()),
                        T.StructField("cell", T.LongType()),
                        T.StructField("full", T.BooleanType()),
                    ]
                )
            ),
        ),
        # rings flattened to binary: the nested rings struct segfaults
        # pyspark's cogroup Arrow deserializer (mapInPandas is fine);
        # the flat encoding also shrinks the shuffle payload
        T.StructField("rings_bin", T.BinaryType()),
        # geom.area of the SAME numpy rings the broadcast ZoneIndex
        # uses — bit-identical argmin tie-break across both strategies
        T.StructField("area", T.DoubleType()),
    ]
)


def _zone_cells_with_full(zones: DataFrame, max_cells: int) -> DataFrame:
    """(zone_id, rank, area, rings_bin, cells) — one row per zone; the
    distributed twin of the ZoneIndex, kept as a DataFrame instead of a
    driver-pickled broadcast. ``cells`` holds the zone's (res, cell,
    full) index entries."""
    from cosmospark.hierarchy import type_rank_col

    @F.pandas_udf(_ZONE_CELLS_SCHEMA)
    def _cells(rings_s: pd.Series) -> pd.DataFrame:
        out = []
        for rows in rings_s:
            if rows is None or len(rows) == 0:
                out.append({"cells": [], "rings_bin": b"", "area": 0.0})
                continue
            rr = geom.rows_to_rings(rows)
            minx, miny, maxx, maxy = geom.bbox(rr)
            res = cells.fit_res(minx, miny, maxx, maxy, max_cells)
            cc = cells.cells_for_bbox(minx, miny, maxx, maxy, res)
            if len(cc):
                cminx, cminy, cmaxx, cmaxy = cells.cell_bounds_batch(cc, res)
                fv = geom.rects_fully_covered(cminx, cminy, cmaxx, cmaxy, rr)
            else:
                fv = np.zeros(0, dtype=bool)
            acc = [
                {"res": res, "cell": int(c), "full": bool(f)}
                for c, f in zip(cc, fv)
            ]
            out.append(
                {"cells": acc, "rings_bin": geom.pack_rings(rr), "area": geom.area(rr)}
            )
        return pd.DataFrame(out)

    rank = F.coalesce(type_rank_col(F.col("zone_type")), F.lit(len(TYPE_RANK)))
    return zones.select(
        F.col("id").alias("zone_id"), rank.alias("rank"), _cells("rings").alias("rc")
    ).select("zone_id", "rank", "rc.area", "rc.rings_bin", "rc.cells")


def assign_zones_partitioned(
    points: DataFrame,
    zones: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    knn_fallback: bool = False,
    index_max_cells: int | None = None,
    id_col: str = "pid",
) -> DataFrame:
    """The no-broadcast zone assignment: join points to the zones'
    (res, cell) keys, refine the boundary candidates with the same numpy
    PIP kernel inside a cogroup keyed by zone, resolve the per-point
    (rank, area, id) argmin JVM-side.

    Semantics identical to the broadcast path (same candidate pairs,
    same kernels, same tie-break); cost profile differs: shuffles of
    the candidate rows instead of shipping tens-of-GB geometry to every
    executor.

    **Megacity skew:** the JVM joins here are AQE's problem (skew
    splitting works on SortMergeJoin), but the Python cogroup is NOT —
    AQE cannot split an ``applyInPandas`` group, so one megacity zone
    holding 30% of the facts would be one straggler task. The refine
    therefore keys on (zone, split): one JVM count per zone over the
    boundary candidates gives ``n_split = ceil(count /
    _REFINE_BUCKET_ROWS)``, a point takes split ``pmod(xxhash64(pid),
    n_split)`` and only the zone's geometry row, the cheap side, is
    replicated ``n_split`` times. A zone's geometry crosses the shuffle
    once per split, never once per boundary cell, and zones with no
    boundary candidates are not shipped at all."""
    spark = points.sparkSession
    if index_max_cells is None:
        # the per-cell keys are joined against every point here, not
        # broadcast in one index — the fixed conservative default applies
        # rather than the broadcast path's auto budget
        index_max_cells = INDEX_MAX_CELLS
    # localCheckpoint, not .cache(): blocks free with the plan via the
    # ContextCleaner instead of accumulating catalog entries across
    # composed query invocations (ADVICE r3 lifecycle rule)
    zrows = _zone_cells_with_full(zones, index_max_cells).localCheckpoint(eager=True)
    # the key rows take a fresh zone_id attribute: zrows feeds both
    # sides of the refine cogroup, which must not share expression ids
    zkeys = zrows.select(
        F.col("zone_id").alias("zone_id"), "rank", "area", F.explode("cells").alias("e")
    ).select(
        F.col("e.res").alias("res"), F.col("e.cell").alias("cell"),
        "zone_id", "rank", "area", F.col("e.full").alias("full"),
    )
    # one tiny agg gives the resolution list AND the cell count that
    # sizes the key-only broadcasts below (geometry is NEVER broadcast
    # on this path; (res, cell) key rows are a different budget)
    res_stats = zkeys.groupBy("res").count().collect()
    res_list = sorted(r["res"] for r in res_stats)
    n_zcells = sum(r["count"] for r in res_stats)
    keys_small = n_zcells * 32 <= BROADCAST_BUDGET_BYTES
    if not res_list:
        out = points.withColumn("zone_id", F.lit(-1).cast("long"))
        return out

    finest = max(res_list)
    pts = points.select(id_col, lon_col, lat_col)

    # pure-JVM multi-res encode: morton at the finest res (bit-identical
    # to the numpy kernel — test_col_cell_encode_matches_numpy), coarser
    # ids by prefix shift. Round 2 ran a mapInPandas here: a full extra
    # Arrow round-trip of the fact table just to compute 6 longs.
    enc = pts.withColumn(
        f"_c{finest}",
        cells.col_cell_encode(F.col(lon_col), F.col(lat_col), finest),
    )
    for r in res_list[:-1]:
        enc = enc.withColumn(
            f"_c{r}", F.shiftright(F.col(f"_c{finest}"), 2 * (finest - r))
        )
    res_struct = F.array(
        *[
            F.struct(F.lit(r).alias("res"), F.col(f"_c{r}").alias("cell"))
            for r in res_list
        ]
    )
    pcells = enc.select(id_col, lon_col, lat_col, F.explode(res_struct).alias("e")).select(
        id_col, lon_col, lat_col,
        F.col("e.res").alias("res"), F.col("e.cell").alias("cell"),
    )

    cand_schema = T.StructType(
        [
            T.StructField("pid", points.schema[id_col].dataType),
            T.StructField("zone_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("area", T.DoubleType()),
        ]
    )
    out_cols = [f.name for f in cand_schema.fields]

    def _pip_bucket(pg: pd.DataFrame, zg: pd.DataFrame) -> pd.DataFrame:
        """Kernel for one HASH BUCKET of (zone, split) groups: each
        zone's rings unpack once and one pip_covers call tests all of
        that zone's candidates in the bucket, as ZoneIndex.assign does.
        Two splits of one zone may share a bucket; their geometry rows
        are identical."""
        if len(pg) == 0 or len(zg) == 0:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in out_cols})
        rings = {
            int(z): geom.unpack_rings(b)
            for z, b in zip(zg["zone_id"].to_numpy(), zg["rings_bin"])
        }
        ok = _covers_by_zone(
            pg[lon_col].to_numpy(dtype=np.float64),
            pg[lat_col].to_numpy(dtype=np.float64),
            pg["zone_id"].to_numpy(),
            rings,
        )
        return pg.loc[ok, out_cols]

    def _maybe_bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if keys_small else df

    # ONE key join yields every (point, zone) candidate pair. FULL cells
    # (cell entirely inside the zone) need no geometry and no Python:
    # the equi-join on (res, cell) IS the containment proof, so those
    # pairs go straight to the argmin in whole-stage codegen. The key
    # side carries 5 scalars per cell — zone-dim cell scale — broadcast
    # only under the key budget, shuffle join above it.
    pairs = pcells.join(_maybe_bc(zkeys), ["res", "cell"])
    full_hits = pairs.filter(F.col("full")).select(
        F.col(id_col).alias("pid"), "zone_id", "rank", "area"
    )
    boundary = pairs.filter(~F.col("full")).select(
        F.col(id_col).alias("pid"), lon_col, lat_col, "zone_id", "rank", "area"
    )
    # boundary pairs refine in a cogroup on a HASH BUCKET of
    # (zone_id, split), sized from the measured candidate total
    splits, total = _measured_splits(boundary)
    splits = _maybe_bc(splits)
    bucket = F.pmod(F.xxhash64("zone_id", "split"), F.lit(_refine_buckets(total)))
    pg = boundary.join(splits, "zone_id").withColumn(
        "split", F.pmod(F.xxhash64("pid"), F.col("n_split")).cast("int")
    ).withColumn("_b", bucket).drop("n_split", "split")
    zg = zrows.join(splits, "zone_id").select(
        "zone_id", "rings_bin",
        F.explode(F.sequence(F.lit(0), F.col("n_split") - 1)).alias("split"),
    ).withColumn("_b", bucket).drop("split")
    cand = (
        pg.groupBy("_b")
        .cogroup(zg.groupBy("_b"))
        .applyInPandas(_pip_bucket, cand_schema)
        .unionByName(full_hits)
    )
    winners = cand.groupBy("pid").agg(
        F.min_by("zone_id", F.struct(F.col("rank"), F.col("area"), F.col("zone_id"))).alias(
            "zone_id"
        )
    )
    out = points.join(
        winners.withColumnRenamed("pid", id_col), id_col, "left"
    ).withColumn("zone_id", F.coalesce(F.col("zone_id"), F.lit(-1)).cast("long"))

    if knn_fallback:
        # centroids are tiny at any scale → always broadcastable
        cent_rows = [
            (int(r["id"]), r["center"]["lon"], r["center"]["lat"])
            for r in zones.select("id", "center").collect()
            if r["center"] is not None
        ]
        if cent_rows:
            ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
            cx = np.array([r[1] for r in cent_rows], dtype=np.float64)
            cy = np.array([r[2] for r in cent_rows], dtype=np.float64)
            bc = spark.sparkContext.broadcast((ids, cx, cy))
            out_schema = T.StructType(out.schema.fields)

            def _knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                kids, kx, ky = bc.value
                for pdf in batches:
                    miss = pdf["zone_id"].to_numpy() == -1
                    if miss.any():
                        lon = pdf.loc[miss, lon_col].to_numpy(dtype=np.float64)
                        lat = pdf.loc[miss, lat_col].to_numpy(dtype=np.float64)
                        d2 = (lon[:, None] - kx[None, :]) ** 2 + (lat[:, None] - ky[None, :]) ** 2
                        vals = pdf["zone_id"].to_numpy().copy()
                        vals[miss] = kids[np.argmin(d2, axis=1)]
                        pdf["zone_id"] = vals
                    yield pdf

            out = out.mapInPandas(_knn, out_schema)
    return out


# zoom level of a zone's tile pyramid, by zone type (coarse types → coarse
# tiles); the image's tile within its enclosing zone's pyramid
ZONE_TILE_Z = {
    "country": 5,
    "country_region": 6,
    "state": 7,
    "state_district": 9,
    "city": 11,
    "city_district": 12,
    "suburb": 13,
    "non_administrative": 12,
}


def encode_and_assign(
    points: DataFrame,
    zones: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    tile_z: int = DEFAULT_TILE_Z,
    knn_fallback: bool = False,
    index_max_cells: int | None = None,
) -> DataFrame:
    """Fused cell/tile encode + zone assignment in ONE mapInPandas pass.

    Chaining encode_points → assign_zones costs two Arrow round trips;
    at 10^12 rows the python-exchange is the dominant cost on this
    all-narrow path, so the fused variant halves it. Semantics identical
    to encode_points(...) then assign_zones(...)."""
    spark = points.sparkSession
    index = build_zone_index(zones, index_max_cells)
    bc = spark.sparkContext.broadcast(index)
    res_sorted = sorted(resolutions)
    finest = res_sorted[-1]

    out_fields = list(points.schema.fields)
    out_fields += [T.StructField(f"cell_r{r}", T.LongType()) for r in res_sorted]
    out_fields += [T.StructField("tile_id", T.LongType()), T.StructField("zone_id", T.LongType())]
    out_schema = T.StructType(out_fields)

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            base = cells.cell_encode(lon, lat, finest)
            for r in res_sorted:
                pdf[f"cell_r{r}"] = base >> (2 * (finest - r))
            pdf["tile_id"] = cells.tile_encode(lon, lat, tile_z)
            pdf["zone_id"] = idx.assign(lon, lat, knn_fallback=knn_fallback)
            yield pdf

    return points.mapInPandas(_fused, out_schema)


def assign_images(
    images: DataFrame,
    zones: DataFrame,
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
    tile_z: int = DEFAULT_TILE_Z,
    knn_fallback: bool = True,
    strategy: str = "broadcast",
    id_col: str = "image_id",
    broadcast_budget_bytes: int = BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """The flagship fact job: encode cells/tiles, assign zones, and add
    the enclosing zone's pyramid tile (zone_tile_id) + zone metadata.

    ``strategy='auto'`` applies the same broadcast-size guard as
    assign_zones: above budget, the fused single-pass plan splits into
    encode_points + the partitioned cell-cogroup assignment (two narrow
    passes + one shuffle instead of shipping multi-GB geometry to every
    executor)."""
    if strategy == "auto":
        strategy = (
            "broadcast"
            if estimate_zone_geom_bytes(zones) <= broadcast_budget_bytes
            else "partitioned"
        )
    if strategy == "partitioned":
        enc = encode_points(images, resolutions=resolutions, tile_z=tile_z)
        assigned = assign_zones_partitioned(
            enc, zones, knn_fallback=knn_fallback, id_col=id_col
        )
    else:
        assigned = encode_and_assign(
            images, zones, resolutions=resolutions, tile_z=tile_z,
            knn_fallback=knn_fallback,
        )

    zmeta = zones.select(
        F.col("id").alias("zone_id"),
        F.col("zone_type").alias("zone_type"),
        F.col("parent").alias("parent_zone_id"),
    )
    out = assigned.join(F.broadcast(zmeta), "zone_id", "left")

    zexpr = F.lit(None).cast("int")
    for t, z in ZONE_TILE_Z.items():
        zexpr = F.when(F.col("zone_type") == t, F.lit(z)).otherwise(zexpr)
    # the pyramid zoom is clamped to the image tile zoom: zone_tile_id is
    # derived from tile_id by ancestor shift, and a shift by a negative
    # amount (e.g. suburb z13 > default tile_z 12) is undefined — Spark
    # masks it to 63 and every suburb image would get a bogus tile
    out = out.withColumn(
        "_ztz", F.least(F.coalesce(zexpr, F.lit(tile_z)), F.lit(tile_z))
    )

    # re-derive the pyramid tile from the image's own tile by zoom shift:
    # tile (z,x,y) → ancestor at z' = (z', x >> (z-z'), y >> (z-z'))
    mask = (1 << 29) - 1
    out = out.withColumn(
        "zone_tile_id",
        F.expr(
            f"shiftleft(cast(_ztz as bigint), 58) | "
            f"shiftleft(shiftright(shiftright(tile_id, 29) & {mask}, {tile_z} - _ztz), 29) | "
            f"shiftright(tile_id & {mask}, {tile_z} - _ztz)"
        ),
    ).drop("_ztz")
    return out


def write_assignments(assigned: DataFrame, path: str, prefix_res: int = 4) -> dict:
    """Write the assignment fact table partitioned by coarse cell prefix
    (hive layout ``cell_prefix=<r4-cell>/``), with a snapshot manifest.

    The prefix scheme makes downstream spatial reads partition-prunable:
    any bbox query maps to a set of r4 prefixes, and Catalyst prunes the
    rest of the 10^12-row table at planning time. Manifest carries
    per-partition row counts (lineage, north-rule requirement).
    """
    import json as _json
    import os as _os

    col = f"cell_r{prefix_res}"
    if col not in assigned.columns:
        raise ValueError(f"{col} column required (run encode_points first)")
    (
        assigned.withColumn("cell_prefix", F.col(col))
        .write.mode("overwrite")
        .partitionBy("cell_prefix")
        .parquet(path)
    )
    # per-partition row counts from the parquet FOOTERS (metadata-only,
    # same trick as checkpoint._collect_file_stats) — round 2 re-scanned
    # the whole written fact table just to count, a second full pass over
    # 10^12-scale rows for a manifest
    from cosmospark.checkpoint import _collect_file_stats

    counts: dict[str, int] = {}
    for entry in sorted(_os.listdir(path)):
        if not entry.startswith("cell_prefix="):
            continue
        pdir = _os.path.join(path, entry)
        if not _os.path.isdir(pdir):
            continue
        counts[entry.split("=", 1)[1]] = sum(
            f["rows"] for f in _collect_file_stats(pdir)
        )
    manifest = {
        "prefix_res": prefix_res,
        "n_rows": sum(counts.values()),
        "n_partitions": len(counts),
        "partition_rows": counts,
    }
    with open(_os.path.join(path, "_ASSIGN_MANIFEST.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest


# ---------------------------------------------------------------------------
# Hierarchical rollup + skew tooling


def salted_count(df: DataFrame, keys: list[str], n_salt: int = 16, salt_col: str | None = None) -> DataFrame:
    """Two-phase skew-proof count: groupBy(keys + salt) partial, then
    groupBy(keys) final. Catalyst's partial aggregation usually makes
    this implicit; the explicit salt guards pathological single-key skew
    (megacity cells) even under non-combinable downstream aggs."""
    if salt_col is not None:
        salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salt))
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(*keys).agg(F.sum("_c").alias("n"))


def adaptive_salted_agg(
    df: DataFrame,
    keys: list[str],
    agg_exprs: dict[str, str],
    hot_threshold_rows: int = 1_000_000,
    max_salt: int = 256,
    sample_fraction: float = 0.01,
) -> DataFrame:
    """Skew-adaptive two-phase aggregation: a cheap sampled first pass
    estimates per-key row counts; only keys above ``hot_threshold_rows``
    get salted, with a per-key salt factor proportional to their share
    (the SURVEY §4 'per-cell n_salt from a first-pass count histogram').
    Cold keys aggregate directly — no blanket salting overhead.

    ``agg_exprs`` maps output column → SQL aggregate over the PARTIAL
    results, where the partial pass pre-aggregates ``cnt`` (rows) and
    every referenced input column must be sum-decomposable (count/sum —
    the decomposable aggregates skew actually threatens; min/max don't
    need salting at all).

    Example::

        adaptive_salted_agg(fact, ["zone_id"], {"n": "sum(cnt)"})
    """
    spark = df.sparkSession
    est = (
        df.sample(fraction=sample_fraction, seed=7)
        .groupBy(*keys)
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") * (1.0 / sample_fraction) > hot_threshold_rows)
        .collect()
    )
    hot = {
        tuple(r[k] for k in keys): int(
            min(max_salt, max(2, r["c"] / sample_fraction / hot_threshold_rows + 1))
        )
        for r in est
    }
    if hot:
        # broadcast map of hot keys → salt factor (tiny by construction:
        # only keys carrying ≥ hot_threshold_rows rows can be in it).
        # Key values are stringified (None-safe) to match the join's
        # cast-to-string probe — raw non-string values (the common
        # zone_id long) would fail createDataFrame's string-schema check
        # exactly when a hot key exists.
        items = [
            ([None if x is None else str(x) for x in k], v) for k, v in hot.items()
        ]
        hot_df = spark.createDataFrame(
            [(k + [v]) for k, v in items],
            ", ".join(f"_hk{i} string" for i in range(len(keys))) + ", _nsalt int",
        )
        cond = None
        for i, k in enumerate(keys):
            c = F.col(k).cast("string") == F.col(f"_hk{i}")
            cond = c if cond is None else cond & c
        salted = df.join(F.broadcast(hot_df), cond, "left").withColumn(
            "_salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64(*keys, F.monotonically_increasing_id()), F.col("_nsalt")),
            ).otherwise(F.lit(0)),
        )
    else:
        salted = df.withColumn("_salt", F.lit(0))
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("cnt"))
    final_aggs = [F.expr(sql).alias(name) for name, sql in agg_exprs.items()]
    return partial.groupBy(*keys).agg(*final_aggs)


def adaptive_cell_split(
    pts: DataFrame,
    resolutions: tuple[int, ...] = (9, 13, 17),
    max_rows_per_cell: int = 100_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """ADAPTIVE CELL SPLITTING (north_rule: 'skew from megacity cells
    is handled with salted repartitioning and ADAPTIVE CELL SPLITTING'
    — this is the second half; salting is ``salted_count`` /
    ``adaptive_salted_agg``): assign every point its coarsest cell
    whose population is ≤ ``max_rows_per_cell``, descending hot cells
    one resolution level at a time. The result columns ``res`` /
    ``cell`` form a partitioning key under which every partition holds
    ≤ max_rows_per_cell rows (except cells still hot at the finest
    level, which a caller composes with salting), while COLD regions
    keep coarse cells — no over-partitioning of empty ocean.

    Scale shape: one narrow codegen pass encodes all levels
    (col_cell_encode, no Arrow round-trip); each level adds one
    partial-agg count whose exchange carries (cell, count) — distinct
    cells, not rows — and one BROADCAST join back (hot-cell tables hold
    ≤ n/max_rows_per_cell rows BY CONSTRUCTION, so the broadcast is
    bounded by the very threshold that defines it: 10⁹ rows at the 10⁵
    default → ≤ 10⁴ hot cells/level). The fact table is never
    shuffled. Levels beyond the first count only rows inside
    still-hot parents, so per-level agg input shrinks geometrically in
    the cold fraction.

    Returns ``pts`` + (res int, cell long). Deterministic: pure grid
    arithmetic + counts, no sampling."""
    assert len(resolutions) >= 1 and list(resolutions) == sorted(set(resolutions))
    # ONE encode at the finest resolution; coarser levels are prefix
    # shifts (parent(cell) == cell >> 2 — the scheme's bijective-prefix
    # property, exact including the clip: floor and clip commute with
    # the power-of-two grid coarsening). The r6 shape ran the full
    # 5-step bit-spread per level, tripling the per-row encode work on
    # every scan of the fact lineage (r7, guide §1.2).
    finest = resolutions[-1]
    enc = pts.withColumn(
        f"_ac{finest}", cells.col_cell_encode(F.col(lon_col), F.col(lat_col), finest)
    )
    for r in resolutions[:-1]:
        enc = enc.withColumn(
            f"_ac{r}", F.shiftright(F.col(f"_ac{finest}"), 2 * (finest - r))
        )
    # hot flags, coarse → fine: a point is "still descending" at level i
    # iff every ancestor level's cell was hot
    live = None  # Column: still descending after level i
    for i, r in enumerate(resolutions[:-1]):
        scope = enc if live is None else enc.filter(live)
        hot = (
            scope.groupBy(f"_ac{r}")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_rows_per_cell)
            .select(F.col(f"_ac{r}").alias(f"_hc{r}"), F.lit(True).alias(f"_h{r}"))
        )
        enc = enc.join(
            F.broadcast(hot), enc[f"_ac{r}"] == hot[f"_hc{r}"], "left"
        ).drop(f"_hc{r}")
        step = F.col(f"_h{r}").isNotNull()
        live = step if live is None else live & step
    res_c = F.lit(resolutions[-1])
    cell_c = F.col(f"_ac{resolutions[-1]}")
    for r in reversed(resolutions[:-1]):
        res_c = F.when(F.col(f"_h{r}").isNull(), F.lit(r)).otherwise(res_c)
        cell_c = F.when(F.col(f"_h{r}").isNull(), F.col(f"_ac{r}")).otherwise(cell_c)
    out = enc.select(
        *pts.columns, res_c.alias("res"), cell_c.alias("cell")
    )
    return out


def rollup_cells(assigned: DataFrame, resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS) -> DataFrame:
    """Hierarchical (cell, zone_type) rollup rebuilding the ZonesTree
    counts: aggregate ONCE at the finest resolution, then derive each
    coarser level from the previous by prefix shift — each step reduces
    an already-aggregated table, never rescanning the fact table."""
    res_sorted = sorted(resolutions)
    finest = res_sorted[-1]
    # cached: the finest-level aggregate is re-read by every coarser
    # reduce AND by the final union — without it the fact-table scan
    # re-executes per resolution level
    base = (
        assigned.groupBy(F.col(f"cell_r{finest}").alias("cell"), "zone_type")
        .agg(F.count("*").alias("n"))
        .withColumn("res", F.lit(finest))
        .localCheckpoint(eager=True)
    )
    out = base
    prev = base
    for coarser in reversed(res_sorted[:-1]):
        prev = (
            prev.withColumn("cell", F.shiftright(F.col("cell"), 2 * (finest - coarser)))
            .groupBy("cell", "zone_type")
            .agg(F.sum("n").alias("n"))
            .withColumn("res", F.lit(coarser))
        )
        finest = coarser
        out = out.unionByName(prev)
    return out
