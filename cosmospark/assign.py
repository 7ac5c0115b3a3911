"""The web-scale fact job: point→zone assignment + cell/tile encoding.

This is the reimplementation of the reference's point-in-polygon parent
lookup (``get_parent`` / ``contains_center``, src/additional_zones.rs:102-120,
src/zone_ext.rs:279-284) redesigned for 10^12 rows:

* the zone dimension (small by design — the reference holds the whole
  planet's zones in one process) is compiled into ONE per-zone index on
  executors (``_zone_index_rows``: each zone's cell cover with FULL
  flags, rank, area, kNN centre and packed rings), prepared once per
  zone table (``ZoneDim``). The broadcast path fetches those rows over
  Arrow, assembles a per-cell candidate index (``ZoneIndex``) on the
  driver and broadcasts it once; the partitioned path joins on the same
  rows;
* the broadcast fact side runs ONE narrow ``mapInPandas`` pass — scan →
  Arrow batch → vectorized numpy kernel → sink. No shuffle at all, so
  megacity-cell skew cannot produce a hot reducer on this path, and
  throughput scales linearly with executors (the north-rule scaling
  criterion);
* cells fully covered by a zone are flagged FULL at index-build time, so
  interior points skip the geometry test entirely — only boundary-cell
  points pay for exact PIP (the dominant cost saver at scale: interior
  cells vastly outnumber boundary cells at fine resolutions);
* points covered by no zone optionally fall back to kNN on zone centres
  (the zone's ``center``, else its polygon centroid) on both paths.

The per-zone choice mirrors build_hierarchy: smallest zone_type wins,
tie-broken by (area, zone_id) — deterministic under any partitioning.
"""

from __future__ import annotations

import threading
import weakref
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cosmospark import cells, geom
from cosmospark.ztypes import CENTER_TYPE, TYPE_RANK

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
# Zone index: built per zone on executors, assembled on the driver


_ZONE_ROWS_SCHEMA = T.StructType(
    [
        # the zone's index entries: its cells at its fit resolution, each
        # flagged FULL when the whole cell lies inside the zone
        T.StructField("res", T.IntegerType()),
        T.StructField("cells", T.ArrayType(T.LongType())),
        T.StructField("full", T.ArrayType(T.BooleanType())),
        # rings flattened to binary: the nested rings struct segfaults
        # pyspark's cogroup Arrow deserializer (mapInPandas is fine);
        # the flat encoding also shrinks the shuffle payload
        T.StructField("rings_bin", T.BinaryType()),
        # geom.area of the zone's numpy rings: the argmin tie-break, the
        # same doubles on both paths
        T.StructField("area", T.DoubleType()),
        # geom.centroid: the kNN centre of a zone with no ``center``
        T.StructField("centroid", CENTER_TYPE),
    ]
)


def _zone_index_rows(zones: DataFrame, max_cells: int) -> DataFrame:
    """(zone_id, rank, area, center, rings_bin, res, cells, full) — one
    row per zone with geometry: the one zone index both exact assign
    paths use. The partitioned path joins on these rows; the broadcast
    path fetches them over Arrow and assembles a ``ZoneIndex``. ``center``
    is the zone's own ``center``, else its polygon centroid
    (``with_bbox_and_area``'s chain)."""
    from cosmospark.hierarchy import type_rank_col

    @F.pandas_udf(_ZONE_ROWS_SCHEMA)
    def _rows(rings_s: pd.Series) -> pd.DataFrame:
        out = []
        for rows in rings_s:
            rr = geom.rows_to_rings(rows)
            minx, miny, maxx, maxy = geom.bbox(rr)
            res = cells.fit_res(minx, miny, maxx, maxy, max_cells)
            cc = cells.cells_for_bbox(minx, miny, maxx, maxy, res)
            if len(cc):
                cminx, cminy, cmaxx, cmaxy = cells.cell_bounds_batch(cc, res)
                fv = geom.rects_fully_covered(cminx, cminy, cmaxx, cmaxy, rr)
            else:
                fv = np.zeros(0, dtype=bool)
            c = geom.centroid(rr)
            out.append(
                {
                    "res": res,
                    "cells": cc,
                    "full": fv,
                    "rings_bin": geom.pack_rings(rr),
                    "area": geom.area(rr),
                    "centroid": {"lon": c[0], "lat": c[1]} if c else None,
                }
            )
        return pd.DataFrame(out)

    rank = F.coalesce(type_rank_col(F.col("zone_type")), F.lit(len(TYPE_RANK)))
    centre = F.col("rc.centroid")
    if "center" in zones.columns:
        centre = F.coalesce(F.col("center"), centre)
    return (
        zones.filter(F.size("rings") > 0)
        .select("*", _rows("rings").alias("rc"))
        .select(
            F.col("id").alias("zone_id"), rank.alias("rank"), "rc.area",
            centre.alias("center"), "rc.rings_bin", "rc.res", "rc.cells", "rc.full",
        )
    )


def _centres(rows: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(zone_id, lon, lat) of the zone rows' known centres, by zone id."""
    c = rows.column("center").combine_chunks()
    ok = c.is_valid().to_numpy(zero_copy_only=False)
    ids = rows.column("zone_id").to_numpy()[ok]
    order = np.argsort(ids, kind="stable")
    lon = c.field("lon").to_numpy(zero_copy_only=False)[ok]
    lat = c.field("lat").to_numpy(zero_copy_only=False)[ok]
    return ids[order], lon[order], lat[order]


# (points × centres) distances the kNN fallback holds at once: 8 MB
# per float64 temporary, whatever the batch size or zone count
_KNN_CHUNK_CELLS = 1 << 20


def _nearest_centre(lon: np.ndarray, lat: np.ndarray, centres) -> np.ndarray:
    """Zone id of each point's nearest centre; ties go to the smallest
    zone id (``centres`` are sorted by id and argmin takes the first).
    Brute force over row chunks of at most ``_KNN_CHUNK_CELLS`` distances
    (the scale path would pre-bucket the centres by coarse cell)."""
    ids, cx, cy = centres
    step = max(1, _KNN_CHUNK_CELLS // max(len(ids), 1))
    out = np.empty(len(lon), dtype=ids.dtype)
    for i in range(0, len(lon), step):
        x, y = lon[i : i + step, None], lat[i : i + step, None]
        out[i : i + step] = ids[np.argmin((x - cx) ** 2 + (y - cy) ** 2, axis=1)]
    return out


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
    """Per-(res, cell) candidate lists + unpacked geometries, CSR-encoded
    per resolution for vectorized numpy lookup inside Arrow batches.
    Assembled from the Arrow table of ``_zone_index_rows``: covers, FULL
    flags, ranks, areas and centres all come from those rows."""

    def __init__(self, rows: pa.Table):
        rows = rows.sort_by("zone_id")
        zids = rows.column("zone_id").to_numpy()
        self.geoms: dict[int, list] = {
            int(z): geom.unpack_rings(b)
            for z, b in zip(zids, rows.column("rings_bin").to_pylist())
        }
        # dense rank/area lookup arrays (vectorized candidate scoring)
        self._zid_sorted = zids
        self._rank_arr = rows.column("rank").to_numpy().astype(np.int64)
        self._area_arr = rows.column("area").to_numpy()
        self.centres = _centres(rows)

        # CSR per resolution: entries sorted by (cell, zone_id)
        entries = rows.column("cells").combine_chunks()
        at_zone = entries.value_parent_indices().to_numpy()
        owner = self._zid_sorted[at_zone]
        res = rows.column("res").to_numpy()[at_zone]
        cell = entries.flatten().to_numpy()
        full = rows.column("full").combine_chunks().flatten().to_numpy(zero_copy_only=False)
        self.res_list: list[int] = np.unique(res).tolist()
        self.csr: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
        for r in self.res_list:
            at = np.flatnonzero(res == r)
            at = at[np.lexsort((owner[at], cell[at]))]
            cell_ids, starts = np.unique(cell[at], return_index=True)
            offs = np.append(starts, len(at)).astype(np.int64)
            self.csr[r] = (cell_ids, offs, owner[at], full[at])

    # ---- batch kernels ----

    def candidates(self, lon: np.ndarray, lat: np.ndarray):
        """→ (pt_idx, zone_id, full) candidate triples for a point batch."""
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

        miss = np.flatnonzero(out == -1)
        if knn_fallback and len(miss) and len(self.centres[0]):
            out[miss] = _nearest_centre(lon[miss], lat[miss], self.centres)
        return out


def build_zone_index(zones: DataFrame, max_cells: int | None = None) -> ZoneIndex:
    """The broadcast path's index, built afresh on every call (the
    assign paths reuse one through ``zone_dim``): the zone rows are built
    on executors and fetched over Arrow; the driver only assembles
    them."""
    if max_cells is None:
        max_cells = auto_max_cells(zones.count())
    return ZoneDim(zones, max_cells).index()


class ZoneDim:
    """The prepared zone dimension: one zone table's index rows at one
    ``max_cells``, and everything the exact assign paths derive from
    them, each built on first use and then kept:

    * ``rows()`` — the checkpointed ``_zone_index_rows`` (partitioned);
    * ``key_stats()`` — their resolution list and (res, cell) key count;
    * ``index()`` — the assembled ``ZoneIndex`` (broadcast);
    * ``broadcast(sc)`` / ``centres(sc)`` — broadcast handles of the
      index and of the kNN centres.

    It holds the rows' unevaluated plan, not the zone DataFrame, so a
    memo entry keyed weakly by that DataFrame (``zone_dim``) dies with
    it. Each part is built once even when several threads share the
    dimension."""

    def __init__(self, zones: DataFrame | None, max_cells: int, index: ZoneIndex | None = None):
        self._plan = None if zones is None else _zone_index_rows(zones, max_cells)
        self._rows: DataFrame | None = None
        self._keys: tuple[list[int], int] | None = None
        self._index = index
        self._bc = self._centres_bc = None
        self._lock = threading.RLock()

    @classmethod
    def of_index(cls, index: ZoneIndex) -> "ZoneDim":
        """A dimension around a prebuilt ``ZoneIndex`` (no zone rows)."""
        return cls(None, 0, index)

    def rows(self) -> DataFrame:
        # localCheckpoint, not .cache(): the blocks free via the
        # ContextCleaner once this dimension is dropped, instead of
        # accumulating catalog entries (ADVICE r3 lifecycle rule)
        with self._lock:
            if self._rows is None:
                self._rows = self._plan.localCheckpoint(eager=True)
            return self._rows

    def key_stats(self) -> tuple[list[int], int]:
        """(sorted resolutions, total cells) over the rows' (res, cell)
        keys: one tiny agg, which sizes the partitioned path's key-only
        broadcasts."""
        with self._lock:
            if self._keys is None:
                stats = (
                    self.rows().filter(F.size("cells") > 0)
                    .groupBy("res").agg(F.sum(F.size("cells")).alias("n")).collect()
                )
                self._keys = (sorted(r["res"] for r in stats), sum(r["n"] for r in stats))
            return self._keys

    def index(self) -> ZoneIndex:
        with self._lock:
            if self._index is None:
                rows = self._plan if self._rows is None else self._rows
                self._index = ZoneIndex(rows.toArrow())
            return self._index

    def broadcast(self, sc):
        with self._lock:
            if self._bc is None:
                self._bc = sc.broadcast(self.index())
            return self._bc

    def centres(self, sc):
        """Broadcast (zone_id, lon, lat) kNN centres, or None if no zone
        has one; centres are tiny at any scale."""
        with self._lock:
            if self._centres_bc is None:
                c = _centres(self.rows().select("zone_id", "center").toArrow())
                self._centres_bc = sc.broadcast(c) if len(c[0]) else False
            return self._centres_bc or None


# zone table → (its lock, {max_cells: ZoneDim}); an entry dies with
# its DataFrame. _DIMS_LOCK guards only this dict: a table's count and
# ZoneDim are made under that table's own lock, so no caller waits on
# a Spark job over another table
_DIMS: "weakref.WeakKeyDictionary[DataFrame, tuple]" = weakref.WeakKeyDictionary()
_DIMS_LOCK = threading.Lock()

# leaves with no outside source: REFRESH TABLE and refreshByPath re-read
# a file or catalog relation, even into an existing cache, and never
# one of these
_FIXED_LEAVES = frozenset({"LocalRelation", "LogicalRDD", "Range", "OneRowRelation"})


def _immutable(df: DataFrame) -> bool:
    """True when ``df``'s rows cannot change under the same DataFrame
    object: a deterministic plan whose leaves are all local relations,
    or, while it is cached (checked on every call, so an unpersisted
    table is no longer reused), all without an outside source. A file-
    or catalog-backed table can change under one DataFrame, cached or
    not."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    kinds = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    fixed = _FIXED_LEAVES if df.storageLevel != StorageLevel.NONE else {"LocalRelation"}
    return plan.deterministic() and kinds <= fixed


def zone_dim(zones: DataFrame, max_cells: int | None = None) -> ZoneDim:
    """The prepared dimension of ``zones`` at ``max_cells`` (None: the
    broadcast path's ``auto_max_cells`` of the zone count). Reused across
    calls on the same DataFrame object while it is ``_immutable``;
    otherwise built afresh, as a file-backed table must be. A caller
    gets reuse by passing one zone DataFrame object to every call (the
    query registry's ``queries._lux_typed_zones`` is one per session)."""
    if not _immutable(zones):
        with _DIMS_LOCK:
            _DIMS.pop(zones, None)
        return ZoneDim(zones, auto_max_cells(zones.count()) if max_cells is None else max_cells)
    with _DIMS_LOCK:
        lock, memo = _DIMS.setdefault(zones, (threading.Lock(), {}))
    with lock:
        if max_cells not in memo:
            n = auto_max_cells(zones.count()) if max_cells is None else max_cells
            memo[max_cells] = memo[n] = memo.get(n) or ZoneDim(zones, n)
        return memo[max_cells]


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


def _check_strategy(strategy: str) -> None:
    if strategy not in ("broadcast", "partitioned", "auto"):
        raise ValueError(f"strategy must be one of broadcast, partitioned, auto; got {strategy!r}")


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
) -> DataFrame:
    """points + zone_id (long, -1 if unassigned and no kNN fallback).

    strategy:
      * ``broadcast`` — fetch the zone index rows, assemble the per-cell
        index on the driver, broadcast once, ONE narrow mapInPandas over
        the fact side (zero shuffles; the default — zone dims are
        broadcast-scale by design);
      * ``partitioned`` — no driver collect / no geometry broadcast:
        points join the same zone index rows' (res, cell) keys, boundary candidates
        refine in a cogroup keyed by (zone, split) and a per-point
        argmin resolves the zone. Requires ``id_col`` (a unique point
        key).
        This is the fallback for zone tables above broadcast budget
        (planet-scale detailed geometry can be tens of GB);
      * ``auto`` — measure the geometry size JVM-side and pick one of
        the two.

    Both paths take the zone index from ``zone_dim``, so repeat calls on
    one cached or local zone table build it once. The pixel-approximate
    raster join is ``raster.assign_zones_raster``.
    """
    _check_strategy(strategy)
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

    bc = zone_dim(zones, index_max_cells).broadcast(points.sparkSession.sparkContext)
    out_schema = T.StructType(points.schema.fields + [T.StructField("zone_id", T.LongType())])

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            pdf["zone_id"] = idx.assign(lon, lat, knn_fallback=knn_fallback)
            yield pdf

    return points.mapInPandas(_assign, out_schema)


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
    if index_max_cells is None:
        # the per-cell keys are joined against every point here, not
        # broadcast in one index — the fixed conservative default applies
        # rather than the broadcast path's auto budget
        index_max_cells = INDEX_MAX_CELLS
    dim = zone_dim(zones, index_max_cells)
    zrows = dim.rows()
    # the key rows take a fresh zone_id attribute: zrows feeds both
    # sides of the refine cogroup, which must not share expression ids
    zkeys = zrows.select(
        "res", F.col("zone_id").alias("zone_id"), "rank", "area",
        F.explode(F.arrays_zip("cells", "full")).alias("e"),
    ).select(
        "res", F.col("e.cells").alias("cell"),
        "zone_id", "rank", "area", F.col("e.full").alias("full"),
    )
    # the cell count sizes the key-only broadcasts below (geometry is
    # NEVER broadcast on this path; (res, cell) key rows are a different
    # budget)
    res_list, n_zcells = dim.key_stats()
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

    bc = dim.centres(points.sparkSession.sparkContext) if knn_fallback else None
    if bc is not None:

        def _knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                zid = pdf["zone_id"].to_numpy().copy()
                miss = np.flatnonzero(zid == -1)
                if len(miss):
                    zid[miss] = _nearest_centre(
                        pdf[lon_col].to_numpy(dtype=np.float64)[miss],
                        pdf[lat_col].to_numpy(dtype=np.float64)[miss],
                        bc.value,
                    )
                    pdf["zone_id"] = zid
                yield pdf

        out = out.mapInPandas(_knn, out.schema)
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
    to encode_points(...) then assign_zones(...). The broadcast index
    comes from ``zone_dim``: the first call on a cached or local zone
    table builds and broadcasts it, and a later call on the same
    DataFrame object runs no zone-side job at all."""
    bc = zone_dim(zones, index_max_cells).broadcast(points.sparkSession.sparkContext)
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
    _check_strategy(strategy)
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


def adaptive_cell_split(
    pts: DataFrame,
    resolutions: tuple[int, ...] = (9, 13, 17),
    max_rows_per_cell: int = 100_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """ADAPTIVE CELL SPLITTING (north_rule: 'skew from megacity cells
    is handled with salted repartitioning and ADAPTIVE CELL SPLITTING'
    — this is the second half; salting is ``salted_count``): assign
    every point its coarsest cell
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
