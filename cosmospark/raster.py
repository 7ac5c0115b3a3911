"""Raster ↔ vector tiling over the zone model.

The reference is vector-only (GEOS geometry end to end); the north-star
graft adds a raster leg: rasterize each zone's polygon into per-cell
pixel occupancy masks (vector → raster), and recover vector boxes from
a mask (raster → vector), so an image fact table can be joined against
zone coverage at pixel granularity.

One path serves both grids of ``cells``: the linear quadkey plane
(``QUADKEY``, the default) and the web-mercator z/x/y tile pyramid
(``MERCATOR``, ``res`` is the zoom). Every public function takes
``grid=``; the descent, the lazy interior expansion, the mask and bitset
rows, the LUT fold and the fact join are grid-agnostic, and the grid
value supplies the cell and pixel geometry, the output key and the
fact-side encode.

Scale shape: one mapInPandas over the ZONE table (zone-dim scale,
embarrassingly parallel per zone — 10^6 zones spread over executors),
each zone emitting one row per covering cell. No shuffle; the output is
a (zone_id, cell) keyed table that equi-joins against cell-encoded
facts. All pixel tests run through the same numpy PIP kernel as zone
assignment (``geom.pip_covers``), vectorized across every pixel of every
covering cell of a zone in one call.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from cosmospark import geom
from cosmospark.cells import QUADKEY, Grid

# ---------------------------------------------------------------------------
# Planet-safety (VERDICT r3 #1): a zone is rasterized by HIERARCHICAL
# DESCENT — classify cells FULL/EMPTY/BOUNDARY starting at a coarse
# resolution and subdivide only BOUNDARY cells — so per-zone work is
# O(perimeter · 4) cell tests + pixel kernels on boundary cells only,
# never O(bbox area). Interior cells emit closed-form all-ones masks
# with zero pixel tests; exterior bbox cells are skipped outright.
# Every pixel-kernel call is additionally capped at MAX_PIXELS pixel
# tests, and FULL-interior cells are expanded LAZILY in ≤ MAX_PIXELS/px²
# chunks (``_iter_full_cells`` — the descent holds coarse cells only,
# O(perimeter)), so one continent-sized zone can neither allocate
# multi-GB temporaries nor become a single straggler kernel call.

_START_CELLS = 1024  # descend from the coarsest res whose bbox cover fits this
MAX_PIXELS = 1 << 20  # pixel tests per kernel call


def _bbox_cell_count(grid: Grid, minx, miny, maxx, maxy, res: int) -> int:
    x0, y0, x1, y1 = grid.bbox_range(minx, miny, maxx, maxy, res)
    return int((x1 - x0 + 1) * (y1 - y0 + 1))


def _coarse_cover(
    rr, res: int, grid: Grid, stats: dict | None = None
) -> tuple[list[tuple[np.ndarray, int]], np.ndarray]:
    """Coarse→fine descent → (full cells grouped by the res they were
    PROVEN at, boundary cells at ``res``), all as Morton codes. FULL
    cells are entirely inside the zone (every pixel of every descendant
    is inside — no kernel needed); BOUNDARY cells may meet the zone's
    edge and need per-pixel tests; everything else provably misses the
    zone. Classification is ``geom.rects_classify`` (sound for
    FULL/EMPTY, conservative for BOUNDARY). Memory here is O(boundary
    frontier) — perimeter-proportional; interior FULL cells stay
    UNEXPANDED (a continent proven FULL at res 4 is one entry, not
    4^(res-4))."""
    minx, miny, maxx, maxy = geom.bbox(rr)
    r0 = res
    while (
        r0 > 1
        and _bbox_cell_count(grid, minx, miny, maxx, maxy, r0) > _START_CELLS
    ):
        r0 -= 1
    cand = grid.bbox_cells(minx, miny, maxx, maxy, r0)
    full_groups: list[tuple[np.ndarray, int]] = []
    boundary = np.empty(0, dtype=np.int64)
    r = r0
    while len(cand):
        cls = geom.rects_classify(*grid.bounds(cand, r), rr)
        if stats is not None:
            stats["classify_calls"] = stats.get("classify_calls", 0) + 1
            stats["cells_classified"] = stats.get("cells_classified", 0) + len(cand)
        full = cand[cls == 1]
        if len(full):
            full_groups.append((full, r))
        if r == res:
            boundary = cand[cls == 2]
            break
        cand = cand[cls == 2]
        cand = ((cand[:, None] << 2) + np.arange(4, dtype=np.int64)[None, :]).ravel()
        r += 1
    return full_groups, boundary


def _iter_full_cells(
    full_groups: list[tuple[np.ndarray, int]], res: int, step: int
) -> Iterator[np.ndarray]:
    """Expand coarse FULL cells to res-cells lazily, ≤ ~``step`` cells
    per yielded chunk (ADVICE r4: never materialize the whole interior —
    a continent-sized zone at fine res has O(area) descendants)."""
    for full, r in full_groups:
        k = 2 * (res - r)
        per = np.int64(1) << k
        if per >= step:
            # one coarse cell expands to ≥ step descendants: walk its
            # descendant index range in step-sized windows
            for c in full:
                base = np.int64(c) << k
                for s in range(0, int(per), step):
                    e = min(int(per), s + step)
                    yield base + np.arange(s, e, dtype=np.int64)
        else:
            # many coarse cells per chunk: broadcast-expand groups of
            # ~step//per cells at a time (≤ step cells per chunk)
            g = max(1, step // int(per))
            for chunk in _chunked(full, g):
                yield (
                    (chunk[:, None] << k)
                    + np.arange(int(per), dtype=np.int64)[None, :]
                ).ravel()


def zone_raster_cover(
    rr, res: int, grid: Grid = QUADKEY, stats: dict | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """→ (full_cells, boundary_cells) at ``res`` for one zone, as Morton
    codes. Eager convenience wrapper over ``_coarse_cover`` —
    materializes the FULL interior, so peak memory is O(interior area in
    cells); bounded at the res values used in tests/oracles (≤ 9), but
    streaming consumers (the rasterizers/LUT builders) go through
    ``_coarse_cover`` + ``_iter_full_cells`` instead and never hold the
    full interior."""
    full_groups, boundary = _coarse_cover(rr, res, grid, stats)
    parts = list(_iter_full_cells(full_groups, res, 1 << 20))
    full_cells = (
        np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    )
    return full_cells, boundary


def _chunked(arr: np.ndarray, size: int) -> Iterator[np.ndarray]:
    for s in range(0, len(arr), size):
        yield arr[s : s + size]


def _map_zones(
    zones: DataFrame,
    schema: T.StructType,
    zone_row_batches: Callable[[tuple, list], Iterator[list[dict]]],
) -> DataFrame:
    """One mapInPandas over the zone table: ``zone_row_batches(zone,
    rings)`` yields row batches for each zone that has rings, and they
    stream out in frames of about 64k rows, so peak executor memory is
    bounded even for a zone covering 10^5+ cells."""
    cols = schema.fieldNames()

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            buf: list[dict] = []
            for zone in pdf.itertuples(index=False):
                if zone.rings is None or len(zone.rings) == 0:
                    continue
                rr = geom.rows_to_rings(zone.rings)
                for rows in zone_row_batches(zone, rr):
                    buf.extend(rows)
                    if len(buf) >= 65536:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
            yield pd.DataFrame(buf, columns=cols)

    return zones.mapInPandas(_run, schema)


def _pixel_grid(cols: np.ndarray, rows: np.ndarray, px: int):
    """Per-column and per-row pixel values → two (ncells, px, px)
    row-major grids."""
    return (
        np.repeat(cols[:, None, :], px, axis=1),
        np.repeat(rows[:, :, None], px, axis=2),
    )


def _pixel_centers(grid: Grid, codes: np.ndarray, res: int, px: int):
    """Pixel-center grids for res-cells: (ncells, px, px) lon/lat, in
    the grid's own arithmetic (the SQL oracles re-derive it bit for
    bit)."""
    return _pixel_grid(*grid.pixel_centers(codes, res, px), px)


_RASTER_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField("n_inside", T.LongType()),
    ]
)


def _mask_rows(zid, rr, lon_c, lat_c, keys):
    """PIP every pixel center (ncells, px, px) in ONE kernel call and
    pack per-cell bitmasks; emit only cells with coverage."""
    ncells, px, _ = lon_c.shape
    hit = geom.pip_covers(lon_c.ravel(), lat_c.ravel(), rr).reshape(ncells, px, px)
    n_in = hit.sum(axis=(1, 2))
    rows = []
    for ci in np.nonzero(n_in)[0]:
        rows.append(
            {
                "zone_id": int(zid),
                "cell": int(keys[ci]),
                "mask": np.packbits(hit[ci].ravel()).tobytes(),
                "n_inside": int(n_in[ci]),
            }
        )
    return rows


def _zone_mask_row_batches(
    zid,
    rr,
    res: int,
    px: int,
    grid: Grid,
    max_pixels: int = MAX_PIXELS,
    stats: dict | None = None,
) -> Iterator[list[dict]]:
    """One zone → row batches for ``_RASTER_SCHEMA``, planet-safe:
    hierarchical cover, closed-form all-ones masks for FULL cells, and
    pixel kernels only on BOUNDARY cells in ≤ ``max_pixels`` chunks."""
    full_groups, bnd = _coarse_cover(rr, res, grid, stats)
    step = max(1, max_pixels // (px * px))
    ones = np.packbits(np.ones(px * px, dtype=bool)).tobytes()
    for chunk in _iter_full_cells(full_groups, res, step):
        yield [
            {
                "zone_id": int(zid),
                "cell": int(k),
                "mask": ones,
                "n_inside": px * px,
            }
            for k in grid.key(chunk, res)
        ]
    for chunk in _chunked(bnd, step):
        if stats is not None:
            stats["kernel_calls"] = stats.get("kernel_calls", 0) + 1
        lon_c, lat_c = _pixel_centers(grid, chunk, res, px)
        yield _mask_rows(zid, rr, lon_c, lat_c, grid.key(chunk, res))


def rasterize_zones(
    zones: DataFrame, res: int, px: int = 8, grid: Grid = QUADKEY
) -> DataFrame:
    """Vector → raster: for every zone and every res-cell of ``grid`` it
    covers or touches, a ``px``×``px`` occupancy bitmask of pixel
    centers (row-major, ``np.packbits`` layout) plus the inside-pixel
    count, keyed by the grid's ``cell`` key.

    On ``QUADKEY`` pixel centers are the centers of the uniform
    sub-lattice ``lon = -180 + (i + 0.5) * 360 / (2^res * px)`` (same
    for lat over 180°) — pure +,*,/ arithmetic, so an SQL oracle
    reproduces them bit-for-bit. On ``MERCATOR`` mask rows run
    north→south (row b = b-th pixel DOWN from the tile's top edge).
    Planet-safe via hierarchical descent + bounded kernel chunks (see
    module header)."""
    z = zones.select(F.col("id").alias("zone_id"), "rings")
    return _map_zones(
        z,
        _RASTER_SCHEMA,
        lambda zone, rr: _zone_mask_row_batches(zone.zone_id, rr, res, px, grid),
    )


def unpack_mask(mask: bytes, px: int) -> np.ndarray:
    """packed mask bytes → (px, px) bool array (row-major)."""
    return np.unpackbits(np.frombuffer(mask, dtype=np.uint8))[: px * px].reshape(
        px, px
    ).astype(bool)


def mask_to_boxes(mask: bytes, px: int) -> np.ndarray:
    """Raster → vector: greedy rectangle decomposition of a mask.
    Row-RLE runs merged across consecutive rows with identical spans.
    Returns (m, 4) int boxes ``(row0, col0, row1, col1)`` (end
    exclusive) whose disjoint union is exactly the set pixels — the
    round-trip invariant ``boxes → raster == mask`` is tested."""
    m = unpack_mask(mask, px)
    open_runs: dict[tuple[int, int], int] = {}  # (col0, col1) -> row0
    boxes: list[tuple[int, int, int, int]] = []
    for r in range(px + 1):
        if r < px:
            d = np.diff(np.concatenate(([0], m[r].astype(np.int8), [0])))
            starts = np.nonzero(d == 1)[0]
            ends = np.nonzero(d == -1)[0]
            runs = set(zip(starts.tolist(), ends.tolist()))
        else:
            runs = set()
        for span, row0 in list(open_runs.items()):
            if span not in runs:
                boxes.append((row0, span[0], r, span[1]))
                del open_runs[span]
        for span in runs:
            if span not in open_runs:
                open_runs[span] = r
    return np.array(boxes, dtype=np.int64).reshape(-1, 4)


_BITSET_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("cell", T.LongType()),
        T.StructField("mask_bits", T.LongType()),
        T.StructField("full_bits", T.LongType()),
        T.StructField("touch_bits", T.LongType()),
    ]
)


def rasterize_zone_bitsets(
    zones: DataFrame, res: int, grid: Grid = QUADKEY
) -> DataFrame:
    """Vector → raster with a JOINABLE encoding: per (zone, res-cell)
    int64 bitsets of the cell's 8×8 pixels in the grid's pixel bit
    order, plus the zone's (rank, area) argmin keys. A point's pixel bit
    comes from its res+3 cell — see ``assign_zones_raster``.

    Three bitsets per row:
      * ``mask_bits``  — pixel CENTER inside the zone (the approximate
        LUT signal);
      * ``full_bits``  — pixel RECT entirely covered by the zone
        (conservative, via ``geom.rects_fully_covered``);
      * ``touch_bits`` — pixel rect overlaps the zone's bbox
        (superset of any real contact).
    ``full``/``touch`` power the EXACT mode: a pixel whose every
    touching zone fully covers it has the same winner for every
    interior point, so only boundary pixels need the exact kernel."""
    from cosmospark.hierarchy import type_rank_col
    from cosmospark.ztypes import TYPE_RANK

    rank = F.coalesce(type_rank_col(F.col("zone_type")), F.lit(len(TYPE_RANK)))
    z = zones.select(
        F.col("id").alias("zone_id"), rank.cast("int").alias("rank"), "rings"
    )
    return _map_zones(
        z,
        _BITSET_SCHEMA,
        lambda zone, rr: _zone_bitset_row_batches(
            zone.zone_id, zone.rank, geom.area(rr), rr, res, grid
        ),
    )


def _zone_bitset_row_batches(
    zid,
    rk,
    area,
    rr,
    res: int,
    grid: Grid,
    max_pixels: int = MAX_PIXELS,
    stats: dict | None = None,
) -> Iterator[list[dict]]:
    """One zone → bitset row batches, planet-safe (hierarchical cover +
    bounded kernel chunks). FULL cells emit closed-form all-ones rows
    (mask = full = touch = -1): every pixel rect of a fully-covered cell
    is itself fully covered, no kernel needed. BOUNDARY cells run two
    kernels per chunk — center PIP and pixel-rect edge contact — from
    which full (center-in ∧ no-edge-touch, the rects_fully_covered
    lemma) and touch (center-in ∨ edge-touch: a superset of any real
    pixel/zone contact, and EMPTY-sound) derive directly. touch_bits is
    tighter than the r3 build (polygon contact, not zone-bbox overlap),
    which shrinks the exact-mode boundary sentinel set to the true
    perimeter without weakening the stability proof in
    ``zone_pixel_lut``."""
    px = 8
    pow2 = np.int64(1) << np.arange(64, dtype=np.int64)
    order = grid.pix_order
    base = {"zone_id": int(zid), "rank": int(rk), "area": float(area)}
    full_groups, bnd = _coarse_cover(rr, res, grid, stats)
    step = max(1, max_pixels // (px * px))
    for chunk in _iter_full_cells(full_groups, res, step):
        yield [
            dict(base, cell=int(k), mask_bits=-1, full_bits=-1, touch_bits=-1)
            for k in grid.key(chunk, res)
        ]
    for chunk in _chunked(bnd, step):
        if stats is not None:
            stats["kernel_calls"] = stats.get("kernel_calls", 0) + 1
        nc = len(chunk)
        lon_c, lat_c = _pixel_centers(grid, chunk, res, px)
        hit = geom.pip_covers(lon_c.ravel(), lat_c.ravel(), rr).reshape(
            nc, px * px
        )
        minx, miny, maxx, maxy = grid.pixel_rects(chunk, res, px)
        pminx, pminy = _pixel_grid(minx, miny, px)
        pmaxx, pmaxy = _pixel_grid(maxx, maxy, px)
        ehit = geom._rect_edge_hits(
            pminx.ravel(), pminy.ravel(), pmaxx.ravel(), pmaxy.ravel(), rr
        ).reshape(nc, px * px)
        fullv = hit & ~ehit
        touchv = hit | ehit
        bits = (hit[:, order] * pow2[None, :]).sum(axis=1)
        fbits = (fullv[:, order] * pow2[None, :]).sum(axis=1)
        tbits = (touchv[:, order] * pow2[None, :]).sum(axis=1)
        keys = grid.key(chunk, res)
        out = []
        for ci in np.nonzero(bits | tbits)[0]:
            out.append(
                dict(
                    base,
                    cell=int(keys[ci]),
                    mask_bits=int(bits[ci]),
                    full_bits=int(fbits[ci]),
                    touch_bits=int(tbits[ci]),
                )
            )
        yield out


def _fold_pixel_lut(
    rast: DataFrame, exact: bool, res: int, grid: Grid
) -> DataFrame:
    """LUT fold over a (zone_id, rank, area, cell, mask_bits, full_bits,
    touch_bits) bitset table — see ``zone_pixel_lut`` for the semantics.
    The build mode and the grid's ``res`` are stamped as ``zone_arr``
    metadata and validated at assignment time."""
    sel = "mask_bits" if not exact else "touch_bits"
    per_pix = (
        rast.select(
            "zone_id", "rank", "area", "cell",
            "mask_bits", "full_bits", "touch_bits",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("pix"),
        )
        .filter(F.expr(f"(shiftright({sel}, cast(pix as int)) & 1) = 1"))
        .withColumn(
            "is_full", F.expr("(shiftright(full_bits, cast(pix as int)) & 1) = 1")
        )
        .drop("mask_bits", "full_bits", "touch_bits")
        .groupBy("cell", "pix")
        .agg(
            F.min_by(
                "zone_id", F.struct(F.col("rank"), F.col("area"), F.col("zone_id"))
            ).alias("zone_id"),
            F.min(F.col("is_full").cast("int")).alias("all_full"),
        )
    )
    if exact:
        per_pix = per_pix.withColumn(
            "zone_id",
            F.when(F.col("all_full") == 1, F.col("zone_id")).otherwise(F.lit(-2)),
        )
    return (
        per_pix.groupBy("cell")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("pix", "zone_id"))
            ).alias("_m")
        )
        .select(
            "cell",
            # build mode stamped as column metadata: survives parquet
            # round-trips of persisted LUTs, costs zero bytes per row,
            # and lets assign_zones_raster reject a LUT whose build mode
            # disagrees with its `exact` flag (ADVICE r3)
            F.expr("transform(sequence(0, 63), i -> coalesce(_m[i], -1L))").alias(
                "zone_arr", metadata={"lut_exact": bool(exact), grid.lut_key: res}
            ),
        )
    )


def zone_pixel_lut(
    zones: DataFrame, res: int, exact: bool = False, grid: Grid = QUADKEY
) -> DataFrame:
    """Fold the rasterized zone dim into a per-cell PIXEL LOOKUP TABLE:
    ``(cell, zone_arr)`` where ``zone_arr[pix]`` is the winning zone
    (by the (rank, area, id) argmin, same tie-break as exact
    assignment) of pixel bit ``pix``, or -1. ``cell`` is the grid's key
    (the packed tile id on ``MERCATOR``). All aggregation happens on the
    zone-dim side — at fact-join time there is nothing left to resolve.
    Corpus-independent: build once, persist bucketed by ``cell``, reuse
    for every fact table.

    ``exact=True`` builds the STABILITY-aware LUT: a pixel is stable
    iff every zone whose bbox touches the pixel rect fully covers it —
    then every interior point of the pixel has the same winner, so the
    LUT answer is EXACT. Unstable (boundary) pixels get sentinel -2 and
    are refined by the exact kernel in ``assign_zones_raster``; pixels
    no zone touches stay -1 (exactly unassigned)."""
    return _fold_pixel_lut(
        rasterize_zone_bitsets(zones, res, grid), exact, res, grid
    )


def _check_lut_mode(lut, exact, grid_key, grid_val):
    """Validate a caller-supplied LUT's build metadata against the
    assignment's flags: build mode (an exact-built LUT under exact=False
    would leak the -2 boundary sentinel as a zone_id; a center-only LUT
    under exact=True would skip refinement while claiming exactness)
    AND the grid res/zoom (mismatched keys silently join to nothing —
    every point would resolve -1). Returns the declared build mode
    (None = unverifiable legacy LUT)."""
    md = lut.schema["zone_arr"].metadata or {}
    declared = md.get("lut_exact")
    if declared is None:
        if exact:
            raise ValueError(
                "assign_zones_raster(exact=True) needs a LUT built with "
                "exact=True; the supplied LUT carries no lut_exact "
                "build-mode metadata"
            )
    elif bool(declared) != exact:
        raise ValueError(
            f"LUT build mode lut_exact={bool(declared)} disagrees with "
            f"exact={exact}; rebuild the LUT or flip the flag"
        )
    built = md.get(grid_key)
    if built is not None and int(built) != int(grid_val):
        raise ValueError(
            f"LUT was built at {grid_key}={int(built)} but the assignment "
            f"asked for {int(grid_val)}: the cell keys cannot match and "
            "every point would silently resolve to -1"
        )
    return declared


def assign_zones_raster(
    points: DataFrame,
    zones: DataFrame | None,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "pid",
    lut: DataFrame | None = None,
    exact: bool = False,
    strategy: str = "auto",
    broadcast_budget_bytes: int | None = None,
    n_salt: int | None = None,
    grid: Grid = QUADKEY,
) -> DataFrame:
    """PIXEL-APPROXIMATE zone assignment with no shuffle on the fact
    path: the zone dim folds into a per-cell pixel LUT
    (``zone_pixel_lut`` — rank/area argmin pre-resolved zone-side), then
    the 10^12-row side is the grid's res+3 encode (``_cell``/``_pix``),
    ONE equi-join on the res-cell, and an ``element_at``. On ``QUADKEY``
    the encode is a Morton Column, so the whole fact side is
    whole-stage codegen with ZERO Python; on ``MERCATOR`` it is one
    narrow Arrow ``tile_xy`` pass. Each point gets the zone of its
    containing pixel's CENTER (half-pixel boundary error); the exact
    paths are ``assign_zones(strategy='broadcast'|'partitioned')``.

    Pass a persisted ``lut`` to amortize the rasterization across fact
    tables; at planet scale store it bucketed by ``cell`` so the join
    co-locates with cell-partitioned facts.

    ``exact=True`` makes the result EXACTLY equal to
    ``assign_zones(strategy='broadcast')``: the LUT (built with
    stability marking) answers every point in a stable pixel directly,
    and only points in boundary pixels (sentinel -2 — a
    perimeter-scale fraction at fine ``res``) run the exact PIP kernel
    via the fallback strategy, honoring the caller's strategy/budget
    (ADVICE r3). That refine goes through ``assign_zones``, so its zone
    index is built once per cached or local zone table
    (``assign.zone_dim``), not once per call."""
    declared: bool | None = exact
    if zones is None and (lut is None or exact):
        raise ValueError(
            "zones may be None only with a prebuilt non-exact LUT (the "
            "streaming stream-static shape); exact mode needs the zone "
            "geometry for boundary refinement"
        )
    if lut is None:
        lut = zone_pixel_lut(zones, res, exact=exact, grid=grid)
    else:
        declared = _check_lut_mode(lut, exact, grid.lut_key, res)
    enc = grid.encode_facts(points, lon_col, lat_col, res)
    lut_keyed = lut.withColumnRenamed("cell", "_cell")
    join_keys = ["_cell"]
    if n_salt and n_salt > 1:
        # LUT-side SALTING for the shuffle-join shape (VERDICT r4 #5):
        # when the LUT is too big to broadcast (planet at fine res) the
        # join shuffles BOTH sides on the cell key, and a megacity cell
        # holding a large fraction of the facts lands in one partition.
        # Replicating each LUT row across n_salt sub-keys (zone-dim
        # scale — cheap) and hashing the fact id into a sub-key spreads
        # any hot cell over n_salt partitions deterministically. AQE's
        # skew-join split is the zero-config alternative (see
        # test_raster.py::test_skewed_lut_shuffle_join_aqe_split); salt
        # is the belt-and-braces form that also covers shuffled-hash
        # joins and pre-AQE engines.
        lut_keyed = lut_keyed.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        )
        enc = enc.withColumn(
            "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salt))
        )
        join_keys = ["_cell", "_salt"]
    out = (
        enc.join(lut_keyed, join_keys, "left")
        .withColumn(
            "zone_id",
            F.coalesce(F.expr("element_at(zone_arr, _pix + 1)"), F.lit(-1)).cast(
                "long"
            ),
        )
        .drop("_cell", "_pix", "zone_arr", "_salt")
    )
    if not exact:
        if declared is None:
            # unverifiable hand-built LUT: never leak the -2 boundary
            # sentinel to callers as a zone id
            out = out.withColumn(
                "zone_id",
                F.when(F.col("zone_id") == -2, F.lit(-1)).otherwise(
                    F.col("zone_id")
                ),
            )
        return out
    # coordinates beyond the grid's domain clamp into edge pixels, whose
    # stable winner is wrong for them: route them to the exact kernel
    # too (it tests the real coordinates against real geometry)
    oob = (
        (F.col(lat_col) > grid.max_lat)
        | (F.col(lat_col) < -grid.max_lat)
        | (F.col(lon_col) > 180.0)
        | (F.col(lon_col) < -180.0)
    )
    out = out.withColumn(
        "zone_id", F.when(oob, F.lit(-2)).otherwise(F.col("zone_id"))
    )
    from cosmospark.assign import assign_zones

    resolved = out.filter(F.col("zone_id") != -2)
    boundary = out.filter(F.col("zone_id") == -2).drop("zone_id")
    kw = {}
    if broadcast_budget_bytes is not None:
        kw["broadcast_budget_bytes"] = broadcast_budget_bytes
    refined = assign_zones(
        boundary,
        zones,
        lon_col=lon_col,
        lat_col=lat_col,
        strategy=strategy,
        id_col=id_col,
        **kw,
    )
    return resolved.unionByName(refined)


# ---------------------------------------------------------------------------
# Incremental LUT maintenance: at planet scale the zone dim is a living
# table (boundary edits land daily), and rebuilding a full pixel LUT for
# one changed zone re-rasterizes 10^6 zones for nothing. The persisted
# BITSET table (rasterize_zone_bitsets output, bucketed by cell) is the
# maintenance state: an edit replaces one zone's rows and re-folds ONLY
# the cells that zone touches (old footprint ∪ new footprint) — work
# proportional to the edit, not the planet.


def incremental_lut_update(
    bitsets: DataFrame,
    changed_zones: DataFrame | None,
    removed_zone_ids: list[int],
    res: int,
    exact: bool = False,
    grid: Grid = QUADKEY,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply a zone-dim edit to a persisted bitset table.

    ``changed_zones``: zones added or modified (full new rows, reference
    zone schema); ``removed_zone_ids``: ids to drop (a modified zone's
    id may appear in both — its old rows are replaced either way).
    The edit algebra is grid-agnostic because every grid's LUT keys on
    one packed 64-bit ``cell`` column.

    Returns ``(new_bitsets, affected_cells, lut_patch)``:
      * ``new_bitsets``  — the updated maintenance table;
      * ``affected_cells`` — the (cell,) keys whose LUT rows are stale
        (old ∪ new footprint of every touched zone);
      * ``lut_patch``    — re-folded LUT rows for exactly those cells
        (a cell whose coverage vanished is absent: delete it).
    Apply with ``apply_lut_patch``. Every step is a key join on
    cell/zone_id — bucketed storage keeps them co-located."""
    changed_new = (
        rasterize_zone_bitsets(changed_zones, res, grid)
        if changed_zones is not None
        else None
    )
    touched_ids = list(removed_zone_ids)
    if changed_zones is not None:
        touched_ids += [
            int(r["id"]) for r in changed_zones.select("id").distinct().collect()
        ]
    old_rows = bitsets.filter(F.col("zone_id").isin(touched_ids))
    kept = bitsets.filter(~F.col("zone_id").isin(touched_ids))
    new_bitsets = (
        kept.unionByName(changed_new) if changed_new is not None else kept
    )
    affected = old_rows.select("cell")
    if changed_new is not None:
        affected = affected.unionByName(changed_new.select("cell"))
    affected_cells = affected.distinct().localCheckpoint(eager=True)
    lut_patch = _fold_pixel_lut(
        new_bitsets.join(affected_cells, "cell", "left_semi"), exact, res, grid
    )
    return new_bitsets, affected_cells, lut_patch


def apply_lut_patch(
    lut: DataFrame, affected_cells: DataFrame, lut_patch: DataFrame
) -> DataFrame:
    """Merge an incremental patch into a LUT: drop every affected cell's
    old row, append the re-folded rows (cells with no remaining coverage
    simply have no patch row → deleted). The relational form of a MERGE
    — on a lakehouse table this is one DELETE+INSERT on the cell key."""
    return lut.join(affected_cells, "cell", "left_anti").unionByName(lut_patch)
