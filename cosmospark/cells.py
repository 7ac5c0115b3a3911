"""Hierarchical quadkey cell index + WebMercator tile ids.

This replaces the reference's in-memory rstar R-tree
(src/hierarchy_builder.rs:34-74) as the *distribution* mechanism: instead
of a shared-memory index, geometries and points are assigned int64 grid
cells so that spatial joins become Catalyst-plannable equi-joins and the
fact table can be partitioned/bucketed by cell prefix.

Scheme: aperture-4 quadkey ("H3-style" in spirit, square cells) over the
lon/lat plane — Morton (Z-order) interleave of the x/y indices of a
2^res × 2^res grid on [-180,180] × [-90,90]. The code is a *bijective
prefix scheme*: ``parent(cell) == cell >> 2``, so a res-r cell id is a
2-bit-truncated prefix of its res-(r+1) children — this is what makes the
hierarchical (cell, zone_level) rollup a pure integer-shift groupBy.

Everything here is vectorized numpy (runs inside Arrow batches), plus SQL
expression builders that emit the *same arithmetic* in both Spark SQL and
DuckDB dialects (used by the driver's oracle cross-checks).

``QUADKEY`` and ``MERCATOR`` describe the two grids to the raster leg
(``raster.py``): one small value each, wrapping the encoders above.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26  # 2*26 = 52 bits < 63

WORLD = (-180.0, -90.0, 180.0, 90.0)


def _grid_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.clip(((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return x, y


def morton_interleave(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Z-order code: bit i of x at position 2i+1, bit i of y at 2i."""
    out = np.zeros_like(np.asarray(x, dtype=np.int64))
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    for i in range(res):
        out |= ((x >> i) & 1) << (2 * i + 1)
        out |= ((y >> i) & 1) << (2 * i)
    return out


def morton_deinterleave(code: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(code, dtype=np.int64)
    x = np.zeros_like(code)
    y = np.zeros_like(code)
    for i in range(res):
        x |= ((code >> (2 * i + 1)) & 1) << i
        y |= ((code >> (2 * i)) & 1) << i
    return x, y


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """lon/lat arrays → int64 cell ids at resolution ``res``."""
    assert 0 < res <= MAX_RES
    x, y = _grid_xy(lon, lat, res)
    return morton_interleave(x, y, res)


def cell_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Ancestor cell ``steps`` resolutions coarser (prefix property)."""
    return np.asarray(cell, dtype=np.int64) >> (2 * steps)


def cell_bounds(cell: int, res: int) -> tuple[float, float, float, float]:
    x, y = morton_deinterleave(np.array([cell]), res)
    n = float(1 << res)
    w = 360.0 / n
    h = 180.0 / n
    minx = -180.0 + float(x[0]) * w
    miny = -90.0 + float(y[0]) * h
    return minx, miny, minx + w, miny + h


def cell_bounds_batch(cell: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(minx, miny, maxx, maxy) arrays for a batch of cells — ONE Morton
    decode over the whole array (the per-cell scalar ``cell_bounds`` in
    a Python loop dominates index-build time at 1000 cells/zone)."""
    x, y = morton_deinterleave(np.asarray(cell, dtype=np.int64), res)
    n = float(1 << res)
    w = 360.0 / n
    h = 180.0 / n
    minx = -180.0 + x.astype(np.float64) * w
    miny = -90.0 + y.astype(np.float64) * h
    return minx, miny, minx + w, miny + h


def cells_for_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All res-``res`` cells whose rectangle intersects the bbox."""
    return QUADKEY.bbox_cells(minx, miny, maxx, maxy, res)


def fit_res(minx: float, miny: float, maxx: float, maxy: float, max_cells: int = 16) -> int:
    """Finest resolution at which the bbox is covered by ≤ max_cells cells.

    This is the adaptive per-geometry resolution: a country indexes at a
    coarse res, a suburb at a fine one, so the per-zone explode is O(1)
    regardless of zone size (the R-tree's adaptivity, reconstructed)."""
    for res in range(MAX_RES, 0, -1):
        x0, y0 = _grid_xy(np.array([minx]), np.array([miny]), res)
        x1, y1 = _grid_xy(np.array([maxx]), np.array([maxy]), res)
        ncells = int(x1[0] - x0[0] + 1) * int(y1[0] - y0[0] + 1)
        if ncells <= max_cells:
            return res
    return 1


# ---------------------------------------------------------------------------
# WebMercator z/x/y tiles (the raster↔vector tile pyramid)


MERCATOR_MAX_LAT = 85.05112878


def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERCATOR_MAX_LAT, MERCATOR_MAX_LAT)
    n = np.float64(1 << z)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, (1 << z) - 1)
    lat_r = np.radians(lat)
    y = np.clip(
        np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / np.pi) / 2.0 * n).astype(np.int64),
        0,
        (1 << z) - 1,
    )
    return x, y


def tile_encode(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    """Packed tile id: (z << 58) | (x << 29) | y  (29 bits each, z ≤ 29)."""
    x, y = tile_xy(lon, lat, z)
    return (np.int64(z) << 58) | (x << 29) | y


def tile_decode(tile_id: int) -> tuple[int, int, int]:
    z = int(tile_id >> 58) & 0x3F
    x = int(tile_id >> 29) & ((1 << 29) - 1)
    y = int(tile_id) & ((1 << 29) - 1)
    return z, x, y


# ---------------------------------------------------------------------------
# Dialect-shared SQL expression builders.
#
# These emit identical integer arithmetic for Spark SQL and DuckDB so the
# driver's oracle comparison exercises the same cell math end-to-end.


def sql_grid_xy(lon_col: str, lat_col: str, res: int) -> tuple[str, str]:
    n = 1 << res
    x = f"least(greatest(cast(floor(({lon_col} + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})"
    y = f"least(greatest(cast(floor(({lat_col} + 90.0) / 180.0 * {n}) as bigint), 0), {n - 1})"
    return x, y


def sql_morton(x_expr: str, y_expr: str, res: int) -> str:
    """Morton interleave as a sum of bit-extract terms — valid in both
    Spark SQL and DuckDB (both support &, >>, * on BIGINT)."""
    terms = []
    for i in range(res):
        terms.append(f"((({x_expr}) >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((({y_expr}) >> {i}) & 1) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def sql_cell_encode(lon_col: str, lat_col: str, res: int) -> str:
    x, y = sql_grid_xy(lon_col, lat_col, res)
    return sql_morton(x, y, res)


def col_cell_encode(lon, lat, res: int):
    """Spark Column version of ``cell_encode`` — pure JVM whole-stage
    codegen, no Arrow round-trip. Bit-identical to the numpy kernel: the
    grid math is +,-,*,/ and floor only (IEEE-exact in both runtimes),
    and the Morton interleave uses the 32→64 bit-spread identity instead
    of ``sql_morton``'s 2·res-term sum (same value, O(1) ops).

    ``lon``/``lat`` are Columns; ``res`` ≤ MAX_RES (26 → x,y < 2^26,
    within the 32-bit spread domain)."""
    from pyspark.sql import functions as F

    assert 0 < res <= MAX_RES
    n = 1 << res
    x = F.least(
        F.greatest(F.floor((lon + 180.0) / 360.0 * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    y = F.least(
        F.greatest(F.floor((lat + 90.0) / 180.0 * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )

    def spread(c):
        for sh, m in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(m))
        return c

    return F.shiftleft(spread(x), 1).bitwiseOR(spread(y))


# ---------------------------------------------------------------------------
# Grids of the raster leg (raster.py). The quadkey plane and the mercator
# tile pyramid both split every cell 2×2, so the raster descent walks either
# one as Morton codes ``morton_interleave(x, y, res)`` whose children are
# ``(c << 2) + 0..3``. A grid value supplies only what differs. Its pixel
# geometry keeps each grid's own float expressions, because the DuckDB
# oracles re-derive them bit for bit.

# morton-order permutation for an 8×8 pixel block: bit index
# interleave(colbits, rowbits) ← row-major index row*8+col, so a point's
# pixel bit is just (fine_morton_cell & 63) — no deinterleave in the join
_MORTON8 = np.zeros(64, dtype=np.int64)
for _m in range(64):
    _a = ((_m >> 1) & 1) | (((_m >> 3) & 1) << 1) | (((_m >> 5) & 1) << 2)
    _b = (_m & 1) | (((_m >> 2) & 1) << 1) | (((_m >> 4) & 1) << 2)
    _MORTON8[_m] = _b * 8 + _a


def _inv_mercator(yf: np.ndarray) -> np.ndarray:
    """Fractional mercator y → latitude. sinh is spelled out as
    (exp(t) - exp(-t)) / 2 so the DuckDB oracle (no sinh built-in in
    this environment) evaluates the IDENTICAL expression tree."""
    t = np.pi * (1.0 - 2.0 * yf)
    return np.degrees(np.arctan((np.exp(t) - np.exp(-t)) / 2.0))


class Grid:
    """A 2×2-subdivision grid for the raster leg. Each grid defines
    ``bbox_range`` (the (x0, y0, x1, y1) index range of the cells meeting
    a bbox), ``bounds``, ``key`` (the output cell key), ``pixel_centers``,
    ``pixel_rects`` and ``encode_facts`` (the fact-side ``_cell``/``_pix``
    columns at res+3). Methods take Morton codes at resolution ``res``;
    pixel methods return per-column x values and per-row y values, each
    of shape (ncells, px)."""

    name: str
    lut_key: str  # LUT column metadata that records ``res``
    max_lat: float  # the projection domain: |lat| beyond it clamps
    pix_order: np.ndarray  # bitset bit i ← row-major pixel pix_order[i]

    def bbox_cells(self, minx, miny, maxx, maxy, res: int) -> np.ndarray:
        x0, y0, x1, y1 = self.bbox_range(minx, miny, maxx, maxy, res)
        gx, gy = np.meshgrid(
            np.arange(x0, x1 + 1, dtype=np.int64),
            np.arange(y0, y1 + 1, dtype=np.int64),
            indexing="ij",
        )
        return morton_interleave(gx.ravel(), gy.ravel(), res)

    @staticmethod
    def _pixel_index(codes: np.ndarray, res: int, px: int):
        """Fine-lattice column and row indices of every pixel (float)."""
        x, y = morton_deinterleave(codes, res)
        off = np.arange(px, dtype=np.float64)
        return x[:, None] * px + off[None, :], y[:, None] * px + off[None, :]


class _Quadkey(Grid):
    """The lon/lat plane of ``cell_encode``. The output key is the Morton
    code itself and pixel bits are in Morton order, so a point's pixel
    bit is the low 6 bits of its res+3 cell."""

    name, lut_key, max_lat, pix_order = "quadkey", "lut_res", 90.0, _MORTON8

    def bbox_range(self, minx, miny, maxx, maxy, res: int):
        x0, y0 = _grid_xy(np.array([minx]), np.array([miny]), res)
        x1, y1 = _grid_xy(np.array([maxx]), np.array([maxy]), res)
        return x0[0], y0[0], x1[0], y1[0]

    def bounds(self, codes: np.ndarray, res: int):
        return cell_bounds_batch(codes, res)

    def key(self, codes: np.ndarray, res: int) -> np.ndarray:
        return codes

    def pixel_centers(self, codes: np.ndarray, res: int, px: int):
        """Centers of the uniform sub-lattice, pure +,*,/ arithmetic."""
        nf = float((1 << res) * px)
        ii, jj = self._pixel_index(codes, res, px)
        return -180.0 + (ii + 0.5) * 360.0 / nf, -90.0 + (jj + 0.5) * 180.0 / nf

    def pixel_rects(self, codes: np.ndarray, res: int, px: int):
        nf = float((1 << res) * px)
        w, h = 360.0 / nf, 180.0 / nf
        lon, lat = self.pixel_centers(codes, res, px)
        minx, miny = lon - 0.5 * w, lat - 0.5 * h
        return minx, miny, minx + w, miny + h

    def encode_facts(self, points, lon_col: str, lat_col: str, res: int):
        """``_cell``/``_pix`` columns in JVM codegen: Morton encode at res+3."""
        from pyspark.sql import functions as F

        fine = col_cell_encode(F.col(lon_col), F.col(lat_col), res + 3)
        return points.withColumn("_cell", F.shiftright(fine, 6)).withColumn(
            "_pix", fine.bitwiseAND(F.lit(63)).cast("int")
        )


class _Mercator(Grid):
    """The web-mercator z/x/y tile pyramid of ``tile_encode`` (``res`` is
    the zoom). Pixel x is linear in lon, pixel y inverts the projection,
    and pixel rows run north → south. The output key is the packed tile
    id and pixel bits are row-major, (y3 & 7) * 8 + (x3 & 7) at zoom z+3,
    which the fact side derives from one ``tile_xy`` pass."""

    name, lut_key, max_lat = "mercator", "lut_z", MERCATOR_MAX_LAT
    pix_order = np.arange(64, dtype=np.int64)

    def bbox_range(self, minx, miny, maxx, maxy, res: int):
        x0, y1 = tile_xy(np.array([minx]), np.array([miny]), res)
        x1, y0 = tile_xy(np.array([maxx]), np.array([maxy]), res)
        return x0[0], y0[0], x1[0], y1[0]

    def bounds(self, codes: np.ndarray, res: int):
        """y grows southward, so miny comes from y + 1."""
        x, y = morton_deinterleave(codes, res)
        n = float(1 << res)
        minx = -180.0 + x * 360.0 / n
        maxx = -180.0 + (x + 1) * 360.0 / n
        return minx, _inv_mercator((y + 1) / n), maxx, _inv_mercator(y / n)

    def key(self, codes: np.ndarray, res: int) -> np.ndarray:
        x, y = morton_deinterleave(codes, res)
        return (np.int64(res) << 58) | (x << 29) | y

    def pixel_centers(self, codes: np.ndarray, res: int, px: int):
        n3f = float((1 << res) * px)
        x3, y3 = self._pixel_index(codes, res, px)
        return -180.0 + (x3 + 0.5) * 360.0 / n3f, _inv_mercator((y3 + 0.5) / n3f)

    def pixel_rects(self, codes: np.ndarray, res: int, px: int):
        n3f = float((1 << res) * px)
        x3, y3 = self._pixel_index(codes, res, px)
        minx = -180.0 + x3 * 360.0 / n3f
        bottom, top = _inv_mercator((y3 + 1) / n3f), _inv_mercator(y3 / n3f)
        return minx, bottom, minx + 360.0 / n3f, top

    def encode_facts(self, points, lon_col: str, lat_col: str, res: int):
        """``_cell``/``_pix`` columns from one narrow Arrow pass of
        ``tile_xy`` at zoom res+3."""
        from pyspark.sql import types as T

        schema = T.StructType(
            points.schema.fields
            + [
                T.StructField("_cell", T.LongType()),
                T.StructField("_pix", T.IntegerType()),
            ]
        )
        key_hi = res << 58

        def _enc(batches):
            for pdf in batches:
                lon = pdf[lon_col].to_numpy(dtype=np.float64)
                lat = pdf[lat_col].to_numpy(dtype=np.float64)
                x3, y3 = tile_xy(lon, lat, res + 3)
                pdf["_cell"] = key_hi | ((x3 >> 3) << 29) | (y3 >> 3)
                pdf["_pix"] = ((y3 & 7) * 8 + (x3 & 7)).astype(np.int32)
                yield pdf

        return points.mapInPandas(_enc, schema)


QUADKEY = _Quadkey()
MERCATOR = _Mercator()
