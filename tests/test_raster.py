"""Raster ↔ vector tiling invariants: mask coverage vs polygon area,
FULL-cell all-ones masks, both grids (quadkey and mercator tiles), and
the exact raster→vector→raster round trip."""

import numpy as np
import pytest

from cosmospark import cells, geom
from cosmospark.cells import MERCATOR, QUADKEY
from cosmospark.raster import (
    mask_to_boxes,
    rasterize_zones,
    unpack_mask,
)

both_grids = pytest.mark.parametrize(
    "grid", [QUADKEY, MERCATOR], ids=lambda g: g.name
)


@pytest.fixture(scope="module")
def rect_zone_df(spark):
    from cosmospark.ztypes import ZONES_RAW_SCHEMA

    # one 45°×45° square aligned to the res-3 grid: cells strictly
    # inside are FULL, the boundary only touches cell edges
    ring = {
        "poly": 0,
        "ring": 0,
        "xs": [0.0, 90.0, 90.0, 0.0, 0.0],
        "ys": [0.0, 0.0, 45.0, 45.0, 0.0],
    }
    row = {
        "id": 7,
        "osm_id": "relation:7",
        "admin_level": 2,
        "zone_type": "country",
        "name": "R",
        "tags": {},
        "center_tags": {},
        "center": {"lon": 45.0, "lat": 22.5},
        "rings": [ring],
        "bbox": {"minx": 0.0, "miny": 0.0, "maxx": 90.0, "maxy": 45.0},
        "is_generated": False,
    }
    return spark.createDataFrame([row], schema=ZONES_RAW_SCHEMA)


def test_rasterize_cells_area_and_full(rect_zone_df):
    px = 8
    res = 4
    out = rasterize_zones(rect_zone_df, res=res, px=px).collect()
    # res 4 → 22.5°(lon)/11.25°(lat) cells; the [0,90]×[0,45] rect spans
    # exactly 4×4 grid-aligned cells, every one entirely covered
    assert len(out) == 16
    total = sum(r["n_inside"] for r in out)
    assert total == 16 * px * px
    for r in out:
        assert unpack_mask(bytes(r["mask"]), px).all()
    # coverage-weighted pixel area == polygon area (grid-aligned rect)
    n = 1 << res
    pixel_area = (360.0 / (n * px)) * (180.0 / (n * px))
    rect = [
        (
            0,
            0,
            np.array([0.0, 90.0, 90.0, 0.0, 0.0]),
            np.array([0.0, 0.0, 45.0, 45.0, 0.0]),
        )
    ]
    assert total * pixel_area == pytest.approx(geom.area(rect), rel=1e-12)


def test_rasterize_partial_cells(spark, rect_zone_df):
    # res 2 → 90°×45° cells: the rect covers exactly ONE full cell at
    # (x=2,y=2) [0..90 lon, 0..45 lat]
    out = rasterize_zones(rect_zone_df, res=2, px=8).collect()
    assert len(out) == 1
    assert out[0]["n_inside"] == 64
    cx, cy = cells.morton_deinterleave(np.array([out[0]["cell"]]), 2)
    assert (cx[0], cy[0]) == (2, 2)


def test_rasterize_tiles_mercator(rect_zone_df):
    z, px = 3, 16
    out = rasterize_zones(rect_zone_df, res=z, px=px, grid=MERCATOR).collect()
    assert out, "no tiles covered"
    for r in out:
        tz, tx, ty = cells.tile_decode(r["cell"])
        assert tz == z
        m = unpack_mask(bytes(r["mask"]), px)
        assert m.sum() == r["n_inside"] > 0
        # every set pixel's center must be inside the rect: re-derive
        # centers the same way the rasterizer does and check bounds
        n = 1 << z
        rr, cc = np.nonzero(m)  # row = y (mercator), col = x (lon)
        lon = -180.0 + (tx * px + cc + 0.5) * 360.0 / (n * px)
        yf = (ty * px + rr + 0.5) / (n * px)
        lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yf))))
        assert ((lon >= 0.0) & (lon <= 90.0) & (lat >= 0.0) & (lat <= 45.0)).all()


def boxes_to_mask(boxes: np.ndarray, px: int) -> np.ndarray:
    """Reference inverse of ``mask_to_boxes``: paint each box."""
    m = np.zeros((px, px), dtype=bool)
    for r0, c0, r1, c1 in boxes:
        m[r0:r1, c0:c1] = True
    return m


def test_mask_box_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(20):
        px = 16
        m = rng.random((px, px)) < 0.35
        packed = np.packbits(m.ravel()).tobytes()
        boxes = mask_to_boxes(packed, px)
        # disjoint boxes whose union is the mask, exactly
        assert boxes[:, 2].max(initial=0) <= px
        assert sum((r1 - r0) * (c1 - c0) for r0, c0, r1, c1 in boxes) == m.sum()
        assert (boxes_to_mask(boxes, px) == m).all()


def test_raster_assign_agrees_with_exact_at_pixel_centers(spark):
    """At pixel-center coordinates the pixel-approximate raster join and
    the exact broadcast PIP must agree everywhere (the approximation
    error is strictly sub-pixel)."""
    import pyspark.sql.functions as F

    from cosmospark.assign import assign_zones
    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster

    res, px = 6, 8
    nf = (1 << res) * px
    # a lattice of exact pixel centers across the lux box
    pts = spark.range(4000).select(
        F.col("id").alias("pid"),
        F.expr(f"-180.0 + (cast((id * 7919) % 520 + 259 as double) + 0.5) * 360.0 / {nf}").alias("lon"),
        F.expr(f"-90.0 + (cast((id * 104729) % 280 + 190 as double) + 0.5) * 180.0 / {nf}").alias("lat"),
    )
    exact = assign_zones(pts, _lux_typed_zones(spark)).select("pid", "zone_id")
    approx = assign_zones_raster(pts, _lux_typed_zones(spark), res=res).select(
        "pid", "zone_id"
    )
    diff = (
        exact.alias("a")
        .join(approx.alias("b"), "pid")
        .filter(F.col("a.zone_id") != F.col("b.zone_id"))
        .count()
    )
    assert diff == 0


def test_raster_assign_fact_path_is_python_free(spark):
    """The fact side of assign_zones_raster must plan as pure
    whole-stage codegen: the ONLY Python stage in the whole plan is the
    zone-dim rasterizer."""
    import pyspark.sql.functions as F

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster

    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 100 / 10.0 + 3.0).alias("lon"),
        (F.col("id") % 90 / 10.0 + 45.0).alias("lat"),
    )
    plan = assign_zones_raster(
        pts, _lux_typed_zones(spark), res=6
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1  # the zone-dim rasterizer
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lut_persisted_bucketed_joins_without_lut_exchange(spark, tmp_path):
    """The docstring's scale claim, evidenced: persist the pixel LUT
    bucketed by cell (bucketing.write_bucketed) and the fact-side
    assignment join reads it with NO Exchange on the LUT side — the
    shuffle was paid once at LUT build time."""
    import pyspark.sql.functions as F

    from cosmospark.bucketing import read_bucketed, write_bucketed
    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut

    lut = zone_pixel_lut(_lux_typed_zones(spark), res=6)
    write_bucketed(
        lut, "lut_cells_t", str(tmp_path / "lut"), ["cell"], 8
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at planet scale the LUT exceeds broadcast; force that join shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lut_b = read_bucketed(spark, "lut_cells_t")
        pts = spark.range(2000).select(
            F.col("id").alias("pid"),
            (F.col("id") % 130 / 10.0 + 2.0).alias("lon"),
            (F.col("id") % 100 / 10.0 + 44.0).alias("lat"),
        )
        out = assign_zones_raster(
            pts, _lux_typed_zones(spark), res=6, lut=lut_b
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the bucketed LUT scan feeds the join via its buckets
        # (SelectedBucketsCount) with no Exchange over that scan: the
        # only Exchange in the plan is on the FACT side, repartitioning
        # points to the LUT's bucketing
        assert "SelectedBucketsCount" in plan
        lut_scan_prefix = plan.split("SelectedBucketsCount")[0]
        assert "Exchange" not in lut_scan_prefix.split("Scan parquet")[-1]
        # functional check: results identical to the in-memory LUT path
        base = assign_zones_raster(
            pts, _lux_typed_zones(spark), res=6
        ).select("pid", "zone_id").collect()
        got = out.select("pid", "zone_id").collect()
        assert sorted((r["pid"], r["zone_id"]) for r in got) == sorted(
            (r["pid"], r["zone_id"]) for r in base
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS lut_cells_t")


def test_exact_raster_equals_broadcast_everywhere(spark):
    """exact=True: identical zone ids to the broadcast strategy at
    arbitrary coordinates (not just pixel centers) — stable pixels via
    LUT, boundary pixels via the exact kernel."""
    import numpy as np
    import pyspark.sql.functions as F

    from cosmospark.assign import assign_zones
    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster

    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        [
            (int(i), float(lon), float(lat))
            for i, (lon, lat) in enumerate(
                zip(rng.uniform(1, 17, 3000), rng.uniform(43, 55, 3000))
            )
        ],
        "pid long, lon double, lat double",
    )
    zones = _lux_typed_zones(spark)
    base = {r["pid"]: r["zone_id"] for r in assign_zones(pts, zones).collect()}
    rex = {
        r["pid"]: r["zone_id"]
        for r in assign_zones_raster(pts, zones, res=8, exact=True).collect()
    }
    assert rex == base


# ---------------------------------------------------------------------------
# Planet-safety (VERDICT r3 #1): hierarchical descent + bounded kernels


def _star_rings(n=24, r0=20.0, r1=45.0, cx=10.0, cy=5.0):
    """Deterministic concave star polygon (~90° across)."""
    import math

    xs, ys = [], []
    for i in range(n):
        a = 2.0 * math.pi * i / n
        r = r0 if i % 2 else r1
        xs.append(cx + r * math.cos(a))
        ys.append(cy + r * math.sin(a))
    xs.append(xs[0])
    ys.append(ys[0])
    from cosmospark import geom

    return geom.rows_to_rings([{"poly": 0, "ring": 0, "xs": xs, "ys": ys}])


@both_grids
def test_hierarchical_cover_sound_vs_pixel_oracle(grid):
    """zone_raster_cover's FULL cells must have every pixel center
    inside; cells outside FULL∪BOUNDARY must have none (soundness of
    the EMPTY/FULL shortcuts — BOUNDARY cells go through the kernel
    anyway)."""
    from cosmospark.raster import _pixel_centers, zone_raster_cover

    rr = _star_rings()
    res = 5
    full, bnd = zone_raster_cover(rr, res, grid)
    cc = grid.bbox_cells(*geom.bbox(rr), res)
    lon_c, lat_c = _pixel_centers(grid, cc, res, 8)
    hit = geom.pip_covers(lon_c.ravel(), lat_c.ravel(), rr).reshape(len(cc), 64)
    full_s, bnd_s = set(full.tolist()), set(bnd.tolist())
    assert full_s.isdisjoint(bnd_s)
    for i, c in enumerate(cc.tolist()):
        if c in full_s:
            assert hit[i].all(), f"FULL cell {c} has an outside pixel"
        elif c not in bnd_s:
            assert not hit[i].any(), f"skipped cell {c} has an inside pixel"
    # the interior exists: descent actually classified FULL cells
    assert len(full) > 0 and len(bnd) > 0


@both_grids
def test_planet_zone_bounded_kernel_chunks(grid):
    """A zone whose bbox spans ≥ 90° at res 9 must rasterize through
    MULTIPLE bounded kernel calls (no single multi-GB allocation), and
    the descent must classify FAR fewer cells than the bbox cover."""
    from cosmospark.raster import _bbox_cell_count, _zone_bitset_row_batches

    rr = _star_rings(n=36, r0=40.0, r1=60.0, cx=0.0, cy=0.0)  # 120° across
    minx, miny, maxx, maxy = geom.bbox(rr)
    assert maxx - minx >= 90.0
    res = 9
    stats = {}
    n_rows = 0
    max_batch = 0
    for rows in _zone_bitset_row_batches(
        1, 0, 1.0, rr, res, grid, max_pixels=1 << 16, stats=stats
    ):
        n_rows += len(rows)
        max_batch = max(max_batch, len(rows))
    assert stats["kernel_calls"] > 1, stats
    # bounded work: every kernel call ≤ max_pixels/64 cells → batches
    # bounded; and hierarchical descent touched a small multiple of the
    # PERIMETER, not the bbox area
    assert max_batch <= (1 << 16) // 64
    bbox_cells = _bbox_cell_count(grid, minx, miny, maxx, maxy, res)
    assert stats["cells_classified"] < bbox_cells / 4, (
        stats["cells_classified"],
        bbox_cells,
    )
    assert n_rows > 1000  # the zone did rasterize


@both_grids
def test_hierarchical_mask_rows_match_single_level_oracle(grid):
    """Row-for-row equality of the descent path against a brute-force
    single-level rasterization (every bbox cell through the kernel)."""
    from cosmospark.raster import (
        _mask_rows,
        _pixel_centers,
        _zone_mask_row_batches,
    )

    rr = _star_rings()
    res, px = 4, 8
    got = {}
    for rows in _zone_mask_row_batches(7, rr, res, px, grid, max_pixels=1 << 12):
        for r in rows:
            got[r["cell"]] = (r["mask"], r["n_inside"])
    cc = grid.bbox_cells(*geom.bbox(rr), res)
    lon_c, lat_c = _pixel_centers(grid, cc, res, px)
    want = {
        r["cell"]: (r["mask"], r["n_inside"])
        for r in _mask_rows(7, rr, lon_c, lat_c, grid.key(cc, res))
    }
    assert got == want


def test_lut_build_mode_validated_against_exact_flag(spark):
    """An exact-built LUT with exact=False (and vice versa) must be
    rejected, not silently mis-assigned (ADVICE r3: the -2 sentinel
    would leak as a zone_id / refinement would be skipped)."""
    import pytest

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut

    zones = _lux_typed_zones(spark)
    pts = spark.range(10).selectExpr(
        "id as pid",
        "cast(2.0 + id as double) as lon",
        "cast(44.0 + id as double) as lat",
    )
    lut_x = zone_pixel_lut(zones, res=5, exact=True)
    with pytest.raises(ValueError, match="lut_exact"):
        assign_zones_raster(pts, zones, res=5, lut=lut_x, exact=False)
    lut_a = zone_pixel_lut(zones, res=5, exact=False)
    with pytest.raises(ValueError, match="lut_exact"):
        assign_zones_raster(pts, zones, res=5, lut=lut_a, exact=True)
    # matching modes stay accepted
    assert assign_zones_raster(pts, zones, res=5, lut=lut_x, exact=True).count() == 10
    assert assign_zones_raster(pts, zones, res=5, lut=lut_a, exact=False).count() == 10


def test_tile_raster_exact_equals_broadcast_everywhere(spark):
    """assign_zones_raster(grid=MERCATOR, exact=True) must be bit-identical to
    the broadcast PIP kernel on random (non-lattice) points — same
    guarantee as the quadkey exact path, now on the mercator pyramid."""
    import pyspark.sql.functions as F

    from cosmospark.assign import assign_zones
    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster

    pts = spark.range(3000).select(
        F.col("id").alias("pid"),
        F.expr("cast(1.0 + (id * 7919 % 1500) / 100.0 as double)").alias("lon"),
        F.expr("cast(43.5 + (id * 104729 % 1100) / 100.0 as double)").alias("lat"),
    )
    zones = _lux_typed_zones(spark)
    exact = assign_zones_raster(
        pts, zones, res=6, exact=True, grid=MERCATOR
    ).select("pid", "zone_id")
    ref = assign_zones(pts, zones).select("pid", F.col("zone_id").alias("zr"))
    assert exact.join(ref, "pid").filter("zone_id != zr").count() == 0


def test_tile_raster_plan_shape(spark):
    """Tile fact path: exactly TWO MapInPandas (the zone-dim rasterizer
    + the one tile/pixel encode pass the fact side needs anyway), no
    cartesian/nested-loop joins."""
    import pyspark.sql.functions as F

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster

    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.lit(2.0) + F.col("id") / 100.0).alias("lon"),
        (F.lit(44.0) + F.col("id") / 100.0).alias("lat"),
    )
    df = assign_zones_raster(pts, _lux_typed_zones(spark), res=6, grid=MERCATOR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan.count("MapInPandas")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tile_lut_persisted_bucketed_joins_without_lut_exchange(spark, tmp_path):
    """Tile-pyramid LUT: same bucketed-persistence contract as the
    quadkey LUT — no Exchange over the persisted LUT scan, results
    identical to the in-memory path, and the lut_exact build-mode
    metadata survives the bucketed round trip."""
    import pyspark.sql.functions as F

    from cosmospark.bucketing import read_bucketed, write_bucketed
    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut

    zones = _lux_typed_zones(spark)
    lut = zone_pixel_lut(zones, res=6, grid=MERCATOR)
    write_bucketed(lut, "lut_tiles_t", str(tmp_path / "lut_t"), ["cell"], 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lut_b = read_bucketed(spark, "lut_tiles_t")
        assert lut_b.schema["zone_arr"].metadata == {"lut_exact": False, "lut_z": 6}
        pts = spark.range(2000).select(
            F.col("id").alias("pid"),
            (F.col("id") % 130 / 10.0 + 2.0).alias("lon"),
            (F.col("id") % 100 / 10.0 + 44.0).alias("lat"),
        )
        out = assign_zones_raster(pts, zones, res=6, lut=lut_b, grid=MERCATOR)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan
        lut_scan_prefix = plan.split("SelectedBucketsCount")[0]
        assert "Exchange" not in lut_scan_prefix.split("Scan parquet")[-1]
        base = assign_zones_raster(pts, zones, res=6, grid=MERCATOR).select(
            "pid", "zone_id"
        ).collect()
        got = out.select("pid", "zone_id").collect()
        assert sorted((r["pid"], r["zone_id"]) for r in got) == sorted(
            (r["pid"], r["zone_id"]) for r in base
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_incremental_lut_update_equals_full_rebuild(spark):
    """A zone-dim edit (one zone's geometry modified, one zone removed)
    applied through incremental_lut_update must produce EXACTLY the LUT
    a from-scratch rebuild produces, while re-folding only the edited
    zones' footprint cells."""
    import pyspark.sql.functions as F

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import (
        apply_lut_patch,
        incremental_lut_update,
        rasterize_zone_bitsets,
        zone_pixel_lut,
    )

    res = 7
    zones = _lux_typed_zones(spark)
    # edit two SMALL zones (communes), so the affected-cell set is a
    # tiny fraction of the LUT — the locality this operator exists for
    from cosmospark import geom

    small = sorted(
        (
            (geom.area(geom.rows_to_rings(r["rings"])), r["id"])
            for r in zones.select("id", "rings").collect()
            if r["rings"]
        )
    )[:2]
    mod_id, rm_id = small[0][1], small[1][1]

    bitsets0 = rasterize_zone_bitsets(zones, res).localCheckpoint()
    lut0 = zone_pixel_lut(zones, res).localCheckpoint()

    # the edit: shift mod_id's geometry east 0.3°, drop rm_id entirely
    shifted = zones.filter(F.col("id") == mod_id).withColumn(
        "rings",
        F.expr(
            "transform(rings, r -> named_struct("
            "'poly', r.poly, 'ring', r.ring,"
            "'xs', transform(r.xs, x -> x + 0.3), 'ys', r.ys))"
        ),
    )
    zones_after = zones.filter(~F.col("id").isin([mod_id, rm_id])).unionByName(
        shifted
    )

    new_bitsets, affected, patch = incremental_lut_update(
        bitsets0, shifted, [rm_id], res
    )
    lut_inc = apply_lut_patch(lut0, affected, patch)
    lut_full = zone_pixel_lut(zones_after, res)

    def lut_set(df):
        return {
            (r["cell"], tuple(r["zone_arr"])) for r in df.collect()
        }

    assert lut_set(lut_inc) == lut_set(lut_full)
    # the refold was edit-local: far fewer cells than the whole LUT
    n_affected = affected.count()
    n_lut = lut0.count()
    assert n_affected < n_lut / 2, (n_affected, n_lut)
    # maintenance table consistent with a from-scratch rasterization
    want = rasterize_zone_bitsets(zones_after, res)
    assert new_bitsets.count() == want.count()
    assert (
        new_bitsets.exceptAll(want).limit(1).count() == 0
        and want.exceptAll(new_bitsets).limit(1).count() == 0
    )


def test_exact_mode_out_of_mercator_domain_points(spark):
    """tile_xy clamps |lat| > 85.05° into the edge pixel row; exact
    mode must still return the EXACT answer (-1 outside every zone) for
    such points instead of the clamped pixel's stable winner."""
    import pyspark.sql.functions as F

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster

    zones = _lux_typed_zones(spark)
    pts = spark.createDataFrame(
        [(1, 5.0, 86.0), (2, 5.0, -88.0), (3, 200.0, 45.0), (4, 5.0, 45.5)],
        "pid long, lon double, lat double",
    )
    got_t = {
        r["pid"]: r["zone_id"]
        for r in assign_zones_raster(
            pts, zones, res=6, exact=True, grid=MERCATOR
        ).collect()
    }
    assert got_t[1] == -1 and got_t[2] == -1 and got_t[3] == -1
    assert got_t[4] >= 0  # in-domain point inside the lux box still assigns
    got_q = {
        r["pid"]: r["zone_id"]
        for r in assign_zones_raster(pts, zones, res=6, exact=True).collect()
    }
    assert got_q[3] == -1 and got_q[4] >= 0


def test_lut_grid_mismatch_rejected(spark):
    """A LUT built at one res/zoom used at another must raise, not
    silently join to nothing (-1 for every point)."""
    import pytest
    import pyspark.sql.functions as F

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut

    zones = _lux_typed_zones(spark)
    pts = spark.range(5).select(
        F.col("id").alias("pid"),
        (F.lit(3.0) + F.col("id")).alias("lon"),
        (F.lit(45.0)).alias("lat"),
    )
    lut6 = zone_pixel_lut(zones, res=6)
    with pytest.raises(ValueError, match="lut_res=6"):
        assign_zones_raster(pts, zones, res=9, lut=lut6)
    tlut6 = zone_pixel_lut(zones, res=6, grid=MERCATOR)
    with pytest.raises(ValueError, match="lut_z=6"):
        assign_zones_raster(pts, zones, res=7, lut=tlut6, grid=MERCATOR)


@both_grids
def test_lazy_full_expansion_matches_eager_and_bounds_chunks(grid):
    """ADVICE r4: the streaming rasterizers must expand FULL-interior
    cells lazily. The chunked iterator must (a) reproduce the eager
    zone_raster_cover full set exactly, (b) never yield a chunk larger
    than ~step, and (c) keep the descent state coarse (no materialized
    interior inside _coarse_cover's groups)."""
    from cosmospark.raster import (
        _coarse_cover,
        _iter_full_cells,
        zone_raster_cover,
    )

    rr = _star_rings()
    res = 7
    eager_full, _ = zone_raster_cover(rr, res, grid)
    groups, _ = _coarse_cover(rr, res, grid)
    for step in (32, 64):
        chunks = list(_iter_full_cells(groups, res, step))
        assert chunks, "star zone has an interior at res 7"
        # (b) bounded chunks: a group of coarse cells each expanding to
        # `per` descendants may overshoot by < per, never by a full interior
        assert max(len(c) for c in chunks) <= 2 * step
        # (a) exact same cell set, order-insensitive
        lazy_full = np.concatenate(chunks)
        assert sorted(lazy_full.tolist()) == sorted(eager_full.tolist())
    # (c) the descent itself holds only coarse/unexpanded cells:
    # strictly fewer stored entries than the expanded interior
    stored = sum(len(g) for g, _r in groups)
    assert stored < len(eager_full)


def _skewed_pts(spark, n=300_000):
    """~30% of points in ONE res-9 cell (a 'megacity' hot key on the
    LUT join), rest spread over the lux grid."""
    from pyspark.sql import functions as F

    mega = (
        "case when id % 10 < 3 then"
        " named_struct('lon', cast(6.13 + (id % 97) / 100000.0 as double),"
        "              'lat', cast(49.61 + (id % 89) / 100000.0 as double))"
        " else named_struct('lon', cast(2.0 + (id * 7919 % 1300) / 100.0 as double),"
        "                   'lat', cast(44.0 + (id * 104729 % 1000) / 100.0 as double)) end"
    )
    return (
        spark.range(n)
        .select(F.col("id").alias("pid"), F.expr(mega).alias("p"))
        .select("pid", F.col("p.lon").alias("lon"), F.col("p.lat").alias("lat"))
    )


def test_salted_lut_join_matches_unsalted_under_shuffle(spark):
    """VERDICT r4 #5 (salt form): with the LUT too big to broadcast the
    cell-keyed join shuffles, and a megacity cell is a hot key. The
    n_salt path must (a) produce identical assignments, and (b) join on
    the composite (_cell, _salt) key so the hot cell spreads over
    n_salt partitions."""
    from pyspark.sql import functions as F

    from cosmospark.fixtures import lux_world
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut
    from cosmospark.ztypes import ZONES_RAW_SCHEMA

    zones = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
    pts = _skewed_pts(spark, 60_000)
    lut = zone_pixel_lut(zones, res=9).localCheckpoint()
    base = assign_zones_raster(pts, zones, res=9, lut=lut)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = assign_zones_raster(pts, zones, res=9, lut=lut, n_salt=8)
        plan = salted._jdf.queryExecution().toString()
        assert "_salt" in plan, "salted path must key the join on the salt"
        # broadcast is disabled, so the salted join must plan as a real
        # shuffle join (the dead `or True` form of this assertion never
        # checked anything — ADVICE r5)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        a = {(r["pid"], r["zone_id"]) for r in base.collect()}
        b = {(r["pid"], r["zone_id"]) for r in salted.collect()}
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_skewed_lut_shuffle_join_aqe_split(spark):
    """VERDICT r4 #5 (AQE form): on a 0.3-top-key-fraction distribution
    with broadcast disabled, AQE's OptimizeSkewedJoin must SPLIT the hot
    cell's partition (skew=true in the final adaptive plan) and the
    result must match the broadcast-LUT path."""
    from pyspark.sql import functions as F

    from cosmospark.fixtures import lux_world
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut
    from cosmospark.ztypes import ZONES_RAW_SCHEMA

    zones = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
    pts = _skewed_pts(spark, 300_000)
    lut = zone_pixel_lut(zones, res=9).localCheckpoint()
    base_n = assign_zones_raster(pts, zones, res=9, lut=lut).filter(
        F.col("zone_id") >= 0
    ).count()
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
    }
    try:
        # scale AQE's skew thresholds down to toy-data sizes (defaults
        # are 256 MB-scale; the mechanism under test is identical)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB"
        )
        df = assign_zones_raster(pts, zones, res=9, lut=lut).filter(
            F.col("zone_id") >= 0
        ).select("pid")
        # act on THIS DataFrame's own QueryExecution (count() would
        # build a separate one and leave this plan un-finalized)
        n = len(df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert n == base_n
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"no skew split in final plan:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_incremental_tile_lut_update_equals_full_rebuild(spark):
    """Mercator twin of the cell-LUT incremental test (r5): the same
    zone-dim edit through incremental_lut_update(grid=MERCATOR) must
    produce exactly the tile LUT a from-scratch rebuild produces, with
    an edit-local refold."""
    import pyspark.sql.functions as F

    from cosmospark import geom
    from cosmospark.queries import _lux_typed_zones
    from cosmospark.raster import (
        apply_lut_patch,
        incremental_lut_update,
        rasterize_zone_bitsets,
        zone_pixel_lut,
    )

    z = 7
    zones = _lux_typed_zones(spark)
    small = sorted(
        (
            (geom.area(geom.rows_to_rings(r["rings"])), r["id"])
            for r in zones.select("id", "rings").collect()
            if r["rings"]
        )
    )[:2]
    mod_id, rm_id = small[0][1], small[1][1]

    bitsets0 = rasterize_zone_bitsets(zones, z, MERCATOR).localCheckpoint()
    lut0 = zone_pixel_lut(zones, z, grid=MERCATOR).localCheckpoint()
    shifted = zones.filter(F.col("id") == mod_id).withColumn(
        "rings",
        F.expr(
            "transform(rings, r -> named_struct("
            "'poly', r.poly, 'ring', r.ring,"
            "'xs', transform(r.xs, x -> x + 0.3), 'ys', r.ys))"
        ),
    )
    zones_after = zones.filter(~F.col("id").isin([mod_id, rm_id])).unionByName(
        shifted
    )

    new_bitsets, affected, patch = incremental_lut_update(
        bitsets0, shifted, [rm_id], z, grid=MERCATOR
    )
    lut_inc = apply_lut_patch(lut0, affected, patch)
    lut_full = zone_pixel_lut(zones_after, z, grid=MERCATOR)

    def lut_set(df):
        return {(r["cell"], tuple(r["zone_arr"])) for r in df.collect()}

    assert lut_set(lut_inc) == lut_set(lut_full)
    assert affected.count() < lut0.count() / 2
