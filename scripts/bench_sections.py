"""Isolate the NON-registry bench.py sections (pip/raster/adaptive/
image) with the same methodology (warmup, scrub + JIT drain,
best-of-N against the same actions) without running the whole suite —
the bench_extra.py counterpart for sections that are not declared
queries. bench.py stays the artifact of record.

Usage: python scripts/bench_sections.py pip_assign pip_assign_partitioned ...
"""

from __future__ import annotations

import gc as _gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_runs = int(os.environ.get("COSMOSPARK_BENCH_RUNS", "3"))
    names = sys.argv[1:]

    from cosmospark.queries import _lux_typed_zones
    from cosmospark.session import get_spark

    spark = get_spark(
        app_name="cosmospark-bench-sections",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    def _scrub():
        spark.catalog.clearCache()
        _gc.collect()
        spark._jvm.System.gc()
        mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        last = mx.getTotalCompilationTime()
        deadline = time.time() + 25
        while time.time() < deadline:
            time.sleep(0.25)
            cur = mx.getTotalCompilationTime()
            if cur - last < 20:
                break
            last = cur

    zones = _lux_typed_zones(spark)
    n_pip = 2_000_000
    pts = spark.range(n_pip).select(
        F.col("id").alias("pid"),
        F.expr("cast(2.0 + (id * 7919 % 1300) / 100.0 as double)").alias("lon"),
        F.expr("cast(44.0 + (id * 104729 % 1000) / 100.0 as double)").alias("lat"),
    )
    mega = F.expr(
        "case when id % 10 < 7 then"
        " named_struct('lon', cast(2.0 + (id % 2) * 6.0 + (id * 7919 % 100) / 100.0 as double),"
        "              'lat', cast(44.0 + (id % 2) * 5.0 + (id * 104729 % 125) / 100.0 as double))"
        " else named_struct('lon', cast(2.0 + (id * 7919 % 1300) / 100.0 as double),"
        "                   'lat', cast(44.0 + (id * 104729 % 1000) / 100.0 as double)) end"
    )
    pts_skew = spark.range(n_pip).select(
        F.col("id").alias("pid"), mega.alias("p")
    ).select("pid", F.col("p.lon").alias("lon"), F.col("p.lat").alias("lat"))

    def _fns():
        from cosmospark.assign import (
            adaptive_cell_split,
            assign_zones,
            encode_and_assign,
            encode_points,
        )
        from cosmospark.cells import MERCATOR
        from cosmospark.raster import assign_zones_raster, zone_pixel_lut

        out = {}
        out["pip_assign"] = lambda: (
            encode_and_assign(pts, zones).filter(F.col("zone_id") >= 0).count()
        )
        part_df = assign_zones(
            encode_points(pts), zones, strategy="partitioned", id_col="pid"
        ).filter(F.col("zone_id") >= 0)
        out["pip_assign_partitioned"] = part_df.count
        out["adaptive_cell_split"] = lambda: (
            adaptive_cell_split(
                pts_skew, resolutions=(9, 13, 17), max_rows_per_cell=50_000
            )
            .groupBy("res", "cell")
            .count()
            .agg(F.count("*"), F.max("count"), F.sum("count"))
            .collect()[0]
        )

        # LUTs are built OUTSIDE the timed fn, exactly like bench.py
        # (zone-dim-only, amortized across fact tables); localCheckpoint
        # so _scrub's clearCache cannot evict them between runs
        lut = zone_pixel_lut(zones, res=9).localCheckpoint()
        out["pip_assign_raster"] = (
            assign_zones_raster(pts, zones, res=9, lut=lut)
            .filter(F.col("zone_id") >= 0)
            .count
        )
        lut_x = zone_pixel_lut(zones, res=9, exact=True).localCheckpoint()
        out["pip_assign_raster_exact"] = (
            assign_zones_raster(pts, zones, res=9, lut=lut_x, exact=True)
            .filter(F.col("zone_id") >= 0)
            .count
        )
        lut_t = zone_pixel_lut(zones, res=9, grid=MERCATOR).localCheckpoint()
        out["pip_assign_raster_tile"] = (
            assign_zones_raster(pts, zones, res=9, lut=lut_t, grid=MERCATOR)
            .filter(F.col("zone_id") >= 0)
            .count
        )
        out["lut_build"] = lambda: zone_pixel_lut(zones, res=9).count()
        out["lut_build_exact"] = lambda: zone_pixel_lut(
            zones, res=9, exact=True
        ).count()

        def _image():
            from cosmospark.imagejob import gen_images_parquet, image_pipeline

            img_path = os.environ.get(
                "COSMOSPARK_BENCH_IMG", "/tmp/cosmospark_bench_img_200k_v2.parquet"
            )
            if not os.path.exists(img_path):
                gen_images_parquet(img_path, 200_000, px=16)
            images = spark.read.parquet(img_path)
            return (
                image_pipeline(images, zones)
                .agg(F.count("*"), F.sum(F.col("pixels_ok").cast("long")))
                .collect()[0]
            )

        out["image_pipeline"] = _image
        return out

    fns = _fns()
    timings: dict[str, float] = {}
    for name in names:
        fn = fns[name]
        spark.sparkContext.setJobDescription(f"bench_sections: {name}")
        fn()  # warmup
        _scrub()
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
            _scrub()
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"queries": timings, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
