"""The four workloads. Each drives only public ``cosmospark`` functions.

A workload function takes a ``Run`` and fills ``run.metrics`` (timed
run: the end-to-end metrics) or ``run.layers`` (traced run: the
per-layer metrics), and ``run.checks`` with (attempted, failed) pairs.
Why each workload exists, and which layer metric should move which
end-to-end metric on it, is in README.md beside this file.
"""

from __future__ import annotations

import contextlib
import json
import os
import pickle
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import host
import inputs
from spans import SparkRest, Tracer, busy_s

# Fact-table sizes at scale 1. Each timed job runs several seconds on
# 4 cores, so the per-job median is taken over whole jobs of real size.
SIZES = {
    "assign_uniform": 1_000_000,
    "assign_skewed": 400_000,
    "image_ingest": 200_000,
}
# timed jobs per run even when they outlast --seconds: a warm
# assign_skewed job still varies by 10-20% from one to the next (stage
# stragglers, GC), so one job alone makes a noisy run. Three would steady
# it more, but the 70 runs of a sweep would then not fit in an hour.
MIN_JOBS = 2
SAMPLE = 2_000  # rows checked against the reference per fact run
DRIVER_MEM = "4g"  # fixed, so memory figures do not depend on the host's RAM
BATCH = 65_536  # rows in one Arrow batch (session.py maxRecordsPerBatch)
TRACED_GROUP = "perfbench-traced"


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, root: str, scale: float):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.scale = scale
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        self.inputs = os.path.join(root, ".perfbench_work", "inputs")
        self.tracer = Tracer() if traced else None
        self.metrics: dict[str, float] = {}  # end-to-end, by BENCHMARK.json name
        self.layers: dict[str, float] = {}  # per-layer, by BENCHMARK.json name
        self.checks: list[tuple[int, int]] = []
        self.info: dict = {"driver_memory": DRIVER_MEM, "ncpu": host.ncpu()}

    def rows(self) -> int:
        return max(4_000, int(SIZES[self.workload] * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def _session(run: Run):
    """Start the Spark session the way a user does, through
    ``cosmospark.get_spark``; scratch space stays inside the run dir."""
    from cosmospark.session import get_spark

    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: temp files in the run dir, and no
    # hsperfdata file, which HotSpot would write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    n = host.ncpu()
    t0 = time.perf_counter()
    with run.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{run.workload}", master=f"local[{n}]", extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run.info["session_start_s"] = start_s
    run.layers["session.start_s"] = start_s
    return spark, host.SparkProcs()


def lux_typed_rows() -> list[dict]:
    """The 198-zone lux world with zone types from its admin levels."""
    from cosmospark.fixtures import LUX_RULES_LEVELS, lux_world

    types = {int(level): t for _, level, t in LUX_RULES_LEVELS}
    return [dict(z, zone_type=types[z["admin_level"]]) for z in lux_world() if z["admin_level"] in types]


def _zones_df(spark, rows):
    from cosmospark.ztypes import ZONES_RAW_SCHEMA

    z = spark.createDataFrame(rows, schema=ZONES_RAW_SCHEMA).cache()
    z.count()
    return z


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _steady(run: Run, procs, job, prep=None):
    """Run ``job(i)`` until ``--seconds`` have passed and at least
    ``MIN_JOBS`` ran. → per-job walls, per-job process-tree CPU, and the
    workers' peak RSS over the window."""
    procs.reset_peaks()
    walls, cpus = [], []
    t_end = time.perf_counter() + run.seconds
    while len(walls) < MIN_JOBS or time.perf_counter() < t_end:
        if prep:
            prep(len(walls))
        c0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        job(len(walls))
        walls.append(time.perf_counter() - t0)
        cpus.append(host.tree_cpu_s() - c0)
    return walls, cpus, procs.worker_peak_mb()


def _end_to_end(run: Run, setup_s, walls, cpus, worker_mb, n_rows, out_bytes):
    job_s = statistics.median(walls)
    run.metrics.update(
        setup_s=setup_s,
        job_s=job_s,
        rows_per_s=n_rows / job_s,
        cpu_s=statistics.median(cpus),
        worker_peak_rss_mb=worker_mb,
    )
    run.info.update(job_walls_s=walls, job_cpu_s=cpus, out_bytes_per_row=out_bytes / n_rows)


def _sample_idx(run: Run, n: int) -> np.ndarray:
    rng = np.random.default_rng([run.seed, 99])
    return np.sort(rng.choice(n, size=min(SAMPLE, n), replace=False))


def _read_points(path: str):
    t = pq.read_table(path, columns=["pid", "lon", "lat"])
    return (t.column("pid").to_numpy(), t.column("lon").to_numpy(), t.column("lat").to_numpy())


def _got_zones(path: str, pids: np.ndarray) -> dict[int, int]:
    t = pq.read_table(path, columns=["pid", "zone_id"])
    p = t.column("pid").to_numpy()
    m = np.isin(p, pids)
    return dict(zip(p[m].tolist(), t.column("zone_id").to_numpy()[m].tolist()))


# -- traced-run helpers ----------------------------------------------------


def _replay_kernels(run: Run, idx, lon, lat, n_rows: int) -> None:
    """Replay the fused task's numpy kernels on one Arrow batch of the
    same input on the driver, and scale the times to the job's rows
    (task-seconds). Counts are per row of the batch."""
    from cosmospark import cells, geom
    from cosmospark.assign import DEFAULT_TILE_Z

    lon, lat = lon[:BATCH], lat[:BATCH]
    k = n_rows / len(lon)
    best = {}

    def timed(name, fn, reps=3):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            ts.append(time.perf_counter() - t0)
        best[name] = min(ts)
        return out

    with run.span("replay.cells"):
        timed("encode", lambda: (cells.cell_encode(lon, lat, 9), cells.tile_encode(lon, lat, DEFAULT_TILE_Z)))
    with run.span("replay.assign"):
        timed("assign", lambda: idx.assign(lon, lat))
    pts, zs, full = idx.candidates(lon, lat)
    todo = np.nonzero(~full)[0]

    def pip_all():
        for zid in np.unique(zs[todo]):
            rows = todo[zs[todo] == zid]
            geom.pip_covers(lon[pts[rows]], lat[pts[rows]], idx.geoms[int(zid)])

    with run.span("replay.pip"):
        timed("pip", pip_all, reps=1 if len(todo) > 200_000 else 3)
    run.layers.update({
        "cells.encode_s": best["encode"] * k,
        "assign.candidates_per_row": len(pts) / len(lon),
        "assign.full_frac": float(full.mean()) if len(full) else 0.0,
        "assign.kernel_s": best["assign"] * k,
        "geom.pip_tests_per_row": len(todo) / len(lon),
        "geom.pip_s": best["pip"] * k,
    })


def _index_layers(run: Run, spark, zones):
    """Build the zone index as the engine does and record its driver
    time (less the Spark collect job inside it) and pickled size."""
    from cosmospark.assign import build_zone_index

    rest = SparkRest(spark)
    spark.sparkContext.setJobGroup("perfbench-index", "index build")
    t0 = time.perf_counter()
    with run.span("assign.index_build"):
        idx = build_zone_index(zones)
    wall = time.perf_counter() - t0
    collect_s = busy_s(rest.jobs("perfbench-index"))
    run.layers["assign.index_build_s"] = wall
    run.layers["assign.index_bytes"] = float(len(pickle.dumps(idx)))
    run.info["index_driver_s"] = max(0.0, wall - collect_s)
    return idx


def _spark_layers(run: Run, spark, procs, n_rows: int, cogroup: bool = False) -> float:
    """Per-layer figures of the traced job group from the REST API.
    → seconds during which the group's Spark jobs ran."""
    rest = SparkRest(spark)
    jobs = rest.jobs(TRACED_GROUP)
    stages = rest.stages(jobs)
    sql = rest.sql_metrics(jobs)

    def sql_sum(metric):
        return sum(v for k, v in sql.items() if k.endswith("/" + metric))

    longest = max(stages, key=lambda s: s["executorRunTime"], default=None)
    skew = 0.0
    if longest is not None:
        q = rest.task_summary(longest)["executorRunTime"]
        skew = q[1] / q[0] if q[0] else 0.0
    buckets = max_bucket = 0.0
    if cogroup:
        # the refine stage: the heaviest stage that reads a shuffle
        reads = [s for s in stages if s["shuffleReadRecords"] > 0]
        if reads:
            st = max(reads, key=lambda s: s["executorRunTime"])
            buckets = float(st["numTasks"])
            max_bucket = float(rest.task_summary(st)["shuffleReadMetrics"]["readRecords"][1])
    run.info["stages"] = [
        {k: st[k] for k in ("stageId", "name", "numTasks", "executorRunTime", "shuffleReadRecords",
                            "shuffleWriteBytes", "submissionTime", "completionTime")}
        for st in stages
    ]
    run.layers.update({
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
        "task.max_over_median": skew,
        "exchange.bytes_per_row": sum(s["shuffleWriteBytes"] for s in stages) / n_rows,
        "exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "python.start_s": (
            sql_sum("time to start Python workers") + sql_sum("time to initialize Python workers")),
        "python.run_s": sql_sum("time to run Python workers"),
        "arrow.sent_bytes_per_row": sql_sum("data sent to Python workers") / n_rows,
        "arrow.returned_bytes_per_row": sql_sum("data returned from Python workers") / n_rows,
        "scan.s": sql_sum("scan time"),
        "scan.bytes_per_row": sum(s["inputBytes"] for s in stages) / n_rows,
        "jvm.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "jvm.peak_rss_mb": procs.jvm_peak_mb(),
        "assign.refine_buckets": buckets,
        "assign.refine_max_bucket_rows": max_bucket,
    })
    return busy_s(jobs)


def _traced_job(run: Run, spark, job, untraced_s: float) -> float:
    spark.sparkContext.setJobGroup(TRACED_GROUP, "traced job")
    t0 = time.perf_counter()
    with run.span("job"):
        job("traced")
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench", "untraced")
    run.layers["trace.job_s"] = wall
    run.layers["trace.overhead_s"] = wall - untraced_s
    return wall


def _untraced_s(job) -> float:
    t0 = time.perf_counter()
    job("untraced")
    return time.perf_counter() - t0


def _fact_trace(run, spark, procs, job, n_rows, idx, lon, lat, index_in_job, cogroup=False):
    """Traced run of a fact workload: the untraced job for the overhead
    figure, the traced job with its REST breakdown, then kernel replays.
    The job's driver wall is accounted as the time its Spark jobs ran,
    plus, where the job builds the index itself, the index build's
    driver-side time; what is left is driver time between Spark jobs."""
    untraced = _untraced_s(job)
    wall = _traced_job(run, spark, job, untraced)
    spark_s = _spark_layers(run, spark, procs, n_rows, cogroup=cogroup)
    accounted = spark_s + (run.info["index_driver_s"] if index_in_job else 0.0)
    run.layers["trace.accounted_frac"] = accounted / wall
    run.info["driver_unaccounted_s"] = wall - accounted
    _replay_kernels(run, idx, lon, lat, n_rows)


# -- workloads -------------------------------------------------------------


def assign_uniform(run: Run) -> None:
    from cosmospark import assign

    n = run.rows()
    src, _ = inputs.cached(run.inputs, "uniform", f"s{run.seed}-n{n}", inputs.uniform_points,
                           run.seed, n, 2 * host.ncpu())
    pid, lon, lat = _read_points(src)
    t0 = time.perf_counter()
    spark, procs = _session(run)
    rows = lux_typed_rows()
    zones = _zones_df(spark, rows)
    points = spark.read.parquet(src)

    def job(i):
        out = run.path("out", f"assign-{i}")
        return assign.write_assignments(assign.encode_and_assign(points, zones), out)

    def noop_job(i):
        assign.encode_and_assign(points, zones).write.format("noop").mode("overwrite").save()

    def prep(i):
        shutil.rmtree(run.path("out", f"assign-{i - 1}"), ignore_errors=True)

    job("warmup")
    setup_s = time.perf_counter() - t0
    if run.traced:
        idx = _index_layers(run, spark, zones)
        _fact_trace(run, spark, procs, job, n, idx, lon, lat, index_in_job=True)
        # the sink's own cost: the traced job less the same job into
        # Spark's no-op sink
        last = run.path("out", "assign-traced")
        run.layers["sink.s"] = max(0.0, run.layers["trace.job_s"] - _untraced_s(noop_job))
        run.layers["sink.bytes_per_row"] = _du(last) / n
    else:
        walls, cpus, wmb = _steady(run, procs, job, prep)
        last = run.path("out", f"assign-{len(walls) - 1}")
        _end_to_end(run, setup_s, walls, cpus, wmb, n, _du(last))
    # check: the written table against the rectangle reference on a sample
    s = _sample_idx(run, n)
    want = dict(zip(pid[s].tolist(), checks.rect_reference(rows, lon[s], lat[s]).tolist()))
    run.checks.append(checks.compare(_got_zones(last, pid[s]), want))
    with open(os.path.join(last, "_ASSIGN_MANIFEST.json")) as fh:
        run.checks.append(checks.equal(json.load(fh)["n_rows"], n))
    spark.stop()


def assign_skewed(run: Run) -> None:
    from pyspark.sql import Observation, functions as F

    from cosmospark import assign
    from cosmospark.fixtures import detailed_lux_zones

    n = run.rows()
    src, meta = inputs.cached(run.inputs, "megacity", f"s{run.seed}-n{n}", inputs.megacity_points,
                           run.seed, n, 2 * host.ncpu())
    run.info["hot_communes"] = meta["hot_communes"]
    pid, lon, lat = _read_points(src)
    s = _sample_idx(run, n)
    sample = pid[s].tolist()
    t0 = time.perf_counter()
    spark, procs = _session(run)
    rows = detailed_lux_zones()
    zones = _zones_df(spark, rows)
    points = spark.read.parquet(src)
    seen = {}

    def job(i):
        # the check rides on the timed job as observed metrics, so the
        # sink stays Spark's no-op sink and no extra job runs
        obs = Observation(f"check-{i}")
        assigned = assign.assign_zones(assign.encode_points(points), zones, strategy="partitioned", id_col="pid")
        assigned.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(F.col("pid").isin(sample), F.struct("pid", "zone_id"))).alias("s"),
        ).write.format("noop").mode("overwrite").save()
        seen["obs"] = obs

    job("warmup")
    setup_s = time.perf_counter() - t0
    if run.traced:
        idx = _index_layers(run, spark, zones)
        _fact_trace(run, spark, procs, job, n, idx, lon, lat, index_in_job=False, cogroup=True)
    else:
        walls, cpus, wmb = _steady(run, procs, job)
        _end_to_end(run, setup_s, walls, cpus, wmb, n, 0)
    # check: row count = input, and a sample against a brute-force ray cast
    r = seen["obs"].get
    run.checks.append(checks.equal(r["n"], n))
    want = dict(zip(sample, checks.raycast_reference(rows, lon[s], lat[s]).tolist()))
    run.checks.append(checks.compare({x["pid"]: x["zone_id"] for x in r["s"]}, want))
    spark.stop()


def image_ingest(run: Run) -> None:
    from pyspark.sql import Observation, functions as F

    from cosmospark.assign import build_zone_index
    from cosmospark.imagejob import image_pipeline

    n = run.rows()
    src, _ = inputs.cached(run.inputs, "images", f"s{run.seed}-n{n}", inputs.images,
                           run.seed, n, 2 * host.ncpu())
    t0 = time.perf_counter()
    spark, procs = _session(run)
    rows = lux_typed_rows()
    zones = _zones_df(spark, rows)
    idx = build_zone_index(zones)
    images = spark.read.parquet(src)

    seen = {}

    def job(i):
        obs = Observation(f"check-{i}")
        image_pipeline(images, zones, index=idx).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum((~(F.col("pixels_ok") & F.col("phash_ok") & F.col("caption_ok"))).cast("long")).alias("bad"),
        ).write.format("noop").mode("overwrite").save()
        seen["obs"] = obs

    job("warmup")
    setup_s = time.perf_counter() - t0
    if run.traced:
        _index_layers(run, spark, zones)
        _, lon, lat = _read_points(src)
        _fact_trace(run, spark, procs, job, n, idx, lon, lat, index_in_job=False)
        _replay_codecs(run, src, n)
    else:
        walls, cpus, wmb = _steady(run, procs, job)
        _end_to_end(run, setup_s, walls, cpus, wmb, n, 0)
    # check: every row's pixels, phash and caption verified, on the last job
    r = seen["obs"].get
    run.checks.append(checks.equal(r["n"], n))
    run.checks.append((n, int(r["bad"] or 0)))
    spark.stop()


def _replay_codecs(run: Run, src: str, n_rows: int) -> None:
    """Replay the pipeline's codec kernels on one row group of the input."""
    from cosmospark import codecs

    f = sorted(p for p in os.listdir(src) if p.endswith(".parquet"))[0]
    t = pq.ParquetFile(os.path.join(src, f)).read_row_group(0)
    fmt = np.asarray(t.column("fmt").to_pylist())
    blobs = t.column("bytes").to_pylist()
    pid = t.column("pid").to_numpy()
    px = inputs.IMAGE_PX
    raw = [blobs[i] for i in np.nonzero(fmt == "raw")[0]]
    lossy = [blobs[i] for i in np.nonzero(fmt == "lossy")[0]]
    expected = inputs.expected_pixels(pid)
    k = n_rows / len(pid)
    with run.span("replay.codecs.decode"):
        t0 = time.perf_counter()
        codecs.decode_raw_batch(raw, px, px)
        dec = codecs.decode_lossy_batch(lossy, px, px)
        codecs.psnr_batch(expected[fmt == "lossy"], dec)
        decode_s = time.perf_counter() - t0
    with run.span("replay.codecs.phash"):
        t0 = time.perf_counter()
        codecs.phash64_batch(expected)
        phash_s = time.perf_counter() - t0
    run.layers["codecs.decode_s"] = decode_s * k
    run.layers["codecs.phash_s"] = phash_s * k


def zone_build(run: Run) -> None:
    from cosmospark import pbf, pipeline
    from cosmospark.fixtures import LUX_RULES_LEVELS
    from cosmospark.typer import make_rules

    src, meta = inputs.cached(run.inputs, "pbf", f"s{run.seed}", inputs.lux_pbf, run.seed)
    path = os.path.join(src, meta["file"])
    n = meta["rows"]
    run.info["nodes_per_block"] = meta["nodes_per_block"]
    t0 = time.perf_counter()
    spark, procs = _session(run)
    rules = make_rules(spark, LUX_RULES_LEVELS)
    setup_s = time.perf_counter() - t0

    def job(i):
        out = run.path("out", f"zones-{i}.jsonl")
        pipeline.write_zones(pbf.build_zones_from_pbf(spark, path, rules), out)
        # the build caches its intermediate tables for the session; free
        # them so that repeated builds in the traced run start equal
        spark.catalog.clearCache()
        return out

    if run.traced:
        job("cold")
        untraced = _untraced_s(job)
        out = _traced_zone_build(run, spark, procs, path, rules, n, untraced)
    else:
        # one cold build per fresh process: what a `generate` user pays
        procs.reset_peaks()
        c0 = host.tree_cpu_s()
        t1 = time.perf_counter()
        out = job(0)
        wall = time.perf_counter() - t1
        cpu = host.tree_cpu_s() - c0
        _end_to_end(run, setup_s, [wall], [cpu], procs.worker_peak_mb(), n, _du(out))
    (att, bad), info = checks.zone_jsonl(out)
    run.info["zones"] = info
    run.checks.append((att, bad))
    spark.stop()


def _traced_zone_build(run, spark, procs, path, rules, n, untraced_s) -> str:
    """The zone build one layer at a time, each step's output
    materialised inside its span so that the span holds that layer's
    own work. Mirrors ``pipeline.build_zones`` without its checkpoint
    bookkeeping."""
    from cosmospark import hierarchy, labels, pbf, pipeline, typer

    def done(df):
        # a local checkpoint, not cache(): it also cuts the lineage, so
        # the next step's plan (and the UI's plan string) stays small
        return df.localCheckpoint(eager=True)

    spark.sparkContext.setJobGroup(TRACED_GROUP, "traced zone build")
    out = run.path("out", "zones-traced.jsonl")
    steps = {}

    def step(name, fn):
        t0 = time.perf_counter()
        with run.span(name):
            r = fn()
        steps[name] = time.perf_counter() - t0
        return r

    t0 = time.perf_counter()
    with run.span("job"):
        t = step("pbf.read", lambda: {k: done(v) for k, v in pbf.read_osm_pbf(spark, path).items()})
        raw = step("assembly", lambda: done(pipeline.extract_zones_from_osm(
            t["relations"], t["rel_members"], t["ways"], t["nodes"], t["rel_node_members"])))
        zones = step("pipeline.prep", lambda: done(labels.with_zip_codes(
            hierarchy.with_bbox_and_area(pipeline.extract_zone_fields(raw)))))
        inc = step("hierarchy.inclusions", lambda: done(hierarchy.find_inclusions(zones)))
        typed = step("typer", lambda: done(typer.type_zones(
            typer.assign_country(zones, inc, rules), inc, rules)))
        parented = step("hierarchy.parents", lambda: done(hierarchy.build_hierarchy(typed, inc)))
        final = step("labels", lambda: done(typer.clean_untagged_zones(
            labels.compute_labels(labels.compute_names(parented)))))
        step("sink", lambda: pipeline.write_zones(final, out))
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench", "untraced")
    run.layers["trace.job_s"] = wall
    run.layers["trace.overhead_s"] = wall - untraced_s
    run.layers["trace.accounted_frac"] = sum(steps.values()) / wall
    _spark_layers(run, spark, procs, n)
    unrefined = hierarchy.find_inclusions(zones, refine=False).count()
    run.layers.update({
        "pbf.read_s": steps["pbf.read"],
        "assembly.s": steps["assembly"],
        "pipeline.prep_s": steps["pipeline.prep"],
        "hierarchy.inclusions_s": steps["hierarchy.inclusions"],
        "hierarchy.inclusion_yield": inc.count() / max(unrefined, 1),
        "typer.s": steps["typer"],
        "hierarchy.parents_s": steps["hierarchy.parents"],
        "labels.s": steps["labels"],
        "sink.s": steps["sink"],
        "sink.bytes_per_row": _du(out) / n,
    })
    return out


WORKLOADS = {
    "assign_uniform": assign_uniform,
    "assign_skewed": assign_skewed,
    "zone_build": zone_build,
    "image_ingest": image_ingest,
}
