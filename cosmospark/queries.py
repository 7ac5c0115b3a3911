"""Driver-contract queries: each operator from SURVEY.md §2 exposed as a
(spark, sf_dir) → DataFrame callable plus a DuckDB oracle SQL string.

Determinism rules (the driver hash-compares values):
* money sums in integer cents (BIGINT), never float sums;
* float outputs rounded after exact/sequential computation;
* every computed column aliased identically in Spark and SQL;
* synthesized geo inputs built from *shared integer arithmetic* (both
  engines compute the same doubles bit-for-bit) — no RNG.
"""

from __future__ import annotations

import functools
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from cosmospark import cells, s2
from cosmospark.assign import assign_zones, encode_points, rollup_cells
from cosmospark.fixtures import four_squares_zones, lux_world
from cosmospark.hierarchy import build_hierarchy, find_inclusions, with_bbox_and_area
from cosmospark.session import local_table
from cosmospark.ztypes import TYPE_RANK, ZONES_RAW_SCHEMA

# ---------------------------------------------------------------------------
# shared synthetic geo inputs (identical arithmetic in Spark + DuckDB)

N_PTS = 4000

# level → zone_type for the lux world (LUX_RULES_LEVELS)
_LEVEL_TYPE = {2: "country", 6: "state_district", 8: "city", 9: "suburb"}


def _pts_df(spark: SparkSession) -> DataFrame:
    return spark.range(N_PTS).select(
        F.col("id").alias("pid"),
        F.expr("2.0 + (id * 7919 % 1300) / 100.0").alias("lon"),
        F.expr("44.0 + (id * 104729 % 1000) / 100.0").alias("lat"),
    )


PTS_SQL = (
    f"SELECT i AS pid, 2.0 + (i * 7919 % 1300) / 100.0 AS lon, "
    f"44.0 + (i * 104729 % 1000) / 100.0 AS lat FROM range({N_PTS}) t(i)"
)


@functools.lru_cache(maxsize=4)
def _lux_typed_rows() -> tuple:
    """lux_world zones with types resolved from admin_level (drops the
    two untyped level-10 rows) — hashable tuple for lru_cache."""
    rows = []
    for z in lux_world():
        zt = _LEVEL_TYPE.get(z["admin_level"])
        if zt is None:
            continue
        z = dict(z)
        z["zone_type"] = zt
        rows.append(z)
    return tuple((r["id"], r) for r in rows)


# (session, its lux zone table) of the latest _lux_typed_zones call
_LUX_ZONES: tuple = (None, None)


def _lux_typed_zones(spark: SparkSession) -> DataFrame:
    """The typed lux zones as one local table per session: every query
    assigns against the same DataFrame object, so the session's first
    exact assign builds the zone index (``assign.zone_dim``) and every
    later one reuses it."""
    global _LUX_ZONES
    held, zones = _LUX_ZONES
    if held is not spark:
        zones = local_table(spark, [r for _, r in _lux_typed_rows()], ZONES_RAW_SCHEMA)
        _LUX_ZONES = (spark, zones)
    return zones


def _zones_values_sql() -> str:
    """The typed lux zones as a SQL VALUES table (rectangles only):
    z(id, minx, miny, maxx, maxy, rank, area, ztype)."""
    vals = []
    for _, r in _lux_typed_rows():
        b = r["bbox"]
        area = (b["maxx"] - b["minx"]) * (b["maxy"] - b["miny"])
        vals.append(
            f"({r['id']}, {b['minx']!r}, {b['miny']!r}, {b['maxx']!r}, {b['maxy']!r}, "
            f"{TYPE_RANK[r['zone_type']]}, {area!r}, '{r['zone_type']}')"
        )
    return (
        "(VALUES " + ", ".join(vals) + ") AS z(id, minx, miny, maxx, maxy, rank, area, ztype)"
    )


def _pip_oracle_core() -> str:
    """Shared oracle CTE: pid → (zone_id, ztype) via rectangle PIP +
    (rank, area, id) argmin — the relational mirror of ZoneIndex.assign."""
    return f"""
WITH pts AS ({PTS_SQL}),
zones AS (SELECT * FROM {_zones_values_sql()}),
cand AS (
  SELECT p.pid, z.id, z.rank, z.area, z.ztype
  FROM pts p JOIN zones z
    ON p.lon BETWEEN z.minx AND z.maxx AND p.lat BETWEEN z.miny AND z.maxy
),
ranked AS (
  SELECT pid, id, ztype,
         row_number() OVER (PARTITION BY pid ORDER BY rank, area, id) AS rn
  FROM cand
),
assigned AS (SELECT pid, id AS zone_id, ztype FROM ranked WHERE rn = 1)
"""


# ---------------------------------------------------------------------------
# relational operators over the driver's TPC-H-ish tables


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _widen_if_narrow(spark, df, *cols):
    """CONDITIONAL input-splittability guard (VERDICT r5 #2).

    Hash/fold work that sits directly on the scan stage runs exactly as
    wide as the scan's file splits; parquet splits at ROW-GROUP
    granularity, so a single-row-group file caps a compute-dense stage
    at 1-wide execution regardless of cores (the image_pipeline r4
    lesson). The r5 guards repartitioned unconditionally — correct for
    the one-row-group bench fixture, but a corpus-wide text exchange
    that a many-file lake input pays for nothing (AQE coalesces
    partition COUNT afterwards; it never removes the Exchange — at
    100 TB that's a multi-TB shuffle bought for zero parallelism gain).

    So: inspect the planned scan's split count (driver-side metadata
    only — no job runs) and repartition ONLY when the scan is narrower
    than half the cores. A real lake input scans wide and skips the
    exchange entirely; the durable fix remains write-side
    (bucketing.write_splittable sizes row groups to task granularity).
    """
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= par:
        return df
    return df.repartition(par, *cols)


def q_pricing_summary(spark, sf_dir):
    """A2/P6-style grouped aggregation (TPC-H Q1 shape) with exact
    integer-cent sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("sum_base_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * F.round(F.col("l_discount") * 100).cast("bigint")
            ).alias("disc_weight"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_weight,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_stats_counts(spark, sf_dir):
    """A2: counts + null-skipping count(col) (model.rs:41-44 analog)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custs"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


SQL_STATS = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_custs,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_merge_offsets(spark, sf_dir):
    """S7/J8: shard concat with running max_id+1 re-offsetting
    (src/merger.rs:35-56) expressed over nation split into two shards."""
    n = _t(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey") < 2).select(
        F.col("n_nationkey").alias("id"), "n_name"
    )
    b = n.filter(F.col("n_regionkey") >= 2).select(
        F.col("n_nationkey").alias("id"), "n_name"
    )
    mx = a.agg(F.max("id")).collect()[0][0]
    off = (mx if mx is not None else -1) + 1
    merged = a.unionByName(b.withColumn("id", F.col("id") + F.lit(off)))
    return merged.orderBy("id")


SQL_MERGE = """
WITH a AS (SELECT n_nationkey AS id, n_name FROM nation WHERE n_regionkey < 2),
b AS (SELECT n_nationkey AS id, n_name FROM nation WHERE n_regionkey >= 2),
off AS (SELECT COALESCE(MAX(id), -1) + 1 AS v FROM a)
SELECT id, n_name FROM a
UNION ALL
SELECT b.id + off.v AS id, n_name FROM b, off
ORDER BY id
"""


def q_country_maxby(spark, sf_dir):
    """J3/A3: max_by — richest customer name per nation
    (country_finder.rs:41-48 shape)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.max_by("c_name", F.struct(F.col("c_acctbal"), F.col("c_custkey"))).alias("top_cust"))
        .orderBy("n_name")
    )


SQL_MAXBY = """
SELECT n_name, c_name AS top_cust FROM (
  SELECT n_name, c_name,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
WHERE rn = 1 ORDER BY n_name
"""


def q_parent_minby(spark, sf_dir):
    """J6/A4: min_by with struct tie-break (hierarchy_builder.rs:127) —
    cheapest part name per brand."""
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.min_by("p_name", F.struct(F.col("p_retailprice"), F.col("p_partkey"))).alias("cheapest"))
        .orderBy("p_brand")
    )


SQL_MINBY = """
SELECT p_brand, p_name AS cheapest FROM (
  SELECT p_brand, p_name,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice, p_partkey) AS rn
  FROM part) WHERE rn = 1 ORDER BY p_brand
"""


def q_topk_per_group(spark, sf_dir):
    """W2/O2: top-1-with-predicate as row_number over a window
    (additional_zones.rs:102-120 shape) — top-3 customers per nation."""
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_nationkey", "rk", "c_custkey")
        .orderBy("c_nationkey", "rk")
    )


SQL_TOPK = """
SELECT c_nationkey, rk, c_custkey FROM (
  SELECT c_nationkey, c_custkey,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer) WHERE rk <= 3 ORDER BY c_nationkey, rk
"""


def q_dense_ids(spark, sf_dir):
    """W1: dense id assignment in stable key order (src/lib.rs:77,86 —
    BTreeMap order → explicit orderBy here)."""
    from pyspark.sql.window import Window

    n = _t(spark, sf_dir, "nation")
    return n.select(
        (F.row_number().over(Window.orderBy("n_name")) - 1).alias("dense_id"), "n_name"
    ).orderBy("dense_id")


SQL_DENSE = """
SELECT row_number() OVER (ORDER BY n_name) - 1 AS dense_id, n_name
FROM nation ORDER BY dense_id
"""


def q_hierarchy_label(spark, sf_dir):
    """W3/A5-lite: 3-level chain labels via joins (customer → nation →
    region), concat_ws like create_lbl (zone_ext.rs:365-375)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            F.concat_ws(", ", "c_name", "n_name", "r_name").alias("label"),
        )
        .orderBy("c_custkey")
    )


SQL_LABEL = """
SELECT c_custkey, concat_ws(', ', c_name, n_name, r_name) AS label
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_custkey < 100 ORDER BY c_custkey
"""


def q_group_collect(spark, sf_dir):
    """A1: grouped collect (additional_zones.rs:74-83) — deterministic as
    a sorted joined string."""
    s = _t(spark, sf_dir, "supplier")
    return (
        s.groupBy("s_nationkey")
        .agg(F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias("members"))
        .orderBy("s_nationkey")
    )


SQL_COLLECT = """
SELECT s_nationkey, string_agg(s_name, '|' ORDER BY s_name) AS members
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
"""


def q_json_extract(spark, sf_dir):
    """Tag-map access analog (P1 tag munging): JSON field extraction over
    events.props."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        )
        .filter(F.col("k_val") > 50)
        .orderBy("event_id")
    )


SQL_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
ORDER BY event_id
"""


def q_zip_format(spark, sf_dir):
    """P5: the zip-code label formatter (zone_ext.rs:385-395) applied to
    word prefixes of documents."""
    d = _t(spark, sf_dir, "documents")
    words = "slice(split(text, ' '), 1, least(size(split(text, ' ')), 3))"
    fmt = (
        f"case when size({words}) = 0 then '' "
        f"when size({words}) = 1 then concat(' (', {words}[0], ')') "
        f"else concat(' (', {words}[0], '-', element_at({words}, -1), ')') end"
    )
    return d.select("doc_id", F.expr(fmt).alias("zip_label")).orderBy("doc_id")


SQL_ZIP = """
WITH w AS (SELECT doc_id, string_split(text, ' ')[1:3] AS ws FROM documents)
SELECT doc_id,
  CASE WHEN len(ws) = 0 THEN ''
       WHEN len(ws) = 1 THEN concat(' (', ws[1], ')')
       ELSE concat(' (', ws[1], '-', ws[len(ws)], ')') END AS zip_label
FROM w ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# geo operators (the engine itself vs relational oracles)


def q_geo_pip_assign(spark, sf_dir):
    """J2 — THE flagship operator: point-in-polygon zone assignment of
    the synthesized point set against the 198-zone lux world, via the
    broadcast ZoneIndex + Arrow-batch numpy kernel."""
    zones = _lux_typed_zones(spark)
    out = assign_zones(_pts_df(spark), zones)
    return out.select("pid", "zone_id").orderBy("pid")


def sql_geo_pip_assign():
    return _pip_oracle_core() + "SELECT pid, zone_id FROM assigned ORDER BY pid"


def q_geo_zone_counts(spark, sf_dir):
    """J2+A2: assignment → per-zone-type counts (grouped agg on the
    assignment output)."""
    zones = _lux_typed_zones(spark)
    out = assign_zones(_pts_df(spark), zones)
    ztype = zones.select(F.col("id").alias("zone_id"), F.col("zone_type").alias("ztype"))
    return (
        out.join(F.broadcast(ztype), "zone_id")
        .groupBy("ztype")
        .agg(F.count("*").alias("n"))
        .orderBy("ztype")
    )


def sql_geo_zone_counts():
    return (
        _pip_oracle_core()
        + "SELECT ztype, COUNT(*) AS n FROM assigned GROUP BY ztype ORDER BY ztype"
    )


def q_geo_cell_encode(spark, sf_dir):
    """The H3-style cell encoder (numpy path) vs the same Morton
    arithmetic in SQL — per-cell point counts at res 7."""
    enc = encode_points(_pts_df(spark), resolutions=(7,), tile_z=12)
    return enc.groupBy(F.col("cell_r7").alias("cell")).agg(F.count("*").alias("n")).orderBy("cell")


def sql_geo_cell_encode():
    expr = cells.sql_cell_encode("lon", "lat", 7)
    return (
        f"WITH pts AS ({PTS_SQL}) SELECT {expr} AS cell, COUNT(*) AS n "
        f"FROM pts GROUP BY 1 ORDER BY cell"
    )


def q_geo_multires_rollup(spark, sf_dir):
    """The hierarchical (cell, zone_type) rollup: finest-level agg then
    prefix-shift reduces (never rescans the fact side)."""
    zones = _lux_typed_zones(spark)
    pts = encode_points(_pts_df(spark), resolutions=(4, 7, 9), tile_z=12)
    assigned = assign_zones(pts, zones)
    ztype = zones.select(F.col("id").alias("zone_id"), F.col("zone_type").alias("zone_type"))
    assigned = assigned.join(F.broadcast(ztype), "zone_id")
    roll = rollup_cells(assigned, resolutions=(4, 7, 9))
    return (
        roll.groupBy("res", "zone_type")
        .agg(F.sum("n").alias("n"))
        .orderBy("res", "zone_type")
    )


def sql_geo_multires_rollup():
    parts = []
    for res in (4, 7, 9):
        expr = cells.sql_cell_encode("lon", "lat", res)
        parts.append(
            f"SELECT {res} AS res, ztype AS zone_type, {expr} AS cell "
            f"FROM assigned JOIN pts USING (pid)"
        )
    union = " UNION ALL ".join(parts)
    return (
        _pip_oracle_core()
        + f", cells3 AS ({union}) "
        "SELECT res, zone_type, COUNT(*) AS n FROM cells3 "
        "GROUP BY res, zone_type ORDER BY res, zone_type"
    )


# -- S2-style spherical cells (north-star "H3 cells with S2 fallback").
# Global deterministic point grid: exercises all 6 cube faces, the
# polar caps the planar quadkey distorts, and the antimeridian.
# Integer-modulo arithmetic then exact /100 division — identical in
# both engines; `range(n) t(i)` is valid Spark SQL and DuckDB.
S2_PTS_SQL = (
    f"SELECT i AS pid, -180.0 + (i * 7919 % 36000) / 100.0 AS lon, "
    f"-90.0 + (i * 104729 % 18000) / 100.0 AS lat FROM range({N_PTS}) t(i)"
)
S2_RES = 9


def q_geo_s2_encode(spark, sf_dir):
    """S2-style cell encode (cube face + quadratic ST + Hilbert) as one
    generated SQL chain — the SAME text the DuckDB oracle runs, so the
    driver's hash compare exercises the full face/ST/Hilbert arithmetic
    cross-engine. Plan: one WholeStageCodegen span over the res-level
    projection stack (state is the only chained value — linear, not
    exponential, inlining), then a single count exchange."""
    q = s2.sql_s2_encode_from(S2_PTS_SQL, "lon", "lat", S2_RES)
    return spark.sql(
        f"SELECT cell, COUNT(*) AS n FROM ({q}) GROUP BY cell ORDER BY cell"
    )


def sql_geo_s2_encode():
    q = s2.sql_s2_encode_from(S2_PTS_SQL, "lon", "lat", S2_RES)
    return f"SELECT cell, COUNT(*) AS n FROM ({q}) GROUP BY cell ORDER BY cell"


def q_geo_s2_rollup(spark, sf_dir):
    """Multi-resolution S2 rollup via the prefix property: encode ONCE
    at res 9, aggregate, then derive res 6 and 4 by integer shift over
    the already-aggregated table (the rollup_cells pattern — the fact
    side is scanned exactly once). The oracle re-encodes each res
    directly from lon/lat, so a green hash is a cross-engine proof that
    Hilbert truncation == coarser encode (cell >> 2k nests through the
    face bits too)."""
    q = s2.sql_s2_encode_from(S2_PTS_SQL, "lon", "lat", S2_RES)
    base = (
        spark.sql(f"SELECT cell, COUNT(*) AS n FROM ({q}) GROUP BY cell")
        .withColumn("res", F.lit(S2_RES))
        .localCheckpoint(eager=True)  # re-read by each coarser reduce + union
    )
    out, prev, finest = base, base, S2_RES
    for coarser in (6, 4):
        prev = (
            prev.withColumn("cell", F.shiftright(F.col("cell"), 2 * (finest - coarser)))
            .groupBy("cell")
            .agg(F.sum("n").alias("n"))
            .withColumn("res", F.lit(coarser))
        )
        finest = coarser
        out = out.unionByName(prev)
    return out.select("res", "cell", "n").orderBy("res", "cell")


def sql_geo_s2_rollup():
    parts = []
    for res in (4, 6, S2_RES):
        q = s2.sql_s2_encode_from(S2_PTS_SQL, "lon", "lat", res)
        parts.append(f"SELECT {res} AS res, cell FROM ({q})")
    union = " UNION ALL ".join(parts)
    return (
        f"SELECT res, cell, COUNT(*) AS n FROM ({union}) t "
        "GROUP BY res, cell ORDER BY res, cell"
    )


def q_geo_parent_hierarchy(spark, sf_dir):
    """J1+J5+J6 — the containment self-join + smallest-parent argmin on
    the reference's own four-squares fixture
    (src/hierarchy_builder.rs:157-217)."""
    zones = with_bbox_and_area(
        local_table(spark, four_squares_zones(), ZONES_RAW_SCHEMA)
    ).localCheckpoint(eager=True)  # the zone lineage fans out ~10× inside the joins
    inclusions = find_inclusions(zones)
    out = build_hierarchy(zones, inclusions)
    return out.select("id", "parent").orderBy("id")


def sql_geo_parent_hierarchy():
    rows = []
    for z in four_squares_zones():
        b = z["bbox"]
        area = (b["maxx"] - b["minx"]) * (b["maxy"] - b["miny"])
        admin = "true" if z["zone_type"] not in (None, "non_administrative") else "false"
        rank = TYPE_RANK.get(z["zone_type"], -1)
        rows.append(
            f"({z['id']}, {b['minx']!r}, {b['miny']!r}, {b['maxx']!r}, {b['maxy']!r}, "
            f"{rank}, {area!r}, {admin})"
        )
    values = ", ".join(rows)
    return f"""
WITH z(id, minx, miny, maxx, maxy, rank, area, admin) AS (VALUES {values}),
cand AS (
  SELECT c.id AS cid, p.id AS pid, p.rank AS prank, p.area AS parea
  FROM z c JOIN z p ON c.id != p.id
   AND p.minx <= c.minx AND p.miny <= c.miny
   AND p.maxx >= c.maxx AND p.maxy >= c.maxy
   AND p.admin AND (NOT c.admin OR c.rank < p.rank)
),
ranked AS (
  SELECT cid, pid, row_number() OVER (PARTITION BY cid ORDER BY prank, parea, pid) AS rn
  FROM cand)
SELECT z.id, r.pid AS parent FROM z
LEFT JOIN ranked r ON r.cid = z.id AND r.rn = 1
ORDER BY z.id
"""


def q_geo_tile_encode(spark, sf_dir):
    """WebMercator z/x/y tiles at z=12: numpy path vs the same slippy
    formula in SQL — per-tile point counts."""
    enc = encode_points(_pts_df(spark), resolutions=(7,), tile_z=12)
    return (
        enc.select(
            (F.shiftright("tile_id", 29).bitwiseAND(F.lit((1 << 29) - 1))).alias("tx"),
            (F.col("tile_id").bitwiseAND(F.lit((1 << 29) - 1))).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
        .orderBy("tx", "ty")
    )


SQL_TILE = f"""
WITH pts AS ({PTS_SQL}),
t AS (
  SELECT
    -- clamped into the grid exactly like tile_xy (cells.py): out-of-range
    -- lon / polar lat must floor to tile 0 / 4095, not run off the grid —
    -- parity previously held only because the point fixture never hits
    -- the clamp (ADVICE r4). The LATITUDE clamps to the mercator domain
    -- (±85.05112878°) BEFORE the transform, like tile_xy: for deeper
    -- polar latitudes tan + 1/cos catastrophically cancels and ln() of a
    -- non-positive value is NaN/NULL, which the index clamp can't repair
    -- (ADVICE r5).
    least(greatest(CAST(floor((lon + 180.0) / 360.0 * 4096) AS BIGINT), 0), 4095) AS tx,
    least(greatest(CAST(floor((1.0 - ln(tan(radians(least(greatest(lat, -85.05112878), 85.05112878))) + 1.0 / cos(radians(least(greatest(lat, -85.05112878), 85.05112878)))) / pi()) / 2.0 * 4096) AS BIGINT), 0), 4095) AS ty
  FROM pts)
SELECT tx, ty, COUNT(*) AS n FROM t GROUP BY tx, ty ORDER BY tx, ty
"""


# the 8-zone libpostal typing scenario (reference src/zone_typer.rs:422-501)
TYPER_ZONES = [
    (0, "relation:z1", None),
    (1, "relation:z2", 5),
    (2, "relation:z3", 9),
    (3, "relation:z4", 9),
    (4, "relation:z5", 7),
    (5, "relation:z6", 7),
    (6, "relation:big_zone", 4),
    (7, "relation:very_big_zone", 2),
]
TYPER_INCLUSIONS = [(0, 6), (1, 6), (2, 7), (2, 6), (3, 6)]
TYPER_LEVELS = [
    ("FR", "2", "country"),
    ("FR", "4", "state"),
    ("FR", "5", "state_district"),
    ("FR", "6", "state_district"),
    ("FR", "8", "city"),
    ("FR", "9", "suburb"),
]
TYPER_ID_OV = [
    ("FR", "relation:z1", "city_district"),
    ("FR", "relation:z4", None),
    ("FR", "relation:z5", "city_district"),
]
TYPER_CONTAINED = [("FR", "relation:big_zone", "9", "suburb")]


def q_geo_zone_type(spark, sf_dir):
    """J4 — the libpostal 3-level typing precedence on the reference's
    own 8-zone scenario (zone_typer.rs:422-501)."""
    from cosmospark.typer import make_rules, type_zones

    zones = local_table(
        spark,
        [(i, o, l, "FR") for i, o, l in TYPER_ZONES],
        "id long, osm_id string, admin_level int, country_code string",
    )
    incl = local_table(spark, TYPER_INCLUSIONS, "child long, parent long")
    chain_levels = [(c, 1, [o], l, t) for c, o, l, t in TYPER_CONTAINED]
    rules = make_rules(spark, TYPER_LEVELS, TYPER_ID_OV, chain_levels)
    return type_zones(zones, incl, rules).select("osm_id", "zone_type").orderBy("osm_id")


def sql_geo_zone_type():
    zv = ", ".join(
        f"({i}, '{o}', {l if l is not None else 'NULL'})" for i, o, l in TYPER_ZONES
    )
    iv = ", ".join(f"({c}, {p})" for c, p in TYPER_INCLUSIONS)
    lv = ", ".join(f"('{c}', '{l}', '{t}')" for c, l, t in TYPER_LEVELS)
    ov = ", ".join(
        f"('{c}', '{o}', " + (f"'{t}'" if t else "NULL") + ")" for c, o, t in TYPER_ID_OV
    )
    cb = ", ".join(f"('{c}', '{o}', '{l}', '{t}')" for c, o, l, t in TYPER_CONTAINED)
    return f"""
WITH zones(id, osm_id, admin_level) AS (VALUES {zv}),
incl(child, parent) AS (VALUES {iv}),
lv(country, lvl, ztype) AS (VALUES {lv}),
ov(country, osm_id, ztype) AS (VALUES {ov}),
cb(country, container, lvl, ztype) AS (VALUES {cb}),
containers AS (SELECT DISTINCT country, container FROM cb),
cand AS (
  SELECT i.child, p.osm_id AS container, COALESCE(p.admin_level, 0) AS plevel, p.id AS pid
  FROM incl i JOIN zones p ON p.id = i.parent
  JOIN containers c ON c.container = p.osm_id AND c.country = 'FR'),
chosen AS (
  SELECT child, container FROM (
    SELECT child, container,
           row_number() OVER (PARTITION BY child ORDER BY plevel DESC, pid) AS rn
    FROM cand) WHERE rn = 1),
base AS (SELECT id, osm_id, CAST(COALESCE(admin_level, 0) AS VARCHAR) AS lvl FROM zones)
SELECT b.osm_id,
       CASE WHEN o.osm_id IS NOT NULL THEN o.ztype
            ELSE COALESCE(s.ztype, d.ztype) END AS zone_type
FROM base b
LEFT JOIN ov o ON o.osm_id = b.osm_id AND o.country = 'FR'
LEFT JOIN chosen ch ON ch.child = b.id
LEFT JOIN cb s ON s.container = ch.container AND s.lvl = b.lvl AND s.country = 'FR'
LEFT JOIN lv d ON d.lvl = b.lvl AND d.country = 'FR'
ORDER BY b.osm_id
"""


def q_geo_full_labels(spark, sf_dir):
    """The COMPLETE zone pipeline (extract → inclusions → typing →
    hierarchy → labels) on the 200-zone lux world; oracle rebuilds the
    parent chain + label formatting relationally."""
    from cosmospark.fixtures import LUX_RULES_LEVELS, lux_world
    from cosmospark.pipeline import build_zones
    from cosmospark.typer import make_rules

    raw = local_table(spark, lux_world(), ZONES_RAW_SCHEMA)
    rules = make_rules(spark, LUX_RULES_LEVELS)
    out = build_zones(spark, raw, rules)
    return out.select("osm_id", "zone_type", "label").orderBy("osm_id")


def _zones_values_named_sql() -> str:
    vals = []
    for _, r in _lux_typed_rows():
        b = r["bbox"]
        area = (b["maxx"] - b["minx"]) * (b["maxy"] - b["miny"])
        zips = r["tags"].get("addr:postcode", "")
        vals.append(
            f"({r['id']}, '{r['osm_id']}', '{r['name']}', {b['minx']!r}, {b['miny']!r}, "
            f"{b['maxx']!r}, {b['maxy']!r}, {TYPE_RANK[r['zone_type']]}, {area!r}, "
            f"'{r['zone_type']}', '{zips}')"
        )
    return (
        "(VALUES "
        + ", ".join(vals)
        + ") AS z(id, osm_id, name, minx, miny, maxx, maxy, rank, area, ztype, zip)"
    )


def sql_geo_full_labels():
    return f"""
WITH zones AS (SELECT * FROM {_zones_values_named_sql()}),
cand AS (
  SELECT c.id AS cid, p.id AS pid, p.rank AS prank, p.area AS parea
  FROM zones c JOIN zones p ON c.id != p.id
   AND p.minx <= c.minx AND p.miny <= c.miny
   AND p.maxx >= c.maxx AND p.maxy >= c.maxy
   AND c.rank < p.rank),
par AS (
  SELECT cid, pid FROM (
    SELECT cid, pid, row_number() OVER (PARTITION BY cid ORDER BY prank, parea, pid) AS rn
    FROM cand) WHERE rn = 1),
labelled AS (
  SELECT z.osm_id, z.ztype AS zone_type,
         concat_ws(', ',
           z.name || CASE WHEN z.zip = '' THEN '' ELSE ' (' || z.zip || ')' END,
           p1.name, p2.name, p3.name) AS label
  FROM zones z
  LEFT JOIN par e1 ON e1.cid = z.id LEFT JOIN zones p1 ON p1.id = e1.pid
  LEFT JOIN par e2 ON e2.cid = p1.id LEFT JOIN zones p2 ON p2.id = e2.pid
  LEFT JOIN par e3 ON e3.cid = p2.id LEFT JOIN zones p3 ON p3.id = e3.pid)
SELECT osm_id, zone_type, label FROM labelled ORDER BY osm_id
"""


_OSM_SCHEMAS = {
    "relations": "relation_id long, tags map<string,string>",
    "rel_members": "relation_id long, way_id long, role string",
    "ways": "way_id long, node_ids array<long>",
    "nodes": "node_id long, lon double, lat double, tags map<string,string>",
    "rel_node_members": "relation_id long, node_id long, role string",
}


def q_geo_osm_extract(spark, sf_dir):
    """S1-S2 + P1 — the raw-OSM front door: admin-relation filter, ring
    assembly, label-member tag merge (or_insert), admin_centre/label
    center precedence, loc_name/alt_name/wikidata extraction
    (src/zone_ext.rs:118-234) — verified relationally by a DuckDB oracle
    that re-implements the same precedence over the raw member tables."""
    from cosmospark.fixtures import lux_osm_world
    from cosmospark.pipeline import extract_zones_from_osm

    w = lux_osm_world()
    dfs = {k: local_table(spark, w[k], _OSM_SCHEMAS[k]) for k in _OSM_SCHEMAS}
    ext = extract_zones_from_osm(
        dfs["relations"], dfs["rel_members"], dfs["ways"], dfs["nodes"],
        dfs["rel_node_members"],
    )
    return ext.select(
        "osm_id",
        "name",
        "admin_level",
        F.col("tags")["name:fr"].alias("name_fr"),
        F.col("tags")["name:br"].alias("name_br"),
        F.col("tags")["population"].alias("population"),
        "loc_name",
        "alt_name",
        "wikidata",
        F.col("center.lon").alias("center_lon"),
        F.col("center.lat").alias("center_lat"),
    ).orderBy("osm_id")


def sql_geo_osm_extract():
    """The raw relation/member-node inputs as VALUES tables; the SQL
    re-derives the S2 filter + or_insert merge + center precedence."""
    from cosmospark.fixtures import lux_osm_world

    w = lux_osm_world()

    def s(v):  # SQL string literal / NULL
        return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"

    rel_rows = []
    for rid, tags in w["relations"]:
        rel_rows.append(
            f"({rid}, {s(tags.get('boundary'))}, {s(tags.get('admin_level'))}, "
            f"{s(tags.get('name'))}, {s(tags.get('name:fr'))}, {s(tags.get('wikidata'))}, "
            f"{s(tags.get('place'))})"
        )
    node_tags = {nid: (lon, lat, tags) for nid, lon, lat, tags in w["nodes"]}
    lab_rows, cen_rows = [], []
    for rid, nid, role in w["rel_node_members"]:
        lon, lat, tags = node_tags[nid]
        if role == "label":
            lab_rows.append(
                f"({rid}, {lon!r}, {lat!r}, {s(tags.get('name:br'))}, "
                f"{s(tags.get('name:fr'))}, {s(tags.get('population'))})"
            )
        elif role == "admin_centre":
            cen_rows.append(f"({rid}, {lon!r}, {lat!r})")
    return f"""
WITH rels(rel_id, boundary, lvl, name, name_fr, wikidata, place) AS (VALUES {", ".join(rel_rows)}),
lab(rel_id, llon, llat, l_name_br, l_name_fr, l_population) AS (VALUES {", ".join(lab_rows)}),
cen(rel_id, clon, clat) AS (VALUES {", ".join(cen_rows)}),
adm AS (
  SELECT * FROM rels
  WHERE ((boundary = 'administrative' AND lvl IS NOT NULL) OR place = 'suburb')
    AND name IS NOT NULL)
SELECT 'relation:' || r.rel_id AS osm_id, r.name,
       CAST(r.lvl AS INT) AS admin_level,
       COALESCE(r.name_fr, l.l_name_fr) AS name_fr,
       l.l_name_br AS name_br,
       l.l_population AS population,
       '' AS loc_name, '' AS alt_name, r.wikidata,
       COALESCE(c.clon, l.llon) AS center_lon,
       COALESCE(c.clat, l.llat) AS center_lat
FROM adm r LEFT JOIN lab l USING (rel_id) LEFT JOIN cen c USING (rel_id)
ORDER BY osm_id
"""


def q_geo_voronoi_cells(spark, sf_dir):
    """J7 through the real operator on a CONCAVE parent
    (additional_zones.rs:256-416): an L-shaped city zone (area 64) with
    three suburb place nodes → compute_additional_places generates each
    place's Voronoi cell clipped exactly to the L (r3 concave-exact
    path: hull ∩ bisectors, minus hull∖parent). Cell areas are computed
    by a JVM-side shoelace fold over the returned rings; the oracle is
    the CLOSED-FORM hand calculation (bisectors x=5, y=5, y=x →
    24 / 20 / 20, summing to the parent's 64)."""
    lx = [0.0, 10.0, 10.0, 4.0, 4.0, 0.0]
    ly = [0.0, 0.0, 4.0, 4.0, 10.0, 10.0]
    parent = {
        "id": 0,
        "osm_id": "relation:900",
        "name": "Elle",
        "zone_type": "city",
        "parent": None,
        "rings": [{"poly": 0, "ring": 0, "xs": lx, "ys": ly}],
    }
    zones = local_table(
        spark,
        [parent],
        "id long, osm_id string, name string, zone_type string, "
        "parent long, rings array<struct<poly:int,ring:int,"
        "xs:array<double>,ys:array<double>>>",
    )
    places = local_table(
        spark,
        [
            ("node:1", "P22", "suburb", None, 2.0, 2.0, {}),
            ("node:2", "P82", "suburb", None, 8.0, 2.0, {}),
            ("node:3", "P28", "suburb", None, 2.0, 8.0, {}),
        ],
        "osm_id string, name string, zone_type string, admin_level int, "
        "lon double, lat double, tags map<string,string>",
    )
    from cosmospark.voronoi import compute_additional_places

    new = compute_additional_places(zones, places)
    # shoelace area per ring (1-based element_at; rings close implicitly),
    # exteriors add, holes subtract — all JVM-side HOF folds
    ring_area = (
        "0.5D * abs(aggregate(sequence(0, size(r.xs) - 1), 0D, (a, i) -> "
        "a + element_at(r.xs, i + 1) * element_at(r.ys, pmod(i + 1, size(r.ys)) + 1) "
        "- element_at(r.xs, pmod(i + 1, size(r.xs)) + 1) * element_at(r.ys, i + 1)))"
    )
    area = (
        f"aggregate(rings, 0D, (acc, r) -> acc + "
        f"(case when r.ring = 0 then {ring_area} else -{ring_area} end))"
    )
    return new.select(
        "name",
        F.col("parent").alias("parent_id"),
        F.round(F.expr(area), 4).alias("cell_area"),
    ).orderBy("name")


SQL_GEO_VORONOI = """
SELECT * FROM (VALUES
  ('P22', CAST(0 AS BIGINT), CAST(24.0 AS DOUBLE)),
  ('P28', CAST(0 AS BIGINT), CAST(20.0 AS DOUBLE)),
  ('P82', CAST(0 AS BIGINT), CAST(20.0 AS DOUBLE))
) AS t(name, parent_id, cell_area) ORDER BY name
"""


_RAST_RES, _RAST_PX = 6, 8


def q_geo_rasterize(spark, sf_dir):
    """Vector → raster tiling (the north-star raster leg): every typed
    lux zone rasterized into per-cell pixel occupancy at res 6 with 8×8
    pixels per cell — (zone_id, cell, inside-pixel count). Pixel centers
    live on the uniform 512×512 sub-lattice, so the DuckDB oracle
    re-derives the identical centers with +,*,/ only and counts them
    with rectangle BETWEEN (fixture zones are rectangles)."""
    from cosmospark.raster import rasterize_zones

    r = rasterize_zones(_lux_typed_zones(spark), res=_RAST_RES, px=_RAST_PX)
    return r.select("zone_id", "cell", "n_inside").orderBy("zone_id", "cell")


def q_geo_raster_assign(spark, sf_dir):
    """Pixel-approximate zone assignment with ZERO Python on the fact
    path (raster.assign_zones_raster): the zone dim rasterizes to
    morton-ordered 64-bit pixel bitsets per res-6 cell; each point then
    resolves in whole-stage codegen — Morton encode at res 9, equi-join
    on the res-6 cell, 1-op bitset probe, (rank, area, id) argmin. The
    oracle re-derives the identical pixel lattice and argmin in SQL."""
    from cosmospark.raster import assign_zones_raster

    out = assign_zones_raster(
        _pts_df(spark), _lux_typed_zones(spark), res=_RAST_RES
    )
    return out.select("pid", "zone_id").orderBy("pid")


def q_geo_raster_assign_exact(spark, sf_dir):
    """EXACT raster-accelerated assignment: the stability-aware pixel
    LUT answers every point in a stable pixel (every touching zone
    fully covers it → constant winner) with zero Python; only boundary
    pixels (sentinel -2, perimeter-scale fraction) run the exact PIP
    kernel. The oracle is the EXACT rectangle-PIP argmin — identical to
    geo_pip_assign's — proving the accelerated path changes nothing."""
    from cosmospark.raster import assign_zones_raster

    out = assign_zones_raster(
        _pts_df(spark), _lux_typed_zones(spark), res=9, exact=True
    )
    return out.select("pid", "zone_id").orderBy("pid")


def sql_geo_raster_assign():
    nf = (1 << _RAST_RES) * _RAST_PX
    return f"""
WITH zones AS (SELECT * FROM {_zones_values_sql()}),
ij AS (
  SELECT z.id AS zone_id, z.rank, z.area, gi.i, gj.j, z.minx, z.maxx, z.miny, z.maxy
  FROM zones z,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.minx + 180.0) / 360.0 * {nf}) AS BIGINT) - 1,
      CAST(ceil((z.maxx + 180.0) / 360.0 * {nf}) AS BIGINT) + 1)) AS i) gi,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.miny + 90.0) / 180.0 * {nf}) AS BIGINT) - 1,
      CAST(ceil((z.maxy + 90.0) / 180.0 * {nf}) AS BIGINT) + 1)) AS j) gj
),
hit AS (
  SELECT zone_id, rank, area, i, j FROM ij
  WHERE (-180.0 + (i + 0.5) * 360.0 / {float(nf)!r}) BETWEEN minx AND maxx
    AND (-90.0 + (j + 0.5) * 180.0 / {float(nf)!r}) BETWEEN miny AND maxy
),
pts AS ({PTS_SQL}),
penc AS (
  SELECT pid,
         least(greatest(CAST(floor((lon + 180.0) / 360.0 * {nf}) AS BIGINT), 0), {nf - 1}) AS i,
         least(greatest(CAST(floor((lat + 90.0) / 180.0 * {nf}) AS BIGINT), 0), {nf - 1}) AS j
  FROM pts
),
ranked AS (
  SELECT p.pid, h.zone_id,
         row_number() OVER (PARTITION BY p.pid ORDER BY h.rank, h.area, h.zone_id) AS rn
  FROM penc p JOIN hit h ON h.i = p.i AND h.j = p.j
)
SELECT p.pid, CAST(COALESCE(r.zone_id, -1) AS BIGINT) AS zone_id
FROM pts p LEFT JOIN (SELECT pid, zone_id FROM ranked WHERE rn = 1) r USING (pid)
ORDER BY pid
"""


PQ_M, PQ_K, PQ_TOPK = 8, 16, 50


@functools.lru_cache(maxsize=4)
def _pq_artifacts(sf_dir: str):
    """(codebooks, query_vector) — trained ONCE per sf with the
    deterministic Lloyd's trainer, shared verbatim by the Spark query
    and the DuckDB oracle (the codebook values are emitted as literals
    into both plans, so there is nothing to drift)."""
    import pyarrow.parquet as _pq

    from cosmospark.ann import pq_train

    t = _pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    df = t.to_pandas().sort_values("vec_id")
    x = np.array([np.asarray(e, dtype=np.float64) for e in df["embedding"]])
    return pq_train(x, PQ_M, PQ_K), x[0]


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN with an ADC scan: vectors compress to
    PQ_M uint8 codes (one narrow Arrow encode pass), then the query
    scans codes ENTIRELY in whole-stage codegen — the (m × k) distance
    table inlines as array literals and the ADC distance is a chain of
    element_at lookups + adds. Memory-scale: 8 bytes/vector instead of
    the raw embedding on the scan path. Oracle re-derives code
    assignment AND the ADC top-k relationally from the same codebook."""
    from cosmospark.ann import pq_encode, pq_subspace_dists

    books, qv = _pq_artifacts(sf_dir)
    m, k, dsub = books.shape
    # conditional splittability guard (r7): pq_encode's m×k distance
    # argmins run on the scan stage (see _widen_if_narrow)
    emb = _widen_if_narrow(
        spark, _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"), "vec_id"
    )
    codes = pq_encode(emb, books).drop("embedding")
    terms = []
    for j in range(m):
        dt = pq_subspace_dists(qv[None, j * dsub : (j + 1) * dsub], books[j])[0]
        # the D suffix forces DOUBLE literals (bare decimals parse as
        # DECIMAL in Spark SQL and re-round the ADC sums)
        vals = ", ".join(f"{float(v)!r}D" for v in dt)
        terms.append(f"element_at(array({vals}), element_at(codes, {j + 1}) + 1)")
    adc = " + ".join(terms)  # left-assoc chain == the oracle's ordered fold
    return (
        codes.withColumn("adc", F.expr(adc))
        .orderBy("adc", "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id", "adc")
    )


PQ_POOL, PQ_RERANK_K = 100, 10


def q_ann_pq_rerank(spark, sf_dir):
    """The production PQ shape end-to-end: ADC-scan the 8-byte codes for
    a top-``PQ_POOL`` candidate pool (whole-stage codegen), then
    exact-rerank ONLY the pool against the raw embeddings (sequential
    zip_with/aggregate fold — the JVM stays the slow-path-free engine;
    the corpus-scale scan never touches a raw vector). Recall@10 ≈ 0.88
    measured at this pool size."""
    from cosmospark.ann import pq_encode, pq_subspace_dists

    books, qv = _pq_artifacts(sf_dir)
    m, k, dsub = books.shape
    # conditional splittability guard (r7): pq_encode's m×k distance
    # argmins run on the scan stage (see _widen_if_narrow)
    emb = _widen_if_narrow(
        spark, _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"), "vec_id"
    )
    codes = pq_encode(emb, books).drop("embedding")
    terms = []
    for j in range(m):
        dt = pq_subspace_dists(qv[None, j * dsub : (j + 1) * dsub], books[j])[0]
        vals = ", ".join(f"{float(v)!r}D" for v in dt)
        terms.append(f"element_at(array({vals}), element_at(codes, {j + 1}) + 1)")
    pool = (
        codes.withColumn("adc", F.expr(" + ".join(terms)))
        .orderBy("adc", "vec_id")
        .limit(PQ_POOL)
        .select("vec_id")
    )
    qlit = ", ".join(f"{float(v)!r}D" for v in qv)
    l2 = F.expr(
        f"aggregate(zip_with(transform(embedding, x -> cast(x as double)),"
        f" array({qlit}), (a, b) -> (a - b) * (a - b)),"
        f" 0D, (acc, t) -> acc + t)"
    )
    return (
        pool.join(emb, "vec_id")
        .withColumn("l2", l2)
        .orderBy("l2", "vec_id")
        .limit(PQ_RERANK_K)
        .select("vec_id", "l2")
    )


def sql_ann_pq_rerank(sf_dir: str) -> str:
    books, qv = _pq_artifacts(sf_dir)
    inner = sql_ann_pq(sf_dir).replace(
        f"LIMIT {PQ_TOPK}", f"LIMIT {PQ_POOL}"
    )
    # query vector via parquet: DuckDB literal parse is 1-ulp-unsafe
    # (see sql_ann_pq)
    q_path = _materialize_oracle_parquet(
        "ann_pq_query", sf_dir, {"q": [[float(v) for v in qv]]}
    )
    return f"""
WITH pool AS ({inner}),
emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings),
qv AS (SELECT q FROM '{q_path}'),
scored AS (
  SELECT p.vec_id,
         list_aggregate(list_transform(list_zip(e, q),
                                       t -> (t[1] - t[2]) * (t[1] - t[2])),
                        'sum') AS l2
  FROM pool p JOIN emb USING (vec_id) CROSS JOIN qv)
SELECT vec_id, l2 FROM scored ORDER BY l2, vec_id LIMIT {PQ_RERANK_K}
"""


def sql_ann_pq(sf_dir: str) -> str:
    from cosmospark.ann import pq_subspace_dists

    books, qv = _pq_artifacts(sf_dir)
    m, k, dsub = books.shape
    book_rows = {"j": [], "c": [], "v": []}
    dt_rows = {"j": [], "c": [], "dv": []}
    for j in range(m):
        dt = pq_subspace_dists(qv[None, j * dsub : (j + 1) * dsub], books[j])[0]
        for c in range(k):
            book_rows["j"].append(j)
            book_rows["c"].append(c)
            book_rows["v"].append([float(x) for x in books[j, c]])
            dt_rows["j"].append(j)
            dt_rows["c"].append(c)
            dt_rows["dv"].append(float(dt[c]))
    # EVERY float constant goes through PARQUET, never SQL literals:
    # (a) DuckDB's string→double parse is off by 1 ulp for many
    # 17-digit reprs (measured: '0.09243408590555191'::DOUBLE !=
    # the repr'd double), and (b) DuckDB constant-folds literal-only
    # addition chains at EXTENDED precision (1-ulp drift vs IEEE
    # left-assoc). Scanned parquet values are bit-exact and add at
    # runtime in IEEE double — matching Spark's plan, whose own literal
    # parser IS correctly rounded (self-distance 0.0 pinned the diff).
    book_path = _materialize_oracle_parquet("ann_pq_book", sf_dir, book_rows)
    dt_path = _materialize_oracle_parquet("ann_pq_dt", sf_dir, dt_rows)
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
book AS (SELECT j, c, v FROM '{book_path}'),
dt AS (SELECT j, c, dv FROM '{dt_path}'),
sub AS (
  SELECT vec_id, b.j, b.c,
         list_aggregate(
           list_transform(list_zip(e[b.j * {dsub} + 1 : (b.j + 1) * {dsub}], b.v),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d2
  FROM emb CROSS JOIN book b),
codes AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
    FROM sub) WHERE rn = 1),
adc AS (
  SELECT vec_id,
         {" + ".join(f"MAX(CASE WHEN j = {j} THEN dv END)" for j in range(m))} AS adc
  FROM codes JOIN dt USING (j, c) GROUP BY vec_id)
SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT {PQ_TOPK}
"""


# --- IVF-PQ composition (r5, VERDICT r4 #6): the standard production
# memory-scale ANN shape — coarse IVF quantizer for partition pruning,
# PQ codes of the RESIDUAL (x - coarse_centroid) for the in-list scan.
# Query: probe the top-P coarse lists, ADC-scan ONLY those lists' codes
# with a PER-LIST distance table (the query residual differs per list),
# exact-rerank the pooled candidates. The scan stays whole-stage
# codegen: per-list tables inline as a CASE over array literals.

IVFPQ_POOL, IVFPQ_RERANK_K = 100, 10


@functools.lru_cache(maxsize=4)
def _ivf_pq_artifacts(sf_dir: str):
    """(residual codebooks, query vector): PQ trained on the residuals
    x - centroid[assigned_list]. Training-side list assignment uses
    vectorized numpy cosine (1-ulp differences vs the engines' fold
    arithmetic only perturb TRAINING inputs — the codebook is emitted
    as identical literals/parquet to both engines, and code assignment
    happens inside each engine's own plan, so nothing can drift)."""
    import pyarrow.parquet as _pq

    from cosmospark.ann import pq_train

    t = _pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    df = t.to_pandas().sort_values("vec_id")
    x = np.array([np.asarray(e, dtype=np.float64) for e in df["embedding"]])
    cents = np.array(_ivf_centroids(sf_dir), dtype=np.float64)
    sims = (x @ cents.T) / (
        np.linalg.norm(x, axis=1)[:, None] * np.linalg.norm(cents, axis=1)[None, :]
    )
    assigned = sims.argmax(axis=1)
    resid = x - cents[assigned]
    return pq_train(resid, PQ_M, PQ_K), x[0]


def _ivf_pq_plan_parts(sf_dir: str):
    """Shared driver-side planning for the Spark query and the oracle:
    (cents, books, query vec, probed 1-based list ids, per-list
    (residual-query, distance-tables))."""
    from cosmospark.ann import pq_subspace_dists

    cents = _ivf_centroids(sf_dir)
    books, qv = _ivf_pq_artifacts(sf_dir)
    m, k, dsub = books.shape
    qn = float(np.sqrt(np.sum(np.asarray(qv, dtype=np.float64) ** 2)))
    cn = [float(np.sqrt(np.sum(np.asarray(c) ** 2))) for c in cents]
    qsim = []
    for j, c in enumerate(cents):
        acc = 0.0
        for xx, yy in zip(qv, c):
            acc += xx * yy
        qsim.append(acc / (qn * cn[j]))
    probes = [
        p + 1 for p in sorted(range(IVF_K), key=lambda j: (-qsim[j], j))[:IVF_PROBES]
    ]
    per_list = {}
    for p in probes:
        qr = np.asarray(qv, dtype=np.float64) - np.asarray(
            cents[p - 1], dtype=np.float64
        )
        dts = [
            pq_subspace_dists(qr[None, j * dsub : (j + 1) * dsub], books[j])[0]
            for j in range(m)
        ]
        per_list[p] = dts
    return cents, books, qv, probes, per_list


def q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ approximate nearest neighbors, end to end:

    1. coarse assignment — same bit-exact cosine-fold argmax as
       ``ann_ivf`` (at 10⁹ vectors this is precomputed at write time
       and the table is hive-partitioned by list_id: probing P of K
       lists scans P/K of the data via Catalyst partition pruning);
    2. residual PQ codes — one narrow Arrow pass
       (``pq_encode`` on ``x - centroid[list]``), 8 bytes/vector on
       the scan path;
    3. ADC scan of ONLY the probed lists with a per-list distance
       table (CASE over inlined literals — whole-stage codegen, no
       Python);
    4. exact L2 rerank of the top-``IVFPQ_POOL`` pool against the raw
       embeddings.

    Composes q_ann_ivf's pruning with q_ann_pq_rerank's compression —
    the memory- AND IO-scale production shape."""
    cents, books, qv, probes, per_list = _ivf_pq_plan_parts(sf_dir)
    m, k, dsub = books.shape
    # conditional splittability guard (r7): the K×dim score fold runs
    # on the scan stage (see _widen_if_narrow)
    e = _widen_if_narrow(
        spark, _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"), "vec_id"
    )
    scores = _ivf_scores_expr("embedding", cents, "spark")
    lists = e.withColumn(
        "list_id", F.expr(f"array_position({scores}, array_max({scores}))").cast("int")
    )
    filtered = lists.filter(
        F.col("list_id").isin(probes) & (F.col("vec_id") != 0)
    )
    # residual = double(x) - centroid[list] (centroids as correctly
    # rounded Spark literals; the oracle scans the same doubles from
    # parquet — see sql_ann_pq's literal-parse note)
    cent_arms = " ".join(
        "WHEN {p} THEN array({vals})".format(
            p=p,
            vals=", ".join(f"{float(v)!r}D" for v in cents[p - 1]),
        )
        for p in probes
    )
    resid = (
        f"zip_with(transform(embedding, x -> cast(x as double)), "
        f"CASE list_id {cent_arms} END, (a, b) -> a - b)"
    )
    from cosmospark.ann import pq_encode

    coded = pq_encode(
        filtered.withColumn("resid", F.expr(resid)), books, vec_col="resid"
    ).drop("embedding", "resid")
    # per-list ADC: left-assoc chain of element_at lookups, selected by
    # list_id — everything stays in codegen
    arms = []
    for p in probes:
        terms = []
        for j in range(m):
            vals = ", ".join(f"{float(v)!r}D" for v in per_list[p][j])
            terms.append(
                f"element_at(array({vals}), element_at(codes, {j + 1}) + 1)"
            )
        arms.append(f"WHEN {p} THEN {' + '.join(terms)}")
    adc = f"CASE list_id {' '.join(arms)} END"
    pool = (
        coded.withColumn("adc", F.expr(adc))
        .orderBy("adc", "vec_id")
        .limit(IVFPQ_POOL)
        .select("vec_id")
    )
    qlit = ", ".join(f"{float(v)!r}D" for v in qv)
    l2 = F.expr(
        f"aggregate(zip_with(transform(embedding, x -> cast(x as double)),"
        f" array({qlit}), (a, b) -> (a - b) * (a - b)),"
        f" 0D, (acc, t) -> acc + t)"
    )
    return (
        pool.join(e, "vec_id")
        .withColumn("l2", l2)
        .orderBy("l2", "vec_id")
        .limit(IVFPQ_RERANK_K)
        .select("vec_id", "l2")
    )


def sql_ann_ivf_pq(sf_dir: str) -> str:
    cents, books, qv, probes, per_list = _ivf_pq_plan_parts(sf_dir)
    m, k, dsub = books.shape
    # every float constant through parquet (sql_ann_pq's 1-ulp note)
    cent_rows = {"l": [], "cv": []}
    for p in probes:
        cent_rows["l"].append(p)
        cent_rows["cv"].append([float(v) for v in cents[p - 1]])
    book_rows = {"j": [], "c": [], "v": []}
    for j in range(m):
        for c in range(k):
            book_rows["j"].append(j)
            book_rows["c"].append(c)
            book_rows["v"].append([float(x) for x in books[j, c]])
    dt_rows = {"l": [], "j": [], "c": [], "dv": []}
    for p in probes:
        for j in range(m):
            for c in range(k):
                dt_rows["l"].append(p)
                dt_rows["j"].append(j)
                dt_rows["c"].append(c)
                dt_rows["dv"].append(float(per_list[p][j][c]))
    cent_path = _materialize_oracle_parquet("ann_ivfpq_cent", sf_dir, cent_rows)
    book_path = _materialize_oracle_parquet("ann_ivfpq_book", sf_dir, book_rows)
    dt_path = _materialize_oracle_parquet("ann_ivfpq_dt", sf_dir, dt_rows)
    q_path = _materialize_oracle_parquet(
        "ann_ivfpq_query", sf_dir, {"q": [[float(v) for v in qv]]}
    )
    scores = _ivf_scores_expr("embedding", cents, "duck")
    probe_lits = ", ".join(str(p) for p in probes)
    return f"""
WITH lists AS (
  SELECT vec_id, embedding,
         CAST(list_position({scores}, list_max({scores})) AS INT) AS list_id
  FROM embeddings),
filtered AS (
  SELECT vec_id, list_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM lists WHERE list_id IN ({probe_lits}) AND vec_id != 0),
cent AS (SELECT l, cv FROM '{cent_path}'),
res AS (
  SELECT vec_id, list_id,
         list_transform(list_zip(e, cv), p -> p[1] - p[2]) AS r
  FROM filtered JOIN cent ON list_id = l),
book AS (SELECT j, c, v FROM '{book_path}'),
dt AS (SELECT l, j, c, dv FROM '{dt_path}'),
sub AS (
  SELECT vec_id, list_id, b.j, b.c,
         list_aggregate(
           list_transform(list_zip(r[b.j * {dsub} + 1 : (b.j + 1) * {dsub}], b.v),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d2
  FROM res CROSS JOIN book b),
codes AS (
  SELECT vec_id, list_id, j, c FROM (
    SELECT vec_id, list_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
    FROM sub) WHERE rn = 1),
adc AS (
  SELECT vec_id,
         {" + ".join(f"MAX(CASE WHEN dt.j = {j} THEN dv END)" for j in range(m))} AS adc
  FROM codes JOIN dt ON dt.l = codes.list_id AND dt.j = codes.j AND dt.c = codes.c
  GROUP BY vec_id),
pool AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT {IVFPQ_POOL}),
emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings),
qv AS (SELECT q FROM '{q_path}'),
scored AS (
  SELECT p.vec_id,
         list_aggregate(list_transform(list_zip(e, q),
                                       t -> (t[1] - t[2]) * (t[1] - t[2])),
                        'sum') AS l2
  FROM pool p JOIN emb USING (vec_id) CROSS JOIN qv)
SELECT vec_id, l2 FROM scored ORDER BY l2, vec_id LIMIT {IVFPQ_RERANK_K}
"""


def q_geo_tile_pyramid(spark, sf_dir):
    """Hierarchical rollup UP the mercator tile pyramid (the tile-side
    analog of geo_multires_rollup): aggregate once at z=12, then
    REAGGREGATE the counts to z=11 and z=10 by integer zoom shifts —
    each coarser level reduces the previous level's aggregates, never
    rescans the facts. All whole-stage codegen."""
    enc = encode_points(_pts_df(spark), resolutions=(7,), tile_z=12)
    mask = F.lit((1 << 29) - 1)
    finest = (
        enc.select(
            F.shiftright("tile_id", 29).bitwiseAND(mask).alias("tx"),
            F.col("tile_id").bitwiseAND(mask).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )
    levels = [finest.select(F.lit(12).alias("z"), "tx", "ty", "n")]
    prev = finest
    for z in (11, 10):
        prev = (
            prev.groupBy(
                F.shiftright("tx", 1).alias("tx"), F.shiftright("ty", 1).alias("ty")
            )
            .agg(F.sum("n").cast("long").alias("n"))
        )
        levels.append(prev.select(F.lit(z).alias("z"), "tx", "ty", "n"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.orderBy("z", "tx", "ty")


SQL_TILE_PYRAMID = f"""
WITH pts AS ({PTS_SQL}),
t AS (
  SELECT
    -- clamped into the grid exactly like tile_xy (cells.py): out-of-range
    -- lon / polar lat must floor to tile 0 / 4095, not run off the grid —
    -- parity previously held only because the point fixture never hits
    -- the clamp (ADVICE r4). The LATITUDE clamps to the mercator domain
    -- (±85.05112878°) BEFORE the transform, like tile_xy: for deeper
    -- polar latitudes tan + 1/cos catastrophically cancels and ln() of a
    -- non-positive value is NaN/NULL, which the index clamp can't repair
    -- (ADVICE r5).
    least(greatest(CAST(floor((lon + 180.0) / 360.0 * 4096) AS BIGINT), 0), 4095) AS tx,
    least(greatest(CAST(floor((1.0 - ln(tan(radians(least(greatest(lat, -85.05112878), 85.05112878))) + 1.0 / cos(radians(least(greatest(lat, -85.05112878), 85.05112878)))) / pi()) / 2.0 * 4096) AS BIGINT), 0), 4095) AS ty
  FROM pts),
a12 AS (SELECT tx, ty, COUNT(*) AS n FROM t GROUP BY tx, ty),
a11 AS (SELECT tx >> 1 AS tx, ty >> 1 AS ty, CAST(SUM(n) AS BIGINT) AS n FROM a12 GROUP BY 1, 2),
a10 AS (SELECT tx >> 1 AS tx, ty >> 1 AS ty, CAST(SUM(n) AS BIGINT) AS n FROM a11 GROUP BY 1, 2)
SELECT 12 AS z, tx, ty, n FROM a12
UNION ALL SELECT 11 AS z, tx, ty, n FROM a11
UNION ALL SELECT 10 AS z, tx, ty, n FROM a10
ORDER BY z, tx, ty
"""


_TILE_RAST_Z = 7  # tile-pyramid LUT zoom: pixels are z+3 sub-tiles


def q_geo_raster_tile_assign(spark, sf_dir):
    """Tile-PYRAMID raster assignment (the mercator analog of
    geo_raster_assign): the zone dim rasterizes to per-z/x/y-tile pixel
    bitsets, folds to a (tile, pixel→zone) LUT, and each point resolves
    via one tile_xy(z+3) evaluation + equi-join + element_at. The
    oracle re-derives the identical mercator pixel lattice in SQL."""
    from cosmospark.raster import assign_zones_raster

    out = assign_zones_raster(
        _pts_df(spark),
        _lux_typed_zones(spark),
        res=_TILE_RAST_Z,
        grid=cells.MERCATOR,
    )
    return out.select("pid", "zone_id").orderBy("pid")


def q_geo_raster_tile_assign_exact(spark, sf_dir):
    """EXACT tile-pyramid raster assignment: stable mercator pixels
    answer from the LUT, boundary pixels refine through the exact PIP
    kernel — oracle is the exact rectangle-PIP argmin, proving the
    accelerated path changes nothing."""
    from cosmospark.raster import assign_zones_raster

    out = assign_zones_raster(
        _pts_df(spark),
        _lux_typed_zones(spark),
        res=_TILE_RAST_Z,
        exact=True,
        grid=cells.MERCATOR,
    )
    return out.select("pid", "zone_id").orderBy("pid")


def sql_geo_raster_tile_assign():
    # Determinism note: unlike the quadkey lattice (pure +,*,/ + floor,
    # IEEE-exact across engines), the mercator lattice needs ln/tan/cos/
    # exp/atan, which are not guaranteed correctly-rounded identically
    # in numpy and DuckDB. Mitigations: identical expression TREES on
    # both sides (sinh spelled as (exp(t)-exp(-t))/2 — this sandbox's
    # libm pair agrees in practice, as geo_tile_encode has shown across
    # rounds), ±1-cell slack on all enumeration ranges, and fixture
    # bounds that are rationals while pixel-center latitudes are
    # transcendental — a 1-ulp engine disagreement flips a comparison
    # only if a center lands WITHIN 1 ulp of a zone bound, which the
    # fixture cannot produce. The mercator leg accepts this residual
    # risk; bit-exactness claims live on the quadkey leg.
    n3 = (1 << _TILE_RAST_Z) * 8
    n3f = float(n3)
    merc = (
        "(1.0 - ln(tan(radians({lat})) + 1.0 / cos(radians({lat}))) / pi()) / 2.0"
    )
    return f"""
WITH zones AS (SELECT * FROM {_zones_values_sql()}),
ij AS (
  SELECT z.id AS zone_id, z.rank, z.area, gi.i, gj.j, z.minx, z.maxx, z.miny, z.maxy
  FROM zones z,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.minx + 180.0) / 360.0 * {n3}) AS BIGINT) - 1,
      CAST(ceil((z.maxx + 180.0) / 360.0 * {n3}) AS BIGINT) + 1)) AS i) gi,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor({merc.format(lat="z.maxy")} * {n3}) AS BIGINT) - 1,
      CAST(ceil({merc.format(lat="z.miny")} * {n3}) AS BIGINT) + 1)) AS j) gj
),
hit AS (
  SELECT zone_id, rank, area, i, j FROM ij
  WHERE (-180.0 + (i + 0.5) * 360.0 / {n3f!r}) BETWEEN minx AND maxx
    AND degrees(atan((exp(pi() * (1.0 - 2.0 * ((j + 0.5) / {n3f!r})))
                      - exp(-(pi() * (1.0 - 2.0 * ((j + 0.5) / {n3f!r}))))) / 2.0))
        BETWEEN miny AND maxy
),
pts AS ({PTS_SQL}),
penc AS (
  SELECT pid,
         least(greatest(CAST(floor((lon + 180.0) / 360.0 * {n3}) AS BIGINT), 0), {n3 - 1}) AS i,
         least(greatest(CAST(floor({merc.format(lat="lat")} * {n3}) AS BIGINT), 0), {n3 - 1}) AS j
  FROM pts
),
ranked AS (
  SELECT p.pid, h.zone_id,
         row_number() OVER (PARTITION BY p.pid ORDER BY h.rank, h.area, h.zone_id) AS rn
  FROM penc p JOIN hit h ON h.i = p.i AND h.j = p.j
)
SELECT p.pid, CAST(COALESCE(r.zone_id, -1) AS BIGINT) AS zone_id
FROM pts p LEFT JOIN (SELECT pid, zone_id FROM ranked WHERE rn = 1) r USING (pid)
ORDER BY pid
"""


def _lut_edit_ids() -> tuple[int, int]:
    """Deterministic zone-dim edit fixture for the incremental-LUT
    query: (modified_id, removed_id) = the two smallest-bbox zones."""
    sized = sorted(
        (
            (b["maxx"] - b["minx"]) * (b["maxy"] - b["miny"]),
            r["id"],
        )
        for _, r in _lux_typed_rows()
        for b in [r["bbox"]]
    )
    return sized[0][1], sized[1][1]


_LUT_EDIT_SHIFT = 0.3


def q_geo_lut_incremental(spark, sf_dir):
    """Incremental LUT maintenance under a zone-dim edit: shift the
    smallest zone east by 0.3°, remove the second smallest, patch the
    persisted LUT via incremental_lut_update/apply_lut_patch (re-folds
    ONLY the edited zones' footprint cells), and emit the patched LUT
    exploded to (cell, pix, zone_id) rows. The oracle re-derives the
    ENTIRE post-edit LUT from the pixel lattice in SQL — equality
    proves both the LUT fold and the incremental merge."""
    from cosmospark.raster import (
        apply_lut_patch,
        incremental_lut_update,
        rasterize_zone_bitsets,
        zone_pixel_lut,
    )

    mod_id, rm_id = _lut_edit_ids()
    zones = _lux_typed_zones(spark)
    bitsets0 = rasterize_zone_bitsets(zones, _RAST_RES)
    lut0 = zone_pixel_lut(zones, _RAST_RES)
    shifted = zones.filter(F.col("id") == mod_id).withColumn(
        "rings",
        F.expr(
            "transform(rings, r -> named_struct("
            "'poly', r.poly, 'ring', r.ring,"
            f"'xs', transform(r.xs, x -> x + {_LUT_EDIT_SHIFT!r}), 'ys', r.ys))"
        ),
    )
    _, affected, patch = incremental_lut_update(
        bitsets0, shifted, [rm_id], _RAST_RES
    )
    lut = apply_lut_patch(lut0, affected, patch)
    return (
        lut.select("cell", F.posexplode("zone_arr").alias("pix", "zone_id"))
        .select("cell", F.col("pix").cast("long"), F.col("zone_id").cast("long"))
        .orderBy("cell", "pix")
    )


def sql_geo_lut_incremental():
    """Post-edit LUT from first principles: enumerate the edited zone
    set's pixel lattice, argmin per pixel, 64-slot fill per covered
    cell."""
    mod_id, rm_id = _lut_edit_ids()
    nf = (1 << _RAST_RES) * _RAST_PX
    vals = []
    for _, r in _lux_typed_rows():
        if r["id"] == rm_id:
            continue
        b = r["bbox"]
        minx, maxx = b["minx"], b["maxx"]
        if r["id"] == mod_id:
            minx, maxx = minx + _LUT_EDIT_SHIFT, maxx + _LUT_EDIT_SHIFT
        area = (maxx - minx) * (b["maxy"] - b["miny"])
        # explicit DOUBLE casts: the 17-digit reprs of shifted bounds
        # otherwise make DuckDB infer a DECIMAL too narrow for ±180
        vals.append(
            f"({r['id']}, CAST({minx!r} AS DOUBLE), CAST({b['miny']!r} AS DOUBLE), "
            f"CAST({maxx!r} AS DOUBLE), CAST({b['maxy']!r} AS DOUBLE), "
            f"{TYPE_RANK[r['zone_type']]}, CAST({area!r} AS DOUBLE))"
        )
    zones_sql = (
        "(VALUES " + ", ".join(vals) + ") AS z(id, minx, miny, maxx, maxy, rank, area)"
    )
    cellm = cells.sql_morton("(i >> 3)", "(j >> 3)", _RAST_RES)
    pixm = cells.sql_morton("(i & 7)", "(j & 7)", 3)
    return f"""
WITH zones AS (SELECT * FROM {zones_sql}),
ij AS (
  SELECT z.id AS zone_id, z.rank, z.area, gi.i, gj.j, z.minx, z.maxx, z.miny, z.maxy
  FROM zones z,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.minx + 180.0) / 360.0 * {nf}) AS BIGINT) - 1,
      CAST(ceil((z.maxx + 180.0) / 360.0 * {nf}) AS BIGINT) + 1)) AS i) gi,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.miny + 90.0) / 180.0 * {nf}) AS BIGINT) - 1,
      CAST(ceil((z.maxy + 90.0) / 180.0 * {nf}) AS BIGINT) + 1)) AS j) gj
),
hit AS (
  SELECT zone_id, rank, area, i, j FROM ij
  WHERE (-180.0 + (i + 0.5) * 360.0 / {float(nf)!r}) BETWEEN minx AND maxx
    AND (-90.0 + (j + 0.5) * 180.0 / {float(nf)!r}) BETWEEN miny AND maxy
),
win AS (
  SELECT i, j, zone_id FROM (
    SELECT i, j, zone_id,
           row_number() OVER (PARTITION BY i, j ORDER BY rank, area, zone_id) AS rn
    FROM hit) WHERE rn = 1
),
winkey AS (SELECT {cellm} AS cell, {pixm} AS pix, zone_id FROM win),
cellset AS (SELECT DISTINCT cell FROM winkey),
allpix AS (SELECT c.cell, p.range AS pix FROM cellset c CROSS JOIN range(64) p)
SELECT a.cell AS cell, a.pix AS pix,
       CAST(COALESCE(w.zone_id, -1) AS BIGINT) AS zone_id
FROM allpix a LEFT JOIN winkey w ON w.cell = a.cell AND w.pix = a.pix
ORDER BY a.cell, a.pix
"""


def q_geo_tile_lut_incremental(spark, sf_dir):
    """Incremental maintenance of the TILE-pyramid LUT (r5 — the
    mercator twin of q_geo_lut_incremental): same zone-dim edit (shift
    the smallest zone east 0.3°, remove the second smallest), patched
    via incremental_lut_update(grid=MERCATOR)/apply_lut_patch — re-folds
    ONLY the edited zones' old∪new tile footprint. Emits the patched
    LUT exploded to (cell, pix, zone_id); the oracle re-derives the
    entire post-edit tile LUT from the mercator pixel lattice."""
    from cosmospark.raster import (
        apply_lut_patch,
        incremental_lut_update,
        rasterize_zone_bitsets,
        zone_pixel_lut,
    )

    mod_id, rm_id = _lut_edit_ids()
    zones = _lux_typed_zones(spark)
    bitsets0 = rasterize_zone_bitsets(zones, _TILE_RAST_Z, cells.MERCATOR)
    lut0 = zone_pixel_lut(zones, _TILE_RAST_Z, grid=cells.MERCATOR)
    shifted = zones.filter(F.col("id") == mod_id).withColumn(
        "rings",
        F.expr(
            "transform(rings, r -> named_struct("
            "'poly', r.poly, 'ring', r.ring,"
            f"'xs', transform(r.xs, x -> x + {_LUT_EDIT_SHIFT!r}), 'ys', r.ys))"
        ),
    )
    _, affected, patch = incremental_lut_update(
        bitsets0, shifted, [rm_id], _TILE_RAST_Z, grid=cells.MERCATOR
    )
    lut = apply_lut_patch(lut0, affected, patch)
    return (
        lut.select("cell", F.posexplode("zone_arr").alias("pix", "zone_id"))
        .select("cell", F.col("pix").cast("long"), F.col("zone_id").cast("long"))
        .orderBy("cell", "pix")
    )


def sql_geo_tile_lut_incremental():
    """Post-edit TILE LUT from first principles: the mercator pixel
    lattice of the edited zone set, argmin per pixel, 64-slot fill per
    covered tile. Pixel index is ROW-MAJOR (j&7)*8 + (i&7); the tile
    key packs (z << 58) | (tx << 29) | ty (cells.tile_encode layout).
    Mercator determinism caveats as in sql_geo_raster_tile_assign."""
    mod_id, rm_id = _lut_edit_ids()
    z = _TILE_RAST_Z
    n3 = (1 << z) * 8
    n3f = float(n3)
    merc = (
        "(1.0 - ln(tan(radians({lat})) + 1.0 / cos(radians({lat}))) / pi()) / 2.0"
    )
    vals = []
    for _, r in _lux_typed_rows():
        if r["id"] == rm_id:
            continue
        b = r["bbox"]
        minx, maxx = b["minx"], b["maxx"]
        if r["id"] == mod_id:
            minx, maxx = minx + _LUT_EDIT_SHIFT, maxx + _LUT_EDIT_SHIFT
        area = (maxx - minx) * (b["maxy"] - b["miny"])
        vals.append(
            f"({r['id']}, CAST({minx!r} AS DOUBLE), CAST({b['miny']!r} AS DOUBLE), "
            f"CAST({maxx!r} AS DOUBLE), CAST({b['maxy']!r} AS DOUBLE), "
            f"{TYPE_RANK[r['zone_type']]}, CAST({area!r} AS DOUBLE))"
        )
    zones_sql = (
        "(VALUES " + ", ".join(vals) + ") AS z(id, minx, miny, maxx, maxy, rank, area)"
    )
    key = f"(CAST({z} AS BIGINT) << 58) | (CAST(i >> 3 AS BIGINT) << 29) | CAST(j >> 3 AS BIGINT)"
    return f"""
WITH zones AS (SELECT * FROM {zones_sql}),
ij AS (
  SELECT z.id AS zone_id, z.rank, z.area, gi.i, gj.j, z.minx, z.maxx, z.miny, z.maxy
  FROM zones z,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.minx + 180.0) / 360.0 * {n3}) AS BIGINT) - 1,
      CAST(ceil((z.maxx + 180.0) / 360.0 * {n3}) AS BIGINT) + 1)) AS i) gi,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor({merc.format(lat="z.maxy")} * {n3}) AS BIGINT) - 1,
      CAST(ceil({merc.format(lat="z.miny")} * {n3}) AS BIGINT) + 1)) AS j) gj
),
hit AS (
  SELECT zone_id, rank, area, i, j FROM ij
  WHERE (-180.0 + (i + 0.5) * 360.0 / {n3f!r}) BETWEEN minx AND maxx
    AND degrees(atan((exp(pi() * (1.0 - 2.0 * ((j + 0.5) / {n3f!r})))
                      - exp(-(pi() * (1.0 - 2.0 * ((j + 0.5) / {n3f!r}))))) / 2.0))
        BETWEEN miny AND maxy
),
win AS (
  SELECT i, j, zone_id FROM (
    SELECT i, j, zone_id,
           row_number() OVER (PARTITION BY i, j ORDER BY rank, area, zone_id) AS rn
    FROM hit) WHERE rn = 1
),
winkey AS (SELECT {key} AS cell, (j & 7) * 8 + (i & 7) AS pix, zone_id FROM win),
cellset AS (SELECT DISTINCT cell FROM winkey),
allpix AS (SELECT c.cell, p.range AS pix FROM cellset c CROSS JOIN range(64) p)
SELECT a.cell AS cell, a.pix AS pix,
       CAST(COALESCE(w.zone_id, -1) AS BIGINT) AS zone_id
FROM allpix a LEFT JOIN winkey w ON w.cell = a.cell AND w.pix = a.pix
ORDER BY a.cell, a.pix
"""


def sql_geo_rasterize():
    nf = (1 << _RAST_RES) * _RAST_PX
    k = _RAST_PX.bit_length() - 1  # px = 2^k
    cell = cells.sql_morton(f"(i >> {k})", f"(j >> {k})", _RAST_RES)
    return f"""
WITH zones AS (SELECT * FROM {_zones_values_sql()}),
ij AS (
  SELECT z.id AS zone_id, gi.i, gj.j, z.minx, z.maxx, z.miny, z.maxy
  FROM zones z,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.minx + 180.0) / 360.0 * {nf}) AS BIGINT) - 1,
      CAST(ceil((z.maxx + 180.0) / 360.0 * {nf}) AS BIGINT) + 1)) AS i) gi,
  LATERAL (SELECT unnest(generate_series(
      CAST(floor((z.miny + 90.0) / 180.0 * {nf}) AS BIGINT) - 1,
      CAST(ceil((z.maxy + 90.0) / 180.0 * {nf}) AS BIGINT) + 1)) AS j) gj
),
hit AS (
  SELECT zone_id, i, j FROM ij
  WHERE (-180.0 + (i + 0.5) * 360.0 / {float(nf)!r}) BETWEEN minx AND maxx
    AND (-90.0 + (j + 0.5) * 180.0 / {float(nf)!r}) BETWEEN miny AND maxy
)
SELECT zone_id, {cell} AS cell, CAST(COUNT(*) AS BIGINT) AS n_inside
FROM hit GROUP BY zone_id, cell ORDER BY zone_id, cell
"""


def q_events_window(spark, sf_dir):
    """Time-windowed aggregation over the events stream table: per
    (event_type, day) counts + exact cent sums."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .orderBy("event_type", "day")
    )


SQL_EVENTS_WINDOW = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type, day ORDER BY event_type, day
"""


_EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "on")


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: English stopword hits vs total words →
    'en' when ≥ 5% of words are EN stopwords, else 'unknown'."""
    d = _t(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _EN_STOP)
    words = "split(text, ' ')"
    hits = f"size(filter({words}, w -> w in ({sw})))"
    return d.select(
        "doc_id",
        F.expr(
            f"case when {hits} * 20 >= size({words}) then 'en' else 'unknown' end"
        ).alias("lang_guess"),
    ).orderBy("doc_id")


def sql_lang_id():
    sw = ", ".join(f"'{w}'" for w in _EN_STOP)
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
  CASE WHEN len(list_filter(ws, x -> x IN ({sw}))) * 20 >= len(ws)
       THEN 'en' ELSE 'unknown' END AS lang_guess
FROM w ORDER BY doc_id
"""


# 12 sign bits → 4 096 buckets. Round 1 used 8 (256 buckets): at 10⁹
# vectors a bucket held ~4 M rows → near-quadratic verification inside a
# bucket. Each extra bit halves expected bucket size; at real scale the
# knob is data-sized (bits ≈ log2(n / target_bucket_rows)).
N_HYPERPLANES = 12


def _hyperplane(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (pure integer arithmetic —
    reproducible in SQL)."""
    return [float((j * 131 + d * 31 + j * d * 7) % 17 - 8) / 8.0 for d in range(dim)]


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN: 8 deterministic hyperplane sign bits → bucket;
    same-bucket pairs verified by exact cosine ≥ 0.2. The scale path for
    similarity search (bucket equi-join instead of all-pairs)."""
    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    bucket = None
    for j in range(N_HYPERPLANES):
        h = _hyperplane(j, dim)
        hlit = "array(" + ", ".join(repr(v) + "D" for v in h) + ")"
        dot = f"aggregate(zip_with(embedding, {hlit}, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        bit = F.expr(f"case when {dot} > 0 then {1 << j} else 0 end").cast("long")
        bucket = bit if bucket is None else bucket + bit
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    a2 = b.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), "bucket")
    b2 = b.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), "bucket")
    dot = "aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    na = "sqrt(aggregate(ea, 0D, (a, x) -> a + x * x))"
    nb = "sqrt(aggregate(eb, 0D, (a, x) -> a + x * x))"
    return (
        a2.join(b2, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.expr(f"round({dot} / ({na} * {nb}), 6)"))
        .filter(F.col("cos_sim") >= 0.2)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


def sql_ann_lsh(dim: int):
    bits = []
    for j in range(N_HYPERPLANES):
        h = _hyperplane(j, dim)
        hlit = "[" + ", ".join(repr(v) for v in h) + "]"
        dot = (
            f"list_aggregate(list_transform(list_zip(embedding, {hlit}), "
            f"p -> p[1] * p[2]), 'sum')"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(bits)
    pdot = "list_aggregate(list_transform(list_zip(ea, eb), p -> p[1] * p[2]), 'sum')"
    pna = "sqrt(list_aggregate(list_transform(ea, x -> x * x), 'sum'))"
    pnb = "sqrt(list_aggregate(list_transform(eb, x -> x * x), 'sum'))"
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.embedding AS ea, b2.embedding AS eb
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, ROUND({pdot} / ({pna} * {pnb}), 6) AS cos_sim
FROM pairs WHERE ROUND({pdot} / ({pna} * {pnb}), 6) >= 0.2
ORDER BY id_a, id_b
"""


ANN_MULTI_TABLES = 2
ANN_MULTI_BITS = 8


def q_ann_lsh_multi(spark, sf_dir):
    """Multi-table sign-LSH ANN (the recall-story path, VERDICT r2 #7):
    L independent hyperplane tables, candidates unioned, exact cosine ≥
    0.2 verification. One projection computes all L buckets per vector;
    the embedding sides join the candidate pairs UNHINTED (corpus-linear
    — AQE broadcasts only when genuinely small)."""
    from cosmospark.ann import lsh_candidate_pairs

    e = _t(spark, sf_dir, "embeddings")
    cand = lsh_candidate_pairs(
        e, n_tables=ANN_MULTI_TABLES, n_bits=ANN_MULTI_BITS
    )
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    dot = "aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    na = "sqrt(aggregate(ea, 0D, (a, x) -> a + x * x))"
    nb = "sqrt(aggregate(eb, 0D, (a, x) -> a + x * x))"
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos_sim", F.expr(f"round({dot} / ({na} * {nb}), 6)"))
        .filter(F.col("cos_sim") >= 0.2)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


def sql_ann_lsh_multi(dim: int):
    """DuckDB oracle: re-derives every table's bucket with the same
    sequential-fold arithmetic, unions candidates, scores exactly."""
    legs = []
    for t in range(ANN_MULTI_TABLES):
        bits = []
        for j in range(ANN_MULTI_BITS):
            h = _hyperplane(t * 101 + j, dim)
            hlit = "[" + ", ".join(repr(v) for v in h) + "]"
            dot = (
                f"list_aggregate(list_transform(list_zip(embedding, {hlit}), "
                f"p -> p[1] * p[2]), 'sum')"
            )
            bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
        legs.append(
            f"SELECT vec_id, embedding, {t} AS tbl, {' + '.join(bits)} AS bucket "
            f"FROM embeddings"
        )
    union = " UNION ALL ".join(legs)
    pdot = "list_aggregate(list_transform(list_zip(ea, eb), p -> p[1] * p[2]), 'sum')"
    pna = "sqrt(list_aggregate(list_transform(ea, x -> x * x), 'sum'))"
    pnb = "sqrt(list_aggregate(list_transform(eb, x -> x * x), 'sum'))"
    return f"""
WITH b AS ({union}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
   AND a.vec_id < b2.vec_id),
pairs AS (
  SELECT id_a, id_b, ea.embedding AS ea, eb.embedding AS eb
  FROM cand JOIN embeddings ea ON ea.vec_id = id_a
            JOIN embeddings eb ON eb.vec_id = id_b)
SELECT id_a, id_b, ROUND({pdot} / ({pna} * {pnb}), 6) AS cos_sim
FROM pairs WHERE ROUND({pdot} / ({pna} * {pnb}), 6) >= 0.2
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)


def q_dedup_exact(spark, sf_dir):
    """Exact dedup with a FIXED-WIDTH shuffle key (VERDICT r3 #3).

    groupBy(text) ships the corpus through the shuffle — at 100 TB the
    exchange carries 100 TB. Instead: (1) aggregate on xxhash64(text)
    (8-byte key, map-side partial combine); a bucket of size 1 is proven
    unique without ever comparing text. (2) Only rows whose hash bucket
    holds >1 doc re-shuffle WITH text for exact in-bucket verification —
    on real corpora that is the duplicate fraction, not the corpus.
    Result is bit-identical to groupBy(text): hash collisions split
    correctly in pass 2; unique hashes imply unique texts trivially."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.xxhash64("text").alias("h")
    )
    buckets = d.groupBy("h").agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )
    singles = buckets.filter(F.col("n_copies") == 1).select("keeper", "n_copies")
    dup_rows = d.join(
        buckets.filter(F.col("n_copies") > 1).select("h"), "h", "left_semi"
    )
    verified = (
        dup_rows.groupBy("h", "text")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
        .select("keeper", "n_copies")
    )
    return singles.unionByName(verified).orderBy("keeper")


SQL_DEDUP = """
SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
FROM documents GROUP BY text ORDER BY keeper
"""


# exact-substring dedup: window width in whitespace tokens (Lee et al.
# 2022 use 50 BPE tokens on real corpora; 8 fits the synthetic docs'
# 10-99-token length distribution while exercising identical logic)
SUBSTR_K = 8


def q_substring_dedup(spark, sf_dir):
    """Exact-SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): the doc-level dedup family
    (dedup_exact / minhash / simhash) misses the classic failure mode of
    boilerplate spans pasted into otherwise-distinct documents. Find
    every k-token window whose text recurs in >=2 DISTINCT documents,
    merge each document's duplicated windows into maximal token spans
    (gaps-and-islands), and report per doc: duplicated-window count,
    merged covered-token count, total tokens. Integer outputs only —
    ratios are the caller's division (oracle-parity rule: counts hash
    exactly, rounded rationals can straddle a half-ulp).

    100 TB shape (same principle as q_dedup_exact's fixed-width key):
      pass 1 — the corpus-wide shuffle carries ONLY
        (xxhash64(window_text), doc_id) 16-byte rows, never window
        text; two-phase distinct-count finds hashes spanning >=2 docs.
      pass 2 — window TEXT re-materializes only for documents holding a
        candidate hash (the duplicated fraction of the corpus), where
        cross-doc duplication is re-verified on the text itself, so a
        hash collision cannot fabricate a duplicate.
      span merge — two window functions partitioned by doc_id over
        candidate rows only (shuffle is O(duplicated windows)).
    """
    from pyspark.sql.window import Window

    k = SUBSTR_K
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= k)  # sequence(0, negative) guard
    )
    # conditional splittability guard (r7): the window-hash pass sits
    # directly on the scan stage; a single-row-group file would run it
    # 1-wide (no-op on many-file inputs — see _widen_if_narrow)
    d = _widen_if_narrow(spark, d, "doc_id")
    # pass-1 window key: MULTI-ARG xxhash64 over the k window tokens
    # (element_at, no slice) — the join/compare key only needs to be
    # deterministic and collision-checked later, and the multi-arg form
    # hashes the same k strings without allocating a k-element array
    # copy per window (r7: 1.21 s → 0.84 s for the corpus window pass
    # at sf1.0; the r6 array_join form also built every window's text).
    # Pass 2 still re-verifies on the real text: a collision under any
    # of these hashes cannot fabricate a duplicate.
    _h_args = ", ".join(f"element_at(t, i + {j + 1})" for j in range(k))
    wins = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}),"
                f" i -> xxhash64({_h_args}))"
            )
        ).alias("pos", "h"),
    )
    # shared lineages: wins feeds the candidate aggregate AND the hit
    # semi-join (uncached it executes the corpus window-hash twice);
    # d feeds the window build, the pass-2 text re-derivation and the
    # final n_tokens join (uncached it re-scans + re-splits 3×)
    _cache_generation("substring_dedup", wins, d)
    # "spans ≥ 2 distinct docs" ⟺ min(doc_id) != max(doc_id): plain
    # min/max partial aggregation instead of count_distinct's two-phase
    # distinct expand — same candidate set, cheaper exchange (r7)
    cand = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("h")
    )
    hits = wins.join(cand, "h", "left_semi")
    # pass 2: re-derive window text for candidate rows only; re-verify
    # cross-doc duplication on the text so collisions cannot lie. The
    # hash stays FIRST in every grouping/join key so no exchange keys
    # on raw text (same audited shape as q_dedup_exact's pass 2).
    hw = hits.join(d, "doc_id").select(
        "doc_id",
        "pos",
        "h",
        F.expr(f"array_join(slice(t, pos + 1, {k}), ' ')").alias("w"),
    )
    # hw feeds BOTH the text verification aggregate and the verified-row
    # semi-join; uncached, the hits⋈d join (with its d-side exchange)
    # executed twice (r7 — observed as twin 40 MB exchanges). It is
    # O(duplicated windows), the sliver the span merge processes anyway.
    _cache_generation("substring_dedup_hw", hw)
    ver = (
        hw.groupBy("h", "w")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))  # ≥2 distinct docs (as above)
        .select("h", "w")
    )
    rows = hw.join(ver, ["h", "w"], "left_semi")
    # gaps-and-islands: windows [pos, pos+k) merge while the next start
    # is <= the running max end (adjacency pos == end is contiguous
    # token coverage, so it merges too)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = rows.withColumn(
        "ni",
        (
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + k).over(w_prev), F.lit(-1))
        ).cast("int"),
    ).withColumn("island", F.sum("ni").over(w_run))
    spans = isl.groupBy("doc_id", "island").agg(
        F.count("*").alias("nw"),
        (F.max("pos") + k - F.min("pos")).alias("span_len"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("nw").cast("bigint").alias("dup_windows"),
        F.sum("span_len").cast("bigint").alias("covered_tokens"),
    )
    return (
        per_doc.join(d.select("doc_id", F.size("t").alias("nt")), "doc_id")
        .select(
            "doc_id",
            F.col("nt").cast("bigint").alias("n_tokens"),
            "dup_windows",
            "covered_tokens",
        )
        .orderBy("doc_id")
    )


SQL_SUBSTRING_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= {SUBSTR_K}
),
wins AS (
  SELECT doc_id, i AS pos, array_to_string(t[i + 1 : i + {SUBSTR_K}], ' ') AS w
  FROM toks, UNNEST(generate_series(0, len(t) - {SUBSTR_K})) AS g(i)
),
dup AS (
  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
),
rows_ AS (
  SELECT doc_id, pos FROM wins WHERE w IN (SELECT w FROM dup)
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(max(pos + {SUBSTR_K}) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM rows_
),
isl2 AS (
  SELECT doc_id, pos, sum(ni) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, count(*) AS nw,
         max(pos) + {SUBSTR_K} - min(pos) AS span_len
  FROM isl2 GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, CAST(sum(nw) AS BIGINT) AS dup_windows,
         CAST(sum(span_len) AS BIGINT) AS covered_tokens
  FROM spans GROUP BY doc_id
)
SELECT p.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       p.dup_windows, p.covered_tokens
FROM per_doc p JOIN toks t USING (doc_id)
ORDER BY doc_id
"""


# training-sample chunking: window / stride in whitespace tokens
CHUNK_C = 32
CHUNK_S = 24


def q_doc_chunks(spark, sf_dir):
    """Training-sample creation: split each document into overlapping
    fixed-size token chunks (window CHUNK_C, stride CHUNK_S — the
    standard pretraining packing shape). Pure narrow transform: split +
    sequence + slice + posexplode, all JVM built-ins, ZERO shuffle
    before the (cosmetic, test-only) orderBy — at 100 TB this is a
    map-only pass whose output partitioning inherits the scan."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 1)
    )
    ch = d.select(
        "doc_id",
        F.size("t").alias("n"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - 1, {CHUNK_S}),"
                f" s -> array_join(slice(t, s + 1, {CHUNK_C}), ' '))"
            )
        ).alias("chunk_id", "chunk_text"),
    )
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        (F.col("chunk_id") * CHUNK_S).cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_C), F.col("n") - F.col("chunk_id") * CHUNK_S)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        "chunk_text",
    ).orderBy("doc_id", "chunk_id")


SQL_DOC_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 1
)
SELECT doc_id,
       CAST(s // {CHUNK_S} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_tok,
       CAST(least({CHUNK_C}, len(t) - s) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[s + 1 : s + {CHUNK_C}], ' ') AS chunk_text
FROM toks, UNNEST(generate_series(0, len(t) - 1, {CHUNK_S})) AS g(s)
ORDER BY doc_id, chunk_id
"""


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + alpha-word tokens."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).cast("bigint").alias("n_words"),
    ).orderBy("doc_id")


SQL_TOKENS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+', 0)) AS BIGINT) AS n_words
FROM documents ORDER BY doc_id
"""


# GPT-2-style pretokenization (ASCII subset, identical under Java regex
# and RE2): contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs.
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def q_bpe_tokens(spark, sf_dir):
    """BPE-ish token counting: pretokenize with a GPT-2-style regex, then
    charge each pretoken ceil(len/4) subword units (a fixed merge budget
    standing in for a learned vocab — deterministic, engine-portable).
    One regex pass + one fold per row, all JVM-side built-ins."""
    d = _t(spark, sf_dir, "documents")
    toks = f'regexp_extract_all(text, "{_BPE_PAT}", 0)'
    return d.select(
        "doc_id",
        F.expr(f"cast(size({toks}) as bigint)").alias("n_bpe_tokens"),
        F.expr(
            f"aggregate({toks}, 0L,"
            f" (acc, t) -> acc + cast(ceil(length(trim(t)) / 4.0) as bigint))"
        ).alias("n_subword_units"),
    ).orderBy("doc_id")


SQL_BPE_TOKENS = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}', 0)) AS BIGINT)
           AS n_bpe_tokens,
       CAST(COALESCE(list_sum(list_transform(
                regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}', 0),
                t -> CAST(ceil(length(trim(t)) / 4.0) AS BIGINT))), 0) AS BIGINT)
           AS n_subword_units
FROM documents ORDER BY doc_id
"""


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def q_quality_score(spark, sf_dir):
    """Quality scoring: length, word count, stopword ratio (exact
    rational → rounded), uppercase-start flag."""
    d = _t(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    words = "split(text, ' ')"
    n_stop = f"size(filter({words}, w -> w in ({sw})))"
    return d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars_out"),
        F.expr(f"size({words})").cast("bigint").alias("n_words"),
        F.round(F.expr(f"{n_stop} / size({words})"), 4).alias("stop_ratio"),
    ).orderBy("doc_id")


def sql_quality_score():
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars_out,
       CAST(len(ws) AS BIGINT) AS n_words,
       ROUND(len(list_filter(ws, x -> x IN ({sw}))) / len(ws), 4) AS stop_ratio
FROM w ORDER BY doc_id
"""


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition quality filter (Rae et al. 2021 §A1.1):
    per document, the fraction of characters covered by the MOST
    FREQUENT word 2-gram (count × gram length / total chars) and the
    character MASS ratio of DUPLICATED word 5-grams (every occurrence
    of any 5-gram seen ≥ 2× counts with multiplicity, so heavy overlap
    can push it past 1 — a deliberate, deterministic simplification of
    Gopher's once-per-char coverage). Docs with < 2 words yield NULL
    top2_* and dup5_chars = 0. Outputs are the INTEGER numerator /
    denominator (char masses + total_chars), never rounded double
    ratios: Spark rounds doubles via BigDecimal HALF_UP while DuckDB
    rounds via float multiply, so a quotient landing near a .00005
    boundary can hash-mismatch across engines (ADVICE r5; the
    substring_dedup convention) — callers divide. Entirely higher-order
    functions over the split-word array — a map pass (plus the
    CONDITIONAL narrow-input guard below, a no-op on many-file inputs),
    the right shape for a 100 TB corpus scrub. Counts come from ONE
    run-length fold over the array_sort'ed gram array (O(n log n) per
    doc; the first cut's per-position filter scan was O(n²) and
    measured 2.6× slower at sf0.1 — see BENCH/BASELINE.md). Tie-break
    for the top 2-gram: max count, then lexicographically smallest
    gram — sorted order makes 'first run to strictly beat the best'
    exactly that (binary/ASCII — matches the oracle's ORDER BY c DESC,
    gram)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("ws")
    )
    # conditional input-splittability guard (see _widen_if_narrow): the
    # gram folds sit directly on the scan stage; a single-row-group file
    # would cap them at 1-wide execution. No-op on a many-file input.
    d = _widen_if_narrow(spark, d, "doc_id")
    d = d.select(
        "doc_id",
        F.length("text").alias("tc"),
        # grams via direct 0-based indexing (ws[i] = GetArrayItem): the
        # r6 shape allocated a slice() array per gram only to join it;
        # concat over indexed elements emits the IDENTICAL string with
        # one allocation instead of two per gram (r7, guide §1.2
        # per-task work)
        F.expr(
            "if(size(ws) >= 2, array_sort(transform(sequence(0, size(ws) - 2),"
            " i -> concat(ws[i], ' ', ws[i+1]))), array())"
        ).alias("s2"),
        F.expr(
            "if(size(ws) >= 5, array_sort(transform(sequence(0, size(ws) - 5),"
            " i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2], ' ', ws[i+3], ' ', ws[i+4]))), array())"
        ).alias("s5"),
    )
    # single-pass run-length fold over each sorted gram array. State:
    # (prev gram, current run, best run, best gram). new_run repeats as
    # a sub-expression (O(1) string compare) because SQL lambdas can't
    # bind locals. Ties keep the FIRST (sorted = lexicographic min).
    run = "IF(x <=> st.prev, st.run + 1, 1L)"
    d = d.select(
        "doc_id",
        "tc",
        F.expr(
            f"""aggregate(s2,
              named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
                           'best', 0L, 'bestg', CAST(NULL AS STRING)),
              (st, x) -> named_struct(
                'prev', x,
                'run', {run},
                'best', IF({run} > st.best, {run}, st.best),
                'bestg', IF({run} > st.best, x, st.bestg)))"""
        ).alias("t2"),
        # duplicated-gram char mass, incrementally: the 2nd element of a
        # run retroactively charges the 1st too (2×len), later ones 1×len
        F.expr(
            f"""aggregate(s5,
              named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'mass', 0L),
              (st, x) -> named_struct(
                'prev', x,
                'run', {run},
                'mass', st.mass + CASE {run} WHEN 2 THEN 2L * length(x)
                                  WHEN 1 THEN 0L ELSE length(x) END))"""
        ).alias("d5"),
    )
    return (
        d.select(
            "doc_id",
            F.expr("nullif(t2.best, 0L)").alias("top2_count"),
            F.expr("t2.bestg").alias("top2_gram"),
            F.expr("t2.best * cast(length(t2.bestg) as bigint)").alias(
                "top2_chars"
            ),
            F.expr("d5.mass").alias("dup5_chars"),
            F.col("tc").cast("long").alias("total_chars"),
        )
        .orderBy("doc_id")
    )


def sql_gopher_repetition():
    """Explode-and-count re-derivation: unnest positions → gram counts
    → window argmax for the top 2-gram, plain SUM over c≥2 for the
    duplicated-5-gram character mass."""
    return """
WITH w AS (SELECT doc_id, len(text) AS tc, string_split(text, ' ') AS ws
           FROM documents),
p2 AS (SELECT doc_id, tc, unnest(range(1, len(ws))) AS i, ws FROM w
       WHERE len(ws) >= 2),
g2 AS (SELECT doc_id, tc, array_to_string(ws[i:i+1], ' ') AS gram FROM p2),
c2 AS (SELECT doc_id, tc, gram, COUNT(*) AS c FROM g2 GROUP BY ALL),
t2 AS (SELECT doc_id, tc, gram, c,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, gram) AS rn
       FROM c2),
p5 AS (SELECT doc_id, tc, unnest(range(1, len(ws) - 3)) AS i, ws FROM w
       WHERE len(ws) >= 5),
g5 AS (SELECT doc_id, tc, array_to_string(ws[i:i+4], ' ') AS gram FROM p5),
c5 AS (SELECT doc_id, tc, gram, COUNT(*) AS c FROM g5 GROUP BY ALL),
d5 AS (SELECT doc_id, SUM(c * len(gram)) AS dupchars FROM c5
       WHERE c >= 2 GROUP BY doc_id)
SELECT w.doc_id,
       CAST(t2.c AS BIGINT) AS top2_count,
       t2.gram AS top2_gram,
       CAST(t2.c * len(t2.gram) AS BIGINT) AS top2_chars,
       CAST(COALESCE(d5.dupchars, 0) AS BIGINT) AS dup5_chars,
       CAST(w.tc AS BIGINT) AS total_chars
FROM w
LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1
LEFT JOIN d5 ON d5.doc_id = w.doc_id
ORDER BY w.doc_id
"""


JACCARD_T = 0.5
# prefix computed at a slightly lower threshold so the guarantee also
# covers values that ROUND up to the output threshold
_JACCARD_PF_T = 0.4999


def _maybe_broadcast(df, est_bytes: int, budget: int | None = None):
    """Size-guarded broadcast: hint only when the estimated side fits the
    budget (the ``assign.BROADCAST_BUDGET_BYTES`` pattern). Above budget
    the hint is dropped and the join falls back to a shuffle join on its
    (unique, skew-free) key — AQE still upgrades it to broadcast at
    runtime if the actual relation turns out small. An unconditional
    ``F.broadcast`` of corpus-linear data is the one-line OOM at 10⁹
    rows."""
    from cosmospark.assign import BROADCAST_BUDGET_BYTES

    if budget is None:
        budget = BROADCAST_BUDGET_BYTES
    return F.broadcast(df) if est_bytes <= budget else df


# shared-lineage caching with BOUNDED lifecycle (ADVICE r3 without the
# eager-checkpoint tax): lazy .cache() pipelines materialization into
# the first consuming job (measured 2.4× faster than eager
# localCheckpoint for the ngram token lineages), and each new
# invocation unpersists the PREVIOUS generation under its key — so
# composed callers (dedup_clusters → ngram → …) hold at most one
# generation of cached state instead of accumulating forever.
_CACHE_GENERATIONS: dict[str, list] = {}

# static-table size estimates, keyed by (kind, table path, mtime); see
# q_ngram_jaccard for rationale. The mtime component self-invalidates
# when the table is regenerated at the same path (ADVICE r5).
_SIZE_EST_CACHE: dict[tuple[str, str, float], int] = {}


def _path_mtime(p: str) -> float:
    """Freshness stamp for a parquet path: the max mtime of the
    file/dir and (for a directory) its direct entries — parquet
    re-writes replace part files, which bumps at least one of these.
    Missing paths stamp -1.0 (the read will fail anyway)."""
    try:
        mt = os.path.getmtime(p)
        if os.path.isdir(p):
            for e in os.scandir(p):
                mt = max(mt, e.stat().st_mtime)
        return mt
    except OSError:
        return -1.0


def _cache_generation(key: str, *dfs):
    """Cache ``dfs`` under ``key``, unpersisting the previous generation.

    Lifecycle contract (single-generation): at most ONE generation per
    key is live; a new invocation unpersists the previous one, so a
    composed caller must not hold an unmaterialized plan over an older
    generation across a re-invocation (it would silently recompute —
    correctness unaffected, cache benefit lost). The FINAL generation
    stays cached until ``release_cached_generations()`` or session
    teardown; driver-side the dict is process-global and not
    thread-safe — concurrent query construction from multiple threads
    should serialize around it.
    """
    for old in _CACHE_GENERATIONS.get(key, []):
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    _CACHE_GENERATIONS[key] = list(dfs)
    for df in dfs:
        df.cache()
    return dfs


def release_cached_generations(key: str | None = None) -> None:
    """Explicit teardown for the generation cache (ADVICE r4): drop the
    final live generation(s) instead of leaving them pinned for the
    session's lifetime. No-op for unknown keys."""
    keys = [key] if key is not None else list(_CACHE_GENERATIONS)
    for k in keys:
        for old in _CACHE_GENERATIONS.pop(k, []):
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass


# Bitmask-path gate (r7): ceil(vocab/64) mask words are bounded so the
# per-pair intersection stays a handful of codegen'd bit_counts.
_NJ_BITMASK_MAX_VOCAB = 1024
# cached ANALYZE-style corpus stats for the jaccard strategy choice:
# (vocab, prefix_pair_mass, allpairs_mass, n_docs) keyed by table mtime
_NJ_STATS_CACHE: dict[tuple, tuple[int, int, int, int]] = {}


def _ngram_corpus_stats(spark, d, sf_dir) -> tuple[int, int, int, int]:
    """Strategy stats for the jaccard candidate generation, memoized per
    table path+mtime (the _SIZE_EST_CACHE convention — static-table
    statistics, recomputed when the table is regenerated):

      vocab          distinct tokens corpus-wide
      prefix_mass    Σ over (source, token) buckets of count² — an upper
                     proxy for the row-pairs the prefix-token candidate
                     join evaluates (prefix indexing halves occurrences,
                     so the realized mass is ≈ prefix_mass/4)
      allpairs_mass  Σ over sources of n_docs² — the row-pairs a direct
                     same-source all-pairs join evaluates
      n_docs         corpus rows (sizes the doc-mask broadcast)

    Two aggregates over the exploded token stream (word-count shape:
    map-side combined, vocabulary×sources-bounded output) and one over
    the doc table — cheap at any corpus size."""
    ck = ("ngram_stats", str(sf_dir), _path_mtime(f"{sf_dir}/documents.parquet"))
    if ck not in _NJ_STATS_CACHE:
        toks0 = d.select("source", F.array_distinct(F.split("text", " ")).alias("toks"))
        sw = (
            toks0.select("source", F.explode("toks").alias("w"))
            .groupBy("source", "w")
            .agg(F.count("*").alias("c"))
        )
        r1 = sw.agg(
            (F.sum(F.col("c") * F.col("c"))).alias("pf"),
            F.count_distinct("w").alias("v"),
        ).collect()[0]
        r2 = (
            toks0.groupBy("source")
            .agg(F.count("*").alias("n"))
            .agg(F.sum(F.col("n") * F.col("n")).alias("ap"), F.sum("n").alias("nd"))
            .collect()[0]
        )
        _NJ_STATS_CACHE[ck] = (
            int(r1["v"] or 0),
            int(r1["pf"] or 0),
            int(r2["ap"] or 0),
            int(r2["nd"] or 0),
        )
    return _NJ_STATS_CACHE[ck]


def _ngram_jaccard_bitmask(spark, d, n_words: int, mask_bytes: int, budget):
    """LOW-ENTROPY corpus jaccard: distinct-token sets become V-bit
    masks (V = vocab ≤ _NJ_BITMASK_MAX_VOCAB), candidate generation is
    the direct same-source pair join, and |∩| is ceil(V/64) codegen'd
    ``bit_count(a & b)`` terms — no token re-materialization, no
    candidate distinct, no per-pair string-array intersection. Exact by
    construction: every same-source pair is evaluated (recall 1.0), and
    sz/|∩| computed from the masks equal size(toks)/|array_intersect|
    because bits are exactly the distinct tokens.

    Chosen by q_ngram_jaccard only when the measured ``allpairs_mass``
    is below the prefix path's realized bucket mass (guide §1: the
    strategy follows the stats, not the shape) — on Zipf-distributed
    real corpora the prefix path's inverted index prunes and this path
    is never taken; on tiny-vocabulary corpora the prefix buckets carry
    ~the whole source and the inverted index only multiplies the
    quadratic (measured 1.13e9 bucket pairs vs 1.25e8 direct pairs on
    the sf1.0 fixture — 9× the row-pairs for strictly more per-pair
    work)."""
    d = _widen_if_narrow(spark, d, "doc_id")
    toks = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("sz", F.size("toks"))
    w = toks.select("doc_id", "source", "sz", F.explode("toks").alias("w"))
    from pyspark.sql.window import Window

    # dense token ids by token text: vocabulary-sized (≤1024 by the
    # gate), so the single-partition id window is a non-issue
    vocab = (
        w.select("w")
        .distinct()
        .withColumn("tid", F.row_number().over(Window.orderBy("w")) - 1)
    )
    mask_aggs = [
        F.expr(
            f"bit_or(CASE WHEN tid DIV 64 = {i}"
            f" THEN shiftleft(1L, pmod(tid, 64)) ELSE 0L END)"
        ).alias(f"m{i}")
        for i in range(n_words)
    ]
    masks = (
        w.join(F.broadcast(vocab), "w")
        .groupBy("doc_id", "source", "sz")
        .agg(*mask_aggs)
    )
    # r7: EAGER materialization, not a lazy cache — the pair join's two
    # sides (probe + broadcast build) are materialized as CONCURRENT
    # AQE jobs, and a lazy cache races: both jobs computed the full
    # corpus mask pass before either populated it (two ~1.5 s corpus
    # scans, observed as twin stages in the job timeline). The mask
    # table is NODE-scale (n_docs rows, ≤ the broadcast budget by the
    # dispatch gate), so the checkpoint is trivial and both sides then
    # read materialized rows.
    masks = masks.localCheckpoint(eager=True)
    ma = masks.select(
        F.col("doc_id").alias("doc_a"),
        "source",
        F.col("sz").alias("sza"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(n_words)],
    )
    mb = masks.select(
        F.col("doc_id").alias("doc_b"),
        "source",
        F.col("sz").alias("szb"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(n_words)],
    )
    # size filter at the PREFIX threshold (implied by round(jac,4) ≥ t,
    # so recall is exact); masks broadcast under the same budget as the
    # prefix path's token-array side — corpus-linear data never gets an
    # unconditional broadcast hint
    cond = (
        (ma["source"] == mb["source"])
        & (F.col("doc_a") < F.col("doc_b"))
        & (
            F.least(F.col("sza"), F.col("szb"))
            >= F.ceil(F.lit(_JACCARD_PF_T) * F.greatest(F.col("sza"), F.col("szb")))
        )
    )
    from functools import reduce

    inter = reduce(lambda a, b: a + b, [F.col(f"i{i}") for i in range(n_words)])
    pairs = (
        ma.join(_maybe_broadcast(mb, mask_bytes, budget), cond)
        .select(
            "doc_a",
            "doc_b",
            "sza",
            "szb",
            *[
                F.bit_count(F.col(f"a{i}").bitwiseAND(F.col(f"b{i}"))).alias(f"i{i}")
                for i in range(n_words)
            ],
        )
        .withColumn("inter", inter)
    )
    # raw-ratio prefilter before the rounded threshold: round(x,4) ≥ t
    # implies x ≥ t − 0.00005, so a slightly looser multiply-compare
    # (no division, no per-row BigDecimal round) rejects the ~20% of
    # sz-filtered pairs below threshold before the exact filter runs;
    # codegen ANDs short-circuit, so round() only evaluates on the
    # boundary band + survivors. Exact: the prefilter passes a strict
    # superset of the final filter.
    pre = F.col("inter").cast("double") >= F.lit(JACCARD_T - 0.000051) * (
        F.col("sza") + F.col("szb") - F.col("inter")
    )
    return (
        pairs.filter(pre)
        .withColumn(
            "jac",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4),
        )
        .filter(F.col("jac") >= JACCARD_T)
        .select("doc_a", "doc_b", "jac")
    )


def q_ngram_jaccard(spark, sf_dir, broadcast_budget_bytes: int | None = None):
    """Near-dup detection: word-set Jaccard over same-source pairs.

    Scale-correct candidate generation via **prefix filtering** (the
    AllPairs/ppjoin inverted-index technique): tokens are globally
    ordered by (document frequency, token); each doc only indexes its
    first ``|set| - ceil(t·|set|) + 1`` tokens; two docs with jac ≥ t
    MUST share a prefix token, so joining on prefix tokens has exact
    recall while hot (high-df) tokens — the Zipf skew killers, which sort
    LAST — almost never enter the join. Exact Jaccard is then computed
    from the full token arrays per surviving pair. Round-1's version
    joined on every token occurrence: one stopword key carried a
    quadratic partition at scale.

    r7: candidate generation is STRATEGY-DISPATCHED on measured corpus
    stats (_ngram_corpus_stats). Prefix filtering assumes a Zipf tail of
    low-df tokens to index on; a LOW-ENTROPY corpus (vocabulary ≪
    corpus) has none, so every (source, prefix-token) bucket carries
    ~the whole source and the inverted index multiplies the quadratic
    instead of pruning it (its own docstring caveat, now acted on).
    When the measured all-pairs mass undercuts the prefix bucket mass
    AND the vocabulary fits ceil(V/64) ≤ 16 mask words AND the doc-mask
    side fits the broadcast budget, dispatch to the bitmask path
    (_ngram_jaccard_bitmask); identical output by construction, and
    test_plans.py pins result parity across both strategies."""
    # r7: cache the pair set under the presentation sort — a global
    # orderBy range-partitions, and its bound-sampling pass executes the
    # full candidate join a SECOND time before the real pass (measured:
    # unordered pairs 2.3 s vs 13.4 s through the uncached sort at
    # sf1.0). The cache materializes inside the sampling job and the
    # range exchange then reads columnar batches; generation-scoped so
    # the next invocation releases it (ADVICE r3 lifecycle rule).
    pairs = _ngram_jaccard_pairs(spark, sf_dir, broadcast_budget_bytes)
    _cache_generation("ngram_pairs", pairs)
    return pairs.orderBy("doc_a", "doc_b")


def _ngram_jaccard_pairs(spark, sf_dir, broadcast_budget_bytes: int | None = None):
    """UNORDERED jaccard pairs (strategy dispatch per q_ngram_jaccard).
    Graph consumers (dedup_clusters → connected components) start with
    a distinct() that destroys ordering anyway — feeding them the
    sorted variant paid a full corpus-pair sort (44M rows at sf1.0) for
    nothing (r7, guide §2.4: an orderBy used only for presentation)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    vocab, pf_mass, ap_mass, n_docs = _ngram_corpus_stats(spark, d, sf_dir)
    n_words = max(1, -(-vocab // 64))
    # doc-mask row: ids/sz/source ≈ 48 B + 8 B per mask word
    mask_bytes = n_docs * (48 + 8 * n_words)
    budget = broadcast_budget_bytes
    if budget is None:
        from cosmospark.assign import BROADCAST_BUDGET_BYTES

        budget = BROADCAST_BUDGET_BYTES
    if (
        vocab <= _NJ_BITMASK_MAX_VOCAB
        and ap_mass <= pf_mass // 4  # realized prefix mass ≈ pf_mass/4
        and mask_bytes <= budget
    ):
        return _ngram_jaccard_bitmask(spark, d, n_words, mask_bytes, budget)
    return _ngram_jaccard_prefix(spark, d, sf_dir, broadcast_budget_bytes)


def _ngram_jaccard_prefix(spark, d, sf_dir, broadcast_budget_bytes: int | None = None):
    """The prefix-filtering (AllPairs/ppjoin) candidate path — see
    q_ngram_jaccard; the right strategy whenever the corpus has a Zipf
    vocabulary (any real text corpus)."""
    # size estimate for the per-doc token-array side: token bytes are
    # bounded by text bytes; +64 B/row of array/offset overhead. ONE
    # cheap two-column aggregate (text length only — no tokenization),
    # memoized per table path: static-table stats, like a catalog's
    # ANALYZE output, don't change between invocations — re-running the
    # scan per call would tax every repeated caller (benchmarks,
    # composed pipelines) for a number that cannot change.
    # cache key includes the parquet path's mtime (ADVICE r5): a table
    # regenerated at the same path within one session (tests, refreshed
    # fixtures) must not reuse a stale estimate — an under-estimate
    # could wrongly broadcast an over-budget side (OOM risk, not a
    # wrong result). Directory mtime changes on any file add/replace.
    ck = ("ngram_size_est", str(sf_dir), _path_mtime(f"{sf_dir}/documents.parquet"))
    if ck not in _SIZE_EST_CACHE:
        est = d.agg(
            F.sum(F.length("text")).alias("b"), F.count("*").alias("n")
        ).collect()[0]
        _SIZE_EST_CACHE[ck] = int(est["b"] or 0) + 64 * int(est["n"])
    tok_side_bytes = _SIZE_EST_CACHE[ck]
    # generation-scoped cache (see _cache_generation): it feeds the
    # inverted index AND both re-score sides; lazy caching pipelines the
    # materialization into the first job, and the next invocation
    # unpersists this generation, bounding accumulation (ADVICE r3).
    toks = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("sz", F.size("toks"))
    w = toks.select("doc_id", "source", "sz", F.explode("toks").alias("w"))
    dfreq = w.groupBy("w").agg(F.count("*").alias("dfn"))

    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id").orderBy("dfn", "w")
    # cached: the prefix lineage (df join + per-doc window) feeds BOTH
    # sides of the candidate self-join — unmaterialized it executes
    # twice (same lifecycle rationale as ``toks`` above).
    # dfreq broadcast: VOCABULARY-sized (distinct tokens, ~16 B each),
    # not corpus-linear — Heaps' law keeps it sublinear in corpus size,
    # and the df-rank join must stay cheap for prefix filtering to pay.
    # Documented as broadcast-by-design; gate it too if a corpus with an
    # unbounded vocabulary (e.g. raw shingle keys) is ever routed here.
    prefix = (
        w.join(F.broadcast(dfreq), "w")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(_JACCARD_PF_T) * F.col("sz")) + 1)
        .select("doc_id", "source", "w", "rn", "sz")
    )
    _cache_generation("ngram_jaccard", toks, prefix)
    # ppjoin-style EXACT pruning on top of the prefix join (both filters
    # are implied by jac ≥ t, so recall stays exact; both evaluate in
    # whole-stage codegen before the distinct shuffle):
    #  * size filter: |∩| ≥ t·|∪| forces min(sz) ≥ t·max(sz)
    #  * positional filter: overlap ≤ 1 + min(tokens after this
    #    occurrence on each side); a true pair's FIRST shared prefix
    #    token always passes, and distinct() keeps any surviving row.
    # On low-entropy corpora (tiny vocabulary) the prefix filter alone
    # barely prunes — these two carry the load there.
    t = F.lit(JACCARD_T)
    alpha = F.ceil(
        t / (1.0 + t) * (F.col("a.sz") + F.col("b.sz"))
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.ceil(t * F.greatest(F.col("a.sz"), F.col("b.sz")))
            )
            & (
                1
                + F.least(
                    F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
                )
                >= alpha
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("tka"), F.col("sz").alias("sza"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tkb"), F.col("sz").alias("szb"))
    # per-doc token arrays are CORPUS-LINEAR: broadcast only under the
    # size budget (estimated above from text bytes). Over budget this is
    # a uniform doc-id shuffle join — doc ids are unique keys, no skew —
    # instead of shipping the whole corpus's token arrays to every
    # executor (the 10⁹-doc OOM).
    return (
        cand.join(_maybe_broadcast(ta, tok_side_bytes, broadcast_budget_bytes), "doc_a")
        .join(_maybe_broadcast(tb, tok_side_bytes, broadcast_budget_bytes), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("tka", "tkb")))
        .withColumn(
            "jac",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4),
        )
        .filter(F.col("jac") >= JACCARD_T)
        .select("doc_a", "doc_b", "jac")
    )


_JACCARD_CTES = f"""toks AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tks,
         len(list_distinct(string_split(text, ' '))) AS sz
  FROM documents),
w AS (SELECT doc_id, source, sz, unnest(tks) AS w FROM toks),
dfreq AS (SELECT w, COUNT(*) AS dfn FROM w GROUP BY w),
ranked AS (
  SELECT doc_id, source, w.w,
         row_number() OVER (PARTITION BY doc_id ORDER BY dfn, w.w) AS rn, sz
  FROM w JOIN dfreq USING (w)),
prefix AS (
  SELECT doc_id, source, w FROM ranked
  WHERE rn <= sz - CEIL({_JACCARD_PF_T} * sz) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.w = b.w AND a.source = b.source AND a.doc_id < b.doc_id),
scored AS (
  SELECT doc_a, doc_b,
         ROUND(len(list_intersect(ta.tks, tb.tks)) /
               (ta.sz + tb.sz - len(list_intersect(ta.tks, tb.tks))), 4) AS jac
  FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b),
jpairs AS (SELECT doc_a, doc_b, jac FROM scored WHERE jac >= {JACCARD_T})"""

SQL_JACCARD = f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, jac FROM jpairs ORDER BY doc_a, doc_b
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: connected components over the exact-recall
    Jaccard pair graph (graph.connected_components — iterative
    min-label propagation, one shuffle join per round, O(diameter)
    rounds), then one canonical keeper per component. Turns pairwise
    near-dup hits into the drop-list a dedup pipeline actually needs."""
    from cosmospark.graph import connected_components

    # unordered pair generator: connected_components starts with a
    # distinct(), so the presentation sort q_ngram_jaccard adds would be
    # a wasted corpus-pair-sized exchange+sort here (r7)
    pairs = _ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # edges_distinct: both jaccard strategies emit each qualifying pair
    # exactly once (bitmask: one join row per (a,b); prefix: distinct
    # candidates joined on unique doc ids), so CC's defensive input
    # dedup would re-shuffle the whole pair set for nothing (r7)
    cc = connected_components(
        docs, pairs, id_col="doc_id", src="doc_a", dst="doc_b",
        edges_distinct=True,
    )
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("lab").alias("cluster"),
        (F.col("node") == F.col("lab")).alias("is_keeper"),
    ).orderBy("doc_id")


_CLUSTER_CTES = f"""RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM jpairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM jpairs
),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
clusters AS (
  SELECT node AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY node
)"""

SQL_DEDUP_CLUSTERS = f"""
WITH {_CLUSTER_CTES}
SELECT doc_id, cluster, (doc_id = cluster) AS is_keeper
FROM clusters ORDER BY doc_id
"""


# multiplicative (Knuth) hash for split bucketing: exact in both
# engines while cluster ids stay < 2^31 (BIGINT product < 2^63)
_SPLIT_HASH = "(({c} * 2654435761) % 4294967296) % 100"


def q_dataset_split(spark, sf_dir):
    """LEAKAGE-SAFE train/val/test split (98/1/1): the split is decided
    by a multiplicative hash of the near-dup CLUSTER id, not the doc
    id, so near-duplicates can never straddle a split boundary — the
    standard contamination guard for training-data pipelines. Composes
    dedup_clusters with a pure-JVM bucketing expression."""
    cc = q_dedup_clusters(spark, sf_dir)
    h = _SPLIT_HASH.format(c="cluster")
    return cc.select(
        "doc_id",
        "cluster",
        F.expr(
            f"case when {h} < 98 then 'train' when {h} < 99 then 'val'"
            f" else 'test' end"
        ).alias("split"),
    ).orderBy("doc_id")


SQL_DATASET_SPLIT = f"""
WITH {_CLUSTER_CTES}
SELECT doc_id, cluster,
       CASE WHEN {_SPLIT_HASH.format(c="cluster")} < 98 THEN 'train'
            WHEN {_SPLIT_HASH.format(c="cluster")} < 99 THEN 'val'
            ELSE 'test' END AS split
FROM clusters ORDER BY doc_id
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: order-independent bag hash from word
    lengths + first-char codes (pure integer arithmetic both sides).

    r7: explode + codegen'd SUM instead of the interpreted per-word
    fold. The bag hash is order-independent and every term is
    non-negative, so the fold's iterated `(acc + t) % P` equals
    `SUM(t) % P` exactly (induction on the prefix; sum(int) widens to
    long, no overflow below ~10⁹-word docs × 3100/term) — identical
    integers, with the per-word arithmetic in whole-stage codegen and
    the exchange carrying doc-scale partial sums. `split` never yields
    an empty array, and `explode_outer` keeps a NULL-text document as
    one NULL word, whose all-NULL sum gives the oracle's NULL
    fingerprint, so no doc_id disappears from the aggregate."""
    d = _widen_if_narrow(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    ex = d.select("doc_id", F.explode_outer(F.split("text", " ")).alias("w"))
    term = F.expr("length(w) * 31 + coalesce(ascii(substring(w, 1, 1)), 0)")
    return (
        ex.groupBy("doc_id")
        .agg((F.sum(term) % F.lit(1000000007)).alias("fingerprint"))
        .orderBy("doc_id")
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       CAST(list_aggregate(
         list_transform(string_split(text, ' '),
                        w -> CAST(length(w) * 31 + COALESCE(ascii(substring(w, 1, 1)), 0) AS BIGINT)),
         'sum') % 1000000007 AS BIGINT) AS fingerprint
FROM documents ORDER BY doc_id
"""


def q_doc_rolling_hash(spark, sf_dir):
    """Document fingerprinting, ORDER-SENSITIVE variant: polynomial
    rolling hash over the word sequence (acc·B + wordcode mod P) — the
    complement of q_doc_fingerprint's order-independent bag hash
    (a reordered near-dup keeps the bag hash but changes this one).
    Sequential fold → bit-identical across engines."""
    d = _t(spark, sf_dir, "documents")
    # wordcode = length*31 + first char code (same code as the bag hash)
    fp = (
        "aggregate(split(text, ' '), 7L, (acc, w) -> "
        "(acc * 131 + length(w) * 31 + coalesce(ascii(substring(w, 1, 1)), 0))"
        " % 1000000007)"
    )
    return d.select("doc_id", F.expr(fp).alias("rolling_fp")).orderBy("doc_id")


SQL_ROLLING = """
WITH f AS (
  SELECT doc_id,
         list_prepend(7::BIGINT,
           list_transform(string_split(text, ' '),
             w -> CAST(length(w) * 31 + COALESCE(ascii(substring(w, 1, 1)), 0) AS BIGINT))) AS codes
  FROM documents)
SELECT doc_id,
       CAST(list_reduce(codes, (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) AS rolling_fp
FROM f ORDER BY doc_id
"""


def q_ann_brute_force(spark, sf_dir):
    """Similarity search baseline: exact top-10 cosine neighbors of
    vec_id 0, computed with sequential fold both sides (bit-identical)."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qlit = "array(" + ", ".join(repr(float(v)) + "D" for v in qvec) + ")"
    dot = f"aggregate(zip_with(embedding, {qlit}, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    nrm = "sqrt(aggregate(embedding, 0D, (a, x) -> a + x * x))"
    qn = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    cos = f"round({dot} / ({nrm} * {qn!r}), 6)"
    from pyspark.sql.window import Window

    # conditional splittability guard (r7): the per-row fold sits on
    # the scan stage (see _widen_if_narrow); the 1-row qvec lookup
    # above stays on the unwidened scan
    scored = _widen_if_narrow(spark, e, "vec_id").filter(
        F.col("vec_id") != 0
    ).select("vec_id", F.expr(cos).alias("cos_sim"))
    # orderBy().limit(k) plans as TakeOrdered (per-partition top-k +
    # driver merge) — no single-partition global sort; the row_number
    # window then runs over only the k surviving rows
    top = scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "vec_id", "cos_sim")
        .orderBy("rk")
    )


def sql_ann_brute_force(qvec):
    qlit = "[" + ", ".join(repr(float(v)) for v in qvec) + "]"
    qn = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    dot = f"list_aggregate(list_transform(list_zip(embedding, {qlit}), p -> p[1] * p[2]), 'sum')"
    nrm = "sqrt(list_aggregate(list_transform(embedding, x -> x * x), 'sum'))"
    return f"""
WITH scored AS (
  SELECT vec_id, ROUND({dot} / ({nrm} * {qn!r}), 6) AS cos_sim
  FROM embeddings WHERE vec_id != 0)
SELECT rk, vec_id, cos_sim FROM (
  SELECT vec_id, cos_sim,
         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored) WHERE rk <= 10 ORDER BY rk
"""


def q_embedding_stats(spark, sf_dir):
    """Grouped vector stats: per label count + mean of first component
    (rounded after the agg to absorb summation-order noise)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.element_at("embedding", 1)), 4).alias("mean_d0"),
        )
        .orderBy("label")
    )


SQL_EMB_STATS = """
SELECT label, COUNT(*) AS n, ROUND(AVG(embedding[1]), 4) AS mean_d0
FROM embeddings GROUP BY label ORDER BY label
"""


def q_semi_anti_join(spark, sf_dir):
    """Set-op coverage (reference §2.6 retain/anti-filter): customers
    with ≥1 order (left_semi) and customers with none (left_anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = c.join(o, "c_custkey", "left_semi").select(
        "c_custkey", F.lit("has_orders").alias("bucket")
    )
    without = c.join(o, "c_custkey", "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("bucket")
    )
    return with_orders.unionByName(without).orderBy("bucket", "c_custkey")


SQL_SEMI_ANTI = """
SELECT c_custkey, 'has_orders' AS bucket FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'no_orders' AS bucket FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY bucket, c_custkey
"""


def q_rollup_counts(spark, sf_dir):
    """Grouping-sets coverage: ROLLUP(status, priority) counts (the
    reference's stats generalized to hierarchies)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
        )
        .orderBy("status", "priority")
    )


SQL_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def q_running_total(spark, sf_dir):
    """Window-aggregate coverage: per-customer running order-count and
    cumulative cents by date (cust < 50 to keep output bounded)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("running_n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).over(w).alias("running_cents"),
    ).orderBy("o_custkey", "o_orderkey")


SQL_RUNNING = """
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER w AS running_n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT) AS running_cents
FROM orders WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


def q_top_revenue(spark, sf_dir):
    """Global sort + limit (O-class coverage): top-20 orders by price
    with deterministic orderkey tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .orderBy(F.col("cents").desc(), F.col("o_orderkey"))
        .limit(20)
    )


SQL_TOP_REVENUE = """
SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
FROM orders ORDER BY cents DESC, o_orderkey LIMIT 20
"""


def q_set_intersect_except(spark, sf_dir):
    """INTERSECT / EXCEPT coverage: nation keys having customers vs
    having suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = c.intersect(s).withColumn("bucket", F.lit("both"))
    only_c = c.exceptAll(s).withColumn("bucket", F.lit("cust_only"))
    return both.unionByName(only_c).orderBy("bucket", "nk")


SQL_INTERSECT = """
SELECT nk, 'both' AS bucket FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT nk, 'cust_only' AS bucket FROM (
  SELECT DISTINCT c_nationkey AS nk FROM customer
  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
ORDER BY bucket, nk
"""


def q_intl_names(spark, sf_dir):
    """P3 (zone_ext.rs:404-417): international-name extraction via pure
    map built-ins (map_filter + transform_keys), exploded to rows."""
    from cosmospark.labels import with_international_names

    zones = _lux_typed_zones(spark).select("osm_id", "name", "tags")
    out = with_international_names(zones)
    return (
        out.select("osm_id", F.explode(F.col("international_names")).alias("lang", "intl_name"))
        .orderBy("osm_id", "lang")
    )


def sql_intl_names():
    # flattened ground truth from the same fixture: name:<lang> tags whose
    # value differs from the default name
    rows = []
    for _, r in _lux_typed_rows():
        for k, v in sorted(r["tags"].items()):
            if k.startswith("name:") and v != r["name"]:
                rows.append(f"('{r['osm_id']}', '{k[5:]}', '{v}')")
    if not rows:
        rows.append("('__none__', '', '')")
    return (
        "SELECT osm_id, lang, intl_name FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(osm_id, lang, intl_name) WHERE osm_id != '__none__' "
        "ORDER BY osm_id, lang"
    )


EMB_NEARDUP_T = 0.4
EMB_NEARDUP_BLOCKS = 4
# round(x, 6) >= 0.4 is true from 0.3999995 up; the GEMM prune uses a
# further 1e-9 slack for float64 GEMM-vs-fold summation-order noise
_EMB_PRUNE_T = EMB_NEARDUP_T - 5.1e-7


def _blocked_cosine_pairs(e, key_col: str, prune_t: float, blocks: int = None):
    """Distributed exact all-pairs cosine candidate generation within
    each ``key_col`` group (shared by q_embedding_neardup and
    q_semdedup): each group's vectors split into B blocks (vec_id mod
    B); the B(B+1)/2 block-pairs fan out as independent cogroup tasks
    so no single executor holds a group's full n² work, and each task
    runs ONE float64 GEMM over its tile. Returns distinct (id_a <
    id_b) candidates at cosine ≥ prune_t; callers re-score exactly
    with the sequential fold."""
    import pandas as pd

    B = blocks or EMB_NEARDUP_BLOCKS
    base = e.select(
        "vec_id", key_col, "embedding", F.pmod("vec_id", F.lit(B)).alias("blk")
    )
    side_a = base.select(
        key_col,
        F.col("blk").alias("bi"),
        F.explode(F.expr(f"sequence(blk, {B - 1})")).alias("bj"),
        "vec_id",
        "embedding",
    )
    side_b = base.select(
        key_col,
        F.explode(F.expr("sequence(0, blk)")).alias("bi"),
        F.col("blk").alias("bj"),
        "vec_id",
        "embedding",
    )

    def _gemm(key, la: pd.DataFrame, lb: pd.DataFrame) -> pd.DataFrame:
        if len(la) == 0 or len(lb) == 0:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
            )
        A = np.stack(la["embedding"].to_numpy()).astype(np.float64)
        Bm = np.stack(lb["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((A * A).sum(1))
        nb = np.sqrt((Bm * Bm).sum(1))
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        C = (A / na[:, None]) @ (Bm / nb[:, None]).T  # one flat dgemm
        ia, jb = np.nonzero(C >= prune_t)
        ids_a = la["vec_id"].to_numpy()[ia]
        ids_b = lb["vec_id"].to_numpy()[jb]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    return (
        side_a.groupBy(key_col, "bi", "bj")
        .cogroup(side_b.groupBy(key_col, "bi", "bj"))
        .applyInPandas(_gemm, "id_a long, id_b long")
        .distinct()
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: same-label pairs with cosine ≥ 0.4 —
    EXACT semantics (hyperplane LSH cannot guarantee recall at ϑ=0.4:
    measured < 15% with 4-16 tables on this data, the pairs sit at ~65°).
    Exact all-pairs is intrinsically quadratic per label; the scale fix
    is to *distribute* that work, not to skip it:

    1. each label's vectors are split into B blocks (vec_id mod B); the
       B(B+1)/2 block-pairs fan out as independent cogroup tasks, so no
       single executor holds a label's full n²/L work (B scales with
       label size; at 10⁹ rows you'd also switch id→block hashing);
    2. each task runs ONE float64 GEMM over its (blockA × blockB) tile —
       vectorized candidate pruning at cosine ≥ ϑ-ε;
    3. survivors (a tiny set) are re-scored with the sequential-fold SQL
       expression, bit-identical to the DuckDB oracle's fold.

    Output is exactly the ground-truth pair set (oracle unchanged).
    For *approximate* similarity at scale, q_ann_lsh is the bucketed path.
    """
    # NO widen guard here (r7): the scan-stage work is a cheap
    # pmod+explode — _blocked_cosine_pairs repartitions into its own
    # (key, block-pair) cogroup and the rescore joins re-shuffle by id,
    # so a widen exchange would be pure overhead (measured +0.5 s)
    e = _t(spark, sf_dir, "embeddings")
    cand = _blocked_cosine_pairs(e, "label", _EMB_PRUNE_T)
    # exact re-score with the sequential fold (bit-identical to DuckDB)
    va = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    dot = "aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    na = "sqrt(aggregate(ea, 0D, (a, x) -> a + x * x))"
    nb = "sqrt(aggregate(eb, 0D, (a, x) -> a + x * x))"
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.expr(f"round({dot} / ({na} * {nb}), 6)"))
        .filter(F.col("cos_sim") >= EMB_NEARDUP_T)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


SQL_EMB_NEARDUP = """
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       ROUND(list_aggregate(list_transform(list_zip(ea, eb), x -> x[1] * x[2]), 'sum')
             / (sqrt(list_aggregate(list_transform(ea, x -> x * x), 'sum'))
                * sqrt(list_aggregate(list_transform(eb, x -> x * x), 'sum'))), 6) AS cos_sim
FROM p
WHERE ROUND(list_aggregate(list_transform(list_zip(ea, eb), x -> x[1] * x[2]), 'sum')
            / (sqrt(list_aggregate(list_transform(ea, x -> x * x), 'sum'))
               * sqrt(list_aggregate(list_transform(eb, x -> x * x), 'sum'))), 6) >= 0.4
ORDER BY id_a, id_b
"""


SEMDEDUP_T = EMB_NEARDUP_T  # ε-ball threshold (cos ≥ 0.4)


SEMDEDUP_TRAIN_CAP = 4096  # driver-side Lloyd sample bound
SEMDEDUP_LLOYD_ITERS = 5
SEMDEDUP_K_MAX = 32  # inline-fold assignment stays codegen-friendly


def _semdedup_centroids(sf_dir: str) -> tuple:
    """mtime-keyed front door for _semdedup_centroids_impl (ADVICE r6):
    an embeddings table regenerated at the same path within one session
    must retrain — caching on sf_dir alone served stale centroids (the
    _SIZE_EST_CACHE convention, applied here)."""
    return _semdedup_centroids_impl(
        sf_dir, _path_mtime(f"{sf_dir}/embeddings.parquet")
    )


@functools.lru_cache(maxsize=4)
def _semdedup_centroids_impl(sf_dir: str, _mtime: float) -> tuple:
    """Production-shape coarse centroids for semdedup (VERDICT r5 #6):
    K = clamp(round(√n), 8, SEMDEDUP_K_MAX) scaled to the table, init =
    the K smallest vec_ids (no RNG), then SEMDEDUP_LLOYD_ITERS rounds
    of deterministic spherical k-means (cosine argmax assignment,
    normalized mean update, empty clusters keep their previous
    centroid — the pq_train convention) on a fixed driver-side sample
    (first SEMDEDUP_TRAIN_CAP rows by vec_id; centroids are tiny —
    assignment and pair search are the distributed parts). The refined
    centroids round to 9 decimals and ship as IDENTICAL literals to
    both engines, so training-side numpy arithmetic can never perturb
    cross-engine parity — only which centroids exist."""
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {SEMDEDUP_TRAIN_CAP}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    k = max(8, min(SEMDEDUP_K_MAX, int(round(float(np.sqrt(n))))))
    k = min(k, len(x))
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    c = xn[:k].copy()
    for _ in range(SEMDEDUP_LLOYD_ITERS):
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        a = (xn @ cn.T).argmax(axis=1)
        for ci in range(k):
            m = a == ci
            if m.any():
                c[ci] = xn[m].mean(axis=0)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return tuple(tuple(float(v) for v in row) for row in np.round(cn, 9))


def q_semdedup(spark, sf_dir):
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, deterministic
    variant): (1) every embedding is assigned to its nearest coarse
    centroid (cosine argmax, first-max ties — the q_ann_ivf
    assignment, identical fold doubles in both engines); (2) exact
    within-cluster cosine pairs at ≥ SEMDEDUP_T via the shared
    block-pair GEMM cogroup (_blocked_cosine_pairs keyed on list_id);
    (3) a row is PRUNED iff some smaller vec_id in its cluster sits
    inside its ε-ball — 'keep the earliest of each neighborhood', the
    deterministic stand-in for SemDeDup's keep-one-per-ball. The
    clustering is what bounds the quadratic: K = clamp(√n, 8, 32)
    Lloyd-refined centroids (_semdedup_centroids — r6; the r5 cut used
    the first 8 vec_ids, which made cluster sizes arbitrary and the
    n²/K bound nominal) keep the pair work at n²/K per list,
    distributed block-wise, and the assignment scan is
    partition-prunable (ann.write_ivf layout). Realized cluster skew
    is pinned in test_oracle_parity.py::test_semdedup_cluster_skew and
    reported by bench.py (semdedup_max_cluster_frac)."""
    # conditional splittability guard (r7): the K×dim centroid-score
    # fold runs on the scan stage (see _widen_if_narrow) — on the
    # single-row-group bench table it otherwise executes ~1-wide
    e = _widen_if_narrow(spark, _t(spark, sf_dir, "embeddings"), "vec_id")
    cents = [list(c) for c in _semdedup_centroids(sf_dir)]
    scores = _ivf_scores_expr("embedding", cents, "spark")
    lists = e.select(
        "vec_id",
        "embedding",
        F.expr(f"array_position({scores}, array_max({scores}))")
        .cast("int")
        .alias("list_id"),
    )
    # r7: the K×dim centroid-score fold is an INTERPRETED higher-order
    # expression (aggregate/zip_with never enter whole-stage codegen)
    # and lists feeds both the pair cogroup and the final projection —
    # cache one generation so the fold runs once, not twice
    _cache_generation("semdedup_lists", lists)
    cand = _blocked_cosine_pairs(lists, "list_id", _EMB_PRUNE_T)
    # exact re-score with the sequential fold (bit-identical to DuckDB)
    va = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    dot = "aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    na = "sqrt(aggregate(ea, 0D, (a, x) -> a + x * x))"
    nb = "sqrt(aggregate(eb, 0D, (a, x) -> a + x * x))"
    pruned = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(F.expr(f"round({dot} / ({na} * {nb}), 6)") >= SEMDEDUP_T)
        .select(F.col("id_b").alias("vec_id"))  # id_a < id_b: later id pruned
        .distinct()
        .withColumn("_pr", F.lit(True))
    )
    return (
        lists.select("vec_id", "list_id")
        .join(pruned, "vec_id", "left")
        .select("vec_id", "list_id", F.col("_pr").isNull().alias("is_kept"))
        .orderBy("vec_id")
    )


def sql_semdedup(sf_dir: str) -> str:
    """Plain within-cluster self-join re-derivation of assignment +
    ε-ball pruning (ground truth for the GEMM + fold together)."""
    cents = [list(c) for c in _semdedup_centroids(sf_dir)]
    scores = _ivf_scores_expr("embedding", cents, "duck")
    cos = (
        "list_aggregate(list_transform(list_zip(a.embedding, b.embedding),"
        " x -> x[1] * x[2]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(a.embedding, x -> x * x), 'sum'))"
        " * sqrt(list_aggregate(list_transform(b.embedding, x -> x * x), 'sum')))"
    )
    return f"""
WITH lists AS (
  SELECT vec_id, embedding,
         CAST(list_position({scores}, list_max({scores})) AS INT) AS list_id
  FROM embeddings),
pruned AS (
  SELECT DISTINCT b.vec_id
  FROM lists a JOIN lists b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE ROUND({cos}, 6) >= {SEMDEDUP_T})
SELECT l.vec_id, l.list_id, (p.vec_id IS NULL) AS is_kept
FROM lists l LEFT JOIN pruned p ON p.vec_id = l.vec_id
ORDER BY l.vec_id
"""


N_KNN_PTS = 500


def q_geo_knn_fallback(spark, sf_dir):
    """J2 kNN path: points OUTSIDE every zone fall back to the nearest
    zone centroid (additional-zones boundary-miss semantics)."""
    pts = spark.range(N_KNN_PTS).select(
        F.col("id").alias("pid"),
        # a ring of points outside the lux box (lon 20..30)
        F.expr("20.0 + (id * 37 % 1000) / 100.0").alias("lon"),
        F.expr("40.0 + (id * 61 % 1800) / 100.0").alias("lat"),
    )
    zones = _lux_typed_zones(spark)
    out = assign_zones(pts, zones, knn_fallback=True)
    return out.select("pid", "zone_id").orderBy("pid")


def sql_geo_knn_fallback(sf_dir: str = "/root/testdata/sf0.001"):
    # the kernel's kNN uses geom.centroid values — ship the SAME doubles
    # via PARQUET so distance comparisons are bit-identical (DuckDB's
    # string→double parse is 1-ulp wrong for many 17-digit reprs; these
    # shoelace centroids are exactly that class of arbitrary double)
    ids, cxs, cys = [], [], []
    for _, r in _lux_typed_rows():
        c = r["center"]
        ids.append(r["id"])
        cxs.append(float(c["lon"]))
        cys.append(float(c["lat"]))
    path = _materialize_oracle_parquet(
        "knn_centroids", sf_dir, {"id": ids, "cx": cxs, "cy": cys}
    )
    return f"""
WITH pts AS (
  SELECT i AS pid, 20.0 + (i * 37 % 1000) / 100.0 AS lon,
         40.0 + (i * 61 % 1800) / 100.0 AS lat FROM range({N_KNN_PTS}) t(i)),
cents AS (SELECT id, cx, cy FROM '{path}'),
d AS (
  SELECT p.pid, c.id,
         (p.lon - c.cx) * (p.lon - c.cx) + (p.lat - c.cy) * (p.lat - c.cy) AS d2
  FROM pts p CROSS JOIN cents c),
ranked AS (
  SELECT pid, id, row_number() OVER (PARTITION BY pid ORDER BY d2, id) AS rn FROM d)
SELECT pid, id AS zone_id FROM ranked WHERE rn = 1 ORDER BY pid
"""


# ---------------------------------------------------------------------------
# Hash-heavy near-dup operators (minhash / simhash / phash / clusters /
# gopher / semdedup / audio / video / ann_ivf). Historically "Spark-only,
# rows-only checks"; since r4/r5 every one of these is FULLY hash-oracled
# — DuckDB lacks xxhash64, so the oracles recompute signatures with the
# bit-identical pure-Python XXH64 (cosmospark.xxh) shipped to parquet,
# then re-derive the relational steps in SQL (VERDICT r5 wrong #3).


MINHASH_N, MINHASH_BANDS = 16, 4
MINHASH_JAC_T = 0.4


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates: 3-shingles → 16 minhashes
    (xxhash64 with seeds) → 4 bands × 4 rows → band-bucket join →
    exact Jaccard verification ≥ 0.4.

    DuckDB has no xxhash64, so the oracle recomputes the signatures with
    the validated pure-Python XXH64 (cosmospark.xxh, bit-identical to
    Spark — tests/test_xxh.py), materializes (doc_id, band, bucket) to
    parquet, and checks the banding + bucket-join + Jaccard verification
    relationally in SQL (see sql_minhash_lsh_pairs)."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.size(F.split("text", " ")) >= 3)
    )
    # conditional input-splittability guard: the 16-minhash computation
    # sits DIRECTLY on the scan stage (no shuffle upstream), so a
    # single-row-group input file caps it at 1-wide execution (the
    # image_pipeline r4 row-group lesson; the sf0.1 fixture is one row
    # group). _widen_if_narrow pays the narrow text-only exchange ONLY
    # when the scan is actually narrow — a real lake's many-file input
    # already scans wide and skips it (VERDICT r5 #2).
    d = _widen_if_narrow(spark, d, "doc_id")
    # tokenize ONCE in a standalone projection (the non-cheap alias
    # referenced from the lambda keeps its own Project under
    # CollapseProject — the old shape re-split the text inside both the
    # sequence bound and the slice), and build each shingle by direct
    # 0-based indexing: concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]) emits
    # the IDENTICAL string as concat_ws(' ', slice(...)) on null-free
    # split output with one allocation per shingle instead of a slice
    # array + join (the gopher r7 gram trick, applied here)
    d = d.select("doc_id", F.split("text", " ").alias("ws"))
    sh = F.expr(
        "transform(sequence(0, size(ws) - 3), "
        "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"
    )
    # generation-scoped cache: this lineage is consumed 5× (both join
    # sides of the band bucket join + both sides of the exact-Jaccard
    # verification); see _cache_generation for the lifecycle rationale.
    # NOTE no `size(shingles) > 0` filter: it is implied by the
    # `size(split) >= 3` scan filter above (≥3 words ⇒ ≥1 shingle), and
    # the r6 filter was a 6× regression in disguise — Catalyst pushed
    # the predicate (with the whole shingle-construction expression
    # inlined) BELOW the widen exchange onto the 1-wide scan stage, so
    # the corpus was shingled single-threaded before the exchange and
    # again after it (r7; measured 14.6 s → ~4 s at sf1.0).
    shingled = d.select("doc_id", F.array_distinct(sh).alias("shingles")).withColumn(
        "nsh", F.size("shingles")
    )
    n_hash, n_bands = 16, 4
    # r7 second pass: the per-seed `array_min(transform(shingles, s ->
    # xxhash64(s, seed)))` lambdas are INTERPRETED (higher-order
    # functions never enter whole-stage codegen) — 16 of them re-walked
    # every shingle array per row for ~69 CPU-s at sf1.0. Exploding the
    # (already-distinct) shingle arrays once and taking 16
    # map-side-combined min(xxhash64(s, seed)) aggregates computes the
    # IDENTICAL minima (min over the same multiset of the same seeded
    # hashes — the int literal seed keeps the same IntegerType the SQL
    # text had) with every hash in codegen; the one added exchange
    # carries doc-scale partial minima (50k × 16 longs), not shingles.
    ex = shingled.select("doc_id", F.explode("shingles").alias("s"))
    sig = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("s"), F.lit(seed))).alias(f"mh{seed}")
            for seed in range(n_hash)
        ]
    )
    rows_per_band = n_hash // n_bands
    # ONE pass over the signatures: every band's (band, bucket) pair is
    # computed in the same projection and exploded to rows. The r4 shape
    # union'd 4 per-band selects, so materializing `banded` re-ran the
    # full 16-minhash computation once PER BAND (64 shingle-hash passes
    # instead of 16 — measured ~2× on the suite query).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"mh{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select("doc_id", F.explode(band_structs).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket")
    )
    _cache_generation("minhash_lsh", shingled, banded)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_a = shingled.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("nsh").alias("nsh_a"),
    )
    sh_b = shingled.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("nsh").alias("nsh_b"),
    )
    # |A∪B| = |A|+|B|-|A∩B| on distinct-element arrays: ONE hash-set
    # intersection per pair instead of intersect + union (array_union
    # built a whole merged array only to take its size — r7, guide §1.2
    # per-task work; result bit-identical, |∩| and the sizes are exact
    # integers)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jac",
            F.round(
                F.col("inter")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jac") >= 0.4)
        .select("doc_a", "doc_b", "jac")
        .orderBy("doc_a", "doc_b")
    )


def _minhash_signatures(sf_dir: str):
    """(doc_id, band, bucket) rows recomputed in pure Python with the
    Spark-bit-identical XXH64 — the oracle-side twin of the Spark
    minhash construction above."""
    import duckdb

    from cosmospark.xxh import Long, xxhash64

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    rows_per_band = MINHASH_N // MINHASH_BANDS
    out = []
    for doc_id, text in docs:
        ws = text.split(" ")
        if len(ws) < 3:
            continue
        shingles = list({" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)})
        if not shingles:
            continue
        mh = [
            min(xxhash64(s, seed) for s in shingles) for seed in range(MINHASH_N)
        ]
        for b in range(MINHASH_BANDS):
            bucket = xxhash64(
                *[Long(mh[b * rows_per_band + r]) for r in range(rows_per_band)]
            )
            out.append((doc_id, b, bucket))
    return out


_ORACLE_SIDE_DIR = "/tmp/cosmospark_oracle"


def _sf_tag(sf_dir: str) -> str:
    """File-name tag of a data directory: its basename plus a short hash
    of its absolute path, so two directories with one basename never
    share a side file."""
    import hashlib

    path = os.path.abspath(os.path.normpath(str(sf_dir)))
    return f"{os.path.basename(path)}-{hashlib.sha1(path.encode()).hexdigest()[:10]}"


def _materialize_oracle_parquet(name: str, sf_dir: str, columns: dict) -> str:
    """Write a small oracle-side table to parquet (DuckDB reads it by
    absolute path inside the oracle SQL). Deterministic content → safe
    to overwrite on every oracle_sql() call; written to a temp name and
    renamed into place, so a concurrent reader never sees half a file."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_ORACLE_SIDE_DIR, exist_ok=True)
    path = os.path.join(_ORACLE_SIDE_DIR, f"{name}_{_sf_tag(sf_dir)}.parquet")
    fd, tmp = tempfile.mkstemp(dir=_ORACLE_SIDE_DIR, suffix=".tmp")
    os.close(fd)
    try:
        pq.write_table(pa.table(columns), tmp)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
    return path


def sql_minhash_lsh_pairs(sf_dir: str) -> str:
    """DuckDB oracle for the MinHash query: signatures/buckets come from
    the validated Python XXH64 (materialized parquet); the banding
    bucket-join + exact-Jaccard verification — the relational logic under
    test — is recomputed by DuckDB from the documents table itself."""
    sigs = _minhash_signatures(sf_dir)
    path = _materialize_oracle_parquet(
        "minhash_bands",
        sf_dir,
        {
            "doc_id": [r[0] for r in sigs],
            "band": [r[1] for r in sigs],
            "bucket": [r[2] for r in sigs],
        },
    )
    return f"""
WITH banded AS (SELECT * FROM '{path}'),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= 3),
scored AS (
  SELECT doc_a, doc_b,
         ROUND(len(list_intersect(sa.shingles, sb.shingles)) /
               (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jac
  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, jac FROM scored WHERE jac >= {MINHASH_JAC_T}
ORDER BY doc_a, doc_b
"""


# fingerprint width (VERDICT r3 #5); the construction, banding and
# oracle are width-generic
SIMHASH_BITS = 64
SIMHASH_HAM_T = 3
SIMHASH_BANDS = 4  # 4 bands × (BITS/4) bits: pigeonhole-exact at hamming ≤ 3


def _simhash_fp_df(d, keys: list[str]):
    """Fingerprints via explode + 64 codegen'd vote sums (r7 second
    pass). The previous single-pass fold (aggregate over
    transform(split(text)) with a 64-lane zip_with accumulator) was an
    interpreted higher-order expression — per word it walked the lanes
    in the expression interpreter (24.6 executor-CPU-s at sf1.0).
    Vote convention unchanged: bit i of the word hash — (h >> i) % 2 =
    0 votes -1 else +1 (negative h falls to +1 under both % and &
    conventions, matching the DuckDB oracle's (h >> i) & 1 test).
    Exploding the words and summing CASE votes per bit computes the
    IDENTICAL integers (same ±1 votes over the same word hashes,
    order-independent sums, same `> 0` assembly — shiftright/%2
    semantics untouched) with every op in whole-stage codegen; the
    exchange carries doc-scale partial vote vectors (64 longs/doc),
    and split() never yields an empty array (worst case [""]), so no
    group disappears."""
    n = SIMHASH_BITS
    # hash each word ONCE in a standalone projection: Catalyst's
    # CollapseProject keeps a non-cheap alias referenced 64× as its own
    # Project, so the plan carries a single xxhash64 per word (the
    # test_simhash_single_pass invariant) feeding all 64 vote sums
    ex = d.select(*keys, F.explode(F.split("text", " ")).alias("w")).select(
        *keys, F.xxhash64("w").alias("h")
    )
    votes = [
        F.sum(
            F.expr(f"case when shiftright(h, {i}) % 2 = 0 then -1L else 1L end")
        ).alias(f"v{i}")
        for i in range(n)
    ]
    fp = F.expr(
        " | ".join(
            f"(case when v{i} > 0 then shiftleft(1L, {i}) else 0L end)"
            for i in range(n)
        )
    )
    return ex.groupBy(*keys).agg(*votes).select(*keys, fp.alias("simhash"))


def q_simhash(spark, sf_dir):
    """SimHash fingerprints: sign-aggregated word hashes per bit. The
    DuckDB oracle joins a materialized (word → xxhash64) table (computed
    with the validated Python XXH64) and re-derives the per-bit majority
    vote + bit assembly relationally."""
    # conditional splittability guard (r7): the hash-vote pass sits on
    # the scan stage (see _widen_if_narrow)
    d = _widen_if_narrow(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return _simhash_fp_df(d, ["doc_id"]).orderBy("doc_id")


def sql_simhash(sf_dir: str) -> str:
    import duckdb

    from cosmospark.xxh import xxhash64

    words = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT unnest(string_split(text, ' ')) AS w "
            f"FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    path = _materialize_oracle_parquet(
        "simhash_words", sf_dir, {"w": words, "h": [xxhash64(w) for w in words]}
    )
    # (h >> i) & 1 extracts bit i under both arithmetic and logical shift
    # conventions, and matches Spark's `% 2 = 0 → -1 else +1` vote for
    # negative hashes too (-1 falls into the else branch)
    return f"""
WITH wh AS (SELECT * FROM '{path}'),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
j AS (SELECT doc_id, h FROM t JOIN wh USING (w)),
bitvals AS (
  SELECT doc_id, i.range AS i,
         CASE WHEN SUM(CASE WHEN ((h >> i.range) & 1) = 0 THEN -1 ELSE 1 END) > 0
              THEN (1::HUGEINT << i.range) ELSE 0::HUGEINT END AS bv
  FROM j CROSS JOIN range({SIMHASH_BITS}) i GROUP BY doc_id, i.range)
SELECT doc_id,
       CAST(CASE WHEN SUM(bv) >= 9223372036854775808::HUGEINT
                 THEN SUM(bv) - 18446744073709551616::HUGEINT
                 ELSE SUM(bv) END AS BIGINT) AS simhash
FROM bitvals GROUP BY doc_id ORDER BY doc_id
"""


def q_simhash_pairs(spark, sf_dir):
    """The SimHash PAIRING step: same-source near-dup pairs at hamming ≤
    3, via pigeonhole banding (4 bands × 4 bits → a pair at hamming ≤ 3
    must agree on ≥ 1 band) — equi-join on (source, band, bits), exact
    bit_count(xor) verification. No cartesian; exact recall."""
    d = _t(spark, sf_dir, "documents")
    # conditional input-splittability guard (see _widen_if_narrow): the
    # 64-lane fold runs on the scan stage; a single-row-group file would
    # cap it 1-wide. No-op on a many-file input.
    d = _widen_if_narrow(spark, d, "doc_id")
    # materialize fingerprints ONCE: without this the vote pass inlines
    # into the band generator and both self-join sides — ~8 full
    # evaluations per doc (measured 5.3 s → 1.5 s at sf0.1).
    # Checkpoint blocks free with the plan (ContextCleaner).
    fp = _simhash_fp_df(
        d.select("doc_id", "source", "text"), ["doc_id", "source"]
    ).localCheckpoint(eager=True)
    width = SIMHASH_BITS // SIMHASH_BANDS
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("simhash", b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bits"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    banded = fp.select(
        "doc_id", "source", "simhash", F.explode(band_arr).alias("b")
    ).select("doc_id", "source", "simhash", "b.band", "b.bits")
    a = banded.select(
        F.col("doc_id").alias("doc_a"), "source", F.col("simhash").alias("fa"),
        "band", "bits",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), "source", F.col("simhash").alias("fb"),
        "band", "bits",
    )
    return (
        a.join(b, ["source", "band", "bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("ham"),
        )
        .distinct()
        .filter(F.col("ham") <= SIMHASH_HAM_T)
        .orderBy("doc_a", "doc_b")
    )


def sql_simhash_pairs(sf_dir: str) -> str:
    """Ground-truth oracle: ALL same-source pairs at hamming ≤ 3 over the
    SQL-recomputed fingerprints — independently validates both the
    fingerprints and the banding's exact-recall claim."""
    inner = sql_simhash(sf_dir)
    return f"""
WITH fp AS ({inner}),
src AS (SELECT doc_id, source FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS ham
FROM fp a
JOIN src sa ON sa.doc_id = a.doc_id
JOIN fp b ON b.doc_id > a.doc_id
JOIN src sb ON sb.doc_id = b.doc_id AND sb.source = sa.source
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_T}
ORDER BY doc_a, doc_b
"""


PHASH_HAM_T = 8
# 9 bands over 64 bits (8×7 + 1×8): pigeonhole guarantees that any pair
# at hamming ≤ 8 collides in at least one band → the banded equi-join
# has EXACT recall (no cartesian, no approximation)
_PHASH_BANDS = [(i * 7, 7) for i in range(8)] + [(56, 8)]


def _phash_fixture_rows():
    from cosmospark.fixtures import gen_images

    return gen_images(200, seed=3, plant_neardup_every=10)


def q_phash_neardup(spark, sf_dir):
    """Image near-dup via banded hamming join on the 64-bit phash: explode
    9 pigeonhole bands → equi-join on (band, bits) → exact
    bit_count(xor) ≤ 8 verification. Scale shape: the join key space is
    2^7-2^8 values per band × n/collisions — a hash join, never an n²
    cartesian (the round-1 version was `a.join(b, id_a < id_b)`).
    Fixture plants a perturbed near-dup every 10 images so the query has
    real positives (random-noise phashes are never within hamming 8)."""
    from cosmospark.ztypes import IMAGES_SCHEMA

    imgs = local_table(spark, _phash_fixture_rows(), IMAGES_SCHEMA).select(
        "image_id", "phash"
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned("phash", off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bits"),
            )
            for i, (off, width) in enumerate(_PHASH_BANDS)
        ]
    )
    banded = imgs.select(
        "image_id", "phash", F.explode(band_arr).alias("b")
    ).select("image_id", "phash", F.col("b.band").alias("band"), F.col("b.bits").alias("bits"))
    a = banded.select(
        F.col("image_id").alias("id_a"), F.col("phash").alias("pa"), "band", "bits"
    )
    b = banded.select(
        F.col("image_id").alias("id_b"), F.col("phash").alias("pb"), "band", "bits"
    )
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("ham"))
        .distinct()
        .filter(F.col("ham") <= PHASH_HAM_T)
        .orderBy("id_a", "id_b")
    )


def sql_phash_neardup():
    """Ground-truth oracle: ALL-pairs hamming over the same deterministic
    phash values (bit-reproducible int-DCT phash, emitted as VALUES) —
    independently validates the banding's exact-recall claim."""
    vals = ", ".join(f"('{r['image_id']}', {r['phash']})" for r in _phash_fixture_rows())
    return f"""
WITH p(image_id, phash) AS (VALUES {vals})
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS ham
FROM p a JOIN p b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAM_T}
ORDER BY id_a, id_b
"""


def q_phash_clusters(spark, sf_dir):
    """Image near-dup CLUSTERING: the full image-dedup pipeline end to
    end — banded-hamming phash pairs (q_phash_neardup, exact recall)
    → distributed connected components (alternating-star, O(log n)
    rounds) → one canonical keeper per visual cluster. The image-side
    twin of q_dedup_clusters. CC labels propagate on longs (the graph
    kernel's key type); ``img_%012d`` ids are ZERO-PADDED, so numeric
    min-label == the oracle's lexicographic MIN over the id strings."""
    from cosmospark.graph import connected_components
    from cosmospark.ztypes import IMAGES_SCHEMA

    nid = lambda c: F.expr(f"cast(substr({c}, 5) as long)")  # noqa: E731
    pairs = q_phash_neardup(spark, sf_dir).select(
        nid("id_a").alias("na"), nid("id_b").alias("nb")
    )
    imgs = local_table(spark, _phash_fixture_rows(), IMAGES_SCHEMA).select(
        nid("image_id").alias("nid")
    )
    cc = connected_components(imgs, pairs, id_col="nid", src="na", dst="nb")
    return cc.select(
        F.format_string("img_%012d", F.col("node")).alias("image_id"),
        F.format_string("img_%012d", F.col("lab")).alias("cluster"),
        (F.col("node") == F.col("lab")).alias("is_keeper"),
    ).orderBy("image_id")


def sql_phash_clusters():
    """Recursive-CTE reachability closure over the same all-pairs
    hamming graph (ground truth for banding + CC together)."""
    vals = ", ".join(
        f"('{r['image_id']}', {r['phash']})" for r in _phash_fixture_rows()
    )
    return f"""
WITH RECURSIVE p(image_id, phash) AS (VALUES {vals}),
pairs AS (
  SELECT a.image_id AS id_a, b.image_id AS id_b
  FROM p a JOIN p b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAM_T}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, lab) AS (
  SELECT image_id, image_id FROM p
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
clusters AS (
  SELECT node AS image_id, MIN(lab) AS cluster FROM reach GROUP BY node
)
SELECT image_id, cluster, (image_id = cluster) AS is_keeper
FROM clusters ORDER BY image_id
"""


def q_image_zone_rollup(spark, sf_dir):
    """The north-star composition as ONE oracled query: geotagged
    images → broadcast-ZoneIndex PIP assignment against the 198-zone
    lux world (zero-shuffle fact pass) → per-zone rollup of image
    facts (count, distinct perceptual hashes, lossy-format count).
    The skewed gen_images distribution (70 % of rows in 2 megacity
    boxes) makes the rollup's hot keys real."""
    from cosmospark.ztypes import IMAGES_SCHEMA

    imgs = local_table(spark, _phash_fixture_rows(), IMAGES_SCHEMA)
    zones = _lux_typed_zones(spark)
    a = assign_zones(imgs.select("image_id", "lon", "lat", "phash", "fmt"), zones)
    return (
        a.filter(F.col("zone_id") >= 0)
        .groupBy("zone_id")
        .agg(
            F.count("*").alias("n_images"),
            F.count_distinct("phash").alias("n_phash"),
            F.sum((F.col("fmt") == "lossy").cast("bigint")).alias("n_lossy"),
        )
        .orderBy("zone_id")
    )


def sql_image_zone_rollup(sf_dir: str) -> str:
    """Rectangle-PIP + (rank, area, id) argmin over the SAME float64
    image coordinates (shipped via parquet — DuckDB's literal parser is
    1-ulp wrong for arbitrary doubles), then the per-zone rollup."""
    rows = _phash_fixture_rows()
    path = _materialize_oracle_parquet(
        "image_zone_pts",
        sf_dir,
        {
            "image_id": [r["image_id"] for r in rows],
            "lon": [r["lon"] for r in rows],
            "lat": [r["lat"] for r in rows],
            "phash": [r["phash"] for r in rows],
            "fmt": [r["fmt"] for r in rows],
        },
    )
    return f"""
WITH pts AS (SELECT * FROM '{path}'),
zones AS (SELECT * FROM {_zones_values_sql()}),
cand AS (
  SELECT p.image_id, p.phash, p.fmt, z.id, z.rank, z.area
  FROM pts p JOIN zones z
    ON p.lon BETWEEN z.minx AND z.maxx AND p.lat BETWEEN z.miny AND z.maxy
),
ranked AS (
  SELECT image_id, phash, fmt, id,
         row_number() OVER (PARTITION BY image_id ORDER BY rank, area, id) AS rn
  FROM cand
),
assigned AS (SELECT image_id, phash, fmt, id AS zone_id FROM ranked WHERE rn = 1)
SELECT zone_id,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(DISTINCT phash) AS BIGINT) AS n_phash,
       CAST(sum(CASE WHEN fmt = 'lossy' THEN 1 ELSE 0 END) AS BIGINT) AS n_lossy
FROM assigned GROUP BY zone_id ORDER BY zone_id
"""


IVF_K = 8  # coarse centroids (lists)
IVF_PROBES = 2  # lists probed per query


def _ivf_centroids(sf_dir: str) -> list[list[float]]:
    """Deterministic coarse centroids: the embeddings of the K smallest
    vec_ids (data-derived, no RNG — reproducible in both engines). A
    production build would run a few Lloyd iterations on a sample; the
    IVF *plumbing* (assignment, probing, list-restricted exact scoring)
    is identical either way."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"WHERE vec_id < {IVF_K} ORDER BY vec_id"
    ).fetchall()
    return [[float(v) for v in r[0]] for r in rows]


def _dot_expr(vec_col: str, lit_vec: list[float], dialect: str) -> str:
    """Sequential-fold dot product — bit-identical in Spark and DuckDB."""
    if dialect == "spark":
        lit = "array(" + ", ".join(repr(v) + "D" for v in lit_vec) + ")"
        return f"aggregate(zip_with({vec_col}, {lit}, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    lit = "[" + ", ".join(repr(v) for v in lit_vec) + "]"
    return (
        f"list_aggregate(list_transform(list_zip({vec_col}, {lit}), "
        f"p -> p[1] * p[2]), 'sum')"
    )


def _ivf_scores_expr(vec_col: str, cents: list[list[float]], dialect: str) -> str:
    """array of cosine scores against each centroid (norms folded the
    same way both sides)."""
    parts = []
    for c in cents:
        cn = float(np.sqrt(np.sum(np.asarray(c, dtype=np.float64) ** 2)))
        dot = _dot_expr(vec_col, c, dialect)
        if dialect == "spark":
            nrm = f"sqrt(aggregate({vec_col}, 0D, (a, x) -> a + x * x))"
        else:
            nrm = f"sqrt(list_aggregate(list_transform({vec_col}, x -> x * x), 'sum'))"
        parts.append(f"{dot} / ({nrm} * {cn!r})")
    if dialect == "spark":
        return "array(" + ", ".join(parts) + ")"
    return "[" + ", ".join(parts) + "]"


def q_ann_ivf(spark, sf_dir):
    """IVF (inverted-file) approximate nearest neighbors — the
    partition-pruned scale path for similarity search: every vector is
    assigned to its nearest coarse centroid's list (argmax cosine, first
    max on ties — array_position semantics match DuckDB list_position
    because both engines compute the SAME fold doubles); the query
    probes only the top-P lists, exact top-10 cosine inside them.
    At 10⁹ vectors the fact table is written partitioned by list_id and
    a probe scans P/K of the data (Catalyst partition pruning)."""
    # conditional splittability guard (r7): the K×dim score fold runs
    # on the scan stage (see _widen_if_narrow)
    e = _widen_if_narrow(spark, _t(spark, sf_dir, "embeddings"), "vec_id")
    cents = _ivf_centroids(sf_dir)
    qvec = cents[0]  # query = vec 0's embedding, as in ann_brute_force
    qn = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    # probe selection (driver-side, deterministic): top-P centroids by
    # cosine to the query
    cn = [float(np.sqrt(np.sum(np.asarray(c) ** 2))) for c in cents]
    qsim = []
    for j, c in enumerate(cents):
        acc = 0.0
        for x, y in zip(qvec, c):
            acc += x * y
        qsim.append((acc / (qn * cn[j]), -j))
    probes = sorted(
        range(IVF_K), key=lambda j: (-qsim[j][0], j)
    )[:IVF_PROBES]

    scores = _ivf_scores_expr("embedding", cents, "spark")
    lists = e.withColumn(
        "list_id", F.expr(f"array_position({scores}, array_max({scores}))").cast("int")
    )
    dot = _dot_expr("embedding", qvec, "spark")
    nrm = "sqrt(aggregate(embedding, 0D, (a, x) -> a + x * x))"
    cos = f"round({dot} / ({nrm} * {qn!r}), 6)"
    probed = lists.filter(
        F.col("list_id").isin([p + 1 for p in probes]) & (F.col("vec_id") != 0)
    ).select("vec_id", "list_id", F.expr(cos).alias("cos_sim"))
    top = probed.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "vec_id", "list_id", "cos_sim")
        .orderBy("rk")
    )


def sql_ann_ivf(sf_dir: str) -> str:
    cents = _ivf_centroids(sf_dir)
    qvec = cents[0]
    qn = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    cn = [float(np.sqrt(np.sum(np.asarray(c) ** 2))) for c in cents]
    qsim = []
    for j, c in enumerate(cents):
        acc = 0.0
        for x, y in zip(qvec, c):
            acc += x * y
        qsim.append(acc / (qn * cn[j]))
    probes = sorted(range(IVF_K), key=lambda j: (-qsim[j], j))[:IVF_PROBES]
    probe_lits = ", ".join(str(p + 1) for p in probes)

    scores = _ivf_scores_expr("embedding", cents, "duck")
    dot = _dot_expr("embedding", qvec, "duck")
    nrm = "sqrt(list_aggregate(list_transform(embedding, x -> x * x), 'sum'))"
    return f"""
WITH lists AS (
  SELECT vec_id, embedding,
         CAST(list_position({scores}, list_max({scores})) AS INT) AS list_id
  FROM embeddings),
probed AS (
  SELECT vec_id, list_id,
         ROUND({dot} / ({nrm} * {qn!r}), 6) AS cos_sim
  FROM lists WHERE list_id IN ({probe_lits}) AND vec_id != 0)
SELECT rk, vec_id, list_id, cos_sim FROM (
  SELECT vec_id, list_id, cos_sim,
         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
  FROM probed) WHERE rk <= 10 ORDER BY rk
"""


_IVF_STORE_DIR = "/tmp/cosmospark_ivf_store"


def _ivf_written_layout(spark, sf_dir: str) -> str:
    """Materialize (once per source-table state) the embeddings table
    hive-partitioned by coarse list via ``ann.write_ivf``; the mtime
    stamp self-invalidates when the source parquet is regenerated (same
    convention as _SIZE_EST_CACHE)."""
    from cosmospark import ann

    src_mt = _path_mtime(f"{sf_dir}/embeddings.parquet")
    path = os.path.join(_IVF_STORE_DIR, _sf_tag(sf_dir))
    stamp = os.path.join(path, "_SRC_MTIME")
    try:
        fresh = open(stamp).read() == repr(src_mt)
    except OSError:
        fresh = False
    if not fresh:
        e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ann.write_ivf(e, path, _ivf_centroids(sf_dir))
        with open(stamp, "w") as fh:
            fh.write(repr(src_mt))
    return path


def q_ann_ivf_written(spark, sf_dir):
    """q_ann_ivf over the WRITTEN hive-partitioned IVF layout
    (``ann.write_ivf`` → ``list_id=<k>/`` directories + manifest): the
    probe filter is no longer a post-scan predicate but Catalyst
    PARTITION PRUNING — the physical scan carries
    ``PartitionFilters: [list_id IN (...)]`` and the job READS P of K
    list partitions (asserted file-by-file in
    test_plans.py::test_ann_ivf_written_partition_pruning). This is the
    exact plan shape the q_ann_ivf/q_ann_ivf_pq docstrings promise at
    10⁹ vectors (VERDICT r5 #5); probe planning comes from the index
    manifest alone — no data files are touched to pick lists."""
    from pyspark.sql.window import Window

    from cosmospark.ann import search_ivf

    cents = _ivf_centroids(sf_dir)
    path = _ivf_written_layout(spark, sf_dir)
    top = search_ivf(
        spark, path, cents[0], k=10, n_probes=IVF_PROBES, exclude_vec_id=0
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "vec_id", F.col("list_id").cast("int").alias("list_id"), "cos_sim")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# r6: adaptive cell splitting (north_rule skew handler) + keep-best dedup

ACS_RESOLUTIONS = (9, 13, 17)
ACS_MAX_ROWS = 400  # hot threshold at the 4 000-pt fixture (10 %)

# 70 % of points in a 0.02°×0.02° megacity box (one res-9 cell, hot
# at res 13, dispersing only at res 17), 30 % spread over 13°×10°
# (cold at res 9). Integer-lattice arithmetic → identical doubles in
# both engines (the PTS_SQL convention).
SKEW_PTS_SQL = (
    "SELECT i AS pid, "
    "CASE WHEN i % 10 < 7 THEN 6.13 + (i * 37 % 100) / 5000.0 "
    "     ELSE 2.0 + (i * 7919 % 1300) / 100.0 END AS lon, "
    "CASE WHEN i % 10 < 7 THEN 49.61 + (i * 53 % 100) / 5000.0 "
    "     ELSE 44.0 + (i * 104729 % 1000) / 100.0 END AS lat "
    f"FROM range({N_PTS}) t(i)"
)


def _skew_pts_df(spark: SparkSession) -> DataFrame:
    return spark.range(N_PTS).selectExpr(
        "id AS pid",
        "CASE WHEN id % 10 < 7 THEN 6.13 + (id * 37 % 100) / 5000.0 "
        "     ELSE 2.0 + (id * 7919 % 1300) / 100.0 END AS lon",
        "CASE WHEN id % 10 < 7 THEN 49.61 + (id * 53 % 100) / 5000.0 "
        "     ELSE 44.0 + (id * 104729 % 1000) / 100.0 END AS lat",
    )


def q_geo_adaptive_cells(spark, sf_dir):
    """ADAPTIVE CELL SPLITTING (north_rule: 'skew from megacity cells
    is handled with salted repartitioning and adaptive cell splitting')
    over a 70 %-in-one-megacity point table: every point gets the
    coarsest cell whose population ≤ ACS_MAX_ROWS, hot cells descending
    res 9 → 13 → 17 (assign.adaptive_cell_split). The result key bounds
    per-partition rows without over-splitting cold ocean. Plan shape:
    fact table NEVER shuffles — per-level counts exchange (cell, n)
    partials only, hot-cell sets join back as broadcasts bounded by
    n/threshold BY CONSTRUCTION (test_plans.py pins zero fact exchange
    + the broadcast joins). Output: per final (res, cell) populations —
    every res-9/13 row ≤ threshold, megacity mass dispersed at 17."""
    from cosmospark.assign import adaptive_cell_split

    pts = _skew_pts_df(spark)
    out = adaptive_cell_split(
        pts, resolutions=ACS_RESOLUTIONS, max_rows_per_cell=ACS_MAX_ROWS
    )
    return (
        out.groupBy(F.col("res").cast("int").alias("res"), "cell")
        .agg(F.count("*").alias("n"))
        .orderBy("res", "cell")
    )


def sql_geo_adaptive_cells() -> str:
    r0, r1, r2 = ACS_RESOLUTIONS
    c0 = cells.sql_cell_encode("lon", "lat", r0)
    c1 = cells.sql_cell_encode("lon", "lat", r1)
    c2 = cells.sql_cell_encode("lon", "lat", r2)
    t = ACS_MAX_ROWS
    return f"""
WITH pts AS ({SKEW_PTS_SQL}),
e AS (SELECT pid, {c0} AS c0, {c1} AS c1, {c2} AS c2 FROM pts),
h0 AS (SELECT c0 FROM e GROUP BY c0 HAVING COUNT(*) > {t}),
h1 AS (SELECT c1 FROM e WHERE c0 IN (SELECT c0 FROM h0)
       GROUP BY c1 HAVING COUNT(*) > {t}),
fin AS (
  SELECT CASE WHEN c0 NOT IN (SELECT c0 FROM h0) THEN {r0}
              WHEN c1 NOT IN (SELECT c1 FROM h1) THEN {r1}
              ELSE {r2} END AS res,
         CASE WHEN c0 NOT IN (SELECT c0 FROM h0) THEN c0
              WHEN c1 NOT IN (SELECT c1 FROM h1) THEN c1
              ELSE c2 END AS cell
  FROM e)
SELECT CAST(res AS INTEGER) AS res, cell, COUNT(*) AS n
FROM fin GROUP BY res, cell ORDER BY res, cell
"""


def q_dedup_keep_best(spark, sf_dir):
    """Near-dup dedup END-TO-END, production keeper policy: connected
    components over the exact-recall Jaccard pair graph
    (q_dedup_clusters), then per cluster keep the HIGHEST-QUALITY
    member — max n_chars, ties to the smallest doc_id — instead of
    dedup_clusters' min-id canonical keeper. This is the composition a
    training-data pipeline actually ships: near-dup sets collapse to
    their best exemplar, and the keeper choice is deterministic. One
    exchange on cluster id (the window partition key); per-cluster
    groups are near-dup sets, bounded by construction."""
    from pyspark.sql.window import Window

    cc = q_dedup_clusters(spark, sf_dir).select("doc_id", "cluster")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    m = cc.join(d, "doc_id")
    w = Window.partitionBy("cluster")
    r = m.withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))),
    ).withColumn("n_members", F.count("*").over(w))
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("keep_doc"),
            "n_members",
            F.col("n_chars").alias("keep_chars"),
        )
        .orderBy("cluster")
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH {_CLUSTER_CTES},
m AS (
  SELECT c.cluster, c.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
r AS (
  SELECT cluster, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster) AS n_members
  FROM m)
SELECT cluster, doc_id AS keep_doc, n_members, n_chars AS keep_chars
FROM r WHERE rn = 1 ORDER BY cluster
"""


# per-language sampling rates in basis points of 10000 (language
# rebalancing — the standard curation move: downsample the dominant
# languages, keep the rare ones whole)
_SAMPLE_RATES_BP = {"en": 2500, "de": 5000, "es": 7500, "fr": 10000, "zh": 1250}
_SAMPLE_DEFAULT_BP = 5000
_SAMPLE_MOD = 10000


def _sample_rate_case(lang_expr: str) -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {bp}" for lang, bp in sorted(_SAMPLE_RATES_BP.items())
    )
    return f"CASE {lang_expr} {whens} ELSE {_SAMPLE_DEFAULT_BP} END"


# -- S2 Hilbert-sorted written layout: spatial range scans as IO pruning.
_S2_STORE_DIR = "/tmp/cosmospark_s2_store"
_S2_STORE_N = 200_000
_S2_STORE_RES = 12
_S2_STORE_VERSION = "v2"  # bump to invalidate the written layout (v2: double lon/lat)
_S2_STORE_PTS_SQL = (
    f"SELECT i AS pid, -180.0 + (i * 7919 % 36000) / 100.0 AS lon, "
    f"-90.0 + (i * 104729 % 18000) / 100.0 AS lat FROM range({_S2_STORE_N}) t(i)"
)


def _s2_sorted_layout(spark) -> str:
    """Materialize (once per _S2_STORE_VERSION) the global point set
    hive-partitioned by cube FACE and Hilbert-sorted by cell within
    each file, with small parquet row groups. This is the storage shape
    the s2.py docstring promises: face partitions give Catalyst
    PARTITION pruning, and because consecutive Hilbert ids are spatial
    neighbours, a spatial range maps to a short contiguous id range →
    few overlapping row groups (min/max stats skip the rest). The
    existing sort order (face, cell) satisfies the partition-write's
    required ordering, so the write plans NO extra sort."""
    path = os.path.join(_S2_STORE_DIR, _S2_STORE_VERSION)
    stamp = os.path.join(path, "_VERSION")
    try:
        fresh = open(stamp).read() == _S2_STORE_VERSION
    except OSError:
        fresh = False
    if not fresh:
        q = s2.sql_s2_encode_from(
            _S2_STORE_PTS_SQL, "lon", "lat", _S2_STORE_RES
        )
        # lon/lat cast to DOUBLE at write: Spark parses the source
        # SQL's bare decimal literals as DECIMAL(28,6) — 16 bytes/value
        # and slower comparisons than double on every later scan (2x
        # the coordinate IO at 100 TB); the cast is exact for these
        # 2-decimal-digit fixture values and happens AFTER the encode,
        # so stored cells are unchanged.
        pts = spark.sql(f"SELECT pid, lon, lat, cell FROM ({q})").select(
            "pid",
            F.col("lon").cast("double").alias("lon"),
            F.col("lat").cast("double").alias("lat"),
            "cell",
            F.shiftright(F.col("cell"), 2 * _S2_STORE_RES)
            .cast("int")
            .alias("face"),
        )
        (
            pts.repartition(6, "face")
            .sortWithinPartitions("face", "cell")
            .write.partitionBy("face")
            .option("parquet.block.size", 65536)  # many row groups/file
            .mode("overwrite")
            .parquet(path)
        )
        with open(stamp, "w") as fh:
            fh.write(_S2_STORE_VERSION)
    return path


def _s2_scan_range() -> tuple[int, int, int]:
    """(face, lo, hi): the res-4 S2 parent containing (10°E, 10°N),
    expanded to its res-12 descendant id range (face bits included —
    prefix ids nest, so the subtree IS one contiguous range) — computed
    from the same kernel the store encoder uses, embedded as literals
    in BOTH engines' queries."""
    p4 = int(s2.s2_encode(np.array([10.0]), np.array([10.0]), 4)[0])
    shift = 2 * (_S2_STORE_RES - 4)
    return p4 >> 8, p4 << shift, (p4 + 1) << shift


# bbox covering: a lon/lat rectangle inside the store's domain
_S2_BBOX = (4.0, 2.0, 13.0, 9.0)  # lon0, lat0, lon1, lat1


_S2_COVER_RES = 7  # covering granularity; ranges scale to store res by shift


def s2_bbox_covering(
    lon0: float, lat0: float, lon1: float, lat1: float, res: int
) -> list[tuple[int, int]]:
    """Covering of a lon/lat rectangle as DISJOINT [lo, hi) Hilbert id
    ranges at resolution ``res`` — the S2 pattern that turns an
    arbitrary spatial predicate into index-range scans. Construction:
    sample a lattice over the rectangle dilated by ~2 cell diameters at
    ~cell/4 spacing, encode with the SAME kernel the store uses, merge
    consecutive distinct ids into ranges. A sampling covering is a
    PREFILTER, not the predicate — the query refines on the exact
    bbox afterward, so a (theoretically possible, never observed)
    missed sliver cell could only under-return; the oracle below is the
    PURE bbox filter, so any incompleteness breaks the hash — the green
    driver row doubles as a completeness proof on the data."""
    # cell angular size: a face spans ~90°, split 2^res per axis
    cell_deg = 90.0 / (1 << res)
    pad, step = 2.0 * cell_deg, cell_deg / 4.0
    lons = np.arange(lon0 - pad, lon1 + pad + step, step)
    lats = np.arange(
        max(-89.9, lat0 - pad), min(89.9, lat1 + pad) + step, step
    )
    gl, gt = np.meshgrid(lons, lats)
    cells = np.unique(s2.s2_encode(gl.ravel(), gt.ravel(), res))
    ranges: list[tuple[int, int]] = []
    for c in cells.tolist():
        if ranges and c == ranges[-1][1]:
            ranges[-1] = (ranges[-1][0], c + 1)
        else:
            ranges.append((c, c + 1))
    return ranges


def q_geo_s2_bbox_scan(spark, sf_dir):
    """Arbitrary-rectangle spatial query over the Hilbert-sorted
    written layout: covering ranges (s2_bbox_covering) do the IO
    pruning — the range disjunction lands in PushedFilters where
    row-group min/max stats skip non-overlapping groups, and the
    derived face set prunes partitions — then the EXACT lon/lat bbox
    predicate refines (covering is a prefilter, never the answer).
    Returns per-res-8-cell counts inside the bbox. At 10¹² rows this
    reads ~bbox-selectivity of the store instead of scanning it."""
    return _s2_bbox_scan_df(spark, _S2_BBOX)


def _s2_bbox_scan_df(spark, bbox):
    """The bbox-scan plan for an arbitrary bbox — q_geo_s2_bbox_scan
    binds the fixture box; tests drive off-face-0 and face-spanning
    boxes through the same code path (VERDICT r6 #1 regression)."""
    lon0, lat0, lon1, lat1 = bbox
    res = _S2_STORE_RES
    # Covering at res 7, scaled to the store res: prefix ids nest, so
    # each coarse cell IS one contiguous fine range. Hilbert locality
    # merges the 286 res-7 cells of this bbox into NINE ranges — a
    # 9-term disjunction the parquet reader actually pushes, vs the
    # 388-range res-12 covering whose giant Or never reached storage.
    shift = 2 * (res - _S2_COVER_RES)
    cover = [
        (lo << shift, hi << shift)
        for lo, hi in s2_bbox_covering(lon0, lat0, lon1, lat1, _S2_COVER_RES)
    ]
    # face of a cell id: layout is (face << 2*res) | hilbert_d (s2.py),
    # so the face is cell >> (2*res). r6 shipped >> (2*res + 2) — i.e.
    # face >> 2, which only coincided with the truth for face-0 bboxes
    # (VERDICT r6 #1); the partition filter silently dropped every
    # matching row for a bbox on faces 1-5. Regression coverage:
    # tests/test_s2.py::test_bbox_face_derivation_off_face0.
    faces = sorted({lo >> (2 * res) for lo, _ in cover} | {
        (hi - 1) >> (2 * res) for _, hi in cover
    })
    pts = spark.read.parquet(_s2_sorted_layout(spark))
    range_pred = " OR ".join(
        f"(cell >= {lo} AND cell < {hi})" for lo, hi in cover
    )
    return (
        pts.filter(F.col("face").isin(faces))
        .filter(F.expr(range_pred))
        .filter(
            (F.col("lon") >= lon0)
            & (F.col("lon") <= lon1)
            & (F.col("lat") >= lat0)
            & (F.col("lat") <= lat1)
        )
        .groupBy(
            F.shiftright(F.col("cell"), 2 * (res - 8)).alias("cell_r8")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("cell_r8")
    )


def sql_geo_s2_bbox_scan() -> str:
    """PURE exact-bbox filter over the re-encoded source points — no
    covering, no written layout. Hash-equality with the covering-
    prefiltered Spark result therefore proves (a) the covering misses
    no cell holding a bbox point, (b) the refine drops every
    out-of-bbox row the covering admitted, (c) the write→read
    roundtrip. MATERIALIZED for the same reason as
    sql_geo_s2_range_scan."""
    lon0, lat0, lon1, lat1 = _S2_BBOX
    q = s2.sql_s2_encode_from(_S2_STORE_PTS_SQL, "lon", "lat", _S2_STORE_RES)
    return f"""
WITH enc AS MATERIALIZED (SELECT lon, lat, cell FROM ({q}))
SELECT cell >> {2 * (_S2_STORE_RES - 8)} AS cell_r8, COUNT(*) AS n
FROM enc
WHERE lon >= {lon0!r} AND lon <= {lon1!r} AND lat >= {lat0!r} AND lat <= {lat1!r}
GROUP BY 1 ORDER BY cell_r8
"""


def q_geo_s2_range_scan(spark, sf_dir):
    """Spatial range query over the Hilbert-sorted written layout: all
    points in one res-4 S2 cell, rolled up to res-8 subcells. The
    filter reaches storage twice over — ``PartitionFilters: [face = f]``
    prunes 5 of 6 face directories without opening them, and the cell
    range lands in ``PushedFilters`` where parquet row-group min/max
    stats skip everything outside the (contiguous, because Hilbert)
    id range — tests/test_s2.py asserts ≤ a third of the face's row
    groups overlap the range. At 10¹² rows this is the difference
    between a full scan and reading ~(selectivity) of one face."""
    face, lo, hi = _s2_scan_range()
    pts = spark.read.parquet(_s2_sorted_layout(spark))
    return (
        pts.filter(
            (F.col("face") == face) & (F.col("cell") >= lo) & (F.col("cell") < hi)
        )
        .groupBy(F.shiftright(F.col("cell"), 2 * (_S2_STORE_RES - 8)).alias("cell_r8"))
        .agg(F.count("*").alias("n"))
        .orderBy("cell_r8")
    )


def sql_geo_s2_range_scan() -> str:
    """Oracle recomputes from the SOURCE point SQL (no dependence on
    the written layout), so a green hash additionally proves the
    write→read roundtrip dropped/garbled nothing.

    The encode MUST sit behind ``AS MATERIALIZED``: without it DuckDB
    inlines the CTE and pushes ``cell >= lo`` down through all
    ``res`` projection layers, substituting the full Hilbert chain
    into the predicate at every step — expression size grows
    exponentially and the optimizer never returns (measured: 0.11 s
    encode-only vs >120 s inlined-with-filter; Spark's
    PushDownPredicate exhibits the IDENTICAL blowup, which is why the
    Spark side filters the WRITTEN layout's plain column instead)."""
    _, lo, hi = _s2_scan_range()
    q = s2.sql_s2_encode_from(_S2_STORE_PTS_SQL, "lon", "lat", _S2_STORE_RES)
    return f"""
WITH enc AS MATERIALIZED (SELECT cell FROM ({q}))
SELECT cell >> {2 * (_S2_STORE_RES - 8)} AS cell_r8, COUNT(*) AS n
FROM enc WHERE cell >= {lo} AND cell < {hi}
GROUP BY 1 ORDER BY cell_r8
"""


_TERM_TOPK = 3


def q_term_stats_topk(spark, sf_dir):
    """Corpus term statistics — per-document top-k terms with document
    frequency (the tf/df table behind tf-idf, BM25, stopword discovery,
    vocab pruning). Two aggregation stages, both over ALREADY-REDUCED
    data: (doc_id, term, tf) from one explode+groupBy (map-side combine
    absorbs the token fan-out before the exchange), then df as a
    groupBy over that aggregate (vocabulary-sized, tiny next to the
    corpus), joined back on the term key — two aggregate-sized tables,
    never the raw token stream. Ranking is INTEGER-exact (tf DESC, df
    ASC = rarer-first, term ASC) so cross-engine order never hinges on
    a float idf; tf and df are emitted so callers compute any idf
    flavor downstream.

    At 100 TB: the token explode never materializes through a shuffle
    (partial agg collapses it per task), the df side is vocabulary-
    bounded, and the final window partitions by doc_id — no skew (a
    document has bounded distinct terms)."""
    from pyspark.sql.window import Window

    # conditional splittability guard (r7): the token explode + partial
    # tf aggregation sit on the scan stage (see _widen_if_narrow)
    d = _widen_if_narrow(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # shared lineage (r7): tf feeds BOTH the df aggregate and the join's
    # probe side — uncached, the corpus explode + aggregate ran twice
    _cache_generation("term_stats", tf)
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    # df is VOCABULARY-sized (Heaps' law — sublinear in the corpus), the
    # same broadcast-by-design rationale as ngram_jaccard's dfreq: the
    # broadcast keeps the tf side's doc_id-compatible distribution
    # flowing into the window instead of re-shuffling both sides on term
    return (
        tf.join(F.broadcast(df_tbl), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TERM_TOPK)
        .select("doc_id", "term", "tf", "df", "rn")
        .orderBy("doc_id", "rn")
    )


# Benchmark decontamination: 13-token grams, canonical in LLM data
# pipelines (GPT-3 App. C / PaLM / Llama use 8-13-gram test-set overlap
# removal). The "benchmark" split is deterministic (doc_id % 5 == 0) so
# both engines derive it identically with no side channel.
DECON_W = 13
DECON_BENCH_MOD = 5


def q_decontaminate(spark, sf_dir):
    """Test-set DECONTAMINATION scan: for every corpus document, count
    the exact 13-token grams it shares with any benchmark document.
    Output per contaminated doc (integers only, oracle-parity rule):
    distinct contaminated grams, contaminated window positions, total
    windows — callers threshold the ratio to drop or redact.

    100 TB shape — the corpus side never shuffles:
      stage 1: benchmark grams (tiny by definition: eval sets are
        O(10^5) docs vs O(10^9) corpus) reduce to a DISTINCT 8-byte
        xxhash64 set, BROADCAST to every executor; the corpus explodes
        to windows and probes the set map-side (left_semi against the
        broadcast), discarding ~everything locally. Same role as a
        bloom prefilter but exact on the hash (bloom_filter_agg is not
        SQL-exposed in Spark 4.1) with zero false-negative risk.
      stage 2: survivors (the contaminated sliver) re-verify gram TEXT
        equality against the broadcast (hash, gram) benchmark table, so
        a 64-bit collision cannot fabricate contamination — the
        substring_dedup pass-2 discipline (queries.py q_substring_dedup).
      The only exchange is the final per-doc aggregate over verified
      hits, O(contamination) not O(corpus)."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= DECON_W)
    )
    # conditional splittability guard (r7): the corpus window-hash pass
    # sits directly on the scan stage (see _widen_if_narrow)
    d = _widen_if_narrow(spark, d, "doc_id")
    # r7 probe-key change (guide §1.2 per-task work): the corpus side
    # probes the benchmark set with a MULTI-ARG xxhash64 over the
    # window's 13 tokens (element_at, no slice) — window TEXT is
    # materialized only (a) once on the tiny benchmark side and (b) for
    # corpus rows that survive the hash probe (the contaminated
    # sliver); the multi-arg form additionally skips allocating a
    # 13-element array copy per corpus window (−30% on the window pass,
    # measured on the substring_dedup twin). Stage 2 still verifies
    # gram TEXT equality, so the probe hash choice cannot change the
    # result.
    _h_args = ", ".join(
        f"element_at(t, i + {j + 1})" for j in range(DECON_W)
    )
    corpus = d.filter(F.col("doc_id") % DECON_BENCH_MOD != 0).select(
        "doc_id",
        "t",
        (F.size("t") - F.lit(DECON_W - 1)).cast("long").alias("n_grams"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {DECON_W}),"
                f" i -> xxhash64({_h_args}))"
            )
        ).alias("pos", "h"),
    )
    # ONE benchmark-side lineage: (h, w) distinct pairs, with the hash
    # set for the stage-1 probe derived from it (the r6 shape exploded
    # the benchmark windows twice); cached because both broadcasts
    # consume it
    bench_hw = (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {DECON_W}),"
                    f" i -> named_struct("
                    f"'h', xxhash64({_h_args}),"  # same key as the corpus probe
                    f" 'w', array_join(slice(t, i + 1, {DECON_W}), ' ')))"
                )
            ).alias("e")
        )
        .select(F.col("e.h").alias("h"), F.col("e.w").alias("w"))
        .distinct()
    )
    _cache_generation("decontaminate", bench_hw)
    bench_h = bench_hw.select("h").distinct()
    cand = corpus.join(F.broadcast(bench_h), "h", "left_semi")
    # survivors only: re-derive window text from the carried token array
    # (same stage as the broadcast probe — no exchange sees `t`)
    cand_w = cand.select(
        "doc_id",
        "n_grams",
        "h",
        F.expr(f"array_join(slice(t, pos + 1, {DECON_W}), ' ')").alias("w"),
    )
    ver = cand_w.join(F.broadcast(bench_hw), ["h", "w"], "left_semi")
    return (
        ver.groupBy("doc_id")
        .agg(
            F.count_distinct("w").alias("n_bad_grams"),
            F.count("*").alias("n_bad_positions"),
            F.max("n_grams").alias("n_grams"),
        )
        .orderBy("doc_id")
    )


RADIUS_M = 25_000.0
# Grid pitch for the block join: one cell must span >= RADIUS in BOTH
# axes everywhere the data lives (lux band, |lat| <= 54°), so any pair
# within RADIUS sits in the same or an adjacent cell: lat 0.5° = 55.7 km
# and lon 0.5°·cos(54°) = 32.7 km, both > 25 km.
_RJ_CELL_DEG = 0.5
_RJ_N_STATIONS = 200
_RJ_N_PTS = 20_000
_RJ_STATIONS_SQL = (
    f"SELECT i AS station_id, 2.0 + (i * 131 % 1300) / 100.0 AS slon, "
    f"44.0 + (i * 197 % 1000) / 100.0 AS slat FROM range({_RJ_N_STATIONS}) t(i)"
)
_RJ_PTS_SQL = (
    f"SELECT i AS pid, 2.0 + (i * 7919 % 1300) / 100.0 AS lon, "
    f"44.0 + (i * 104729 % 1000) / 100.0 AS lat FROM range({_RJ_N_PTS}) t(i)"
)
_HAVERSINE = (
    "12742000.0 * asin(sqrt("
    "pow(sin(radians({lat2} - {lat1}) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin(radians({lon2} - {lon1}) / 2), 2)))"
)


def q_geo_radius_join(spark, sf_dir):
    """Distributed RADIUS JOIN (spatial distance join): every
    (station, point) pair within 25 km great-circle distance. The
    missing third member of the spatial-join family next to containment
    (J1) and PIP (J2).

    100 TB shape: never a cross join — both sides snap to a 0.5° grid
    sized so one cell covers the radius in both axes; the SMALL side
    (stations) explodes to its 3x3 neighbor block (9 rows each) and
    BROADCASTS; the fact side computes its single (cx, cy) key map-side
    and equi-joins, then the exact haversine refines. Candidates per
    point are bounded by station density x 9 cells — independent of
    corpus size; the fact table never shuffles (plan-tested). The
    oracle is the brute cross join with the IDENTICAL haversine text,
    so a green hash proves the block join's recall is exactly 1.0
    (trig ulp skew across engines is harmless here: the 0.01°-grid
    fixture keeps every pair metres away from the 25 km boundary,
    verified in tests/test_plans.py)."""
    cw = _RJ_CELL_DEG
    st = spark.sql(_RJ_STATIONS_SQL).select(
        "station_id",
        "slon",
        "slat",
        F.floor((F.col("slon") + 180.0) / cw).cast("long").alias("cx0"),
        F.floor((F.col("slat") + 90.0) / cw).cast("long").alias("cy0"),
    )
    st9 = st.select(
        "station_id",
        "slon",
        "slat",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(cx0 + dx AS cx, cy0 + dy AS cy))))"
            )
        ).alias("c"),
    ).select("station_id", "slon", "slat", "c.cx", "c.cy")
    pts = spark.sql(_RJ_PTS_SQL).select(
        "pid",
        "lon",
        "lat",
        F.floor((F.col("lon") + 180.0) / cw).cast("long").alias("cx"),
        F.floor((F.col("lat") + 90.0) / cw).cast("long").alias("cy"),
    )
    dist = _HAVERSINE.format(lat1="slat", lon1="slon", lat2="lat", lon2="lon")
    return (
        pts.join(F.broadcast(st9), ["cx", "cy"])
        .filter(F.expr(dist) <= RADIUS_M)
        .select("station_id", "pid")
        .orderBy("station_id", "pid")
    )


def sql_geo_radius_join() -> str:
    dist = _HAVERSINE.format(lat1="s.slat", lon1="s.slon", lat2="p.lat", lon2="p.lon")
    return f"""
SELECT s.station_id, p.pid
FROM ({_RJ_STATIONS_SQL}) s, ({_RJ_PTS_SQL}) p
WHERE {dist} <= {RADIUS_M!r}
ORDER BY s.station_id, p.pid
"""


_QUANTILE_PCTS = (50, 90, 99)


def q_event_quantiles(spark, sf_dir):
    """EXACT distributed percentiles (p50/p90/p99 of event value-cents
    per event_type) via the bounded-domain HISTOGRAM algorithm — the
    100 TB shape for integer-domain quantiles: the corpus collapses to
    a (event_type, cents) → count histogram in ONE map-side-combined
    exchange (aggregate-sized: |domain| ≈ 10⁴ cents buckets, not
    corpus-sized), the cumulative walk + quantile picks run as windows
    over that tiny histogram. No corpus-wide sort (Spark's built-in
    exact `percentile` buffers each group's values — unbounded state),
    no approximation (percentile_approx's sketch is engine-specific and
    un-oracle-able). Discrete (type-1) quantiles: smallest value whose
    cumulative count reaches ceil(p·n/100) — integer-exact in both
    engines, no interpolation float hazards."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    h = e.groupBy("event_type", "cents").agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("n") * p, F.col("cents")
            )
        ).alias(f"p{p}")
        for p in _QUANTILE_PCTS
    ]
    return cum.groupBy("event_type").agg(*aggs).orderBy("event_type")


SQL_EVENT_QUANTILES = f"""
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
),
h AS (
  SELECT event_type, cents, COUNT(*) AS cnt FROM e GROUP BY event_type, cents
),
c AS (
  SELECT event_type, cents,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type,
       {", ".join(f"MIN(CASE WHEN cum * 100 >= n * {p} THEN cents END) AS p{p}" for p in _QUANTILE_PCTS)}
FROM c GROUP BY event_type ORDER BY event_type
"""


SESSION_GAP_S = 1800  # 30-min inactivity gap, the classic web default


def q_sessionize(spark, sf_dir):
    """Gap-based SESSIONIZATION of the events stream: a user's events
    split into sessions wherever >30 min of inactivity separates
    consecutive events (lag + conditional flag + running sum — the
    gaps-and-islands pattern q_substring_dedup's span merge also uses).
    Per session: event count, start/end epoch seconds, duration.

    Both engines compute gaps on FLOORED epoch seconds (Spark
    unix_timestamp truncates; the oracle floors explicitly) so boundary
    decisions are integer-exact. Ordering ties on equal floored seconds
    cannot change the result: session splits depend only on the sorted
    VALUE sequence, and outputs are per-session aggregates.

    At 100 TB: exactly ONE exchange, on user_id (any per-user order
    operation needs it); both windows and the final groupBy reuse that
    partitioning (no second shuffle — plan-tested), and per-user event
    counts bound the window partition (no whale keys in event data
    where users are organic)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es")
    flagged = e.withColumn(
        "ni",
        F.when(
            F.col("es") - F.lag("es").over(w) > SESSION_GAP_S, 1
        ).otherwise(0)
        + F.when(F.lag("es").over(w).isNull(), 1).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("es").alias("start_es"),
            F.max("es").alias("end_es"),
        )
        .withColumn("duration_s", F.col("end_es") - F.col("start_es"))
        .orderBy("user_id", "session_idx")
    )


SQL_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
flagged AS (
  SELECT user_id, es,
         CASE WHEN lag(es) OVER w IS NULL
                   OR es - lag(es) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS ni
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es)
),
sess AS (
  SELECT user_id, es,
         SUM(ni) OVER (PARTITION BY user_id ORDER BY es
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(es) AS start_es, MAX(es) AS end_es,
       MAX(es) - MIN(es) AS duration_s
FROM sess GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


def _phash_zone_fixture_rows():
    """Colocated variant for the zone-constrained dedup: planted
    near-dups sit 0.001° from their originals (same zone), so the query
    has true positives; all non-planted coordinates and every
    pixel/phash are IDENTICAL to _phash_fixture_rows (the flag touches
    nothing in the random stream)."""
    from cosmospark.fixtures import gen_images

    return gen_images(200, seed=3, plant_neardup_every=10, colocate_neardups=True)


def q_phash_zone_neardup(spark, sf_dir):
    """ZONE-CONSTRAINED image near-dup — the geo×image composition as a
    dedup operator: street-imagery pipelines dedupe per region because
    cross-region pairs are false positives by construction (two plazas
    can share a phash) and because the constraint collapses the
    candidate space. Broadcast-PIP assigns each image its zone
    (zero-shuffle fact pass), then the q_phash_neardup pigeonhole bands
    join keyed on (zone_id, band, bits) — the zone key strictly
    partitions the candidate space, so at 10⁹ images the join's bucket
    sizes scale with the densest ZONE, not the corpus, and the exact
    ham <= 8 verification keeps recall 1.0 within a zone
    (9 bands / 8 errors pigeonhole). Oracle: all-pairs hamming join
    constrained to equal assigned zone — independently re-derives both
    the PIP assignment and the banding's recall claim."""
    from cosmospark.ztypes import IMAGES_SCHEMA

    imgs = local_table(spark, _phash_zone_fixture_rows(), IMAGES_SCHEMA)
    zones = _lux_typed_zones(spark)
    a0 = assign_zones(imgs.select("image_id", "lon", "lat", "phash"), zones).filter(
        F.col("zone_id") >= 0
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned("phash", off)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bits"),
            )
            for i, (off, width) in enumerate(_PHASH_BANDS)
        ]
    )
    banded = a0.select(
        "image_id", "phash", "zone_id", F.explode(band_arr).alias("b")
    ).select(
        "image_id",
        "phash",
        "zone_id",
        F.col("b.band").alias("band"),
        F.col("b.bits").alias("bits"),
    )
    lhs = banded.select(
        F.col("image_id").alias("id_a"),
        F.col("phash").alias("pa"),
        "zone_id",
        "band",
        "bits",
    )
    rhs = banded.select(
        F.col("image_id").alias("id_b"),
        F.col("phash").alias("pb"),
        "zone_id",
        "band",
        "bits",
    )
    return (
        lhs.join(rhs, ["zone_id", "band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "zone_id",
            "id_a",
            "id_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("ham"),
        )
        .distinct()
        .filter(F.col("ham") <= PHASH_HAM_T)
        .orderBy("zone_id", "id_a", "id_b")
    )


def sql_phash_zone_neardup(sf_dir: str) -> str:
    """Assigned-zone CTE (rectangle PIP + (rank, area, id) argmin, the
    sql_image_zone_rollup derivation) + brute all-pairs hamming within
    equal zones."""
    rows = _phash_zone_fixture_rows()
    path = _materialize_oracle_parquet(
        "image_zone_colocated_pts",
        sf_dir,
        {
            "image_id": [r["image_id"] for r in rows],
            "lon": [r["lon"] for r in rows],
            "lat": [r["lat"] for r in rows],
            "phash": [r["phash"] for r in rows],
            "fmt": [r["fmt"] for r in rows],
        },
    )
    return f"""
WITH pts AS (SELECT * FROM '{path}'),
zones AS (SELECT * FROM {_zones_values_sql()}),
cand AS (
  SELECT p.image_id, p.phash, z.id, z.rank, z.area
  FROM pts p JOIN zones z
    ON p.lon BETWEEN z.minx AND z.maxx AND p.lat BETWEEN z.miny AND z.maxy
),
ranked AS (
  SELECT image_id, phash, id,
         row_number() OVER (PARTITION BY image_id ORDER BY rank, area, id) AS rn
  FROM cand
),
assigned AS (SELECT image_id, phash, id AS zone_id FROM ranked WHERE rn = 1)
SELECT a.zone_id, a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS ham
FROM assigned a JOIN assigned b
  ON a.zone_id = b.zone_id AND a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAM_T}
ORDER BY a.zone_id, id_a, id_b
"""


SQL_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= {DECON_W}
),
wins AS (
  SELECT doc_id, len(t) - {DECON_W - 1} AS n_grams,
         array_to_string(t[i + 1 : i + {DECON_W}], ' ') AS w
  FROM toks, UNNEST(generate_series(0, len(t) - {DECON_W})) AS g(i)
),
bench AS (
  SELECT DISTINCT w FROM wins WHERE doc_id % {DECON_BENCH_MOD} = 0
)
SELECT doc_id,
       COUNT(DISTINCT w) AS n_bad_grams,
       COUNT(*) AS n_bad_positions,
       CAST(MAX(n_grams) AS BIGINT) AS n_grams
FROM wins
WHERE doc_id % {DECON_BENCH_MOD} != 0 AND w IN (SELECT w FROM bench)
GROUP BY doc_id
ORDER BY doc_id
"""


SQL_TERM_STATS = f"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
       UNNEST(d.ws) AS t(term)
  WHERE t.term != ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
r AS (
  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC) AS rn
  FROM tf JOIN dft USING (term))
SELECT doc_id, term, tf, df, rn FROM r WHERE rn <= {_TERM_TOPK}
ORDER BY doc_id, rn
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-Bernoulli STRATIFIED sampling — reproducible
    dataset curation at corpus scale. Keep row iff
    pmod(xxhash64(doc_id), 10000) < rate_bp(lang): a pure map-side
    filter (zero shuffle except the cosmetic output sort), exact and
    rerun-stable (no RNG state, no sample() nondeterminism), with
    per-stratum rates so dominant languages downsample while rare ones
    survive whole. At 100 TB this is the shape that matters: no
    repartition, no count-first pass, each executor decides locally,
    and the same seed reproduces the same sample on any cluster layout.

    DuckDB lacks xxhash64, so the oracle joins a (doc_id → hash) side
    table computed by the validated pure-Python XXH64
    (tests/test_xxh.py: bit-identical to Spark) and re-applies the same
    modulo + CASE thresholds relationally."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    keep = F.pmod(F.xxhash64("doc_id"), F.lit(_SAMPLE_MOD)) < F.expr(
        _sample_rate_case("lang")
    )
    return d.filter(keep).select("doc_id", "lang").orderBy("doc_id")


def sql_stratified_sample(sf_dir: str) -> str:
    import duckdb

    from cosmospark import xxh

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]
    path = _materialize_oracle_parquet(
        "sample_hash",
        sf_dir,
        # doc_id is a LongType column → Spark hashes the long path;
        # Long() forces the same in the Python XXH64
        {"doc_id": ids, "h": [xxh.xxhash64(xxh.Long(int(i))) for i in ids]},
    )
    case = _sample_rate_case("d.lang")
    return f"""
SELECT d.doc_id, d.lang
FROM documents d JOIN '{path}' h USING (doc_id)
WHERE ((h.h % {_SAMPLE_MOD}) + {_SAMPLE_MOD}) % {_SAMPLE_MOD} < {case}
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# multimodal operators (audio / video payload columns)

_N_AUDIO = 150
_N_VIDEO = 120
_AUDIO_SR = 4000
_FRAME_EVERY = 4


def q_audio_features(spark, sf_dir):
    """Audio decode + feature extraction over binary pcm16 payloads
    (cosmospark.multimodal): duration, payload consistency, RMS,
    zero-crossings, clip count — all reconstructed relationally by the
    DuckDB oracle from the SAME deterministic sample arithmetic."""
    from cosmospark import multimodal as mm

    a = local_table(spark, mm.gen_audio(_N_AUDIO, sample_rate=_AUDIO_SR), mm.AUDIO_SCHEMA)
    return (
        mm.audio_features(a)
        .select("audio_id", "duration_sec", "bytes_ok", "rms", "zero_crossings", "clip_count")
        .orderBy("audio_id")
    )


def sql_audio_features(sf_dir: str) -> str:
    from cosmospark import multimodal as mm

    rows = mm.gen_audio(_N_AUDIO, sample_rate=_AUDIO_SR)
    path = _materialize_oracle_parquet(
        "audio_fixture",
        sf_dir,
        {
            "audio_id": [r["audio_id"] for r in rows],
            "nbytes": [len(r["bytes"]) for r in rows],
            "sample_rate": [r["sample_rate"] for r in rows],
            "n_samples": [r["n_samples"] for r in rows],
            "channels": [r["channels"] for r in rows],
        },
    )
    A = "6364136223846793005::HUGEINT"
    C = "1442695040888963407::HUGEINT"
    m = "18446744073709551616::HUGEINT"
    base = f"((CAST(audio_id AS HUGEINT) * {A} + {C}) % {m})"
    v = f"((({base} + CAST(i AS HUGEINT) * 2654435761::HUGEINT) % {m}) * {A}) % {m}"
    samp = f"CAST((({v}) // 8589934592::HUGEINT) % 65536::HUGEINT - 32768 AS BIGINT)"
    return f"""
WITH a AS (SELECT * FROM '{path}'),
s AS (
  SELECT audio_id, nbytes, sample_rate, n_samples, channels,
         n_samples * channels AS total,
         list_transform(range(0, n_samples * channels), i -> {samp}) AS smp
  FROM a)
SELECT audio_id,
       ROUND(n_samples / sample_rate, 6) AS duration_sec,
       (nbytes = 14 + 2 * n_samples * channels) AS bytes_ok,
       ROUND(sqrt(CAST(list_aggregate(list_transform(smp, x -> x * x), 'sum') AS DOUBLE)
                  / total), 3) AS rms,
       CAST(list_aggregate(list_transform(range(0, total - 1),
            i -> CASE WHEN (smp[i + 1] < 0) != (smp[i + 2] < 0) THEN 1 ELSE 0 END),
            'sum') AS BIGINT) AS zero_crossings,
       CAST(len(list_filter(smp, x -> abs(x) >= 32000)) AS BIGINT) AS clip_count
FROM s ORDER BY audio_id
"""


def q_video_frames(spark, sf_dir):
    """Video frame sampling — the 1→N explosion operator with per-frame
    decode; the oracle re-derives both the sampled frame indices (from
    metadata) and the decoded first-pixel content (from the portable
    integer arithmetic of the fake codec)."""
    from cosmospark import multimodal as mm

    v = local_table(spark, mm.gen_video(_N_VIDEO), mm.VIDEO_SCHEMA)
    return (
        mm.video_frame_sample(v, every=_FRAME_EVERY)
        .select("video_id", "frame_idx", "first_px")
        .orderBy("video_id", "frame_idx")
    )


def sql_video_frames() -> str:
    from cosmospark import multimodal as mm

    vals = ", ".join(f"({r['video_id']}, {r['n_frames']})" for r in mm.gen_video(_N_VIDEO))
    px = mm.first_px_expr("video_id", "u.f")
    return f"""
WITH v(video_id, n_frames) AS (VALUES {vals}),
frames AS (
  SELECT video_id, CAST(u.f AS INT) AS frame_idx, {px} AS first_px
  FROM v, LATERAL (SELECT unnest(range(0, n_frames, {_FRAME_EVERY})) AS f) u)
SELECT video_id, frame_idx, first_px FROM frames
ORDER BY video_id, frame_idx
"""


# ---------------------------------------------------------------------------
# registry

DRIVER_SAMPLE_CAP = 50  # external correctness gate samples this many, front-first
REGISTRY_TOTAL = 82  # asserted == len(queries()) in test_oracle_parity (ADVICE r5)


# One (name, builder, oracle) record per query: builder(spark, sf_dir) is
# the Spark DataFrame, oracle(sf_dir) its DuckDB SQL.
#
# ROTATION RULE: this order is the sample order of the external
# correctness gate, which takes the first DRIVER_SAMPLE_CAP records. A
# query whose builder or oracle changes must move into that window
# before the gate's next run, so the gate re-validates every change.
REGISTRY = (
    ("geo_s2_encode", q_geo_s2_encode, lambda _: sql_geo_s2_encode()),
    ("geo_s2_rollup", q_geo_s2_rollup, lambda _: sql_geo_s2_rollup()),
    ("stratified_sample", q_stratified_sample, sql_stratified_sample),
    ("term_stats_topk", q_term_stats_topk, lambda _: SQL_TERM_STATS),
    ("geo_s2_range_scan", q_geo_s2_range_scan, lambda _: sql_geo_s2_range_scan()),
    ("geo_s2_bbox_scan", q_geo_s2_bbox_scan, lambda _: sql_geo_s2_bbox_scan()),
    ("decontaminate", q_decontaminate, lambda _: SQL_DECONTAMINATE),
    ("sessionize", q_sessionize, lambda _: SQL_SESSIONIZE),
    ("event_quantiles", q_event_quantiles, lambda _: SQL_EVENT_QUANTILES),
    ("geo_radius_join", q_geo_radius_join, lambda _: sql_geo_radius_join()),
    ("phash_zone_neardup", q_phash_zone_neardup, sql_phash_zone_neardup),
    ("geo_adaptive_cells", q_geo_adaptive_cells, lambda _: sql_geo_adaptive_cells()),
    ("dedup_keep_best", q_dedup_keep_best, lambda _: SQL_DEDUP_KEEP_BEST),
    ("dedup_clusters", q_dedup_clusters, lambda _: SQL_DEDUP_CLUSTERS),
    ("dataset_split", q_dataset_split, lambda _: SQL_DATASET_SPLIT),
    # same rows as ann_ivf; the difference under test is the written
    # layout's partition pruning, which the plan test asserts
    ("ann_ivf_written", q_ann_ivf_written, sql_ann_ivf),
    ("semdedup", q_semdedup, sql_semdedup),
    ("ngram_jaccard", q_ngram_jaccard, lambda _: SQL_JACCARD),
    ("gopher_repetition", q_gopher_repetition, lambda _: sql_gopher_repetition()),
    ("simhash", q_simhash, sql_simhash),
    ("simhash_pairs", q_simhash_pairs, sql_simhash_pairs),
    ("minhash_lsh_pairs", q_minhash_lsh_pairs, sql_minhash_lsh_pairs),
    ("geo_tile_encode", q_geo_tile_encode, lambda _: SQL_TILE),
    ("geo_tile_pyramid", q_geo_tile_pyramid, lambda _: SQL_TILE_PYRAMID),
    ("substring_dedup", q_substring_dedup, lambda _: SQL_SUBSTRING_DEDUP),
    ("doc_chunks", q_doc_chunks, lambda _: SQL_DOC_CHUNKS),
    ("phash_clusters", q_phash_clusters, lambda _: sql_phash_clusters()),
    ("image_zone_rollup", q_image_zone_rollup, sql_image_zone_rollup),
    ("ann_ivf_pq", q_ann_ivf_pq, sql_ann_ivf_pq),
    (
        "geo_tile_lut_incremental",
        q_geo_tile_lut_incremental,
        lambda _: sql_geo_tile_lut_incremental(),
    ),
    ("phash_neardup", q_phash_neardup, lambda _: sql_phash_neardup()),
    ("audio_features", q_audio_features, sql_audio_features),
    ("video_frames", q_video_frames, lambda _: sql_video_frames()),
    ("ann_ivf", q_ann_ivf, sql_ann_ivf),
    ("embedding_neardup", q_embedding_neardup, lambda _: SQL_EMB_NEARDUP),
    ("geo_knn_fallback", q_geo_knn_fallback, sql_geo_knn_fallback),
    ("intl_names", q_intl_names, lambda _: sql_intl_names()),
    ("pricing_summary", q_pricing_summary, lambda _: SQL_PRICING),
    ("stats_counts", q_stats_counts, lambda _: SQL_STATS),
    ("merge_offsets", q_merge_offsets, lambda _: SQL_MERGE),
    ("country_maxby", q_country_maxby, lambda _: SQL_MAXBY),
    ("parent_minby", q_parent_minby, lambda _: SQL_MINBY),
    ("topk_per_group", q_topk_per_group, lambda _: SQL_TOPK),
    ("dense_ids", q_dense_ids, lambda _: SQL_DENSE),
    ("hierarchy_label", q_hierarchy_label, lambda _: SQL_LABEL),
    ("group_collect", q_group_collect, lambda _: SQL_COLLECT),
    ("json_extract", q_json_extract, lambda _: SQL_JSON),
    ("zip_format", q_zip_format, lambda _: SQL_ZIP),
    ("geo_pip_assign", q_geo_pip_assign, lambda _: sql_geo_pip_assign()),
    ("geo_zone_counts", q_geo_zone_counts, lambda _: sql_geo_zone_counts()),
    ("geo_cell_encode", q_geo_cell_encode, lambda _: sql_geo_cell_encode()),
    ("geo_multires_rollup", q_geo_multires_rollup, lambda _: sql_geo_multires_rollup()),
    ("geo_parent_hierarchy", q_geo_parent_hierarchy, lambda _: sql_geo_parent_hierarchy()),
    ("geo_zone_type", q_geo_zone_type, lambda _: sql_geo_zone_type()),
    ("geo_full_labels", q_geo_full_labels, lambda _: sql_geo_full_labels()),
    ("geo_osm_extract", q_geo_osm_extract, lambda _: sql_geo_osm_extract()),
    ("geo_voronoi_cells", q_geo_voronoi_cells, lambda _: SQL_GEO_VORONOI),
    ("geo_rasterize", q_geo_rasterize, lambda _: sql_geo_rasterize()),
    ("geo_raster_assign", q_geo_raster_assign, lambda _: sql_geo_raster_assign()),
    ("geo_raster_assign_exact", q_geo_raster_assign_exact, lambda _: sql_geo_pip_assign()),
    ("geo_raster_tile_assign", q_geo_raster_tile_assign, lambda _: sql_geo_raster_tile_assign()),
    (
        "geo_raster_tile_assign_exact",
        q_geo_raster_tile_assign_exact,
        lambda _: sql_geo_pip_assign(),
    ),
    ("geo_lut_incremental", q_geo_lut_incremental, lambda _: sql_geo_lut_incremental()),
    ("ann_pq", q_ann_pq, sql_ann_pq),
    ("ann_pq_rerank", q_ann_pq_rerank, sql_ann_pq_rerank),
    ("events_window", q_events_window, lambda _: SQL_EVENTS_WINDOW),
    ("lang_id", q_lang_id, lambda _: sql_lang_id()),
    ("ann_lsh", q_ann_lsh, lambda sf_dir: sql_ann_lsh(_emb_dim(sf_dir))),
    ("ann_lsh_multi", q_ann_lsh_multi, lambda sf_dir: sql_ann_lsh_multi(_emb_dim(sf_dir))),
    ("dedup_exact", q_dedup_exact, lambda _: SQL_DEDUP),
    ("token_count", q_token_count, lambda _: SQL_TOKENS),
    ("bpe_tokens", q_bpe_tokens, lambda _: SQL_BPE_TOKENS),
    ("quality_score", q_quality_score, lambda _: sql_quality_score()),
    ("doc_fingerprint", q_doc_fingerprint, lambda _: SQL_FINGERPRINT),
    ("doc_rolling_hash", q_doc_rolling_hash, lambda _: SQL_ROLLING),
    ("ann_brute_force", q_ann_brute_force, lambda sf_dir: sql_ann_brute_force(_query_vec(sf_dir))),
    ("embedding_stats", q_embedding_stats, lambda _: SQL_EMB_STATS),
    ("semi_anti_join", q_semi_anti_join, lambda _: SQL_SEMI_ANTI),
    ("top_revenue", q_top_revenue, lambda _: SQL_TOP_REVENUE),
    ("set_intersect_except", q_set_intersect_except, lambda _: SQL_INTERSECT),
    ("rollup_counts", q_rollup_counts, lambda _: SQL_ROLLUP),
    ("running_total", q_running_total, lambda _: SQL_RUNNING),
)


def queries() -> dict:
    return {name: build for name, build, _ in REGISTRY}


def _query_vec(sf_dir: str) -> list:
    import duckdb

    return (
        duckdb.sql(f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' WHERE vec_id = 0")
        .fetchone()[0]
    )


def _emb_dim(sf_dir: str) -> int:
    import duckdb

    return duckdb.sql(
        f"SELECT len(embedding) FROM '{sf_dir}/embeddings.parquet' LIMIT 1"
    ).fetchone()[0]


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> dict:
    return {name: oracle(sf_dir) for name, _, oracle in REGISTRY}
