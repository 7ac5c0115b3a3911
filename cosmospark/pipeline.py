"""The full zone pipeline: build_zones (reference src/lib.rs:236-277).

Stage DAG (each stage optionally checkpointed via cosmospark.checkpoint):

  1. extract    — filters S2-S4 + projection P1/P2 over raw tagged rows
  2. geometry   — bbox/area/zip/wikidata derivation
  3. inclusions — containment self-join (J1)
  4. typing     — country lookup (J3) + libpostal typing (J4)
  5. hierarchy  — parent assignment (J5+J6)
  6. names      — center-tag merge (P4) + international names (P3)
  7. labels     — parent-chain labels (W3+A5+P5)
  8. clean      — drop untyped (P7)

The zone side is broadcast-scale by design (≤ ~10^6 rows planet-wide —
the reference holds all zones in one process's RAM, README.md:55-62), so
every join here is a broadcast hash join; the only shuffles are the tiny
groupBys on zone ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cosmospark import checkpoint as ckpt
from cosmospark.hierarchy import build_hierarchy, find_inclusions, with_bbox_and_area
from cosmospark.labels import compute_labels, compute_names, with_zip_codes
from cosmospark.typer import assign_country, clean_untagged_zones, type_zones


def admin_relations(raw: DataFrame) -> DataFrame:
    """S2 (src/lib.rs:31-42): boundary=administrative with admin_level."""
    return raw.filter(
        (F.col("tags")["boundary"] == "administrative")
        & F.col("tags")["admin_level"].isNotNull()
    )


def zone_relations(raw: DataFrame) -> DataFrame:
    """The reference's full relation admission (src/lib.rs:73): admin
    relations (S2) ∪ relations tagged ``place=suburb`` — suburb boundary
    relations carry no boundary=administrative/admin_level but still
    become zones."""
    return raw.filter(
        (
            (F.col("tags")["boundary"] == "administrative")
            & F.col("tags")["admin_level"].isNotNull()
        )
        | (F.col("tags")["place"] == "suburb")
    )


PLACE_VALUES = ["city", "town", "village", "suburb", "quarter", "neighbourhood"]


def place_nodes(raw: DataFrame, additional: bool = False) -> DataFrame:
    """S3/S4 (src/lib.rs:44-64): place nodes (city..neighbourhood), plus
    capital=yes when ``additional``."""
    cond = F.col("tags")["place"].isin(PLACE_VALUES)
    if additional:
        cond = cond | (F.col("tags")["capital"] == "yes")
    return raw.filter(cond)


def extract_places(raw: DataFrame) -> DataFrame:
    """P2 (src/zone_ext.rs:49-116 + additional_zones.rs:122-158): place
    nodes → boundary-less place records for Voronoi generation.
    zone_type parses the ``place`` tag with the reference's synonyms."""
    from cosmospark.ztypes import TYPE_SYNONYMS

    syn = F.col("tags")["place"]
    for k, v in TYPE_SYNONYMS.items():
        syn = F.when(F.col("tags")["place"] == k, F.lit(v)).otherwise(syn)
    z = raw.withColumn("zone_type", syn)
    if "name" not in z.columns:
        z = z.withColumn("name", F.col("tags")["name"])
    z = z.filter(F.col("name").isNotNull() & (F.col("name") != ""))
    if "admin_level" not in z.columns:
        z = z.withColumn("admin_level", F.col("tags")["admin_level"].cast("int"))
    if "lon" not in z.columns:
        z = z.withColumn("lon", F.col("center.lon")).withColumn("lat", F.col("center.lat"))
    return z.select("osm_id", "name", "zone_type", "admin_level", "lon", "lat", "tags")


def extract_zones_from_osm(
    relations: DataFrame,
    rel_members: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    rel_node_members: DataFrame | None = None,
) -> DataFrame:
    """P1 over raw OSM tables (src/zone_ext.rs:118-234): admin relations
    (S2) ∪ place=suburb relations (src/lib.rs:73) → zones_raw rows with
    assembled boundaries and the member-node extraction the reference
    does per relation:

    * ``name`` from tags — relations without one are skipped (:126-135);
    * ``loc_name`` / ``alt_name`` / ``wikidata`` from tags (:152-162);
    * ``name:*`` + ``population`` tags merged from the role=``label``
      member node, existing relation tags winning (:166-181);
    * ``center`` from the role=``admin_centre`` node, else the ``label``
      node, else NULL → downstream centroid fallback with NaN guard
      (:184-210; the Gatineau case, tests/cosmogony_test.rs:287-311);
    * ``center_tags`` = that member node's tags, else empty (:193);
    * relations whose member ways produce no closed ring are dropped
      (boundary-less zones are ignored, src/lib.rs:79-81);
    * dense ids in osm-id order (W1, src/lib.rs:77 BTreeMap order).

    All of it is joins + map expressions (JVM-side); the only Python is
    the ring stitcher inside ``assemble_boundaries``.
    """
    from pyspark.sql.window import Window

    from cosmospark.assembly import assemble_boundaries, member_nodes

    admin = zone_relations(relations).filter(F.col("tags")["name"].isNotNull())
    rings = assemble_boundaries(admin, rel_members, ways, nodes)
    z = admin.join(rings.filter(F.size("rings") > 0), "relation_id")

    if rel_node_members is not None:
        mn = member_nodes(rel_node_members, nodes)
        z = z.join(F.broadcast(mn), "relation_id", "left")
    else:
        z = z.withColumn("label_node", F.lit(None).cast("struct<lon:double,lat:double,tags:map<string,string>>"))
        z = z.withColumn("admin_centre_node", F.col("label_node"))

    # label-member tag merge: name:* + population, or_insert (zone wins)
    label_tags = F.coalesce(F.col("label_node.tags"), F.expr("map()"))
    merged_tags = F.map_concat(
        F.col("tags"),
        F.map_filter(
            label_tags,
            lambda k, _: (k.startswith("name:") | (k == "population"))
            & ~F.array_contains(F.map_keys(F.col("tags")), k),
        ),
    )
    centre = F.coalesce(F.col("admin_centre_node"), F.col("label_node"))

    z = z.select(
        F.concat(F.lit("relation:"), F.col("relation_id")).alias("osm_id"),
        F.col("tags")["name"].alias("name"),
        F.col("tags")["admin_level"].cast("int").alias("admin_level"),
        F.lit(None).cast("string").alias("zone_type"),
        merged_tags.alias("tags"),
        F.coalesce(centre["tags"], F.expr("map()")).alias("center_tags"),
        F.when(
            centre.isNotNull(),
            F.struct(centre["lon"].alias("lon"), centre["lat"].alias("lat")),
        ).alias("center"),
        F.col("rings"),
        F.col("tags")["wikidata"].alias("wikidata"),
        F.coalesce(F.col("tags")["loc_name"], F.lit("")).alias("loc_name"),
        F.coalesce(F.col("tags")["alt_name"], F.lit("")).alias("alt_name"),
        F.lit(False).alias("is_generated"),
        F.col("relation_id"),
    )
    # dense surrogate ids in stable relation-id order: the zone dim is
    # broadcast-scale, so a single-partition window is fine here (and the
    # merge tool's max_id+1 offsets rely on dense ids, src/merger.rs:47)
    w = Window.orderBy("relation_id")
    return z.withColumn("id", (F.row_number().over(w) - 1).cast("long")).drop(
        "relation_id"
    )


def osm_place_zones(nodes: DataFrame, additional: bool = True) -> DataFrame:
    """S3/S4 + P2 over the raw nodes table: place nodes → boundary-less
    place records shaped for ``extract_places`` / Voronoi generation."""
    from cosmospark.assembly import _with_node_tags

    n = place_nodes(_with_node_tags(nodes), additional=additional)
    return n.select(
        F.concat(F.lit("node:"), F.col("node_id")).alias("osm_id"),
        F.col("tags")["name"].alias("name"),
        F.col("tags"),
        F.col("lon"),
        F.col("lat"),
    )


def build_zones_from_osm(
    spark: SparkSession,
    relations: DataFrame,
    rel_members: DataFrame,
    ways: DataFrame,
    nodes: DataFrame,
    rules: dict[str, DataFrame],
    rel_node_members: DataFrame | None = None,
    checkpoint_root: str | None = None,
    filter_langs: list[str] | None = None,
    keep_untyped: bool = False,
    enable_voronoi: bool = False,
    country_code: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """The reference's actual front door (src/lib.rs:236-277): raw OSM
    object tables → typed/parented/labelled zones. S2-S4 filters run
    here (is_admin on relations, is_additional_place on nodes), then the
    pre-assembled-zone pipeline takes over."""
    zones_raw = extract_zones_from_osm(
        relations, rel_members, ways, nodes, rel_node_members
    )
    places_raw = osm_place_zones(nodes, additional=True) if enable_voronoi else None
    return build_zones(
        spark,
        zones_raw,
        rules,
        checkpoint_root=checkpoint_root,
        filter_langs=filter_langs,
        keep_untyped=keep_untyped,
        places_raw=places_raw,
        enable_voronoi=enable_voronoi,
        country_code=country_code,
        stats=stats,
    )


def extract_zone_fields(raw: DataFrame) -> DataFrame:
    """P1-ish projection (src/zone_ext.rs:118-234): rows without a name
    are dropped (:126-135); admin_level parsed from tags when absent;
    wikidata from tags."""
    z = raw
    if "name" not in z.columns:
        z = z.withColumn("name", F.col("tags")["name"])
    else:
        z = z.withColumn("name", F.coalesce(F.col("name"), F.col("tags")["name"]))
    z = z.filter(F.col("name").isNotNull())
    if "admin_level" not in z.columns:
        z = z.withColumn("admin_level", F.col("tags")["admin_level"].cast("int"))
    else:
        z = z.withColumn(
            "admin_level",
            F.coalesce(F.col("admin_level"), F.col("tags")["admin_level"].cast("int")),
        )
    if "wikidata" not in z.columns:
        z = z.withColumn("wikidata", F.col("tags")["wikidata"])
    return z


def build_zones(
    spark: SparkSession,
    zones_raw: DataFrame,
    rules: dict[str, DataFrame],
    checkpoint_root: str | None = None,
    filter_langs: list[str] | None = None,
    keep_untyped: bool = False,
    places_raw: DataFrame | None = None,
    enable_voronoi: bool = False,
    country_code: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """zones_raw (ZONES_RAW_SCHEMA-ish) → fully typed/parented/labelled
    zone table (ZONE_OUT_SCHEMA).

    ``country_code`` forces every zone's country (the reference's
    ``--country-code`` flag, src/bin/cosmogony.rs:58-62 + the
    get_country_code short-circuit, src/lib.rs:96-107) — without it, a
    world containing no country zone is a hard error (src/lib.rs:119-124).
    ``stats``, when given a dict, is filled with the typing counters of
    src/lib.rs:149-181 (zone_without_country / unhandled_admin_level)."""

    # stage input fingerprint: config + zone schema + the full (tiny)
    # rules content — a committed snapshot is reused only when it
    # matches, so changing the rules or flags invalidates the resume
    # point instead of silently reusing stale output. (The zones_raw
    # CONTENT is not hashed — that would cost a full pass; schema-level
    # only, documented limitation.)
    import hashlib as _hashlib

    fp_src = repr(
        (
            zones_raw.schema.json(),
            sorted(filter_langs or []),
            country_code,
            enable_voronoi,
            {k: sorted(map(tuple, v.collect())) for k, v in sorted(rules.items())},
        )
    )
    fingerprint = _hashlib.md5(fp_src.encode()).hexdigest()

    # EVERY stage is fingerprint-gated, and each stage's fingerprint
    # folds in the upstream stage's committed manifest identity
    # (fingerprint + committed_at) — so (a) changing rules /
    # --filter-langs / --country-code invalidates parented/voronoi/
    # labelled too (ADVICE r2: they used to resume stale snapshots that
    # silently ignored the new config), and (b) an upstream recompute
    # for ANY reason cascades downstream.
    prev_token = "root"

    def _stage(name, fn):
        nonlocal prev_token
        fp = _hashlib.md5(
            f"{fingerprint}:{name}:{prev_token}".encode()
        ).hexdigest()
        df = ckpt.run_stage_fp(spark, checkpoint_root, name, fp, fn)
        if checkpoint_root is not None:
            m = ckpt.read_manifest(checkpoint_root, name)
            prev_token = f"{m.get('fingerprint')}@{m.get('committed_at')}"
        else:
            prev_token = fp
        return df

    def _prep():
        z = extract_zone_fields(zones_raw)
        z = with_bbox_and_area(z)
        z = with_zip_codes(z)
        return z

    zones = _stage("prep", _prep)
    inclusions = _stage("inclusions", lambda: find_inclusions(zones))

    def _typed():
        z = assign_country(zones, inclusions, rules, country_code=country_code)
        return type_zones(z, inclusions, rules)

    typed = _stage("typed", _typed)

    if stats is not None:
        from cosmospark.typer import typing_stats

        stats.update(typing_stats(typed))

    parented = _stage("parented", lambda: build_hierarchy(typed, inclusions))

    # stage 3d (src/lib.rs:219 compute_additional_places) — voronoi city
    # generation, off by default like the reference's --disable-voronoi
    # golden tests (tests/cosmogony_test.rs:113)
    if enable_voronoi and places_raw is not None:
        from cosmospark.voronoi import compute_additional_places, publish_new_places

        def _with_places():
            places = extract_places(places_raw)
            new = compute_additional_places(parented, places)
            return publish_new_places(parented, new)

        parented = _stage("voronoi", _with_places)

    def _labelled():
        z = compute_names(parented)
        return compute_labels(z, filter_langs=filter_langs)

    labelled = _stage("labelled", _labelled)

    out = labelled if keep_untyped else clean_untagged_zones(labelled)
    return out


# ---------------------------------------------------------------------------
# Sinks / sources (S5/S6): the reference's 4 output formats
# (cosmogony/src/file_format.rs:5-17), sniffed by extension (:20-44):
#
#   .jsonl / .jsonl.gz — streaming JSONL, the native distributed format
#                        (Spark writes it in parallel; gzip via codec);
#   .json  / .json.gz  — whole-document {"zones": [...], "meta": {...}}
#                        envelope (cosmogony/src/model.rs:6-10). The zone
#                        table is broadcast-scale by design (the reference
#                        holds it in one process), so the whole-doc format
#                        assembles on the driver — it exists for parity
#                        and small extracts; planet-scale sinks are JSONL
#                        or the partitioned parquet in cosmospark.assign.


def sniff_format(path: str) -> tuple[str, bool]:
    """→ ('json'|'jsonl', gzipped) from the extension, like
    cosmogony/src/file_format.rs:20-44. Unknown extensions default to
    jsonl (the reference defaults to .json; JSONL is our native format
    and the CLI passes explicit extensions)."""
    base = path[:-3] if path.endswith(".gz") else path
    gz = path.endswith(".gz")
    if base.endswith(".json"):
        return "json", gz
    return "jsonl", gz


def write_zones(
    zones: DataFrame, path: str, osm_filename: str = "", stats: dict | None = None
) -> None:
    fmt, gz = sniff_format(path)
    if fmt == "jsonl":
        writer = zones.write.mode("overwrite")
        if gz:
            writer = writer.option("compression", "gzip")
        writer.json(path)
        return

    # whole-doc envelope {zones, meta:{osm_filename, stats}}
    # (cosmogony/src/model.rs:6-10; serializer src/bin/cosmogony.rs:113-149)
    import gzip as _gzip
    import json as _json

    from cosmospark.stats import compute_stats

    lines = zones.toJSON().collect()
    meta = {
        "osm_filename": osm_filename,
        "stats": stats if stats is not None else compute_stats(zones),
    }
    doc = (
        '{"zones": ['
        + ", ".join(lines)
        + '], "meta": '
        + _json.dumps(meta)
        + "}"
    )
    if gz:
        with _gzip.open(path, "wt", encoding="utf-8") as fh:
            fh.write(doc)
    else:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(doc)


def read_zones(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read any of the 4 formats back as a zone DataFrame (S6,
    cosmogony/src/read.rs:7-71)."""
    import os

    fmt, gz = ("jsonl", False) if os.path.isdir(path) else sniff_format(path)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "jsonl":
        return r.json(path)

    # whole-doc: parse the envelope on the driver, re-emit as a temp
    # JSONL so the distributed reader (and its schema handling) is the
    # single code path
    import gzip as _gzip
    import json as _json
    import tempfile

    opener = _gzip.open if gz else open
    with opener(path, "rt", encoding="utf-8") as fh:
        doc = _json.load(fh)
    tmp = tempfile.NamedTemporaryFile(
        "w", suffix=".jsonl", delete=False, encoding="utf-8"
    )
    with tmp as fh:
        for z in doc.get("zones", []):
            fh.write(_json.dumps(z) + "\n")
    return r.json(tmp.name)


def read_meta(path: str) -> dict | None:
    """The meta envelope of a whole-doc cosmogony file (None for JSONL,
    which carries no meta — like the reference's streaming format)."""
    fmt, gz = sniff_format(path)
    if fmt != "json":
        return None
    import gzip as _gzip
    import json as _json

    opener = _gzip.open if gz else open
    with opener(path, "rt", encoding="utf-8") as fh:
        return _json.load(fh).get("meta")
