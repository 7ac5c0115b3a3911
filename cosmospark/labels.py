"""Names and label computation as DataFrame jobs.

Reimplements:

* ``get_international_names`` (src/zone_ext.rs:404-417): tags matching
  ``name:<lang>`` whose value differs from the default name — pure
  built-ins (map_filter / transform_keys), no UDF.
* ``compute_names`` (src/zone_ext.rs:337-355): merge ``name:*`` tags from
  the center node into the zone's tags under the wikidata/city
  conditions, existing tags winning.
* ``compute_labels`` (src/zone_ext.rs:309-335 + create_lbl :365-375 +
  format_zip_code :385-395): walk the parent chain, dedup *consecutive*
  duplicate names (itertools dedup — non-consecutive repeats survive,
  test :492-504), append the zone's zip-code suffix to the first
  element, join with ", "; same per language over the union of langs in
  the chain (A5), optionally filtered.

The parent-chain walk (``iter_hierarchy``, cosmogony/src/zone.rs:153-181)
is an **iterative self-join to fixpoint**: depth is bounded by the
ZoneType ladder (≤ ~8), so the loop runs O(depth) broadcast joins over
the small zone table — no driver-side walking of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MAX_DEPTH = 12  # > number of ZoneTypes; cycle guard

ZIP_CODES_EXPR = (
    "array_sort(filter(split(coalesce(tags['addr:postcode'], tags['postal_code'], ''), ';'),"
    " x -> x != ''))"
)


def with_zip_codes(zones: DataFrame) -> DataFrame:
    """zip_codes from addr:postcode / postal_code, ';'-split + sorted
    (src/zone_ext.rs:141-151, itertools sorted :72-77)."""
    return zones.withColumn("zip_codes", F.expr(ZIP_CODES_EXPR))


def with_international_names(zones: DataFrame, name_col: str = "name") -> DataFrame:
    """international_names: map lang → name for ``name:<lang>`` tags whose
    value differs from the default name."""
    return zones.withColumn(
        "international_names",
        F.transform_keys(
            F.map_filter(
                F.col("tags"),
                lambda k, v: k.startswith("name:") & (v != F.col(name_col)),
            ),
            lambda k, _: F.substring(k, 6, 2147483647),
        ),
    )


def compute_names(zones: DataFrame) -> DataFrame:
    """Merge center-node ``name:*`` tags into tags (zone tags win), iff
    wikidata ids match or the zone is a City with a missing wikidata on
    either side; then recompute international_names."""
    if "center_tags" not in zones.columns:
        zones = zones.withColumn(
            "center_tags", F.expr("cast(map() as map<string,string>)")
        )
    center_wd = F.col("center_tags")["wikidata"]
    cond = (F.col("wikidata").isNotNull() & (F.col("wikidata") == center_wd)) | (
        (F.col("zone_type") == "city") & (center_wd.isNull() | F.col("wikidata").isNull())
    )
    center_names = F.map_filter(
        F.coalesce(F.col("center_tags"), F.expr("map()")),
        lambda k, _: k.startswith("name:"),
    )
    # map_concat fails on duplicate keys under EXCEPTION policy; emulate
    # "or_insert" (zone tags win) by concat(center_names minus existing keys)
    merged = F.map_concat(
        F.col("tags"),
        F.map_filter(center_names, lambda k, _: ~F.array_contains(F.map_keys(F.col("tags")), k)),
    )
    z = zones.withColumn("tags", F.when(cond, merged).otherwise(F.col("tags")))
    return with_international_names(z)


def parent_chain(zones: DataFrame) -> DataFrame:
    """(id, anc, depth): every zone with its ancestor chain, self at
    depth 0 — the relational form of iter_hierarchy."""
    parents = zones.select(F.col("id").alias("anc"), F.col("parent").alias("next_anc"))
    level = zones.select(F.col("id"), F.col("id").alias("anc"), F.lit(0).alias("depth"))
    chain = level
    for d in range(1, MAX_DEPTH + 1):
        level = (
            level.join(parents, "anc")
            .filter(F.col("next_anc").isNotNull())
            .select("id", F.col("next_anc").alias("anc"), F.lit(d).alias("depth"))
        )
        if level.isEmpty():
            break
        chain = chain.unionByName(level)
    return chain


_DEDUP = (
    "aggregate({arr}, cast(array() as array<string>), "
    "(acc, x) -> if(size(acc) > 0 and element_at(acc, -1) = x, acc, concat(acc, array(x))))"
)

_ZIP_FMT = (
    "case when size(zip_codes) = 0 then '' "
    "when size(zip_codes) = 1 then concat(' (', zip_codes[0], ')') "
    "else concat(' (', zip_codes[0], '-', element_at(zip_codes, -1), ')') end"
)


def _label_from_names_expr(names_arr: str) -> str:
    """SQL expr: consecutive-dedup names array → ', '-joined label with
    the zone's zip suffix on the first element."""
    dedup = _DEDUP.format(arr=names_arr)
    return (
        f"concat_ws(', ', transform({dedup}, (x, i) -> "
        f"if(i = 0, concat(x, {_ZIP_FMT}), x)))"
    )


def compute_labels(zones: DataFrame, filter_langs: list[str] | None = None) -> DataFrame:
    """Add ``label`` and ``international_labels`` to zones.

    zones must carry: id, name, parent, zip_codes, international_names.
    """
    chain = parent_chain(zones)
    # maps are not orderable inside array_sort → carry map_entries instead
    anc = zones.select(
        F.col("id").alias("anc"),
        F.col("name").alias("anc_name"),
        F.map_entries(
            F.coalesce(F.col("international_names"), F.expr("map()"))
        ).alias("anc_int_entries"),
    )
    per_zone = (
        chain.join(F.broadcast(anc), "anc")
        .groupBy("id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(depth, anc_name, anc_int_entries))), "
                "c -> struct(c.anc_name as anc_name, "
                "map_from_entries(c.anc_int_entries) as anc_int_names))"
            ).alias("chain")
        )
    )

    z = zones.join(per_zone, "id", "left")
    # generated zones may carry NULL zip_codes — the zip formatter needs []
    z = z.withColumn("zip_codes", F.coalesce(F.col("zip_codes"), F.expr("array()")))
    z = z.withColumn("_names", F.expr("transform(chain, c -> c.anc_name)"))
    z = z.withColumn("label", F.expr(_label_from_names_expr("_names")))

    # union of languages over the chain
    langs = "array_distinct(flatten(transform(chain, c -> map_keys(c.anc_int_names))))"
    if filter_langs:
        quoted = ", ".join("'" + l.replace("'", "\\'") + "'" for l in filter_langs)
        langs = f"array_intersect({langs}, array({quoted}))"
    # per-lang chain names: the zone's name in that lang, else default name
    per_lang_names = (
        "transform(chain, c -> coalesce(element_at(c.anc_int_names, l), c.anc_name))"
    )
    z = z.withColumn(
        "international_labels",
        F.expr(
            f"map_from_entries(transform(array_sort({langs}), "
            f"l -> struct(l, {_label_from_names_expr(per_lang_names)})))"
        ),
    )
    return z.drop("chain", "_names")
