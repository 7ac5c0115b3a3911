"""Zone typing + country lookup as broadcast-join DataFrame jobs.

Reimplements:

* ``CountryFinder`` (src/country_finder.rs:18-48): a zone's country is
  the ISO3166-1:alpha2-tagged zone with the max admin_level among its
  inclusion ancestors (itself included), restricted to countries that
  have a typing rule.

* ``ZoneTyper`` (src/zone_typer.rs:80-160): three-level precedence
  1. per-osm-id override — may be an explicit NULL ("untyped", the
     libpostal way of removing a zone, zone_typer.rs:128-130);
  2. else the first inclusion container that has ``contained_by``
     sub-rules: evaluate the sub-rules (their own id overrides, nested
     containers, then admin_level map); a sub-rule *miss* falls through
     to (3) (the ``and_then`` at zone_typer.rs:147-157);
  3. else the country's default admin_level map.

The reference's "first container in inclusion order" depends on R-tree
iteration order; we impose the deterministic equivalent: the most
specific container (max admin_level, then min container id).

Rules come in one shape, the four tables of ``make_rules``: the default
admin_level map, the id overrides, and the contained_by level and id
maps keyed by their container chain (any nesting depth). They are tiny
dimension tables (242 countries in libpostal), built as JVM-local
relations and ``F.broadcast`` on every join; the zone side is the only
distributed operand, so this scales to any zone-table size with zero
shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cosmospark.session import local_table

# sentinel for "explicitly untyped by libpostal" (override value null);
# lets us distinguish Some(None) from no-override inside coalesce logic
EXPLICIT_NONE = "__none__"

RULES_LEVELS_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType(), False),
        T.StructField("admin_level", T.StringType(), False),
        T.StructField("zone_type", T.StringType(), False),
    ]
)
RULES_ID_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType(), False),
        T.StructField("osm_id", T.StringType(), False),
        T.StructField("zone_type", T.StringType(), True),  # NULL = explicitly untyped
    ]
)
# contained_by rules (zone_typer.rs:143-157, 196-204): one table per
# rule kind for every nesting depth, keyed by the chain of container
# osm_ids from the outermost hop inward. A chain's level map types the
# zones inside it; its id map (checked first, NULL = explicitly untyped)
# overrides single zones inside it.
RULES_CHAIN_LEVELS_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("chain", T.ArrayType(T.StringType(), False), False),
        T.StructField("admin_level", T.StringType(), False),
        T.StructField("zone_type", T.StringType(), False),
    ]
)
RULES_CHAIN_ID_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("chain", T.ArrayType(T.StringType(), False), False),
        T.StructField("osm_id", T.StringType(), False),
        T.StructField("zone_type", T.StringType(), True),
    ]
)

# default recursion cap, matching the data: libpostal nests at most one
# extra contained_by level; anything deeper is a parse error unless the
# caller raises max_depth explicitly (never a silent mistype)
DEFAULT_CONTAINED_DEPTH = 2


# ---------------------------------------------------------------------------
# libpostal YAML rule source (S8): the reference embeds 242 country rule
# files `libpostal/resources/boundaries/osm/<cc>.yaml` at compile time
# (src/zone_typer.rs:14,162-192) with the schema
#
#     ---
#     admin_level:
#         "2": "country"
#         "9": "suburb"
#     overrides:
#         contained_by:
#             relation:
#                 "407489":
#                     admin_level:
#                         "9": "city_district"
#         id:
#             relation:
#                 "1803923": "city_district"
#                 "42": null        # explicitly untyped
#
# No YAML library ships in this environment, so a from-scratch parser of
# exactly this subset (nested mappings, quoted/bare scalars, null,
# comments) loads the same files into the four rule tables. The
# sandbox's reference checkout has an empty libpostal submodule, so
# tests drive the loader with the reference's own unit-test documents
# (zone_typer.rs:247-331) — pointed at the real folder it loads all 242
# unchanged.


def _strip_comment(line: str) -> str:
    out = []
    quote = None
    for ch in line:
        if quote:
            out.append(ch)
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
            out.append(ch)
        elif ch == "#":
            break
        else:
            out.append(ch)
    return "".join(out)


def _yaml_scalar(tok: str):
    tok = tok.strip()
    if tok in ("null", "~", "Null", "NULL", ""):
        return None
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "\"'":
        return tok[1:-1]
    return tok


def parse_mini_yaml(text: str) -> dict:
    """Parse the libpostal-rules YAML subset: nested mappings only,
    scalar string/null values, comments, optional leading ``---``.
    Raises ValueError on non-mapping lines (parity with serde_yaml
    rejecting malformed files, zone_typer.rs:277-293)."""
    root: dict = {}
    stack: list[tuple[int, dict]] = [(-1, root)]
    for raw in text.splitlines():
        line = _strip_comment(raw).rstrip()
        stripped = line.strip()
        if not stripped or stripped == "---":
            continue
        indent = len(line) - len(line.lstrip(" "))
        if "\t" in line[:indent]:
            raise ValueError(f"tab indentation not allowed: {raw!r}")
        key_part, sep, val_part = stripped.partition(":")
        if not sep:
            raise ValueError(f"not a mapping line: {raw!r}")
        key = _yaml_scalar(key_part)
        if key is None:
            raise ValueError(f"null mapping key: {raw!r}")
        while len(stack) > 1 and indent <= stack[-1][0]:
            stack.pop()
        parent = stack[-1][1]
        if val_part.strip() == "":
            node: dict = {}
            parent[key] = node
            stack.append((indent, node))
        else:
            parent[key] = _yaml_scalar(val_part)
    return root


def _walk_contained(
    country: str,
    cc: str,
    sub: dict,
    chain: tuple,
    chain_levels: list,
    chain_ids: list,
    max_depth: int,
) -> None:
    """Recursive contained_by walk (zone_typer.rs:143-157 recurses
    unboundedly; here bounded by ``max_depth``, a hard parse error —
    never a silent mistype). ``chain`` is the container-osm-id path from
    the outermost hop to the rule map being walked."""
    depth = len(chain)
    label = chain[-1]
    for otype_i, m_i in ((sub.get("overrides") or {}).get("id") or {}).items():
        for oid_i, zt in m_i.items():
            if zt is not None and not isinstance(zt, str):
                raise ValueError(
                    f"{country}: contained_by {label!r} id override "
                    f"{oid_i!r} must be scalar"
                )
            chain_ids.append((cc, depth, list(chain), f"{otype_i}:{oid_i}", zt))
    for lvl, zt in (sub.get("admin_level") or {}).items():
        if not isinstance(zt, str):
            raise ValueError(
                f"{country}: contained_by {label!r} admin_level[{lvl!r}] must be scalar"
            )
        chain_levels.append((cc, depth, list(chain), str(lvl), zt))
    nested = (sub.get("overrides") or {}).get("contained_by") or {}
    if nested and depth >= max_depth:
        raise ValueError(
            f"{country}: contained_by nesting deeper than {max_depth} "
            "levels is not supported"
        )
    for otype2, m2 in nested.items():
        for oid2, sub2 in m2.items():
            if not isinstance(sub2, dict):
                raise ValueError(f"{country}: contained_by {oid2!r} must be a rule map")
            _walk_contained(
                country,
                cc,
                sub2,
                chain + (f"{otype2}:{oid2}",),
                chain_levels,
                chain_ids,
                max_depth,
            )


def parse_libpostal_rules(
    country: str, text: str, max_depth: int = DEFAULT_CONTAINED_DEPTH
) -> dict:
    """One country file → generalized rule lists:
    ``{"levels", "id_overrides", "chain_levels", "chain_ids"}`` where the
    chain lists carry (country, depth, chain, ..., zone_type) rows for
    every contained_by nesting depth up to ``max_depth``. ValueError on
    schema violations (the serde parity: a map where a scalar type name
    is required, e.g. the mis-indented document of
    zone_typer.rs:277-293) and on nesting beyond ``max_depth``."""
    doc = parse_mini_yaml(text)
    cc = country.upper()
    levels = []
    for lvl, zt in (doc.get("admin_level") or {}).items():
        if not isinstance(zt, str):
            raise ValueError(
                f"{country}: admin_level[{lvl!r}] must be a zone type string, got {zt!r}"
            )
        levels.append((cc, str(lvl), zt))
    ovr = doc.get("overrides") or {}
    id_rules = []
    for otype, m in (ovr.get("id") or {}).items():
        for oid, zt in m.items():
            if zt is not None and not isinstance(zt, str):
                raise ValueError(f"{country}: id override {oid!r} must be scalar")
            id_rules.append((cc, f"{otype}:{oid}", zt))  # None = explicitly untyped
    chain_levels: list = []
    chain_ids: list = []
    for otype, m in (ovr.get("contained_by") or {}).items():
        for oid, sub in m.items():
            if not isinstance(sub, dict):
                raise ValueError(f"{country}: contained_by {oid!r} must be a rule map")
            _walk_contained(
                country, cc, sub, (f"{otype}:{oid}",), chain_levels, chain_ids, max_depth
            )
    return {
        "levels": levels,
        "id_overrides": id_rules,
        "chain_levels": chain_levels,
        "chain_ids": chain_ids,
    }


def load_libpostal_rules(
    spark: SparkSession, folder: str, max_depth: int = DEFAULT_CONTAINED_DEPTH
) -> dict[str, DataFrame]:
    """Load a libpostal ``boundaries/osm`` folder of ``<cc>.yaml`` files
    into the rule tables (read_libpostal_yaml_folder parity,
    zone_typer.rs:162-189: unparseable files are skipped with a
    warning, the country code comes from the file stem, uppercased)."""
    import os
    import warnings

    rows: dict[str, list] = {
        "levels": [], "id_overrides": [], "chain_levels": [], "chain_ids": []
    }
    for name in sorted(os.listdir(folder)):
        if not (name.endswith(".yaml") or name.endswith(".yml")):
            continue
        cc = os.path.splitext(name)[0]
        try:
            with open(os.path.join(folder, name), encoding="utf-8") as fh:
                parsed = parse_libpostal_rules(cc, fh.read(), max_depth=max_depth)
        except ValueError as e:
            warnings.warn(f"skipping rules file {name}: {e}", stacklevel=2)
            continue
        for kind, kind_rows in parsed.items():
            rows[kind].extend(kind_rows)
    return make_rules(spark, **rows)


def make_rules(
    spark: SparkSession,
    levels: list[tuple],
    id_overrides: list[tuple] = (),
    chain_levels: list[tuple] = (),
    chain_ids: list[tuple] = (),
) -> dict[str, DataFrame]:
    """Build the four rule tables that ``type_zones`` reads: ``levels``
    (country, admin_level, zone_type), ``id_overrides`` (country,
    osm_id, zone_type) and the contained_by chain tables
    ``contained_levels`` / ``contained_ids`` from (country, depth, chain,
    admin_level | osm_id, zone_type) rows. The argument names are
    ``parse_libpostal_rules``'s keys, so
    ``make_rules(spark, **parse_libpostal_rules(cc, text))`` works. Each
    table is a JVM-local relation (``session.local_table``)."""
    return {
        "levels": local_table(spark, levels, RULES_LEVELS_SCHEMA),
        "id_overrides": local_table(spark, id_overrides, RULES_ID_SCHEMA),
        "contained_levels": local_table(spark, chain_levels, RULES_CHAIN_LEVELS_SCHEMA),
        "contained_ids": local_table(spark, chain_ids, RULES_CHAIN_ID_SCHEMA),
    }


def find_countries(zones: DataFrame, rules: dict[str, DataFrame]) -> DataFrame:
    """(id, iso, country_level): zones that are countries per the
    COUNTRY_CODE_TAG + has-rule filter (country_finder.rs:18-39)."""
    rule_countries = rules["levels"].select("country").distinct()
    return (
        zones.select(
            "id",
            F.upper(F.col("tags")["ISO3166-1:alpha2"]).alias("iso"),
            F.coalesce(F.col("admin_level"), F.lit(0)).alias("country_level"),
        )
        .filter(F.col("iso").isNotNull())
        .join(F.broadcast(rule_countries), F.col("iso") == F.col("country"), "left_semi")
    )


def assign_country(
    zones: DataFrame,
    inclusions: DataFrame,
    rules: dict[str, DataFrame],
    country_code: str | None = None,
) -> DataFrame:
    """Add ``country_code``: max-admin_level country among inclusion
    ancestors ∪ self (country_finder.rs:41-48). Tie-break: max zone id
    (Rust max_by_key keeps the last maximum; self comes last).

    ``country_code`` forces the same (uppercased) code onto every zone —
    the reference's ``--country-code`` flag for extracts that carry no
    country boundary (src/lib.rs:96-107). Without it, a zone table in
    which no country zone can be found is a hard error
    (src/lib.rs:119-124): better to fail than silently emit an all-NULL
    untyped cosmogony."""
    if country_code is not None:
        return zones.withColumn("country_code", F.lit(country_code.upper()))

    countries = find_countries(zones, rules)
    if countries.isEmpty():
        raise ValueError(
            "no country_code has been provided and no country has been "
            "found, we won't be able to make a cosmogony "
            "(reference src/lib.rs:119-124)"
        )

    self_edges = zones.select(F.col("id").alias("child"), F.col("id").alias("parent"))
    edges = inclusions.select("child", "parent").unionByName(self_edges)

    matched = edges.join(
        F.broadcast(countries.withColumnRenamed("id", "parent")), "parent"
    )
    cc = matched.groupBy("child").agg(
        F.max_by("iso", F.struct(F.col("country_level"), F.col("parent"))).alias("country_code")
    )
    return zones.join(cc.withColumnRenamed("child", "id"), "id", "left")


def _on_chain(cond, chain: str, n: int):
    """``cond`` and: the chosen containers ``_ch1.._ch{n}`` are the first
    ``n`` hops of the rule chain column ``chain``."""
    for i in range(1, n + 1):
        cond = cond & (F.col(f"_ch{i}") == F.element_at(F.col(chain), i))
    return cond


def type_zones(zones: DataFrame, inclusions: DataFrame, rules: dict[str, DataFrame]) -> DataFrame:
    """Set ``zone_type`` by the three-level libpostal precedence.

    Input zones must already carry ``country_code`` (see assign_country).
    Zones with no country, unknown level, or an explicit-NULL override end
    with zone_type NULL (the reference's error paths → untyped,
    src/lib.rs:146-181), to be dropped by clean_untagged_zones.

    The contained_by recursion (zone_typer.rs:143-157 — unbounded in the
    reference) is evaluated as a BOUNDED LOOP over nesting depth
    d = 1..k, where k is the max depth present in the rule tables (set
    at parse time; DEFAULT_CONTAINED_DEPTH unless the caller raised it):
    at each depth the most specific eligible parent container nested
    under the previously chosen chain is selected, then every per-depth
    rule lookup folds into ONE precedence expression mirroring the
    recursion exactly:

        T(d) = id_override(d)   if present — explicit NULL makes the
                                whole branch yield NULL (the Rust
                                returns Some(None) without consulting
                                deeper hops or its own level map)
             | T(d+1)           if the deeper hop produced a type
             | level_map(d)

    Top level special case: a TOP explicit-NULL override untypes the
    zone outright, while a depth-≥1 explicit NULL falls through to the
    country defaults — the ``.map(Some)`` flattening of
    zone_typer.rs:151-156 loses the explicit-null marker.

    All rule tables are broadcast (242-country dimension); the depth
    loop adds one broadcast-join round per nesting level actually
    present in the data (libpostal: 1), never a driver-side recursion
    over zones.
    """
    lvl = F.coalesce(F.col("admin_level"), F.lit(0)).cast("string")

    # (1) id overrides — encode explicit NULL as sentinel so a later
    # coalesce can't confuse it with "no override"
    id_ov = rules["id_overrides"].select(
        F.col("country").alias("_ov_country"),
        F.col("osm_id").alias("_ov_osm_id"),
        F.coalesce(F.col("zone_type"), F.lit(EXPLICIT_NONE)).alias("_ov_type"),
    )
    z = zones.join(
        F.broadcast(id_ov),
        (F.col("country_code") == F.col("_ov_country")) & (F.col("osm_id") == F.col("_ov_osm_id")),
        "left",
    ).drop("_ov_country", "_ov_osm_id")

    # (2) contained_by: the bounded depth loop over the chain tables
    clv = rules["contained_levels"]
    cid = rules["contained_ids"]
    chains = clv.select("country", "depth", "chain").unionByName(
        cid.select("country", "depth", "chain")
    )
    # rule-dim scalar (local table): the loop bound
    max_d = chains.agg(F.max("depth")).first()[0] or 0

    parent_ids = zones.select(
        F.col("id").alias("parent"),
        F.col("osm_id").alias("_p_osm_id"),
        F.coalesce(F.col("admin_level"), F.lit(0)).alias("_p_level"),
    )
    child_cc = zones.select(
        F.col("id").alias("child"), F.col("country_code").alias("_c_cc")
    )
    prefix_df = None  # per-child chosen chain so far: (child, _ch1.._ch{d-1})
    drop_cols: list[str] = []
    for d in range(1, max_d + 1):
        # chains of length d that exist — via their own rule maps OR as
        # a prefix of a deeper chain (a container carrying only nested
        # rules must still be selectable, else its rules never apply)
        chains_d = (
            chains.filter(F.col("depth") >= d)
            .select(
                F.col("country").alias("_cb_country"),
                F.slice("chain", 1, d).alias("_cb_chain"),
            )
            .distinct()
        )
        cand = inclusions.join(parent_ids, "parent").join(child_cc, "child")
        if prefix_df is not None:
            cand = cand.join(prefix_df, "child")
        cond = (F.col("_cb_country") == F.col("_c_cc")) & (
            F.col("_p_osm_id") == F.element_at(F.col("_cb_chain"), d)
        )
        cand = cand.join(F.broadcast(chains_d), _on_chain(cond, "_cb_chain", d - 1))
        # deterministic "most specific container": max admin_level, then
        # min container id (module docstring; replaces the reference's
        # R-tree iteration order)
        chosen_d = cand.groupBy("child").agg(
            F.max_by(
                "_p_osm_id", F.struct(F.col("_p_level"), -F.col("parent"))
            ).alias(f"_ch{d}")
        )
        z = z.join(chosen_d.withColumnRenamed("child", "id"), "id", "left")
        prefix_df = (
            chosen_d if prefix_df is None else prefix_df.join(chosen_d, "child")
        )

        # the chosen chain's rule maps at this depth: its scoped id
        # overrides (checked FIRST by the recursion) and its level map
        idd = cid.filter(F.col("depth") == d).select(
            F.col("country").alias("_ic_country"),
            F.col("chain").alias("_ic_chain"),
            F.col("osm_id").alias("_ic_osm_id"),
            F.coalesce(F.col("zone_type"), F.lit(EXPLICIT_NONE)).alias(f"_id{d}_type"),
        )
        cond_i = (F.col("country_code") == F.col("_ic_country")) & (
            F.col("osm_id") == F.col("_ic_osm_id")
        )
        z = z.join(F.broadcast(idd), _on_chain(cond_i, "_ic_chain", d), "left").drop(
            "_ic_country", "_ic_chain", "_ic_osm_id"
        )
        lvd = clv.filter(F.col("depth") == d).select(
            F.col("country").alias("_lc_country"),
            F.col("chain").alias("_lc_chain"),
            F.col("admin_level").alias("_lc_level"),
            F.col("zone_type").alias(f"_lv{d}_type"),
        )
        cond_l = (F.col("country_code") == F.col("_lc_country")) & (
            lvl == F.col("_lc_level")
        )
        z = z.join(F.broadcast(lvd), _on_chain(cond_l, "_lc_chain", d), "left").drop(
            "_lc_country", "_lc_chain", "_lc_level"
        )
        drop_cols += [f"_ch{d}", f"_id{d}_type", f"_lv{d}_type"]

    # (3) country default admin_level map
    defaults = rules["levels"].select(
        F.col("country").alias("_df_country"),
        F.col("admin_level").alias("_df_level"),
        F.col("zone_type").alias("_df_type"),
    )
    z = z.join(
        F.broadcast(defaults),
        (F.col("country_code") == F.col("_df_country")) & (lvl == F.col("_df_level")),
        "left",
    ).drop("_df_country", "_df_level")

    # precedence fold, innermost depth outward (T(d) in the docstring).
    # Each V is referenced ONCE per level (the coalesce form), so the
    # expression tree is linear in max_d, not exponential.
    V = F.lit(None).cast("string")
    for d in range(max_d, 0, -1):
        idc = F.col(f"_id{d}_type")
        V = F.when(
            idc.isNotNull(),
            F.when(idc == EXPLICIT_NONE, F.lit(None)).otherwise(idc),
        ).otherwise(F.coalesce(V, F.col(f"_lv{d}_type")))
    typed = F.when(
        F.col("_ov_type").isNotNull(),
        F.when(F.col("_ov_type") == EXPLICIT_NONE, F.lit(None)).otherwise(
            F.col("_ov_type")
        ),
    ).otherwise(F.coalesce(V, F.col("_df_type")))

    return z.withColumn("zone_type", typed).drop(
        "_ov_type", "_df_type", *drop_cols
    )


def clean_untagged_zones(zones: DataFrame) -> DataFrame:
    """Drop zones with NULL zone_type (src/lib.rs:196-201)."""
    return zones.filter(F.col("zone_type").isNotNull())


def typing_stats(typed: DataFrame) -> dict:
    """The typing counters of src/lib.rs:149-181, computed AFTER typing
    and BEFORE clean_untagged_zones drops the failures:

    * ``zone_without_country``  — zones where no country could be found
      (country_code NULL → typing impossible, src/lib.rs:151-157);
    * ``unhandled_admin_level`` — per country: counts of zones whose
      admin_level has no rule (country known, zone_type NULL,
      src/lib.rs:166-180), keyed by level (0 = missing level).

    Two tiny aggs over the broadcast-scale zone dim (one pass each)."""
    no_country = typed.filter(F.col("country_code").isNull()).count()
    rows = (
        typed.filter(F.col("country_code").isNotNull() & F.col("zone_type").isNull())
        .groupBy("country_code", F.coalesce(F.col("admin_level"), F.lit(0)).alias("lvl"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    unhandled: dict[str, dict[int, int]] = {}
    for r in rows:
        unhandled.setdefault(r["country_code"], {})[int(r["lvl"])] = int(r["n"])
    return {
        "zone_without_country": int(no_country),
        "unhandled_admin_level": unhandled,
    }
