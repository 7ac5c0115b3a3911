"""Golden test for zone typing: the 8-zone libpostal scenario from the
reference (src/zone_typer.rs:422-501) plus the country finder."""

import pytest
from pyspark.sql import functions as F

from cosmospark.typer import (
    DEFAULT_CONTAINED_DEPTH,
    assign_country,
    clean_untagged_zones,
    make_rules,
    parse_libpostal_rules,
    type_zones,
)

# the complex_rules() yaml (zone_typer.rs:397-417) as rule tables
LEVELS = [
    ("FR", "2", "country"),
    ("FR", "4", "state"),
    ("FR", "5", "state_district"),
    ("FR", "6", "state_district"),
    ("FR", "8", "city"),
    ("FR", "9", "suburb"),
]
ID_OVERRIDES = [
    ("FR", "relation:z1", "city_district"),
    ("FR", "relation:z4", None),  # explicit removal
    ("FR", "relation:z5", "city_district"),
]
CHAIN_LEVELS = [
    ("FR", 1, ["relation:big_zone"], "9", "suburb"),
]

ZONES = [
    # (id, osm_id, admin_level)
    (0, "relation:z1", None),
    (1, "relation:z2", 5),
    (2, "relation:z3", 9),
    (3, "relation:z4", 9),
    (4, "relation:z5", 7),
    (5, "relation:z6", 7),
    (6, "relation:big_zone", 4),
    (7, "relation:very_big_zone", 2),
]

INCLUSIONS = [
    # included_by edges (zone_typer.rs:455-463)
    (0, 6),  # z1 ⊂ big_zone
    (1, 6),  # z2 ⊂ big_zone
    (2, 7),  # z3 ⊂ very_big_zone
    (2, 6),  # z3 ⊂ big_zone
    (3, 6),  # z4 ⊂ big_zone
]

EXPECTED = {
    "relation:z1": "city_district",  # id override beats missing level
    "relation:z2": "state_district",  # contained_by miss → default 5
    "relation:z3": "suburb",  # big_zone sub-rule for level 9
    "relation:z4": None,  # explicit-null id override wins over contained_by
    "relation:z5": "city_district",  # simple id override
    "relation:z6": None,  # level 7 unmapped
    "relation:big_zone": "state",
    "relation:very_big_zone": "country",
}


def _golden_typing(spark, rules) -> dict:
    zones = spark.createDataFrame(
        [(i, o, l, "FR") for i, o, l in ZONES],
        "id long, osm_id string, admin_level int, country_code string",
    )
    inclusions = spark.createDataFrame(INCLUSIONS, "child long, parent long")
    out = type_zones(zones, inclusions, rules)
    return {r["osm_id"]: r["zone_type"] for r in out.collect()}


@pytest.fixture(scope="module")
def typed(spark):
    return _golden_typing(spark, make_rules(spark, LEVELS, ID_OVERRIDES, CHAIN_LEVELS))


class TestTyper:
    def test_golden_scenario(self, typed):
        assert typed == EXPECTED

    def test_clean_untagged(self, spark):
        z = spark.createDataFrame(
            [(0, "city"), (1, None)], "id long, zone_type string"
        )
        assert clean_untagged_zones(z).count() == 1


class TestRuleTables:
    """``make_rules`` builds exactly four JVM-local tables: a scan of a
    rule table plans as ``LocalTableScan`` and starts no Python worker,
    whether the table is empty or not."""

    CHAIN_IDS = [("FR", 1, ["relation:big_zone"], "relation:z2", None)]

    @pytest.mark.parametrize("rule_set", ["lux", "empty", "full"])
    def test_tables_plan_as_local_scans(self, spark, rule_set):
        from cosmospark.fixtures import LUX_RULES_LEVELS

        args = {
            "lux": (LUX_RULES_LEVELS,),
            "empty": ([],),
            "full": (LEVELS, ID_OVERRIDES, CHAIN_LEVELS, self.CHAIN_IDS),
        }[rule_set]
        rules = make_rules(spark, *args)
        assert sorted(rules) == ["contained_ids", "contained_levels", "id_overrides", "levels"]
        for name, table in rules.items():
            plan = table._jdf.queryExecution().executedPlan().toString()
            assert plan.startswith("LocalTableScan"), (name, plan)
        if rule_set == "full":
            got = {name: [tuple(r) for r in t.collect()] for name, t in rules.items()}
            assert got == {
                "levels": LEVELS,
                "id_overrides": ID_OVERRIDES,
                "contained_levels": CHAIN_LEVELS,
                "contained_ids": self.CHAIN_IDS,
            }

    def test_cli_json_contained_by_row_types_like_chain_row(self, spark, tmp_path, typed):
        # a `generate --rules spec.json` contained_by row is a depth-1 chain
        import json

        from cosmospark.__main__ import _load_rules

        spec = tmp_path / "rules.json"
        spec.write_text(
            json.dumps(
                {
                    "levels": LEVELS,
                    "id_overrides": ID_OVERRIDES,
                    "contained_by": [["FR", "relation:big_zone", "9", "suburb"]],
                }
            )
        )
        got = _golden_typing(spark, _load_rules(spark, str(spec)))
        assert got["relation:z3"] == "suburb"  # inside big_zone, level 9
        assert got == typed


class TestCountryFinder:
    def test_max_level_country_wins(self, spark):
        # zone 2 is included in both a country (level 2, FR) and a
        # sub-country ISO-tagged zone (level 4, XX with no rule → ignored),
        # plus an overseas country (level 3, GB) → GB wins on max level
        zones = spark.createDataFrame(
            [
                (0, "relation:fr", 2, {"ISO3166-1:alpha2": "fr"}),
                (1, "relation:gb", 3, {"ISO3166-1:alpha2": "GB"}),
                (2, "relation:child", 8, {}),
                (3, "relation:norule", 4, {"ISO3166-1:alpha2": "XX"}),
            ],
            "id long, osm_id string, admin_level int, tags map<string,string>",
        )
        inclusions = spark.createDataFrame(
            [(2, 0), (2, 1), (2, 3)], "child long, parent long"
        )
        rules = make_rules(spark, [("FR", "2", "country"), ("GB", "2", "country")])
        out = assign_country(zones, inclusions, rules)
        got = {r["osm_id"]: r["country_code"] for r in out.collect()}
        assert got["relation:child"] == "GB"
        # a country zone finds itself (self edge)
        assert got["relation:fr"] == "FR"
        assert got["relation:gb"] == "GB"
        # the ruleless ISO zone gets no country (not even itself)
        assert got["relation:norule"] is None


class TestLibpostalYaml:
    """The reference's own YAML unit-test documents
    (src/zone_typer.rs:247-331) through our from-scratch parser."""

    BASIC = '''---
    admin_level:
        "3": "country"
        "7": "state"
        "8": "city"
        "5": "city_district"
'''

    KO = '''---
    admin_level:
        "3": "country"
        "7": "state"
        "8": "city"

        overrides:
            contained_by:
                relation:
                    "5829526":
                        admin_level:
                            "10": "suburb"
'''

    CONTAINED = '''---
    admin_level:
        "2": "country"
        "4": "state"
        "5": "state_district"
        "6": "state_district"
        "8": "city"
        "9": "suburb"

    overrides:
        contained_by:
            relation:
                # Luxembourg City
                "407489":
                    admin_level:
                        "9": "city_district"
'''

    ID_OVERRIDES = '''---
    admin_level:
        "2": "country"
        "8": "city"

    overrides:
        id:
            relation:
                "1803923": "city_district"
                "42": null # it is a way in libpostal to remove a zone from being typed
'''

    def test_basic(self):
        parsed = parse_libpostal_rules("lu", self.BASIC)
        assert ("LU", "3", "country") in parsed["levels"]
        assert ("LU", "5", "city_district") in parsed["levels"]
        assert parsed["id_overrides"] == [] and parsed["chain_levels"] == []

    def test_invalid_indent_rejected(self):
        # zone_typer.rs:277-293: 'overrides' mis-indented INSIDE the
        # admin_level map → its value is a nested map where a zone-type
        # string is required → error (file skipped by the folder loader)
        with pytest.raises(ValueError):
            parse_libpostal_rules("xx", self.KO)

    def test_contained_by(self):
        parsed = parse_libpostal_rules("lu", self.CONTAINED)
        assert ("LU", "2", "country") in parsed["levels"]
        assert ("LU", 1, ["relation:407489"], "9", "city_district") in parsed["chain_levels"]

    def test_id_overrides_with_explicit_null(self):
        ids = parse_libpostal_rules("lu", self.ID_OVERRIDES)["id_overrides"]
        assert ("LU", "relation:1803923", "city_district") in ids
        assert ("LU", "relation:42", None) in ids

    def test_folder_loader_end_to_end(self, spark, tmp_path):
        # <cc>.yaml files → rule tables → type_zones applies them; a
        # malformed file is skipped with a warning (zone_typer.rs:165-173)
        import warnings

        from cosmospark.typer import load_libpostal_rules, type_zones

        (tmp_path / "lu.yaml").write_text(self.ID_OVERRIDES)
        (tmp_path / "fr.yaml").write_text(self.BASIC.replace('"3"', '"2"'))
        (tmp_path / "bad.yaml").write_text("not yaml at all\n[weird")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            rules = load_libpostal_rules(spark, str(tmp_path))
        assert any("bad.yaml" in str(x.message) for x in w)
        got = {
            (r["country"], r["admin_level"]): r["zone_type"]
            for r in rules["levels"].collect()
        }
        assert got[("LU", "2")] == "country" and got[("FR", "2")] == "country"

        zones = spark.createDataFrame(
            [
                (0, "relation:1", 2, {"ISO3166-1:alpha2": "LU"}, "Lux"),
                (1, "relation:1803923", 8, {}, "Overridden"),
                (2, "relation:42", 8, {}, "Explicitly untyped"),
                (3, "relation:9", 8, {}, "Default city"),
            ],
            "id long, osm_id string, admin_level int, tags map<string,string>, name string",
        ).withColumn("country_code", F.lit("LU"))
        inclusions = spark.createDataFrame([], "child long, parent long")
        typed = {
            r["osm_id"]: r["zone_type"]
            for r in type_zones(zones, inclusions, rules).collect()
        }
        assert typed["relation:1803923"] == "city_district"  # id override
        assert typed["relation:42"] is None  # explicit null wins over default
        assert typed["relation:9"] == "city"  # country default map


class TestContainedByTwoHops:
    """The RECURSIVE contained_by evaluation (zone_typer.rs:143-157):
    rules nested under a container's own overrides.contained_by outrank
    that container's admin_level map, and a third nesting level is a
    parse error."""

    TWO_LEVEL_YAML = """
---
admin_level:
  "2": country
  "8": city
overrides:
  contained_by:
    relation:
      "100":
        admin_level:
          "8": state_district
        overrides:
          contained_by:
            relation:
              "200":
                admin_level:
                  "8": suburb
"""

    def test_parse_two_levels(self):
        chain_levels = parse_libpostal_rules("fr", self.TWO_LEVEL_YAML)["chain_levels"]
        assert ("FR", 1, ["relation:100"], "8", "state_district") in chain_levels
        assert [r for r in chain_levels if r[1] == 2] == [
            ("FR", 2, ["relation:100", "relation:200"], "8", "suburb")
        ]

    def test_parse_three_levels_rejected(self):
        bad = self.TWO_LEVEL_YAML + (
            "                overrides:\n"
            "                  contained_by:\n"
            "                    relation:\n"
            '                      "300":\n'
            "                        admin_level:\n"
            '                          "8": city_district\n'
        )
        with pytest.raises(ValueError, match="deeper than 2"):
            parse_libpostal_rules("fr", bad)

    def test_second_hop_typing(self, spark):
        rules = make_rules(spark, **parse_libpostal_rules("fr", self.TWO_LEVEL_YAML))
        # zone 1: inside outer 100 AND inner 200 → suburb (inner hop)
        # zone 2: inside outer 100 only → state_district (outer sub-map)
        # zone 3: inside neither → city (country default)
        zones = spark.createDataFrame(
            [
                (1, "relation:1", 8, "FR"),
                (2, "relation:2", 8, "FR"),
                (3, "relation:3", 8, "FR"),
                (10, "relation:100", 4, "FR"),
                (20, "relation:200", 6, "FR"),
            ],
            "id long, osm_id string, admin_level int, country_code string",
        )
        inclusions = spark.createDataFrame(
            [(1, 10), (1, 20), (2, 10), (20, 10)], "child long, parent long"
        )
        out = type_zones(zones, inclusions, rules)
        got = {r["osm_id"]: r["zone_type"] for r in out.collect()}
        assert got["relation:1"] == "suburb"
        assert got["relation:2"] == "state_district"
        assert got["relation:3"] == "city"


class TestContainedByIdOverrides:
    """The chosen container's OWN overrides.id map (zone_typer.rs:
    196-204): checked by the recursion before the nested contained_by
    and the container's level map. An explicit NULL here does NOT
    untype: the reference flattens the sub-rules' result with
    `.map(Some)` (zone_typer.rs:151-156), so it skips the container's
    maps and falls through to the country defaults."""

    YAML = """
admin_level:
  "8": city
overrides:
  contained_by:
    relation:
      "100":
        admin_level:
          "8": state_district
        overrides:
          id:
            relation:
              "1": suburb
              "2": null
"""

    def test_sub_id_override_precedence(self, spark):
        parsed = parse_libpostal_rules("fr", self.YAML)
        assert ("FR", 1, ["relation:100"], "relation:1", "suburb") in parsed["chain_ids"]
        assert ("FR", 1, ["relation:100"], "relation:2", None) in parsed["chain_ids"]
        rules = make_rules(spark, **parsed)
        zones = spark.createDataFrame(
            [
                (1, "relation:1", 8, "FR"),   # sub id override → suburb
                (2, "relation:2", 8, "FR"),   # explicit NULL → skips the
                #   container's maps, falls to the country default (city)
                (3, "relation:3", 8, "FR"),   # falls to the container map
                (10, "relation:100", 4, "FR"),
            ],
            "id long, osm_id string, admin_level int, country_code string",
        )
        inclusions = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10)], "child long, parent long"
        )
        got = {
            r["osm_id"]: r["zone_type"]
            for r in type_zones(zones, inclusions, rules).collect()
        }
        assert got["relation:1"] == "suburb"
        assert got["relation:2"] == "city"
        assert got["relation:3"] == "state_district"


class TestContainerSelectionCompleteness:
    """A container that carries ONLY id overrides (or only a nested
    contained_by) — no admin_level sub-map — must still be selectable
    as the chosen container, else its rules silently never apply."""

    ONLY_IDS = """
admin_level:
  "8": city
overrides:
  contained_by:
    relation:
      "100":
        overrides:
          id:
            relation:
              "1": suburb
"""

    def test_id_only_container_applies(self, spark):
        rules = make_rules(spark, **parse_libpostal_rules("fr", self.ONLY_IDS))
        zones = spark.createDataFrame(
            [(1, "relation:1", 8, "FR"), (10, "relation:100", 4, "FR")],
            "id long, osm_id string, admin_level int, country_code string",
        )
        inclusions = spark.createDataFrame([(1, 10)], "child long, parent long")
        got = {
            r["osm_id"]: r["zone_type"]
            for r in type_zones(zones, inclusions, rules).collect()
        }
        assert got["relation:1"] == "suburb"

    INNER_IDS = """
admin_level:
  "8": city
overrides:
  contained_by:
    relation:
      "100":
        admin_level:
          "8": state_district
        overrides:
          contained_by:
            relation:
              "200":
                admin_level:
                  "8": city_district
                overrides:
                  id:
                    relation:
                      "1": suburb
                      "2": null
"""

    def test_inner_container_id_overrides(self, spark):
        """Depth-2 id overrides: the inner container's own id map wins
        over its level map; inner explicit NULL falls past the inner
        rules to the OUTER container's level map (Option flattening)."""
        parsed = parse_libpostal_rules("fr", self.INNER_IDS)
        chain2 = ["relation:100", "relation:200"]
        assert ("FR", 2, chain2, "relation:1", "suburb") in parsed["chain_ids"]
        rules = make_rules(spark, **parsed)
        zones = spark.createDataFrame(
            [
                (1, "relation:1", 8, "FR"),  # inner id override → suburb
                (2, "relation:2", 8, "FR"),  # inner explicit NULL → outer map
                (3, "relation:3", 8, "FR"),  # inner level map → city_district
                (4, "relation:4", 8, "FR"),  # only outer → state_district
                (10, "relation:100", 4, "FR"),
                (20, "relation:200", 6, "FR"),
            ],
            "id long, osm_id string, admin_level int, country_code string",
        )
        inclusions = spark.createDataFrame(
            [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 20), (4, 10), (20, 10)],
            "child long, parent long",
        )
        got = {
            r["osm_id"]: r["zone_type"]
            for r in type_zones(zones, inclusions, rules).collect()
        }
        assert got["relation:1"] == "suburb"
        assert got["relation:2"] == "state_district"
        assert got["relation:3"] == "city_district"
        assert got["relation:4"] == "state_district"


class TestContainedByDepthK:
    """r5 (VERDICT r4 #3): the contained_by recursion generalized to a
    bounded depth-k loop. A 3-level nest parses with max_depth=3 and
    types through all three hops with the reference's precedence —
    including the `.map(Some)` flattening at every depth."""

    THREE_LEVEL_YAML = """
---
admin_level:
  "2": country
  "9": city
overrides:
  contained_by:
    relation:
      "100":
        admin_level:
          "9": suburb
        overrides:
          contained_by:
            relation:
              "200":
                admin_level:
                  "9": city_district
                overrides:
                  contained_by:
                    relation:
                      "300":
                        admin_level:
                          "9": initial_township
                        overrides:
                          id:
                            relation:
                              "401": state_district
                              "402": null
"""

    def test_default_cap_rejects_depth3(self):
        with pytest.raises(ValueError, match="deeper than 2"):
            parse_libpostal_rules("fr", self.THREE_LEVEL_YAML)
        with pytest.raises(ValueError, match="deeper than 2"):
            parse_libpostal_rules("fr", self.THREE_LEVEL_YAML, max_depth=DEFAULT_CONTAINED_DEPTH)

    def test_parse_depth3_chains(self):
        parsed = parse_libpostal_rules("fr", self.THREE_LEVEL_YAML, max_depth=3)
        chain3 = ["relation:100", "relation:200", "relation:300"]
        assert ("FR", 3, chain3, "9", "initial_township") in parsed["chain_levels"]
        assert ("FR", 3, chain3, "relation:401", "state_district") in parsed["chain_ids"]
        assert ("FR", 3, chain3, "relation:402", None) in parsed["chain_ids"]
        assert ("FR", 1, ["relation:100"], "9", "suburb") in parsed["chain_levels"]

    def test_depth3_typing(self, spark):
        parsed = parse_libpostal_rules("fr", self.THREE_LEVEL_YAML, max_depth=3)
        rules = make_rules(spark, **parsed)
        # container zones: 100 (lvl 4) ⊃ 200 (lvl 6) ⊃ 300 (lvl 8)
        zones = spark.createDataFrame(
            [
                (1, "relation:1", 9, "FR"),    # in 300∧200∧100 → depth-3 level map
                (2, "relation:401", 9, "FR"),  # in full chain → depth-3 id override
                (3, "relation:402", 9, "FR"),  # explicit null at depth 3 → falls
                                               # to depth-2 level map (flattening)
                (4, "relation:4", 9, "FR"),    # in 200∧100 only → depth-2 map
                (5, "relation:5", 9, "FR"),    # in 100 only → depth-1 map
                (6, "relation:6", 9, "FR"),    # in none → country default
                (10, "relation:100", 4, "FR"),
                (20, "relation:200", 6, "FR"),
                (30, "relation:300", 8, "FR"),
            ],
            "id long, osm_id string, admin_level int, country_code string",
        )
        incl = [(20, 10), (30, 20), (30, 10)]
        for zid in (1, 2, 3):
            incl += [(zid, 10), (zid, 20), (zid, 30)]
        incl += [(4, 10), (4, 20), (5, 10)]
        inclusions = spark.createDataFrame(incl, "child long, parent long")
        got = {
            r["osm_id"]: r["zone_type"]
            for r in type_zones(zones, inclusions, rules).collect()
        }
        assert got["relation:1"] == "initial_township"
        assert got["relation:401"] == "state_district"
        assert got["relation:402"] == "city_district"
        assert got["relation:4"] == "city_district"
        assert got["relation:5"] == "suburb"
        assert got["relation:6"] == "city"
