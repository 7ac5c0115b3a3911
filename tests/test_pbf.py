"""OSM PBF source tests: wire-codec round-trip, blob indexing,
distributed decode, and the full generate-from-.osm.pbf pipeline
reproducing the golden Luxembourg counts (the reference's own entry
surface, src/lib.rs:243-249 + tests/cosmogony_test.rs)."""

import os

import pytest
from pyspark.sql import functions as F

from cosmospark import pbf
from cosmospark.fixtures import LUX_RULES_LEVELS, lux_osm_world
from cosmospark.typer import make_rules


def _world_as_pbf(tmp_path, compress=True, nodes_per_block=200):
    w = lux_osm_world()
    nodes = [(nid, lon, lat, tags) for nid, lon, lat, tags in w["nodes"]]
    ways = [(wid, refs, {}) for wid, refs in w["ways"]]
    members_by_rel: dict[int, list] = {}
    for rid, wid, role in w["rel_members"]:
        members_by_rel.setdefault(rid, []).append(("way", wid, role))
    for rid, nid, role in w["rel_node_members"]:
        members_by_rel.setdefault(rid, []).append(("node", nid, role))
    relations = [(rid, tags, members_by_rel.get(rid, [])) for rid, tags in w["relations"]]
    path = str(tmp_path / "lux.osm.pbf")
    pbf.write_osm_pbf(
        path, nodes, ways, relations, compress=compress, nodes_per_block=nodes_per_block
    )
    return path, w


class TestWireCodec:
    def test_varint_zigzag_round_trip(self):
        for v in (0, 1, 127, 128, 300, 2**35, 2**63 - 1):
            buf = pbf._varint(v)
            got, i = pbf._read_varint(buf, 0)
            assert got == v and i == len(buf)
        for v in (0, -1, 1, -2**40, 2**40):
            assert pbf._zigzag(pbf._zz(v)) == v

    def test_blob_index_and_block_decode(self, tmp_path):
        path, w = _world_as_pbf(tmp_path, nodes_per_block=100)
        idx = pbf.blob_index(path)
        assert idx[0]["type"] == "OSMHeader"
        data_blobs = [b for b in idx if b["type"] == "OSMData"]
        assert len(data_blobs) >= 3  # several node blocks + ways + relations
        # decode every block and pool the entities
        nodes, ways, relations = [], [], []
        with open(path, "rb") as fh:
            for b in data_blobs:
                fh.seek(b["offset"])
                blk = pbf.decode_primitive_block(pbf._blob_payload(fh.read(b["size"])))
                nodes += blk["nodes"]
                ways += blk["ways"]
                relations += blk["relations"]
        assert len(nodes) == len(w["nodes"])
        assert len(ways) == len(w["ways"])
        assert len(relations) == len(w["relations"])
        # coordinates survive the granularity quantization to ≤1e-7 deg
        src = {nid: (lon, lat) for nid, lon, lat, _ in w["nodes"]}
        for nid, lon, lat, tags in nodes:
            slon, slat = src[nid]
            assert lon == pytest.approx(slon, abs=1e-6)
            assert lat == pytest.approx(slat, abs=1e-6)
        # tags survive, including unicode
        rel_tags = {rid: tags for rid, tags, _ in relations}
        assert rel_tags[2171347]["name"] == "Lëtzebuerg"
        assert rel_tags[2171347]["ISO3166-1:alpha2"] == "LU"
        # member roles + order survive
        mem = {rid: ms for rid, _, ms in relations}
        roles_4000 = [(t, role) for t, _, role in mem[4000] if t == "node"]
        assert ("node", "admin_centre") in roles_4000 and ("node", "label") in roles_4000

    def test_uncompressed_blobs(self, tmp_path):
        path, w = _world_as_pbf(tmp_path, compress=False)
        idx = pbf.blob_index(path)
        with open(path, "rb") as fh:
            b = [x for x in idx if x["type"] == "OSMData"][0]
            fh.seek(b["offset"])
            blk = pbf.decode_primitive_block(pbf._blob_payload(fh.read(b["size"])))
        assert blk["nodes"]


class TestDistributedScan:
    def test_tables_match_fixture(self, spark, tmp_path):
        path, w = _world_as_pbf(tmp_path)
        t = pbf.read_osm_pbf(spark, path)
        assert t["relations"].count() == len(w["relations"])
        assert t["ways"].count() == len(w["ways"])
        assert t["nodes"].count() == len(w["nodes"])
        assert t["rel_members"].count() == len(w["rel_members"])
        assert t["rel_node_members"].count() == len(w["rel_node_members"])
        # spot-check a way's ref order
        way0 = w["ways"][0]
        got = t["ways"].filter(F.col("way_id") == way0[0]).first()
        assert list(got["node_ids"]) == list(way0[1])

    def test_generate_from_pbf_golden_counts(self, spark, tmp_path):
        # the reference's CLI surface end-to-end: .osm.pbf → typed,
        # parented zone table with the golden Luxembourg structure
        path, _ = _world_as_pbf(tmp_path)
        rules = make_rules(spark, LUX_RULES_LEVELS)
        out = pbf.build_zones_from_pbf(spark, path, rules).cache()
        assert out.count() == 198
        levels = {
            r["admin_level"]: r["n"]
            for r in out.groupBy("admin_level").agg(F.count("*").alias("n")).collect()
        }
        assert levels == {2: 1, 6: 13, 8: 105, 9: 79}
        # the Gatineau label-node center survives the PBF round trip
        g = out.filter(F.col("osm_id") == "relation:4001").first()
        assert g["center"]["lat"] == pytest.approx(44.0 + 1.5, abs=1e-6)


class TestVectorizedVarints:
    def test_numpy_kernel_matches_scalar_oracle(self):
        # the vectorized packed-varint decoder vs the scalar reference,
        # across 1..10-byte varints, zigzag and plain
        import random

        import numpy as np

        rng = random.Random(7)
        vals = [0, 1, 127, 128, 300, 2**21 - 1, 2**35, 2**63 - 1]
        vals += [rng.randrange(0, 2**63) for _ in range(500)]
        buf = b"".join(pbf._varint(v) for v in vals)
        got = pbf._packed_varints_np(buf)
        assert got.dtype == np.int64
        assert got.tolist() == pbf._packed_varints(buf)

        svals = [0, -1, 1, -2**40, 2**40, -2**62, 2**62]
        svals += [rng.randrange(-2**62, 2**62) for _ in range(500)]
        zbuf = b"".join(pbf._varint(pbf._zz(v)) for v in svals)
        assert pbf._packed_varints_np(zbuf, zigzag=True).tolist() == svals
        assert pbf._packed_varints_np(zbuf, zigzag=True).tolist() == pbf._packed_varints(
            zbuf, zigzag=True
        )

    def test_empty_buffer(self):
        assert pbf._packed_varints_np(b"").tolist() == []

    def test_kinds_skip(self, tmp_path):
        # decode_block_columnar(kinds=...) skips unrequested groups
        path, w = _world_as_pbf(tmp_path, nodes_per_block=10**9)
        blobs = [b for b in pbf.blob_index(path) if b["type"] == "OSMData"]
        with open(path, "rb") as fh:
            for b in blobs:
                fh.seek(b["offset"])
                payload = pbf._blob_payload(fh.read(b["size"]))
                only_ways = pbf.decode_block_columnar(payload, kinds=frozenset(["ways"]))
                assert len(only_ways["nodes"]["tags"]) == 0
                assert len(only_ways["relations"]["relation_id"]) == 0
                full = pbf.decode_block_columnar(payload)
                assert len(only_ways["ways"]["way_id"]) == len(full["ways"]["way_id"])


class TestSinglePassScan:
    def test_union_scan_counts(self, spark, tmp_path):
        path, w = _world_as_pbf(tmp_path)
        u = pbf.scan_osm_pbf(spark, path)
        by_kind = {r["kind"]: r["n"] for r in u.groupBy("kind").agg(F.count("*").alias("n")).collect()}
        assert by_kind[0] == len(w["nodes"])
        assert by_kind[1] == len(w["ways"])
        assert by_kind[2] == len(w["relations"])

    def test_member_seq_preserved(self, spark, tmp_path):
        # rel_node_members.seq is the position among ALL members (the
        # ring-assembly contract), not among node members only
        path, w = _world_as_pbf(tmp_path)
        t = pbf.read_osm_pbf(spark, path)
        got = {
            (r["relation_id"], r["node_id"]): r["seq"]
            for r in t["rel_node_members"].collect()
        }
        members_by_rel: dict[int, list] = {}
        for rid, wid, role in w["rel_members"]:
            members_by_rel.setdefault(rid, []).append(("way", wid))
        for rid, nid, role in w["rel_node_members"]:
            members_by_rel.setdefault(rid, []).append(("node", nid))
        for (rid, nid), seq in got.items():
            assert members_by_rel[rid][seq] == ("node", nid)

    def test_blob_table_is_local_scan(self, spark, tmp_path):
        # the blob list is a JVM-local relation: only the decode stage
        # runs Python, the source scan does not
        path, _ = _world_as_pbf(tmp_path)
        plan = pbf.scan_osm_pbf(spark, path)._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    def test_snapshot_dir_reads_back(self, spark, tmp_path):
        path, w = _world_as_pbf(tmp_path)
        snap = str(tmp_path / "osm_union")
        t = pbf.read_osm_pbf(spark, path, snapshot_dir=snap)
        assert t["nodes"].count() == len(w["nodes"])
        assert os.path.isdir(snap)
