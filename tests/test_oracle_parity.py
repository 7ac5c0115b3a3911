"""Emulates the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count + column names + exact values (order-insensitive).

Runs at sf0.001 for speed by default; ``pytest -m slow`` additionally
runs the FULL registry at sf0.01 — the driver's own scale — so every
query has a current-round oracle check even when the driver subsamples
(VERDICT r3 #9). Deselected from plain ``pytest`` runs via pytest.ini.
"""

import duckdb
import pandas as pd
import pytest

from cosmospark import queries as Q

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


ORACLES = Q.oracle_sql(SF_DIR)
NAMES = sorted(ORACLES)


import functools


@functools.lru_cache(maxsize=4)
def _oracles_for(sf_dir):
    # building the registry materializes pure-Python XXH64 side tables
    # (simhash/minhash/ann vocab hashing) — cache it per sf instead of
    # paying that setup once per parameterized test
    return Q.oracle_sql(sf_dir)


def _check_parity(spark, con, name, sf_dir):
    spark_df = Q.queries()[name](spark, sf_dir).toPandas()
    duck_df = con.sql(_oracles_for(sf_dir)[name]).df()
    assert sorted(spark_df.columns) == sorted(duck_df.columns), "column names differ"
    assert len(spark_df) == len(duck_df), "row counts differ"
    a, b = normalize(spark_df), normalize(duck_df)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


@pytest.mark.parametrize("name", NAMES)
def test_parity(spark, con, name):
    _check_parity(spark, con, name, SF_DIR)


SF_DIR_SLOW = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con_slow():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_SLOW}/{t}.parquet'")
    return c


@pytest.mark.slow
@pytest.mark.parametrize("name", NAMES)
def test_parity_sf001(spark, con_slow, name):
    """Driver-gate scale (sf0.01): run with `pytest -m slow`."""
    _check_parity(spark, con_slow, name, SF_DIR_SLOW)


# today's registry, in the external correctness gate's sample order
REGISTRY_NAMES = [
    "geo_s2_encode", "geo_s2_rollup", "stratified_sample", "term_stats_topk",
    "geo_s2_range_scan", "geo_s2_bbox_scan", "decontaminate", "sessionize",
    "event_quantiles", "geo_radius_join", "phash_zone_neardup", "geo_adaptive_cells",
    "dedup_keep_best", "dedup_clusters", "dataset_split", "ann_ivf_written",
    "semdedup", "ngram_jaccard", "gopher_repetition", "simhash", "simhash_pairs",
    "minhash_lsh_pairs", "geo_tile_encode", "geo_tile_pyramid", "substring_dedup",
    "doc_chunks", "phash_clusters", "image_zone_rollup", "ann_ivf_pq",
    "geo_tile_lut_incremental", "phash_neardup", "audio_features", "video_frames",
    "ann_ivf", "embedding_neardup", "geo_knn_fallback", "intl_names",
    "pricing_summary", "stats_counts", "merge_offsets", "country_maxby",
    "parent_minby", "topk_per_group", "dense_ids", "hierarchy_label", "group_collect",
    "json_extract", "zip_format", "geo_pip_assign", "geo_zone_counts",
    "geo_cell_encode", "geo_multires_rollup", "geo_parent_hierarchy", "geo_zone_type",
    "geo_full_labels", "geo_osm_extract", "geo_voronoi_cells", "geo_rasterize",
    "geo_raster_assign", "geo_raster_assign_exact", "geo_raster_tile_assign",
    "geo_raster_tile_assign_exact", "geo_lut_incremental", "ann_pq", "ann_pq_rerank",
    "events_window", "lang_id", "ann_lsh", "ann_lsh_multi", "dedup_exact",
    "token_count", "bpe_tokens", "quality_score", "doc_fingerprint",
    "doc_rolling_hash", "ann_brute_force", "embedding_stats", "semi_anti_join",
    "top_revenue", "set_intersect_except", "rollup_counts", "running_total",
]


def test_all_queries_have_entries():
    """The names keep the correctness gate's sample order, and every
    query has exactly one oracle."""
    qs = Q.queries()
    assert list(qs) == REGISTRY_NAMES
    assert set(ORACLES) == set(qs)


def test_registry_window_math():
    """ADVICE r5 (medium): the rotation policy's window math must not
    silently drift — the documented total is pinned to the real count,
    and the round's changed/new queries must sit INSIDE the driver's
    front-first sample window."""
    qs = Q.queries()
    assert len(qs) == Q.REGISTRY_TOTAL, (
        f"registry has {len(qs)} entries but REGISTRY_TOTAL={Q.REGISTRY_TOTAL}; "
        "update the constant AND rotate changed queries into the window"
    )
    window = list(qs)[: Q.DRIVER_SAMPLE_CAP]
    # r7 changed set (optimization round — implementations changed,
    # results identical) — update each round alongside the rotation
    for name in [
        "ngram_jaccard",
        "dedup_clusters",
        "dataset_split",
        "dedup_keep_best",
        "minhash_lsh_pairs",
        "substring_dedup",
        "gopher_repetition",
        "decontaminate",
        "term_stats_topk",
        "semdedup",
        "geo_s2_bbox_scan",
    ]:
        assert name in window, f"r7-changed query {name} fell outside the sample window"


# one query per registry fixture site: the lux typed zones, four-squares,
# the typer zones + inclusions, lux_world, the five OSM tables, the voronoi
# zones + places, the four phash fixtures, and the audio and video inputs
_FIXTURE_QUERIES = [
    "geo_pip_assign", "geo_parent_hierarchy", "geo_zone_type", "geo_full_labels",
    "geo_osm_extract", "geo_voronoi_cells", "phash_neardup", "phash_clusters",
    "image_zone_rollup", "phash_zone_neardup", "audio_features", "video_frames",
]


@pytest.mark.parametrize("name", _FIXTURE_QUERIES)
def test_fixture_tables_are_local_relations(spark, monkeypatch, name):
    """Every fixture table is built from Arrow (a LocalTableScan), never
    from a Python list or a pandas frame, whose scans start a Python
    worker per partition."""
    import pyarrow as pa
    from pyspark.sql import SparkSession

    create = SparkSession.createDataFrame
    seen = []

    def spy(self, data, *args, **kwargs):
        if not isinstance(data, pa.Table):
            seen.append(type(data).__name__)
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    Q.queries()[name](spark, SF_DIR)
    assert seen == [], f"{name} built a fixture table from {seen}"


def test_semdedup_cluster_skew(spark):
    """VERDICT r5 #6: semdedup's n²/K bound is only real if the Lloyd
    centroids yield BOUNDED cluster sizes. Pin K scaling and the
    realized max-cluster fraction (≤ 3× uniform) on the driver table."""
    cents = Q._semdedup_centroids(SF_DIR)
    k = len(cents)
    assert 8 <= k <= Q.SEMDEDUP_K_MAX
    counts = (
        Q.q_semdedup(spark, SF_DIR)
        .groupBy("list_id")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in counts)
    mx = max(r["count"] for r in counts)
    assert len(counts) == k, "every Lloyd cluster must be non-empty"
    assert mx / total <= 3.0 / k, f"max cluster {mx}/{total} breaches 3x uniform at K={k}"


def test_text_fingerprints_on_hostile_documents(spark, tmp_path):
    """NULL text, empty text, a one-token document and an exact duplicate:
    q_doc_fingerprint and q_simhash must still match their oracles row
    for row (the sf fixtures hold no NULL or empty text)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [None, "", "spark", "the fast key", "the fast key"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": ["en"] * len(texts),
                "source": ["src0"] * len(texts),
                "n_chars": pa.array(
                    [len(t) if t is not None else None for t in texts], pa.int64()
                ),
            }
        ),
        tmp_path / "documents.parquet",
    )
    c = duckdb.connect()
    c.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    for name, q, oracle in [
        ("doc_fingerprint", Q.q_doc_fingerprint, Q.SQL_FINGERPRINT),
        ("simhash", Q.q_simhash, Q.sql_simhash(str(tmp_path))),
    ]:
        got = normalize(q(spark, str(tmp_path)).toPandas())
        want = normalize(c.sql(oracle).df())
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=True, obj=name
        )


def test_oracle_side_tables_keyed_by_data_dir(tmp_path):
    """Two data dirs with one basename get separate oracle side files,
    and each file holds its own table's rows."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = {}
    for side, ids in (("a", [1, 2, 3]), ("b", [7, 8])):
        d = tmp_path / side / "sfx"
        d.mkdir(parents=True)
        texts = [f"doc {i} words here and there" for i in ids]
        pq.write_table(pa.table({"doc_id": ids, "text": texts}), str(d / "documents.parquet"))
        docs[side] = (str(d), ids)
    paths = {}
    for side, (d, ids) in docs.items():
        paths[side] = re.search(r"FROM '([^']+)'", Q.sql_minhash_lsh_pairs(d)).group(1)
    assert paths["a"] != paths["b"]
    for side, (d, ids) in docs.items():
        assert sorted(set(pq.read_table(paths[side]).column("doc_id").to_pylist())) == ids
