"""Physical-plan audits: the properties PLANS.md claims, asserted.

* no accidental cartesian products / nested-loop joins anywhere in the
  driver-contract query registry (the round-1 phash query would fail
  this sweep);
* parquet predicate pushdown + column pruning on the scan-heavy query;
* broadcast-hash joins for dimension joins;
* the flagship fact job plans with ZERO exchanges.
"""

import pytest

from cosmospark import queries as Q

SF_DIR = "/root/testdata/sf0.001"

# joins that materially regress at scale if they appear uninvited
_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# queries whose plans are inspected for forbidden join strategies —
# everything in the registry
_SWEEP = sorted(Q.queries())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", _SWEEP)
def test_no_cartesian_anywhere(spark, name):
    df = Q.queries()[name](spark, SF_DIR)
    plan = _plan(df)
    for bad in _FORBIDDEN:
        assert bad not in plan, f"{name} plans a {bad}"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = Q.q_pricing_summary(spark, SF_DIR)
    # optimized plan (pre-AQE) shows the parquet scan attributes
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    # column pruning: the scan schema must NOT include unused columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_joins_broadcast(spark):
    plan = _plan(Q.q_country_maxby(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_fact_job_zero_exchanges(spark):
    from pyspark.sql import functions as F

    from cosmospark.assign import encode_and_assign
    from cosmospark.queries import _lux_typed_zones

    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        F.expr("cast(2.0 + (id * 7919 % 1300) / 100.0 as double)").alias("lon"),
        F.expr("cast(44.0 + (id * 104729 % 1000) / 100.0 as double)").alias("lat"),
    )
    plan = _plan(encode_and_assign(pts, _lux_typed_zones(spark)))
    assert "Exchange" not in plan  # scan → project → one Arrow pass
    assert "MapInPandas" in plan


def test_rollup_reduces_aggregates_not_fact(spark):
    # the multires rollup must aggregate the fact table ONCE (at the
    # finest res); coarser levels reduce the aggregate — so the plan
    # contains exactly one scan-side aggregation lineage per union leg
    # over InMemory/cached data, never a second fact scan
    from pyspark.sql import functions as F

    from cosmospark.assign import encode_points, rollup_cells
    from cosmospark.queries import _lux_typed_zones, _pts_df
    from cosmospark.assign import assign_zones

    assigned = assign_zones(encode_points(_pts_df(spark)), _lux_typed_zones(spark))
    ztype = _lux_typed_zones(spark).select(
        F.col("id").alias("zone_id"), F.col("zone_type")
    )
    roll = rollup_cells(assigned.join(F.broadcast(ztype), "zone_id"))
    plan = _plan(roll)
    # the MATERIALIZED finest-level aggregate (localCheckpoint → an
    # ExistingRDD scan) feeds every union leg; the fact table (a Range
    # scan under the encode) appears in ZERO of them — coarser levels
    # reduce the aggregate, never rescan facts
    assert plan.count("Scan ExistingRDD") >= 2  # base leg + ≥1 rollup leg
    assert "Scan parquet" not in plan and "Range (" not in plan


def test_ngram_token_join_broadcast_is_budget_gated(spark):
    """The corpus-linear token-array side must NOT be hint-broadcast over
    budget (VERDICT r2 #1). autoBroadcastJoinThreshold is disabled so the
    assertion isolates the HINT: under budget the hint forces broadcast;
    over budget (0) the join falls back to a shuffle join on doc ids."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        over = _plan(Q.q_ngram_jaccard(spark, SF_DIR, broadcast_budget_bytes=0))
        assert "SortMergeJoin [doc_a" in over or "ShuffledHashJoin [doc_a" in over
        under = _plan(Q.q_ngram_jaccard(spark, SF_DIR))
        # under budget the bitmask path broadcasts the doc-mask side of
        # the same-source candidate join (r7: the mask lineage is
        # checkpointed, so its upstream vocab broadcast no longer appears
        # in this plan — assert the join strategy itself, not exchange
        # counts)
        assert "BroadcastHashJoin" in under
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # result parity between the two strategies (same rows either way)
    a = Q.q_ngram_jaccard(spark, SF_DIR).collect()
    b = Q.q_ngram_jaccard(spark, SF_DIR, broadcast_budget_bytes=0).collect()
    assert a == b


def test_simhash_single_pass(spark):
    """SimHash computes all bits in ONE fold over a hash-once token array
    (VERDICT r2 #5) — not 16 separate aggregate passes."""
    opt = (
        Q.q_simhash(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # one vote fold + one finish-lambda assembly; r2's shape had 16
    assert opt.count("aggregate(") <= 3
    # the word hash is computed once (inside transform), not per bit
    assert opt.count("xxhash64") <= 2


def test_partitioned_assignment_no_geometry_broadcast(spark):
    """VERDICT r2 #8: the partitioned (over-broadcast-budget) assignment
    path must plan as a cell cogroup where no executor ever receives the
    full zone geometry. Key-only broadcasts (the (res, cell) key join —
    5 scalars per cell — and the per-zone split counts, both
    budget-gated) are allowed; a broadcast that carries ``rings_bin`` is
    the planet-scale OOM and is not."""
    from pyspark.sql import functions as F

    from cosmospark.assign import assign_zones, encode_points
    from cosmospark.queries import _lux_typed_zones

    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        F.expr("cast(2.0 + (id * 7919 % 1300) / 100.0 as double)").alias("lon"),
        F.expr("cast(44.0 + (id * 104729 % 1000) / 100.0 as double)").alias("lat"),
    )
    df = assign_zones(
        encode_points(pts), _lux_typed_zones(spark),
        strategy="partitioned", id_col="pid",
    )
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    for seg in plan.split("BroadcastExchange")[1:]:
        # the first output list after a BroadcastExchange names the
        # broadcast side's columns; geometry must not be among them
        head = seg[:400]
        assert "rings_bin" not in head, f"geometry broadcast: {head}"
    assert "CartesianProduct" not in plan

    # the cogroup's geometry side is keyed by zone, never per cell: it
    # carries rings_bin but no res/cell column (a per-cell key would
    # ship each zone's geometry once per boundary cell)
    def find(node, name):
        if node.nodeName() == name:
            return node
        kids = node.children()
        for i in range(kids.size()):
            hit = find(kids.apply(i), name)
            if hit is not None:
                return hit
        return None

    def names(node):
        out = node.output()
        return {out.apply(i).name() for i in range(out.size())}

    cg = find(df._jdf.queryExecution().optimizedPlan(), "FlatMapCoGroupsInPandas")
    assert cg is not None
    geo, facts = names(cg.right()), names(cg.left())
    assert "rings_bin" in geo and not geo & {"res", "cell"}, geo
    assert "rings_bin" not in facts, facts


def test_dedup_exact_fixed_width_shuffle_key(spark):
    """The exact-dedup shuffle must key on xxhash64(text), never on the
    raw text (VERDICT r3 #3: groupBy(text) ships the corpus through the
    exchange at 100 TB). Full text may only re-shuffle for the
    duplicate-candidate verification pass, which keys on (h, text)."""
    plan = _plan(Q.q_dedup_exact(spark, SF_DIR))
    assert "xxhash64" in plan
    # every exchange partitioning whose FIRST key is the text column is
    # the corpus-wide shuffle we forbid; (h, text) verification keys are
    # fine because they only carry the dup-candidate semi-join output
    import re

    for m in re.finditer(r"hashpartitioning\((\w+)#", plan):
        assert m.group(1) != "text", "corpus-wide shuffle keyed on text"
    assert "LeftSemi" in plan  # verification pass is candidate-bounded


def test_substring_dedup_fixed_width_pass1(spark):
    """Exact-substring dedup: the corpus-wide pass-1 shuffle must key on
    xxhash64(window) — 8 bytes/row — never on window or document text.
    Window text may only appear in the candidate-bounded pass 2, whose
    grouping/join keys lead with the hash (mirrors q_dedup_exact)."""
    import re

    plan = _plan(Q.q_substring_dedup(spark, SF_DIR))
    assert "xxhash64" in plan
    for m in re.finditer(r"hashpartitioning\((\w+)#", plan):
        assert m.group(1) not in ("text", "w"), (
            f"exchange keyed on raw text: {m.group(0)}"
        )
    # both verification semi-joins (hash pass, text re-check) planned
    assert plan.count("LeftSemi") >= 2


def test_decontaminate_broadcast_corpus_map_side(spark):
    """Decontamination: the corpus side must probe the benchmark gram
    set via BROADCAST joins (map-side, zero corpus shuffle); the only
    hash exchanges allowed key on doc_id (the final O(contamination)
    aggregate) or on the tiny benchmark-side distinct (h / h,w) — never
    on corpus window text alone."""
    import re

    plan = _plan(Q.q_decontaminate(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # hash probe + text verify
    assert "LeftSemi" in plan
    for m in re.finditer(r"hashpartitioning\((\w+)#", plan):
        assert m.group(1) in ("doc_id", "h"), (
            f"corpus-side exchange keyed on {m.group(1)}"
        )


def test_radius_join_broadcast_no_fact_shuffle(spark):
    """Radius join: the 3x3-block station side must BROADCAST and the
    fact (points) side must never hash-shuffle — candidates per point
    are bounded by station density, so the only exchange is the
    cosmetic output sort. Also pins the fixture's boundary margin: the
    closest pair sits ~0.93 m from the 25 km threshold, so cross-engine
    trig ulp skew (~1e-10 m) can never flip a pair in or out."""
    import duckdb

    plan = _plan(Q.q_geo_radius_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan

    d = Q._HAVERSINE.format(
        lat1="s.slat", lon1="s.slon", lat2="p.lat", lon2="p.lon"
    )
    margin = duckdb.sql(
        f"SELECT MIN(ABS({d} - {Q.RADIUS_M})) FROM ({Q._RJ_STATIONS_SQL}) s,"
        f" ({Q._RJ_PTS_SQL}) p"
    ).fetchone()[0]
    assert margin > 0.5, margin  # metres


def test_ngram_strategy_dispatch(spark, tmp_path):
    """r7: jaccard candidate generation dispatches on measured corpus
    stats. A LOW-ENTROPY corpus (vocab ≪ corpus — prefix buckets carry
    ~whole sources, measured 9× the row-pairs of the direct join on the
    sf1.0 fixture) must take the bitmask path; a HIGH-ENTROPY corpus
    (vocab > the mask bound) must keep the prefix-filter path. Both
    paths must return identical rows on the same data."""
    from pyspark.sql import functions as F

    from cosmospark.queries import _ngram_jaccard_prefix, _t

    low = str(tmp_path / "low")
    high = str(tmp_path / "high")
    spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19),"
            " i -> concat('w', (id * 31 + i) % 11)))"
        ).alias("text"),
    ).coalesce(1).write.parquet(f"{low}/documents.parquet")
    spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("src").alias("source"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19),"
            " i -> concat('w', id, 'x', pmod(i * 7, 13))))"
        ).alias("text"),
    ).coalesce(1).write.parquet(f"{high}/documents.parquet")

    lplan = _plan(Q.q_ngram_jaccard(spark, low))
    assert "bit_count" in lplan and "array_intersect" not in lplan, (
        "low-entropy corpus must take the bitmask path"
    )
    hplan = _plan(Q.q_ngram_jaccard(spark, high))
    assert "array_intersect" in hplan and "bit_count" not in hplan, (
        "high-entropy corpus must keep the prefix-filter path"
    )

    # cross-strategy result parity on the SAME (low-entropy) corpus
    d = _t(spark, low, "documents").select("doc_id", "source", "text")
    got = sorted(
        map(tuple, Q.q_ngram_jaccard(spark, low).collect())
    )
    want = sorted(
        map(tuple, _ngram_jaccard_prefix(spark, d, low).collect())
    )
    assert got == want and len(got) > 0


def test_sessionize_single_user_exchange(spark):
    """Sessionization must shuffle the events table exactly ONCE (on
    user_id); both windows and the session aggregate reuse that
    partitioning, and only the cosmetic output sort may add a range
    exchange — a second hash exchange would double the corpus shuffle
    at 100 TB."""
    import re

    plan = _plan(Q.q_sessionize(spark, SF_DIR))
    hashx = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert hashx and all(k == "user_id" for k in hashx), hashx
    # dedupe by exchange id: the same exchange appears once in-tree;
    # count distinct hash Exchanges in the formatted plan
    assert plan.count("Exchange hashpartitioning") == 1, plan.count(
        "Exchange hashpartitioning"
    )


def test_doc_chunks_map_only(spark):
    """Chunking is a narrow transform: the ONLY exchange in the plan is
    the cosmetic output sort (rangepartitioning); no aggregation or
    hash shuffle anywhere — at 100 TB the operator is map-only."""
    plan = _plan(Q.q_doc_chunks(spark, SF_DIR))
    assert "Generate" in plan  # posexplode
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_splittability_guard_is_conditional(spark, tmp_path):
    """VERDICT r5 #2: the narrow-input splittability guard must buy
    full-width execution on a single-row-group input AND must add NO
    exchange on a many-file input — at 100 TB the unconditional form
    was a corpus-wide text shuffle bought for nothing."""
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.lit("src").alias("source"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19),"
            " i -> concat('w', (id * 31 + i) % 11)))"
        ).alias("text"),
    )
    narrow = str(tmp_path / "narrow")
    wide = str(tmp_path / "wide")
    docs.coalesce(1).write.parquet(f"{narrow}/documents.parquet")
    docs.repartition(par).write.parquet(f"{wide}/documents.parquet")

    nplan = _plan(Q.q_gopher_repetition(spark, narrow))
    assert "hashpartitioning(doc_id" in nplan, (
        "single-row-group input must repartition to full width"
    )

    wplan = _plan(Q.q_gopher_repetition(spark, wide))
    assert "hashpartitioning" not in wplan, (
        "many-file input must not pay the guard exchange"
    )
    # the only exchange left is the cosmetic output sort
    assert wplan.count("Exchange") == 1 and "rangepartitioning" in wplan


def test_ann_ivf_written_partition_pruning(spark):
    """VERDICT r5 #5: over the written `list_id=<k>/` layout the probe
    filter must become Catalyst PARTITION PRUNING — PartitionFilters on
    the scan, and at runtime the job reads files from exactly the P
    probed list directories, never the other K-P."""
    import re

    from pyspark.sql import functions as F

    from cosmospark.ann import probe_lists
    from cosmospark.queries import IVF_K, IVF_PROBES, _ivf_centroids

    df = Q.q_ann_ivf_written(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1][:250] if "PartitionFilters:" in plan else ""
    assert "list_id" in pf, f"probe filter not pushed to partition pruning: {plan[:800]}"

    # runtime proof: the files actually read are only the probed lists'
    cents = _ivf_centroids(SF_DIR)
    probes = set(probe_lists(cents[0], cents, IVF_PROBES))
    path = Q._ivf_written_layout(spark, SF_DIR)
    scanned = (
        spark.read.parquet(path)
        .filter(F.col("list_id").isin(list(probes)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    seen = {int(re.search(r"list_id=(\d+)", r["f"]).group(1)) for r in scanned}
    assert seen == probes and len(seen) == IVF_PROBES < IVF_K

    # and the result rows equal the unpartitioned q_ann_ivf's
    assert df.collect() == Q.q_ann_ivf(spark, SF_DIR).collect()


def test_adaptive_cell_split_plan_and_bound(spark):
    """r6 north_rule operator: adaptive cell splitting must (a) never
    shuffle the fact table — hot-cell sets come back as BROADCAST
    joins, the only exchanges carry (cell, count) aggregates — and
    (b) actually bound the result: every final cell below the finest
    level holds ≤ max_rows_per_cell rows, and hot coarse cells are
    dispersed."""
    from pyspark.sql import functions as F

    from cosmospark.assign import adaptive_cell_split
    from cosmospark.queries import ACS_MAX_ROWS, ACS_RESOLUTIONS, _skew_pts_df

    pts = _skew_pts_df(spark)
    out = adaptive_cell_split(
        pts, resolutions=ACS_RESOLUTIONS, max_rows_per_cell=ACS_MAX_ROWS
    )
    plan = _plan(out)
    # every hot-cell join broadcasts (the level-2 count subtree replays
    # the level-1 join inside its scope filter, so the count can exceed
    # levels-1); no sort-merge/shuffled-hash join anywhere
    assert plan.count("BroadcastHashJoin") >= len(ACS_RESOLUTIONS) - 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the fact side reaches the join without an Exchange: every Exchange
    # in the plan belongs to a hot-cell COUNT aggregation subtree (its
    # input is a partial_count HashAggregate), not the point stream
    import re

    for frag in plan.split("Exchange")[1:]:
        # the exchange's child is printed after it; partial-agg subtrees
        # carry partial_count in the fragment head
        assert "count" in frag[:400], f"non-aggregate exchange: {frag[:200]}"

    counts = out.groupBy("res", "cell").count().collect()
    finest = ACS_RESOLUTIONS[-1]
    for r in counts:
        if r["res"] != finest:
            assert r["count"] <= ACS_MAX_ROWS, (r["res"], r["cell"], r["count"])
    # the megacity really split: multiple finest-level cells exist
    assert sum(1 for r in counts if r["res"] == finest) > 10
    # and cold regions stayed coarse
    assert sum(1 for r in counts if r["res"] == ACS_RESOLUTIONS[0]) > 100
