"""connected_components: known component structures, isolated nodes,
and a long chain (exercises multi-round convergence)."""

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from cosmospark.graph import connected_components


def _cc(spark, n_nodes, edge_list):
    nodes = spark.range(n_nodes).select(F.col("id"))
    edges = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    if not edge_list:
        edges = edges.filter("src != src")
    out = connected_components(nodes, edges)
    return {r["node"]: r["lab"] for r in out.collect()}


def test_components_with_isolated_nodes(spark):
    # {0,1,2} via 0-1, 1-2 ; {3,4} ; 5 isolated
    got = _cc(spark, 6, [(1, 0), (2, 1), (4, 3)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_long_chain_converges(spark):
    # a 30-node path: min-label needs ~diameter rounds to reach the end
    got = _cc(spark, 30, [(i, i + 1) for i in range(29)])
    assert set(got.values()) == {0}


def test_no_edges(spark):
    got = _cc(spark, 4, [])
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


# Reference forms of the star round. connected_components runs the
# window form (_small_star∘_large_star) or the oriented fused round;
# these symmetrized broadcast forms (r7) are what the oriented round was
# derived from, kept here so the agreement test checks all four.


def _large_star_bc(e: DataFrame) -> DataFrame:
    """Broadcast-star large star (r7): the per-node neighborhood min is
    NODE-scale, not edge-scale — a map-side-combined groupBy reduces
    the edge set to one (u, min) row per node before any exchange, and
    the tiny min table broadcasts back onto the unshuffled edges. The
    window form exchanges+sorts the full symmetrized edge multiset
    (2|E| rows); this form's only exchange carries ≤|V| aggregated
    rows. Identical output multiset modulo row order (same m per u)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("_mv")).select(
        "u", F.least("u", "_mv").alias("m")
    )
    return (
        sym.join(F.broadcast(m), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star_bc(e: DataFrame) -> DataFrame:
    """Broadcast-star small star (r7) — see _large_star_bc. The selfs
    leg emits one row per NODE instead of one per edge; the round's
    distinct() collapses the window form's per-edge duplicates to the
    same set, so the checkpointed edge SET is identical."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    children = (
        o.join(F.broadcast(m), "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfs = m.select("u", F.col("m").alias("v"))
    return children.unionByName(selfs)


def _star_round_bc(e: DataFrame) -> DataFrame:
    """Fused broadcast-star round (r7): small_star_bc∘large_star_bc
    with one fewer pass over the edge multiset. Large-star's output
    edges are (v, m(u)) for each symmetrized (u,v) with v > u, and they
    are ALREADY oriented hi→lo (m(u) ≤ u < v), so small-star's per-node
    min is m2(v) = min over those rows of m(u) — computable directly
    from sym ⋈ m without materializing the intermediate edge list; the
    children/selfs legs then need only one more sym ⋈ m ⋈ m2 pass.
    Emits the identical row multiset as the two-step composition
    (children: (m(u), m2(v)) where m(u) != m2(v); selfs: one (v, m2(v))
    per node v), so the round's distinct() yields the same edge set."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("_mv")).select(
        "u", F.least("u", "_mv").alias("m")
    )
    # large-star rows, not materialized: (v, mu) per sym row with v > u
    lrows = (
        sym.join(F.broadcast(m), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("lv"), F.col("m").alias("mu"))
    )
    m2 = lrows.groupBy("lv").agg(F.min("mu").alias("m2"))
    children = (
        lrows.join(F.broadcast(m2), "lv")
        .filter(F.col("mu") != F.col("m2"))
        .select(F.col("mu").alias("u"), F.col("m2").alias("v"))
    )
    selfs = m2.select(F.col("lv").alias("u"), F.col("m2").alias("v"))
    return children.unionByName(selfs)


def test_star_round_implementations_agree(spark):
    """r7: the three star-round forms — window (_small_star∘_large_star),
    broadcast two-step (_small_star_bc∘_large_star_bc), and the fused
    broadcast round (_star_round_bc) — must yield the SAME post-distinct
    edge set on random graphs (the loop picks among them by broadcast
    budget; equal per-round sets ⇒ equal fixpoints and labels)."""
    import random

    from cosmospark.graph import _large_star, _small_star, _star_round_oriented

    rng = random.Random(13)
    for trial in range(3):
        n = 60
        edge_list = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(90)
                )
                if a != b
            }
        )
        e = spark.createDataFrame(edge_list, "u long, v long")
        win = sorted(
            map(tuple, _small_star(_large_star(e)).distinct().collect())
        )
        two = sorted(
            map(tuple, _small_star_bc(_large_star_bc(e)).distinct().collect())
        )
        fused = sorted(map(tuple, _star_round_bc(e).distinct().collect()))
        # the oriented fused round (what connected_components runs on
        # the broadcast path) requires u > v input — the loop's own
        # normalization — and must produce the same post-distinct set
        eo = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        oriented = sorted(
            map(tuple, _star_round_oriented(eo).distinct().collect())
        )
        assert win == two == fused == oriented, f"trial {trial} diverged"


def test_dataset_split_branches_and_leakage_safety(spark):
    """val/test branches (the sf fixtures happen to land all-train) and
    the leakage guarantee: every doc in a cluster gets its cluster's
    split."""
    import pandas as pd

    from cosmospark.queries import _SPLIT_HASH

    # ids chosen so the multiplicative hash hits all three buckets
    h = _SPLIT_HASH.format(c="cluster")
    df = spark.createDataFrame(
        pd.DataFrame({"cluster": [0, 115, 178, 115, 0]})
    ).selectExpr(
        "cluster",
        f"case when {h} < 98 then 'train' when {h} < 99 then 'val'"
        " else 'test' end as split",
    )
    got = {(r["cluster"], r["split"]) for r in df.collect()}
    assert got == {(0, "train"), (115, "test"), (178, "val")}


def test_path_graph_logarithmic_rounds(spark):
    """Alternating large-star/small-star must converge in O(log n)
    rounds on the worst case for label propagation: a path graph.
    10^4 nodes -> <= 2*log2(n) + 4 rounds (min-label would need 10^4)."""
    import math

    n = 10_000
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out, rounds = connected_components(nodes, edges, with_rounds=True)
    assert rounds <= 2 * int(math.log2(n)) + 4, rounds
    assert out.filter(F.col("lab") != 0).count() == 0


def test_random_components_match_bruteforce(spark):
    """Random sparse graph vs a driver-side union-find oracle."""
    import random

    rng = random.Random(7)
    n = 400
    edge_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}
    # canonicalize oracle to min-of-component
    comp_min = {}
    for i in range(n):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    want = {i: comp_min[find(i)] for i in range(n)}
    got = _cc(spark, n, edge_list)
    assert got == want
