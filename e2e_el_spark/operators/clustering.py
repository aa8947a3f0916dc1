"""Transitive closure over the match graph (SURVEY.md §2.12).

The reference links each mention independently to its argmax entity
(`/root/reference/run_E2E_exhaustive.py:570-575`); a "cluster" is the set of
mentions sharing a predicted entity id (:584-611). This engine generalizes
that to **connected components over the match graph** via the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — a driver loop of pure DataFrame steps,
converging in O(log n) rounds, with per-iteration ``localCheckpoint`` to
truncate lineage (no Catalyst rule covers fixpoints; SURVEY.md §4 custom
work #2).

Node ids are 64-bit content hashes (xxhash64 of the string node key) so
cluster assignment is deterministic across reruns and parallelism levels —
never ``monotonically_increasing_id`` (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical (small, large), self-loops dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): connect every strictly-larger neighbor of u to
    min(Γ(u) ∪ {u}). Emits (v, m) for v ∈ Γ(u), v > u."""
    bidir = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        bidir.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
    )  # m = min(Γ(u) ∪ {u})
    out = (
        bidir.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return _canonical(out)


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): over neighbors v ≤ u, connect all of them (and u) to
    the minimum. Operates on edges directed large→small."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = directed.groupBy("src").agg(F.min("dst").alias("m"))
    neighbors = directed.join(m, "src").select(
        F.col("dst").alias("v"), F.col("m").alias("dst2"), F.col("src").alias("u")
    )
    re_u = directed.join(m, "src").select(
        F.col("src").alias("v"), F.col("m").alias("dst2"), F.col("src").alias("u")
    )
    out = (
        neighbors.unionAll(re_u)
        .filter(F.col("v") != F.col("dst2"))
        .select(F.col("v").alias("src"), F.col("dst2").alias("dst"))
    )
    return _canonical(out)


def _tag_closed_stars(stars: DataFrame) -> DataFrame:
    """Add ``_retired`` to a canonical edge set: True for every edge of a
    component that has fully converged to a CLOSED star, i.e. its center r
    never appears as a dst (no smaller node touches it) and every leaf
    appears in exactly this one edge (no edge leaves the star). Such a
    star is provably an entire component at its fixpoint — large-star and
    small-star both map it to itself — so its edges can retire from the
    loop (delta iteration: later rounds reprocess only still-active edges,
    whose count shrinks geometrically instead of rescanning the full edge
    set every round).

    Soundness: canonical edges satisfy src < dst, so the center is the
    star's minimum. If the center were reachable from a smaller node x,
    some chain of edges would connect x's side to the star — but every
    leaf has degree 1 (inside the star) and the center is never a dst, so
    no such edge exists: {center} ∪ leaves is the whole component and
    center = its minimum. ``stars`` MUST be materialized by the caller —
    this builds three derived frames over it.
    """
    bidir = stars.select(
        F.col("src").alias("node"), F.lit(1).alias("_s"), F.lit(0).alias("_d")
    ).unionAll(
        stars.select(F.col("dst").alias("node"), F.lit(0).alias("_s"), F.lit(1).alias("_d"))
    )
    stats = bidir.groupBy("node").agg(
        F.sum("_s").alias("n_src"), F.sum("_d").alias("n_dst")
    )
    leaf = stats.select(
        F.col("node").alias("dst"),
        ((F.col("n_src") == 0) & (F.col("n_dst") == 1)).alias("_leaf_ok"),
    )
    closed = (
        stars.join(leaf, "dst")
        .groupBy("src")
        .agg(F.min("_leaf_ok").alias("_leaves_ok"))
    )
    center = stats.select(
        F.col("node").alias("src"), (F.col("n_dst") == 0).alias("_center_ok")
    )
    return (
        stars.join(closed, "src")
        .join(center, "src")
        .select(
            "src", "dst", (F.col("_leaves_ok") & F.col("_center_ok")).alias("_retired")
        )
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    checkpoint: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(src BIGINT, dst BIGINT) → assignments(node BIGINT, component BIGINT).

    component = the minimum node id reachable from ``node``. Deterministic:
    pure function of the edge set.

    Delta iteration (round 4): after each large-star/small-star round,
    components that have converged to closed stars RETIRE — their (root,
    member) edges are carried forward untouched and only the still-active
    remainder feeds the next round, so per-round input shrinks geometrically
    (most components finish in the first 1-2 rounds; without retirement
    every round rescans the full edge set ~O(log n) times).

    ``checkpoint_dir``: per-iteration parquet write+read instead of
    ``localCheckpoint`` — ``localCheckpoint`` is correct and fast in local
    mode but NOT executor-loss-tolerant (blocks live only in executor
    memory/disk); on a real multi-executor cluster a lost executor kills the
    lineage-truncated fixpoint mid-run. Pointing this at reliable storage
    (HDFS/S3) makes each round restartable at the cost of one write+scan per
    round. ``checkpoint=False`` keeps the fully-lazy pure-plan form (tests).
    """
    from pyspark.sql import Observation

    sig_metrics = lambda: (  # noqa: E731 — tiny metric-column factory
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    )

    def _materialize(df: DataFrame, i: int) -> tuple[DataFrame, tuple]:
        # fold the convergence signature into the materialization via an
        # observed metric: ONE Spark job per fixpoint round instead of two
        # (a separate agg/collect probe was half the driver round-trips of
        # the whole CC stage)
        obs = Observation(f"cc_sig_{i}")
        observed = df.observe(obs, *sig_metrics())
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/cc_iter_{i}"
            observed.write.mode("overwrite").parquet(path)
            out = df.sparkSession.read.parquet(path)
        else:
            out = observed.localCheckpoint(eager=True)
        row = obs.get
        return out, (row["n"], row["h"])

    cur = _canonical(edges)
    use_delta = checkpoint or checkpoint_dir is not None
    if use_delta:
        cur, _ = _materialize(cur, -1)
    retired: list[DataFrame] = []
    prev_sig = None
    for i in range(max_iterations):
        stars = _small_star(_large_star(cur))
        if use_delta:
            stars, sig = _materialize(stars, i)
            if sig[0] == 0:  # nothing active left — all components retired
                cur = stars
                break
            # delta split over the MATERIALIZED round output: closed stars
            # leave the loop, the active remainder feeds the next round.
            # Both views are lazy filters over the round's checkpoint (the
            # tag joins re-evaluate over materialized data, never over the
            # star transform itself).
            tagged = _tag_closed_stars(stars)
            retired.append(tagged.filter(F.col("_retired")).select("src", "dst"))
            cur = tagged.filter(~F.col("_retired")).select("src", "dst")
        else:
            cur = stars
            sig_row = cur.agg(*sig_metrics()).collect()[0]
            sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: canonical edges are (root, member) with root = src = the
    # component minimum; each member maps to it and the root to itself.
    final = cur
    for part in retired:
        final = final.unionAll(part)
    members = final.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = final.select(F.col("src").alias("node"), F.col("src").alias("component"))
    return (
        members.unionAll(roots).groupBy("node").agg(F.min("component").alias("component"))
    )


def cluster_nodes(
    edges_str: DataFrame, all_nodes: DataFrame | None = None,
    src_col: str = "src_key", dst_col: str = "dst_key",
) -> DataFrame:
    """String-keyed wrapper: edges over string node keys → (node_key, cluster_id).

    cluster_id is the xxhash64 of the component's minimum node id rendered as
    a string — stable content-derived cluster labels. ``all_nodes`` (one
    column ``node_key``) adds isolated nodes as singleton clusters.
    """
    ids = edges_str.select(
        F.xxhash64(F.col(src_col)).alias("src"), F.xxhash64(F.col(dst_col)).alias("dst")
    )
    assign = connected_components(ids)
    mapping = (
        edges_str.select(F.col(src_col).alias("node_key"))
        .unionAll(edges_str.select(F.col(dst_col).alias("node_key")))
        .distinct()
        .withColumn("node", F.xxhash64("node_key"))
        .join(assign, "node", "left")
        .select(
            "node_key",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
    if all_nodes is not None:
        extra = (
            all_nodes.select("node_key")
            .join(mapping.select("node_key"), "node_key", "left_anti")
            .withColumn("component", F.xxhash64("node_key"))
        )
        mapping = mapping.unionByName(extra)
    return mapping.select(
        "node_key", F.concat(F.lit("c"), F.col("component").cast("string")).alias("cluster_id")
    )


def cluster_star_links(
    edges_str: DataFrame, all_nodes: DataFrame | None = None,
    src_col: str = "src_key", dst_col: str = "dst_key",
) -> DataFrame:
    """Closed-form connected components for STAR-SHAPED bipartite edge
    sets: every ``src_col`` key occurs in exactly one edge (degree 1) and
    the src/dst key namespaces are disjoint, so each component is one dst
    hub plus its srcs and NO fixpoint is needed — the component label is
    ``min(xxhash64)`` over {hub} ∪ {its srcs}, computed with one hub-keyed
    aggregation and one hub-keyed join back. Output contract is IDENTICAL
    to ``cluster_nodes`` on such inputs (equivalence-tested): srcs and
    hubs both assigned ``'c' + min-hash``, ``all_nodes`` added as
    singleton clusters.

    The flagship links are star-shaped BY CONSTRUCTION: ``link_top1``
    keeps a single argmax entity per surface, so ``mention_links`` emits
    exactly one entity per mention and every src is a mention key while
    every dst is an ``ENT:``-prefixed entity key. At 480k pages the
    iterative fixpoint spent 83-160s (n8) on this trivially-starred graph
    — all of it per-round shuffle/localCheckpoint overhead the closed
    form does not have; a plain two-shuffle job also needs no reliable
    checkpointing for executor-loss tolerance (Spark task retry covers
    it), which is why this path takes no ``checkpoint_dir``.

    PRECONDITION (caller-guaranteed, deliberately unchecked — verifying
    degree-1 costs the aggregation this path exists to avoid): a src key
    occurring with two different dst keys would silently SPLIT what the
    fixpoint would merge. Use ``cluster_nodes`` when the edge shape is
    not guaranteed by construction.
    """
    h = edges_str.select(
        F.col(src_col).alias("_sk"), F.col(dst_col).alias("_dk"),
        F.xxhash64(src_col).alias("_sid"), F.xxhash64(dst_col).alias("_did"),
    )
    hubs = h.groupBy("_dk").agg(
        F.least(F.min("_sid"), F.min("_did")).alias("component")
    )
    mapping = (
        h.select("_sk", "_dk").join(hubs, "_dk")
        .select(F.col("_sk").alias("node_key"), "component")
        .unionByName(hubs.select(F.col("_dk").alias("node_key"), "component"))
        # duplicate (src, dst) edge rows collapse here; a precondition-
        # violating src would surface as two rows rather than vanish
        .distinct()
    )
    if all_nodes is not None:
        extra = (
            all_nodes.select("node_key")
            .join(mapping.select("node_key"), "node_key", "left_anti")
            .withColumn("component", F.xxhash64("node_key"))
        )
        mapping = mapping.unionByName(extra)
    return mapping.select(
        "node_key", F.concat(F.lit("c"), F.col("component").cast("string")).alias("cluster_id")
    )
