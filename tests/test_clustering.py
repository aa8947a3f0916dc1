"""large-star/small-star connected components (SURVEY.md §2.12)."""

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from e2e_el_spark.operators.clustering import cluster_nodes, connected_components


def _reference_cc(edges):
    """Driver-side union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        if a != b:  # engine drops self-loops (no cluster information)
            union(a, b)
    return {x: find(x) for x in parent}


def test_cc_basic(spark):
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (10, 11), (7, 7)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_chain_and_star(spark):
    # pathological chain: worst case for naive propagation; large/small-star
    # must converge in O(log n) driver iterations
    chain = [(i, i + 1) for i in range(50)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 51


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
    )
)
def test_cc_matches_union_find(spark, edge_list):
    oracle = _reference_cc(edge_list)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    # both label by component-minimum node id, so exact equality is expected
    assert got == oracle


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
    )
)
def test_cc_delta_retirement_matches_union_find(spark, edge_list):
    """The delta-iteration path (checkpoint=True → closed stars retire per
    round) must produce the identical assignment to the union-find oracle —
    retirement is an optimization, never a semantics change."""
    oracle = _reference_cc(edge_list)
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components(edges, checkpoint=True).collect()
    }
    assert got == oracle


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir: per-iteration parquet write+read (executor-loss
    tolerant on real clusters) — identical assignments, and the round files
    actually land under the directory."""
    import os

    chain = [(i, i + 1) for i in range(20)] + [(100, 101), (101, 102)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    cdir = str(tmp_path / "cc_reliable")
    got = {
        r.node: r.component
        for r in connected_components(edges, checkpoint_dir=cdir).collect()
    }
    assert set(got.values()) == {0, 100}
    assert len(got) == 24
    iters = [d for d in os.listdir(cdir) if d.startswith("cc_iter_")]
    assert len(iters) >= 2  # initial canonical set + at least one round


def test_cc_delta_retires_early_closed_stars(spark):
    """A graph of many already-converged stars plus one long chain: the
    closed stars must retire after round 1 (the active set shrinks), not be
    rescanned every round — observed via the per-round signature counts."""
    stars = [(r, r + j) for r in (1000, 2000, 3000) for j in (1, 2, 3)]
    chain = [(i, i + 1) for i in range(30)]
    edges = spark.createDataFrame(stars + chain, "src long, dst long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    oracle = _reference_cc(stars + chain)
    assert got == oracle


def test_cluster_nodes_isolated_singletons(spark):
    edges = spark.createDataFrame([("m1", "ENT:e1"), ("m2", "ENT:e1")], "src_key string, dst_key string")
    nodes = spark.createDataFrame([("m1",), ("m2",), ("m3",)], "node_key string")
    got = {r.node_key: r.cluster_id for r in cluster_nodes(edges, all_nodes=nodes).collect()}
    assert got["m1"] == got["m2"]
    assert got["m3"] != got["m1"]
    assert set(got) == {"m1", "m2", "m3", "ENT:e1"}


def test_cluster_star_links_equals_fixpoint(spark):
    """Star-shaped bipartite inputs (flagship link shape): the closed-form
    path must equal the iterative fixpoint exactly — node set, component
    labels, singleton handling, duplicate-edge collapse."""
    import random

    from e2e_el_spark.operators.clustering import cluster_star_links

    rng = random.Random(7)
    for trial in range(3):
        edges = [(f"m{i:03d}", f"ENT:e{rng.randrange(17)}") for i in range(120)]
        if trial == 1:
            edges += edges[:5]  # duplicate edges must collapse
        nodes = [(f"m{i:03d}",) for i in range(129)]  # 9 isolated singletons
        e = spark.createDataFrame(edges, "src_key string, dst_key string")
        an = spark.createDataFrame(nodes, "node_key string")
        fast = {(r.node_key, r.cluster_id)
                for r in cluster_star_links(e, all_nodes=an).collect()}
        slow = {(r.node_key, r.cluster_id)
                for r in cluster_nodes(e, all_nodes=an).collect()}
        assert fast == slow, trial
        assert len(fast) == 129 + 17  # every mention + every hub assigned


def test_clusters_from_links_star_path_matches_fixpoint(spark):
    """The flagship clusters stage (closed form) is bit-equal to the
    fixpoint reference ``cluster_nodes`` over the same mention-entity
    edges."""
    from e2e_el_spark.pipeline import clusters_from_links

    links = spark.createDataFrame(
        [("m1", "e1", 0.9), ("m2", "e1", 0.8), ("m3", "e2", 0.7),
         ("m4", "e2", 0.95), ("m5", "e3", 0.99)],
        "mention_id string, entity_id string, score double",
    )
    mentions = spark.createDataFrame(
        [(f"m{i}",) for i in range(1, 9)], "mention_id string"
    )
    star = {(r.mention_id, r.cluster_id)
            for r in clusters_from_links(links, mentions).collect()}
    edges = links.selectExpr("mention_id AS src_key", "concat('ENT:', entity_id) AS dst_key")
    nodes = mentions.selectExpr("mention_id AS node_key")
    fix = {(r.node_key, r.cluster_id)
           for r in cluster_nodes(edges, all_nodes=nodes).collect()
           if not r.node_key.startswith("ENT:")}
    assert star == fix
    assert len(star) == 8  # m6-m8 singletons included
