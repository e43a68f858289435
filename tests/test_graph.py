"""Address-clustering (iterative label propagation) vs a union-find
reference — the verification stand-in for the SQL oracle this fixpoint
operator can't have."""

from __future__ import annotations

from cardano_analytics_duckdb_spark.operators.graph import (
    address_components,
    cardano_address_clusters,
    cospend_edges,
)


def _union_find_components(edges, vertices):
    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = lexicographic min of each component
    comp_members: dict[str, list[str]] = {}
    for v in vertices:
        comp_members.setdefault(find(v), []).append(v)
    out = {}
    for members in comp_members.values():
        label = min(members)
        for v in members:
            out[v] = label
    return out


def test_label_propagation_matches_union_find(spark, sf_dir):
    edges = [
        (r["addr_a"], r["addr_b"]) for r in cospend_edges(spark).collect()
    ]
    assert edges, "fixture lake must produce co-spend edges"
    got = {
        r["address"]: r["component"]
        for r in address_components(spark).collect()
    }
    expected = _union_find_components(edges, set(got))
    assert got == expected


def test_cluster_summary_shape(spark, sf_dir):
    rows = cardano_address_clusters(spark, sf_dir).collect()
    by_component = {r["component"]: r for r in rows}
    # members is a '|'-joined sorted string led by its component id
    for r in rows:
        members = r["members"].split("|")
        assert members == sorted(members)
        assert members[0] == r["component"]
        assert r["n_addresses"] == len(members)
    # fixture has at least one multi-address cluster (tx4 fan-in of c,d + b)
    assert any(r["n_addresses"] >= 3 for r in rows)
    # total membership covers every address exactly once
    assert sum(r["n_addresses"] for r in rows) == len(
        {m for r in rows for m in r["members"].split("|")}
    )
    assert len(by_component) == len(rows)


def test_long_chain_converges_logarithmically(spark):
    """Pointer-jumping compression: a 200-node path (diameter 199) must
    resolve to ONE component within the default iteration cap — plain
    propagation would need ~200 rounds."""
    from cardano_analytics_duckdb_spark.operators.graph import (
        min_label_components,
    )

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    comp = min_label_components(nodes, edges, max_iter=12)
    assert {r.component for r in comp.collect()} == {0}


def test_nonconvergence_raises_instead_of_returning_partial_labels(spark):
    """Exhausting max_iter without the fixpoint is an ERROR, never a
    silently wrong component assignment."""
    import pytest as _pytest

    from cardano_analytics_duckdb_spark.operators.graph import (
        min_label_components,
    )

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(nodes, edges, max_iter=2)


def test_component_summary_bounds_cell_width_on_giant_component(spark):
    """The 100 TB report shape: a 5000-node single component yields a
    bounded member_sample cell (first k members), never a 5000-entry
    string — and the count still reports the true size."""
    from cardano_analytics_duckdb_spark.operators.graph import (
        component_summary,
        min_label_components,
    )

    n = 5000
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    comp = min_label_components(nodes, edges, max_iter=16)
    rows = component_summary(comp, k=10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.component == 0 and r.n_members == n
    assert r.member_sample == "|".join(str(i) for i in range(10))


def test_pagerank_mass_conservation_and_order(spark):
    """Damped PageRank invariants through the real operator: ranks are
    positive, total mass stays 1 (up to N x the 1e-12 quantization grid),
    and the heaviest-in-degree hub outranks leaf nodes on a crafted star
    graph with a dangling sink."""
    import pyspark.sql.functions as F

    from cardano_analytics_duckdb_spark.operators.graph import pagerank

    nodes = spark.createDataFrame(
        [(n,) for n in ["hub", "l1", "l2", "l3", "sink"]], "node string"
    )
    # l1,l2,l3 -> hub; hub -> sink; sink dangles
    edges = spark.createDataFrame(
        [("l1", "hub", 1), ("l2", "hub", 1), ("l3", "hub", 1),
         ("hub", "sink", 1)],
        "src string, dst string, w long",
    )
    got = {r["node"]: r["pagerank"] for r in pagerank(nodes, edges).collect()}
    assert all(v > 0 for v in got.values())
    assert abs(sum(got.values()) - 1.0) < 5 * 1e-12 * len(got)
    assert got["hub"] > got["l1"] == got["l2"] == got["l3"]
    assert got["sink"] > got["l1"]  # fed by the hub


def test_pagerank_empty_graph_releases_its_cache(spark):
    """An empty graph returns an empty frame and leaves the CacheManager
    as it found it: the early return drops the ``nodes`` cache too."""
    from cardano_analytics_duckdb_spark.operators.graph import pagerank

    from .probes import cache_entries

    cached = cache_entries(spark)
    nodes = spark.createDataFrame([], "node string")
    edges = spark.createDataFrame([], "src string, dst string, w long")
    assert pagerank(nodes, edges).collect() == []
    assert cache_entries(spark) == cached


def test_transfer_graph_pagerank_mass(spark):
    """Mass conservation on the fixture transfer graph (the oracle pins
    exact values; this pins the invariant the algorithm must keep)."""
    from cardano_analytics_duckdb_spark.operators.graph import (
        cardano_address_pagerank,
    )

    rows = cardano_address_pagerank(spark, "").collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 5 * 1e-12 * len(rows)
