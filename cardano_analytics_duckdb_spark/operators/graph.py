"""Iterative graph analytics over the Cardano lake: address clustering
and transfer-graph PageRank.

The reference declares ``networkx`` as a dependency but never imports it
(SURVEY intro; /root/reference/pyproject.toml:10) — UTxO-flow graph analysis
is intended-but-unbuilt capability.  Here: the classic common-input-ownership
heuristic (addresses whose UTxOs are consumed by the same transaction are
assumed co-owned) resolved into connected components with distributed label
propagation.

This is the one genuinely *iterative* operator family in the engine.  All
three queries nonetheless carry EXACT oracles (recursive-CTE label propagation in
DuckDB SQL, below) so the driver hash-matches values, and
``tests/test_graph.py`` additionally verifies the kernel against a
union-find reference implementation.

Scale design: each iteration is one join (labels ⋈ edges) + one min-
aggregate — two shuffles keyed by address.  Convergence takes
O(diameter) iterations; blockchain co-spend clusters are shallow (heavy
hitters collapse in 2-3 rounds).  The edge list is deduplicated once up
front; labels are the only state carried between iterations (no growing
lineage — each round materializes via localCheckpoint to keep the plan
flat, the standard Spark idiom for iterative algorithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cardano import _lake, _scan


def cospend_edges(spark: SparkSession) -> DataFrame:
    """Star-shaped co-spend edges: each address consumed by a transaction is
    linked to the per-tx *minimum* address (the hub).

    A clique over the k addresses of one transaction and the k-1 star edges
    to the hub have identical connected components, but the star is linear in
    k where the clique self-join is O(k²) — a consolidation tx with thousands
    of inputs would otherwise emit millions of edge rows at 100 TB scale.
    Hub = min(address), so ``addr_a < addr_b`` still holds on every edge.
    """
    tx = _lake(spark, "tx")
    utxo = _lake(spark, "utxo").select(
        F.col("tx_id").alias("src_tx_id"),
        F.col("output_index").alias("src_output_index"),
        "address",
    )
    consumed = (
        tx.select("tx_id", F.explode("inputs").alias("r"))
        .select(
            "tx_id",
            F.col("r.tx_id").alias("src_tx_id"),
            F.col("r.output_index").alias("src_output_index"),
        )
        .join(utxo, on=["src_tx_id", "src_output_index"])
        .select("tx_id", "address")
        .distinct()
    )
    hub = consumed.groupBy("tx_id").agg(F.min("address").alias("hub"))
    return (
        consumed.join(hub, "tx_id")
        .filter(F.col("address") != F.col("hub"))
        .select(
            F.col("hub").alias("addr_a"),
            F.col("address").alias("addr_b"),
        )
        .distinct()
    )


def min_label_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Generic connected components via distributed min-label propagation
    with pointer-jumping compression.

    ``nodes``: one column ``node`` (any orderable type); ``edges``: columns
    ``src``/``dst`` (undirected — symmetrized internally).  Returns
    (node, component) where component is the smallest node id in the
    component — a deterministic canonical id.  Singletons map to themselves.

    Each iteration is a propagate step (labels ⋈ edges + min-aggregate)
    followed by a compression step (component ← component's own label, the
    pointer-jumping halving), so convergence needs O(log diameter)
    iterations, not O(diameter) — star-shaped co-spend edges double chain
    diameters, and a plain propagation loop would need a round per hop.
    The default cap covers diameters past 2^20; if the loop still has not
    reached the fixpoint it RAISES instead of silently returning partially
    merged components (labels are intermediate state, not a valid answer).
    """
    e = edges.select("src", "dst").cache()
    bidir = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()

    labels = nodes.select(
        F.col("node"), F.col("node").alias("component")
    ).localCheckpoint()

    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            bidir.join(
                labels.withColumnsRenamed(
                    {"node": "dst", "component": "nbr_component"}
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("nbr_component").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_min", "component")
            ).alias("component"),
        )
        # pointer jumping: every component value IS a node id, so one more
        # join rewrites each label to its label's label — path halving
        mapping = propagated.select(
            F.col("node").alias("m_node"), F.col("component").alias("m_comp")
        )
        updated = (
            propagated.join(
                mapping, propagated.component == mapping.m_node, "left"
            )
            .select(
                "node",
                F.coalesce("m_comp", "component").alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    e.unpersist()
    bidir.unpersist()
    if not converged:
        raise RuntimeError(
            f"min_label_components did not converge in {max_iter} iterations"
            " — raise max_iter (diameter ~ 2^max_iter is covered)"
        )
    return labels


def address_components(
    spark: SparkSession, sf_dir: str | None = None, max_iter: int = 20
) -> DataFrame:
    """Connected components of the co-spend graph via min-label propagation.

    Returns (address, component) where component is the lexicographically
    smallest address in the component — a deterministic canonical id.
    Singleton addresses (never co-spent) map to themselves.
    """
    edges = cospend_edges(spark).select(
        F.col("addr_a").alias("src"), F.col("addr_b").alias("dst")
    )
    all_addrs = (
        _lake(spark, "utxo").select(F.col("address").alias("node")).distinct()
    )
    return (
        min_label_components(all_addrs, edges, max_iter)
        .withColumnsRenamed({"node": "address"})
        .orderBy("address")
    )


def cardano_address_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster summary: component id, member count, members (sorted)."""
    comp = address_components(spark)
    return (
        comp.groupBy("component")
        # '|'-joined sorted string, not array<string>: scalar columns keep the
        # driver's rows-only canonicalization from crashing on list cells.
        .agg(
            F.count("*").alias("n_addresses"),
            F.concat_ws("|", F.array_sort(F.collect_list("address"))).alias(
                "members"
            ),
        )
        .orderBy("component")
    )


def component_summary(
    comp: DataFrame, node_col: str = "node", k: int = 10
) -> DataFrame:
    """Scale-safe cluster report: (component, n_members, member_sample).

    The full-members report keeps every member in one '|'-joined cell —
    right for the oracle-checked fixture queries (the driver canonicalizer
    can't hash arrays), but at 100x scale one giant component becomes a
    multi-megabyte cell.  Here every cell is BOUNDED: a row_number window
    under (component ORDER BY node) marks the first k members, and the
    aggregate collects only those — no task ever materializes a full
    member list.  The groupBy key equals the window partition key, so the
    window's exchange is the only shuffle in the plan."""
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(node_col)
    ranked = comp.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") <= k, F.col(node_col))
                    )
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("member_sample"),
    )


def cardano_address_cluster_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB shape of ``cardano_address_clusters``: bounded sample
    instead of the full member list."""
    comp = address_components(spark).withColumnRenamed("address", "node")
    return (
        component_summary(comp, k=5)
        .withColumnRenamed("n_members", "n_addresses")
        .orderBy("component")
    )


# -- PageRank over the transfer graph -----------------------------------------
# The second half of the intended-but-unbuilt networkx capability (the
# components above are the first): address importance via power iteration
# over the value-transfer graph.  Directed weighted edges sender->receiver
# per transaction (consumed-input address -> produced-output address,
# self-transfers/change excluded), weight = number of transactions.
#
# Exactly the textbook damped PageRank with uniform dangling-mass
# redistribution, made ENGINE-EXACT so the unrolled SQL oracle
# hash-matches: per-edge contributions are quantized to integer
# picounits (floor(x*1e12+0.5) as int64) before summation — integer
# addition is associative, so the per-node sum is independent of
# partitioning and engine — and each new rank is re-rounded onto the
# 1e-12 grid.  Same discipline as cent_sum (functions/rounding.py) and
# the kmeans oracle.  Quantized-sum domain: sum <= 1e12 x total rank
# mass = 1e12 x N picounits; past N ~ 1e6 nodes raise the grid to 1e9
# (the 2^63 headroom note in rounding.py applies unchanged).
#
# Scale shape: per iteration one join (ranks x out-edge shares, keyed by
# sender) + one hash-agg (by receiver) + one broadcast of the 1-row
# dangling aggregate — two shuffles, no driver state but the node count;
# localCheckpoint flattens the plan each round (the standard Spark
# iterative idiom, same as min_label_components above).

_PR_D = 0.85
_PR_ITERS = 10
_PR_GRID = 1e12


def transfer_edges(spark: SparkSession) -> DataFrame:
    """(sender, receiver, w): distinct consumed-input address x distinct
    produced-output address pairs per tx, counted over txs."""
    tx = _lake(spark, "tx")
    utxo = _lake(spark, "utxo")
    consumed = (
        tx.select("tx_id", F.explode("inputs").alias("r"))
        .select(
            "tx_id",
            F.col("r.tx_id").alias("src_tx_id"),
            F.col("r.output_index").alias("src_output_index"),
        )
        .join(
            utxo.select(
                F.col("tx_id").alias("src_tx_id"),
                F.col("output_index").alias("src_output_index"),
                "address",
            ),
            on=["src_tx_id", "src_output_index"],
        )
        .select("tx_id", F.col("address").alias("sender"))
        .distinct()
    )
    produced = utxo.select("tx_id", F.col("address").alias("receiver")).distinct()
    return (
        consumed.join(produced, "tx_id")
        .filter(F.col("sender") != F.col("receiver"))
        .groupBy("sender", "receiver")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    d: float = _PR_D,
    iters: int = _PR_ITERS,
) -> DataFrame:
    """(node, rank) after ``iters`` damped power iterations.

    ``nodes``: column ``node``; ``edges``: ``src``/``dst``/``w`` (directed,
    weighted).  Fixed iteration budget (not a convergence check) keeps the
    computation a finite unrollable expression — the property the SQL
    oracle needs; 10 damped rounds are inside 1e-6 of the fixpoint on
    graphs with spectral gap >= 0.15, which d = 0.85 guarantees.
    """
    # Iteration inputs are CACHED (same idiom as min_label_components):
    # without this, every one of the `iters` rounds re-derives the whole
    # edge subtree — explode/join/distinct/groupBy — TWICE (contrib join +
    # dangling anti-join) instead of reading a materialized edge list.
    nodes = nodes.cache()
    n = nodes.count()
    if n == 0:
        # empty graph: every other registered query returns an empty frame
        # on empty input; dividing by n here would raise instead
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("pagerank"))
    grid = F.lit(_PR_GRID)
    base = (1.0 - d) / n  # identical op order in the SQL rendering

    shares = edges.join(
        edges.groupBy("src").agg(F.sum("w").alias("ow")), "src"
    ).select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.col("ow").cast("double")).alias("share"),
    ).cache()
    out_nodes = shares.select("src").distinct().cache()

    ranks = nodes.select(
        "node",
        (F.floor(F.lit(1.0 / n) * grid + F.lit(0.5)) / grid).alias("r"),
    ).localCheckpoint()
    for _ in range(iters):
        contrib = (
            shares.join(ranks, shares.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.floor(F.col("r") * F.col("share") * grid + F.lit(0.5))
                .cast("long")
                .alias("qc"),
            )
            .groupBy("node")
            .agg(F.sum("qc").alias("qsum"))
        )
        dangling = (
            ranks.join(out_nodes, ranks.node == out_nodes.src, "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.floor(F.col("r") * grid + F.lit(0.5)).cast("long")),
                    F.lit(0).cast("long"),
                ).alias("qd")
            )
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.floor(
                        (
                            F.lit(base)
                            + F.lit(d)
                            * (
                                F.coalesce(F.col("qsum"), F.lit(0).cast("long"))
                                / grid
                                + (F.col("qd") / grid) / F.lit(float(n))
                            )
                        )
                        * grid
                        + F.lit(0.5)
                    )
                    / grid
                ).alias("r"),
            )
            .localCheckpoint()
        )
    # ranks is localCheckpointed, so dropping the iteration inputs is safe
    for frame in (shares, out_nodes, nodes):
        frame.unpersist()
    return ranks.withColumnRenamed("r", "pagerank")


def cardano_address_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Address importance on the transfer graph: (address, rank), most
    important first."""
    nodes = _lake(spark, "utxo").select(F.col("address").alias("node")).distinct()
    edges = transfer_edges(spark).withColumnsRenamed(
        {"sender": "src", "receiver": "dst"}
    )
    return (
        pagerank(nodes, edges)
        .select(F.col("node").alias("address"), "pagerank")
        .orderBy(F.col("pagerank").desc(), "address")
    )


QUERIES = {
    "cardano_address_clusters": cardano_address_clusters,
    "cardano_address_cluster_summary": cardano_address_cluster_summary,
    "cardano_address_pagerank": cardano_address_pagerank,
}


# The Spark side is an iterative fixpoint (label propagation), but its RESULT
# is still SQL-checkable: a recursive CTE enumerating the reachability
# closure over the identical co-spend edge set, then min-label per node —
# the same exact-oracle pattern as near_dup_doc_clusters (dedup.py).
# tests/test_graph.py additionally verifies against a union-find reference.
_ADDRESS_CLUSTERS_SQL = f"""
WITH RECURSIVE consumed AS (
  SELECT DISTINCT t.tx_id, u.address
  FROM (SELECT tx.tx_id, unnest(tx.inputs) AS r FROM {_scan('tx')} tx) t
  JOIN {_scan('utxo')} u
    ON u.tx_id = t.r.tx_id AND u.output_index = t.r.output_index
), hub AS (
  SELECT tx_id, min(address) AS hub FROM consumed GROUP BY tx_id
), pairs AS (
  SELECT DISTINCT h.hub AS addr_a, c.address AS addr_b
  FROM consumed c JOIN hub h ON c.tx_id = h.tx_id AND c.address <> h.hub
), edges AS (
  SELECT addr_a AS src, addr_b AS dst FROM pairs
  UNION SELECT addr_b, addr_a FROM pairs
), nodes AS (
  SELECT DISTINCT address AS node FROM {_scan('utxo')}
), reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT x.label AS component, count(*) AS n_addresses,
       array_to_string(list(node ORDER BY node), '|') AS members
FROM (SELECT node, min(label) AS label FROM reach GROUP BY node) x
GROUP BY x.label
ORDER BY component
"""

_ADDRESS_CLUSTER_SUMMARY_SQL = _ADDRESS_CLUSTERS_SQL.replace(
    """SELECT x.label AS component, count(*) AS n_addresses,
       array_to_string(list(node ORDER BY node), '|') AS members""",
    """SELECT x.label AS component, count(*) AS n_addresses,
       array_to_string((list(node ORDER BY node))[1:5], '|') AS member_sample""",
)

# PageRank oracle: the SAME power iteration unrolled into chained CTEs.
# Float discipline (why this hash-matches bit-for-bit): DuckDB decimal
# literals are DECIMAL, not DOUBLE — every constant is ::DOUBLE-cast so
# both engines run the identical IEEE op sequence; per-edge contributions
# and the dangling mass are quantized to int64 picounits before summing
# (associative, partitioning-independent), and each rank lands back on
# the 1e-12 grid.
def _pagerank_sql() -> str:
    parts = [
        f"""WITH consumed AS (
  SELECT DISTINCT t.tx_id, u.address AS sender
  FROM (SELECT tx.tx_id, unnest(tx.inputs) AS r FROM {_scan('tx')} tx) t
  JOIN {_scan('utxo')} u
    ON u.tx_id = t.r.tx_id AND u.output_index = t.r.output_index
), produced AS (
  SELECT DISTINCT tx_id, address AS receiver FROM {_scan('utxo')}
), pairs AS MATERIALIZED (
  SELECT sender, receiver, count(*) AS w
  FROM consumed c JOIN produced p USING (tx_id)
  WHERE sender <> receiver GROUP BY sender, receiver
), outw AS (SELECT sender, CAST(sum(w) AS BIGINT) AS ow FROM pairs GROUP BY sender),
shares AS MATERIALIZED (
  SELECT sender, receiver, (w::DOUBLE / ow::DOUBLE) AS share
  FROM pairs JOIN outw USING (sender)
), nodes AS MATERIALIZED (SELECT DISTINCT address AS node FROM {_scan('utxo')}),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, floor((1.0::DOUBLE / nd) * 1e12 + 0.5::DOUBLE) / 1e12 AS r
  FROM nodes, nn)"""
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(f"""c{t} AS MATERIALIZED (
  SELECT s.receiver AS node,
         CAST(sum(CAST(floor((r.r * s.share) * 1e12 + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS qsum
  FROM shares s JOIN r{t - 1} r ON r.node = s.sender GROUP BY s.receiver)""")
        parts.append(f"""d{t} AS MATERIALIZED (
  SELECT COALESCE(CAST(sum(CAST(floor(r * 1e12 + 0.5::DOUBLE) AS BIGINT)) AS BIGINT), 0) AS qd
  FROM r{t - 1} WHERE node NOT IN (SELECT sender FROM shares))""")
        parts.append(f"""r{t} AS MATERIALIZED (
  SELECT n.node,
         floor((((1.0::DOUBLE - 0.85::DOUBLE) / nn.nd)
                + 0.85::DOUBLE * ((COALESCE(c.qsum, 0)::DOUBLE / 1e12)
                                  + ((d.qd::DOUBLE / 1e12) / nn.nd))) * 1e12
               + 0.5::DOUBLE) / 1e12 AS r
  FROM nodes n LEFT JOIN c{t} c USING (node), d{t} d, nn)""")
    return (
        ",\n".join(parts)
        + f"""
SELECT node AS address, r AS pagerank FROM r{_PR_ITERS}
ORDER BY pagerank DESC, address
"""
    )


ORACLE: dict[str, str] = {
    "cardano_address_clusters": _ADDRESS_CLUSTERS_SQL,
    "cardano_address_cluster_summary": _ADDRESS_CLUSTER_SUMMARY_SQL,
    "cardano_address_pagerank": _pagerank_sql(),
}
