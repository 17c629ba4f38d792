"""Graph analytics over the aggregated nation trade graph (EXT).

The reference has no graph capability (single-table SELECTs only,
app/main.py:431-447); training-data pipelines need graph shapes for
link-structure dedup (dedup_components is Hash-Min over a pair
graph), source-reputation scoring (PageRank over a domain citation
graph), and community/cluster audits (triangle density).

The graph here is the **nation-level trade graph**: a directed edge
``cust_nation → supp_nation`` for every lineitem whose order's
customer and supplier sit in those nations, aggregated to one row
per (src, dst) with trade counts. This is the aggregate-then-graph
pattern that makes 100 TB graph analytics tractable: the expensive
part is ONE fact-table aggregation (the same lineitem⋈orders shuffle
every TPC-H join query pays — customer/supplier/nation dims
broadcast); the resulting graph is dim-bounded (|nations|² edges at
most), so the iterative/self-join graph algorithms downstream run on
kilobytes regardless of fact volume. A web-scale domain graph works
the same way: aggregate 100 TB of pages to one edge row per
(src_domain, dst_domain), then iterate on the million-row edge list.

Determinism (cross-engine oracle): PageRank contributions are
rounded to fixed-point BIGINT **before** the per-destination SUM, so
Spark's unordered partial aggs and DuckDB's sequential scan sum the
same integers (embedding_kmeans / bm25_search trick); the rank
update's double arithmetic uses one shared expression template on
both sides, every fractional literal explicitly CAST to DOUBLE.
Iterations are unrolled (PR_ITERS fixed), making the whole
computation one lazy plan — the clustering.embedding_kmeans pattern
for oracle-checkable iterative algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.functions.stats import pearson_e6
from ensembl_lakehouse_spark.operators.analytics import (
    capped_basket_items,
    capped_items_sql,
)
from ensembl_lakehouse_spark.sources.tables import load_table

#: PageRank damping factor and unrolled iteration count.
PR_DAMP = 0.85
PR_ITERS = 3

#: Fixed-point scale for rank contributions (pico-units: rank values
#: are O(1/25), so 1e12 keeps ~8 significant digits per contribution).
PR_FP = 1_000_000_000_000


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, n_trades): directed nation→nation trade aggregate.

    lineitem⋈orders is the one fact-fact shuffle; customer is
    deliberately un-hinted (AQE broadcasts at fixture SFs, SF·150k
    rows at real scale want a shuffle join — the nation_trade_volume
    precedent, subqueries.py); supplier and both nation copies are
    unconditional broadcasts. Output is ≤ |nations|² rows.
    """
    nation = load_table(spark, sf_dir, "nation")
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey"), F.col("n_name").alias("src"))
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey"), F.col("n_name").alias("dst"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trades"))
    )


_TRADE_SQL = """
trade AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS n_trades
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  GROUP BY cn.n_name, sn.n_name
)
"""


def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation degree/strength profile of the trade graph
    (self-loops excluded): out/in degree (distinct partners) and
    out/in strength (total trades). The graph-health audit run
    before any iterative algorithm — skew in the degree distribution
    here is what predicts hot keys in the downstream self-joins."""
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("node")
    )
    # localCheckpoint: edges feed out_ AND in_ — uncheckpointed, the
    # fact aggregation runs once per reference (see graph_pagerank)
    edges = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    out_ = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("n_trades").alias("out_trades"),
    )
    in_ = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("n_trades").alias("in_trades"),
    )
    return (
        nation.join(F.broadcast(out_), "node", "left")
        .join(F.broadcast(in_), "node", "left")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("out_trades", F.lit(0)).alias("out_trades"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("in_trades", F.lit(0)).alias("in_trades"),
        )
        .orderBy("node")
    )


GRAPH_DEGREE_SQL = f"""
WITH {_TRADE_SQL},
edges AS (SELECT * FROM trade WHERE src <> dst),
o AS (
  SELECT src AS node, COUNT(*) AS out_degree,
         CAST(SUM(n_trades) AS BIGINT) AS out_trades
  FROM edges GROUP BY src
),
i AS (
  SELECT dst AS node, COUNT(*) AS in_degree,
         CAST(SUM(n_trades) AS BIGINT) AS in_trades
  FROM edges GROUP BY dst
)
SELECT n.n_name AS node,
       COALESCE(o.out_degree, 0) AS out_degree,
       COALESCE(o.out_trades, 0) AS out_trades,
       COALESCE(i.in_degree, 0) AS in_degree,
       COALESCE(i.in_trades, 0) AS in_trades
FROM nation n
LEFT JOIN o ON n.n_name = o.node
LEFT JOIN i ON n.n_name = i.node
ORDER BY node
"""


#: Shared rank-update expression templates (identical double trees in
#: both engines; fractional literals explicitly DOUBLE).
_CONTRIB_TEMPLATE = (
    "CAST(floor({rank} / {outdeg} * CAST({fp} AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_UPDATE_TEMPLATE = (
    "CAST({one_minus_d} AS DOUBLE) / {n}"
    " + CAST({d} AS DOUBLE) * (CAST({mass} AS BIGINT) / CAST({fp} AS DOUBLE))"
)


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed trade graph: PR_ITERS unrolled
    power iterations, damping PR_DAMP, uniform init 1/N.

    Dangling nations (no outgoing edges) leak their mass — the
    simplified formulation; ranks then sum to < 1, which is fine for
    *ranking*. The full formulation adds one extra 1-row aggregate
    per iteration (total dangling mass, redistributed uniformly).

    Plan per iteration: edges ⋈ ranks on src (both dim-bounded after
    the one fact aggregation) → fixed-point contribution per edge →
    per-dst SUM → left join back to the node list. Unrolled, the
    whole thing is one lazy plan; at domain-graph scale each
    iteration is one shuffle of |edges| pre-aggregated rows, exactly
    the Hash-Min loop shape of dedup_components.
    """
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("node")
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    # localCheckpoint: the unrolled iterations reference the edge
    # lattice (and the ranks chain built on it) several times EACH,
    # and Spark re-evaluates the whole upstream per reference with
    # no exchange reuse — the executed r10 plan had 312 fact scans /
    # 426 exchanges at PR_ITERS=3 (2^k subtree blowup, the same
    # failure mode the tiling module documents). Truncating lineage
    # at the ≤|nations|² aggregate is the "aggregate-then-graph,
    # checkpointed once" contract every OTHER graph operator here
    # already applies (kcore/link_predict/reciprocity); identical
    # rows, so results are unchanged.
    edges = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .localCheckpoint()
    )
    outdeg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint()
    )
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr("CAST(1 AS DOUBLE) / n").alias("rank"))
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .select(
                "dst",
                F.expr(
                    _CONTRIB_TEMPLATE.format(
                        rank="rank", outdeg="outdeg", fp=PR_FP
                    )
                ).alias("cfp"),
            )
        )
        mass = contrib.groupBy("dst").agg(F.sum("cfp").alias("m"))
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(F.broadcast(mass), nodes.node == mass.dst, "left")
            .select(
                "node",
                F.expr(
                    _UPDATE_TEMPLATE.format(
                        one_minus_d=1.0 - PR_DAMP,
                        d=PR_DAMP,
                        n="n",
                        mass="COALESCE(m, 0)",
                        fp=PR_FP,
                    )
                ).alias("rank"),
            )
        )
        # per-iteration 1-small-frame checkpoint (r11, the
        # embedding_kmeans precedent): ranks is |nations| rows, and
        # without it each execution replays every previous
        # iteration's contrib join/agg chain once per remaining
        # iteration. Values unchanged (deterministic chain).
        ranks = ranks.localCheckpoint()
    return ranks.select(
        "node",
        F.expr(
            f"CAST(floor(rank * CAST({PR_FP} AS DOUBLE)"
            f" + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("rank_fp"),
        "rank",
    ).orderBy("node")


def _pagerank_sql() -> str:
    parts = [
        f"WITH {_TRADE_SQL},",
        "nodes AS (SELECT n_name AS node FROM nation),",
        "nn AS (SELECT COUNT(*) AS n FROM nodes),",
        "edges AS (SELECT src, dst FROM trade WHERE src <> dst),",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),",
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank"
        " FROM nodes CROSS JOIN nn),",
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        contrib = _CONTRIB_TEMPLATE.format(
            rank="r.rank", outdeg="o.outdeg", fp=PR_FP
        )
        update = _UPDATE_TEMPLATE.format(
            one_minus_d=1.0 - PR_DAMP,
            d=PR_DAMP,
            n="nn.n",
            mass=f"COALESCE(c{i}.m, 0)",
            fp=PR_FP,
        )
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" CAST(SUM({contrib}) AS BIGINT) AS m"
            f" FROM edges e JOIN {prev} r ON e.src = r.node"
            f" JOIN outdeg o ON e.src = o.src GROUP BY e.dst),"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, {update} AS rank"
            f" FROM nodes CROSS JOIN nn"
            f" LEFT JOIN c{i} ON nodes.node = c{i}.node),"
        )
        prev = f"r{i}"
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node,"
        f" CAST(floor(rank * CAST({PR_FP} AS DOUBLE)"
        f" + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rank_fp,"
        f" rank FROM {prev} ORDER BY node"
    )
    return "\n".join(parts)


GRAPH_PAGERANK_SQL = _pagerank_sql()


#: Fixed-point rank rounding shared by the dangling-mass aggregate
#: and the final projection (identical double trees, both engines).
_RANK_FP_TEMPLATE = (
    "CAST(floor({rank} * CAST({fp} AS DOUBLE)"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)

_UPDATE_FULL_TEMPLATE = (
    "CAST({one_minus_d} AS DOUBLE) / {n}"
    " + CAST({d} AS DOUBLE) * (CAST({mass} AS BIGINT) / CAST({fp} AS DOUBLE)"
    " + CAST({dm} AS BIGINT) / CAST({fp} AS DOUBLE) / {n})"
)


def graph_pagerank_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution — the full
    formulation graph_pagerank's docstring names: per iteration the
    total rank sitting on dangling nodes (no out-edges once
    self-loops are dropped) is gathered by ONE 1-row aggregate and
    redistributed uniformly, so ranks form a true probability
    distribution (Σ rank = 1, asserted in tests/test_graph.py).

    rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)/outdeg(u) + dm/N),
    dm = Σ_{dangling u} rank(u).

    Determinism: dm is a cross-partition SUM of doubles, so each
    dangling rank is rounded to fixed-point BIGINT first (the
    bm25/kmeans rule) — both the per-dst mass and dm ride the plan
    as BIGINTs and are divided back exactly once inside the shared
    update template. Cost over the simplified form: one extra
    broadcast-size aggregate per iteration — at 100 TB that is one
    |dangling|-row partial-agg feeding a 1-row exchange, dwarfed by
    the |edges| contribution shuffle it rides next to.
    """
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("node")
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    # localCheckpoint — see graph_pagerank: the dangling-mass branch
    # references edges/outdeg/ranks a second time per iteration, so
    # the uncheckpointed 2^k subtree blowup is even steeper here
    # (the r10 executed plan re-ran the fact join 312×). Identical
    # rows, results unchanged.
    edges = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .localCheckpoint()
    )
    outdeg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint()
    )
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.expr("CAST(1 AS DOUBLE) / n").alias("rank"))
    )
    rank_fp = _RANK_FP_TEMPLATE.format(rank="rank", fp=PR_FP)
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .select(
                "dst",
                F.expr(
                    _CONTRIB_TEMPLATE.format(
                        rank="rank", outdeg="outdeg", fp=PR_FP
                    )
                ).alias("cfp"),
            )
        )
        mass = contrib.groupBy("dst").agg(F.sum("cfp").alias("m"))
        dangling = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum(F.expr(rank_fp)), F.lit(0)).alias("dm"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dangling))
            .join(F.broadcast(mass), nodes.node == mass.dst, "left")
            .select(
                "node",
                F.expr(
                    _UPDATE_FULL_TEMPLATE.format(
                        one_minus_d=1.0 - PR_DAMP,
                        d=PR_DAMP,
                        n="n",
                        mass="COALESCE(m, 0)",
                        dm="dm",
                        fp=PR_FP,
                    )
                ).alias("rank"),
            )
        )
        # per-iteration checkpoint — see graph_pagerank (the dangling
        # branch references ranks a second time per iteration, so the
        # replay here is steeper).
        ranks = ranks.localCheckpoint()
    return ranks.select(
        "node",
        F.expr(rank_fp).alias("rank_fp"),
        "rank",
    ).orderBy("node")


def _pagerank_full_sql() -> str:
    rank_fp = _RANK_FP_TEMPLATE.format(rank="r.rank", fp=PR_FP)
    parts = [
        f"WITH {_TRADE_SQL},",
        "nodes AS (SELECT n_name AS node FROM nation),",
        "nn AS (SELECT COUNT(*) AS n FROM nodes),",
        "edges AS (SELECT src, dst FROM trade WHERE src <> dst),",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),",
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank"
        " FROM nodes CROSS JOIN nn),",
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        contrib = _CONTRIB_TEMPLATE.format(
            rank="r.rank", outdeg="o.outdeg", fp=PR_FP
        )
        update = _UPDATE_FULL_TEMPLATE.format(
            one_minus_d=1.0 - PR_DAMP,
            d=PR_DAMP,
            n="nn.n",
            mass=f"COALESCE(c{i}.m, 0)",
            dm=f"d{i}.dm",
            fp=PR_FP,
        )
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" CAST(SUM({contrib}) AS BIGINT) AS m"
            f" FROM edges e JOIN {prev} r ON e.src = r.node"
            f" JOIN outdeg o ON e.src = o.src GROUP BY e.dst),"
        )
        parts.append(
            f"d{i} AS (SELECT CAST(COALESCE(SUM({rank_fp}), 0) AS BIGINT) AS dm"
            f" FROM {prev} r LEFT JOIN outdeg o ON r.node = o.src"
            f" WHERE o.src IS NULL),"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, {update} AS rank"
            f" FROM nodes CROSS JOIN nn CROSS JOIN d{i}"
            f" LEFT JOIN c{i} ON nodes.node = c{i}.node),"
        )
        prev = f"r{i}"
    parts[-1] = parts[-1].rstrip(",")
    final_fp = _RANK_FP_TEMPLATE.format(rank="rank", fp=PR_FP)
    parts.append(
        f"SELECT node, {final_fp} AS rank_fp, rank"
        f" FROM {prev} ORDER BY node"
    )
    return "\n".join(parts)


GRAPH_PAGERANK_FULL_SQL = _pagerank_full_sql()


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation count in the undirected
    trade graph — the local clustering signal used to audit
    community density (and, on a doc-pair graph, to distinguish
    boilerplate cliques from chance near-dup pairs).

    Canonical-order enumeration: undirected edges as a<b pairs, then
    the two-hop self-join e(a,b)⋈e(b,c)⋈e(a,c) with a<b<c counts
    every triangle exactly once. Per-node counts come from exploding
    each triangle's three corners. The self-join is on the
    dim-bounded aggregated graph; at domain-graph scale the standard
    degree-ordering optimization (orient edges low-degree→high)
    bounds the join fan-out.
    """
    # localCheckpoint: und feeds all three self-join sides —
    # uncheckpointed, the fact aggregation runs 3× (see
    # graph_pagerank)
    und = (
        _trade_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    # und is ≤ |nations|² rows: both self-joins broadcast it, pinned
    # at planning. Left to AQE, each side was shuffled first and the
    # joins turned into broadcasts at runtime, in an order that
    # depended on which stage finished first, so the plan's shuffle
    # count varied between runs.
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e1.b") == F.col("e2.a"))
        .join(
            F.broadcast(e3),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("node")
    )
    return (
        nodes.join(F.broadcast(per_node), "node", "left")
        .select("node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
        .orderBy("node")
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_TRADE_SQL},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM trade WHERE src <> dst
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT unnest([x, y, z]) AS node FROM tri
),
per_node AS (
  SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
)
SELECT n.n_name AS node, COALESCE(p.n_triangles, 0) AS n_triangles
FROM nation n
LEFT JOIN per_node p ON n.n_name = p.node
ORDER BY node
"""


# ---------------------------------------------------------------------------
# Link prediction on the part co-purchase graph (round 5 cont.)
# ---------------------------------------------------------------------------

#: Baskets larger than this are dropped before pairing (the
#: analytics.basket_pairs quadratic guard, same rationale).
LINKPRED_BASKET_CAP = 20

#: Minimum co-purchase count for a pair to become a graph edge.
#: Support-1 pairs are coincidence noise AND the volume majority
#: (sf0.1: 1.19M of 1.20M pairs) — at 100 TB they would dominate
#: every downstream join while contributing no signal.
LINKPRED_MIN_SUPPORT = 2

#: Per-node adjacency cap: each node keeps only its strongest
#: LINKPRED_NEIGHBOR_CAP neighbors (out-cap), and each node may be
#: KEPT by at most LINKPRED_NEIGHBOR_CAP others (in-cap) — the
#: second cap is what actually bounds the wedge join, because a
#: popular node's in-links are unbounded no matter how its own list
#: is capped (measured: sf0.1 sum(indeg^2) = 108M wedge rows
#: without the in-cap, and the out-cap alone cannot prevent it).
LINKPRED_NEIGHBOR_CAP = 50

#: Predictions reported.
LINKPRED_TOP_N = 20


def graph_link_predict(
    spark: SparkSession, sf_dir: str, *, top_n: int = LINKPRED_TOP_N
) -> DataFrame:
    """Common-neighbor link prediction on the part co-purchase
    graph: for part pairs NOT yet bought together, count shared
    co-purchase neighbors and rank by neighbor-Jaccard — the
    "customers also bought" candidate generator, and the same shape
    (two-hop wedge join) a doc-similarity graph uses for related-
    document suggestions.

    Scale is governed by a support floor and three deterministic
    caps: baskets over LINKPRED_BASKET_CAP items are dropped before
    pairing (quadratic guard — analytics.basket_pairs:273); pairs
    below LINKPRED_MIN_SUPPORT co-purchases never become edges
    (support-1 pairs are noise and 99% of pair volume at sf0.1);
    each node keeps its LINKPRED_NEIGHBOR_CAP strongest neighbors
    (out-cap); and each node is kept BY at most
    LINKPRED_NEIGHBOR_CAP others (in-cap — the cap that actually
    bounds the wedge join at CAP² rows per shared neighbor; without
    it a popular node's in-degree is unbounded and sum(indeg²)
    measured 108M wedge rows at sf0.1). All cap orderings are
    (co_count DESC, key ASC) row_numbers, so the kept sets are
    bit-identical cross-engine. Jaccard is integer basis points
    over capped degrees; the known-edge exclusion is a left-anti
    join against ALL co-purchased pairs (any support).

    Plan: basket lattice distinct + per-order cap window + pair agg
    (checkpointed once, reused by the support filter and the anti
    join), out-cap and in-cap windows, wedge equi-join on the
    shared neighbor, candidate agg, anti join, bounded top-N.
    """
    # localCheckpoints (r11, guide §3.3): sized feeds both self-join
    # sides (the funnel ran twice); kept feeds deg AND inv; inv feeds
    # both wedge sides; deg feeds both score joins. Each dim-bounded
    # lattice now materializes once.
    sized = capped_basket_items(
        spark, sf_dir, LINKPRED_BASKET_CAP
    ).localCheckpoint()
    pairs = (
        sized.alias("a")
        .join(sized.alias("b"), "l_orderkey")
        .where(F.expr("a.l_partkey < b.l_partkey"))
        .groupBy(
            F.expr("a.l_partkey").alias("part_a"),
            F.expr("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_count"))
        .localCheckpoint()
    )
    edges = pairs.where(F.col("co_count") >= LINKPRED_MIN_SUPPORT)
    adj = edges.selectExpr(
        "part_a AS node", "part_b AS nbr", "co_count"
    ).unionAll(edges.selectExpr("part_b AS node", "part_a AS nbr", "co_count"))
    kept = (
        adj.withColumn(
            "rk",
            F.expr(
                "row_number() OVER (PARTITION BY node "
                "ORDER BY co_count DESC, nbr ASC)"
            ),
        )
        .where(F.col("rk") <= LINKPRED_NEIGHBOR_CAP)
        .select("node", "nbr", "co_count")
        .localCheckpoint()
    )
    deg = kept.groupBy("node").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint()
    inv = (
        kept.withColumn(
            "rk",
            F.expr(
                "row_number() OVER (PARTITION BY nbr "
                "ORDER BY co_count DESC, node ASC)"
            ),
        )
        .where(F.col("rk") <= LINKPRED_NEIGHBOR_CAP)
        .selectExpr("nbr AS x", "node")
        .localCheckpoint()
    )
    wedges = (
        inv.selectExpr("x", "node AS part_a")
        .join(inv.selectExpr("x", "node AS part_b"), "x")
        .where(F.expr("part_a < part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    candidates = wedges.join(
        pairs.select("part_a", "part_b"), ["part_a", "part_b"], "left_anti"
    )
    scored = (
        candidates.join(
            deg.selectExpr("node AS part_a", "deg AS deg_a"), "part_a"
        )
        .join(deg.selectExpr("node AS part_b", "deg AS deg_b"), "part_b")
        .withColumn(
            "jaccard_bp",
            F.expr("(common * 10000) DIV (deg_a + deg_b - common)"),
        )
    )
    return (
        scored.select(
            "part_a", "part_b", "common", "deg_a", "deg_b", "jaccard_bp"
        )
        .orderBy(
            F.desc("jaccard_bp"), F.desc("common"), "part_a", "part_b"
        )
        .limit(top_n)
    )


GRAPH_LINK_PREDICT_SQL = f"""
WITH {capped_items_sql(LINKPRED_BASKET_CAP, kept='kept_items')}, pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS co_count
  FROM kept_items a
  JOIN kept_items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), edges AS (
  SELECT part_a, part_b, co_count FROM pairs
  WHERE co_count >= {LINKPRED_MIN_SUPPORT}
), adj AS (
  SELECT part_a AS node, part_b AS nbr, co_count FROM edges
  UNION ALL
  SELECT part_b AS node, part_a AS nbr, co_count FROM edges
), kept AS (
  SELECT node, nbr, co_count FROM (
    SELECT node, nbr, co_count,
           row_number() OVER (PARTITION BY node
                              ORDER BY co_count DESC, nbr ASC) AS rk
    FROM adj)
  WHERE rk <= {LINKPRED_NEIGHBOR_CAP}
), deg AS (
  SELECT node, COUNT(*) AS deg FROM kept GROUP BY 1
), inv AS (
  SELECT nbr AS x, node FROM (
    SELECT nbr, node,
           row_number() OVER (PARTITION BY nbr
                              ORDER BY co_count DESC, node ASC) AS rk
    FROM kept)
  WHERE rk <= {LINKPRED_NEIGHBOR_CAP}
), wedges AS (
  SELECT a.part_a, b.part_b, COUNT(*) AS common
  FROM (SELECT x, node AS part_a FROM inv) a
  JOIN (SELECT x, node AS part_b FROM inv) b
    ON a.x = b.x AND a.part_a < b.part_b
  GROUP BY 1, 2
), candidates AS (
  SELECT w.part_a, w.part_b, w.common
  FROM wedges w
  ANTI JOIN pairs p ON w.part_a = p.part_a AND w.part_b = p.part_b
)
SELECT c.part_a, c.part_b, CAST(c.common AS BIGINT) AS common,
       da.deg AS deg_a, db.deg AS deg_b,
       CAST((c.common * 10000) // (da.deg + db.deg - c.common) AS BIGINT)
         AS jaccard_bp
FROM candidates c
JOIN deg da ON da.node = c.part_a
JOIN deg db ON db.node = c.part_b
ORDER BY jaccard_bp DESC, common DESC, c.part_a, c.part_b
LIMIT {LINKPRED_TOP_N}
"""


# ---------------------------------------------------------------------------
# Edge reciprocity (round 6)
# ---------------------------------------------------------------------------


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-nation edge reciprocity on the directed trade
    graph: how many of a nation's outgoing trade edges have a
    reciprocal edge back, in basis points — the symmetric-flow
    audit (a low-reciprocity hub exports without importing).

    Plan: the shared trade aggregation (<=|nations|² rows) self-joins
    against its reversed copy (broadcast — the graph relation is
    dimension-bounded) and rolls up per src. Self-loops are excluded
    (trivially reciprocal).
    """
    # localCheckpoint: edges feed both the probe side and the
    # reversed broadcast copy (see graph_pagerank)
    edges = _trade_edges(spark, sf_dir).where("src <> dst").localCheckpoint()
    rev = edges.select(
        F.col("src").alias("r_dst"), F.col("dst").alias("r_src")
    )
    return (
        edges.join(
            F.broadcast(rev),
            (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
            "left",
        )
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_edges"),
            F.sum(F.when(F.col("r_src").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("reciprocated"),
        )
        .withColumn(
            "reciprocity_bp", F.expr("(reciprocated * 10000) DIV out_edges")
        )
        .orderBy("src")
    )


GRAPH_RECIPROCITY_SQL = f"""
WITH {_TRADE_SQL}, e AS (
  SELECT src, dst FROM trade WHERE src <> dst
)
SELECT e.src,
       CAST(COUNT(*) AS BIGINT) AS out_edges,
       CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS reciprocated,
       (CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         * 10000) // CAST(COUNT(*) AS BIGINT) AS reciprocity_bp
FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src
GROUP BY e.src
ORDER BY e.src
"""


# ---------------------------------------------------------------------------
# Adaptive k-core decomposition (unrolled peeling)
# ---------------------------------------------------------------------------

#: Peel iterations unrolled into the one lazy plan (like PR_ITERS).
KCORE_ROUNDS = 3
#: Minimum co-purchase support for an edge (noise floor — a pair
#: ordered together once is not a relationship).
KCORE_SUPPORT = 2
#: Quadratic guard on basket size (basket_pairs' documented cap).
KCORE_BASKET_CAP = 20


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) co-purchase edge list with the
    KCORE_SUPPORT noise floor, checkpointed — ONE builder shared by
    graph_kcore and graph_assortativity so the two structural
    reports provably describe the same graph (the capped_basket_items
    rule, one layer up)."""
    # localCheckpoint (r11, guide §3.3): sized feeds both self-join
    # sides — uncheckpointed, the distinct + basket-cap window funnel
    # ran twice (the basket_pairs fix, one layer down).
    sized = capped_basket_items(
        spark, sf_dir, KCORE_BASKET_CAP
    ).localCheckpoint()
    a = sized.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = sized.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= KCORE_SUPPORT)
        .select("pa", "pb")
        .localCheckpoint(eager=False)
    )


def _copurchase_sql() -> str:
    """DuckDB twin: the capped-items prep + e0 edge CTE fragment."""
    return (
        capped_items_sql(KCORE_BASKET_CAP)
        + f""", e0 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM kept a JOIN kept b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {KCORE_SUPPORT}
)"""
    )


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive k-core peeling on the part co-purchase graph: pick
    k as the 75th-percentile round-0 degree, then run KCORE_ROUNDS
    peel iterations (drop nodes with degree < k, drop edges touching
    a dropped node, repeat) and report the shrinking (nodes, edges)
    per round — the standard dense-subgraph extractor (spam-cluster
    mining on link graphs, "core community" detection, and the
    candidate filter before expensive clique-ish analytics).

    k is data-adaptive (a percentile of the degree distribution)
    instead of a constant because a meaningful absolute core number
    scales with corpus density — the exact percentile is ONE ordered
    row_number pick over the dim-bounded degree table, fully
    deterministic (ties broken by the total (deg, node) order).

    Exactness: every quantity is an integer COUNT; no floats exist.
    Peeling is unrolled (graph_pagerank's fixed-iteration pattern)
    so one lazy plan exists and a CTE-chain oracle can mirror it
    step for step. True k-core runs peeling to fixpoint; a fixed
    unroll is the oracle-compatible prefix and each round is pinned
    monotone non-increasing in pytest.

    Plan: the expensive step is the ONE basket self-join funnel
    (distinct (order, part) → windowed basket cap → within-order
    pair join → support agg), identical to analytics.basket_pairs
    and bounded by cap²·|orders| pair rows; its output is
    localCheckpoint'd so the four round summaries and three peels
    iterate on the materialized dim-bounded edge list instead of
    re-running the funnel per branch (the dedup_near re-execution
    fix). Each peel is two semi-joins + one degree agg over
    |edges| rows.
    """
    edges = _copurchase_edges(spark, sf_dir)

    def degrees(e: DataFrame) -> DataFrame:
        ends = e.select(F.col("pa").alias("node")).unionAll(
            e.select(F.col("pb").alias("node"))
        )
        return ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))

    deg0 = degrees(edges)
    # lazy localCheckpoint (r11, guide §3.3): k is referenced by every
    # round summary AND every peel filter (7 references) — each one
    # re-ran the degree aggregation + percentile window over the edge
    # list. The 1-row k relation materializes on first use.
    k_df = (
        deg0.withColumn(
            "rn",
            F.expr("row_number() OVER (ORDER BY deg ASC, node ASC)"),
        )
        .withColumn("n", F.expr("count(*) OVER ()"))
        .where("rn = (n * 3) DIV 4 + 1")
        .select(F.col("deg").alias("k"))
        .localCheckpoint(eager=False)
    )

    def summary(e: DataFrame, rnd: int) -> DataFrame:
        n_nodes = degrees(e).agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        )
        n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        return (
            n_nodes.crossJoin(n_edges)
            .crossJoin(k_df)
            .select(
                F.lit(rnd).cast("long").alias("round"),
                "k", "n_nodes", "n_edges",
            )
        )

    out = [summary(edges, 0)]
    cur = edges
    for rnd in range(1, KCORE_ROUNDS + 1):
        keep = (
            degrees(cur)
            .crossJoin(k_df)
            .where("deg >= k")
            .select("node")
        )
        cur = (
            cur.join(keep.withColumnRenamed("node", "pa"), "pa", "semi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "semi")
            .select("pa", "pb")
            .localCheckpoint(eager=False)
        )
        out.append(summary(cur, rnd))
    res = out[0]
    for s in out[1:]:
        res = res.unionAll(s)
    return res.orderBy("round")


def _kcore_sql() -> str:
    """CTE-chain oracle mirroring the unrolled peel step for step."""
    prep = f"""
WITH {_copurchase_sql()}, d0 AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0
  ) GROUP BY node
), kv AS (
  SELECT deg AS k FROM (
    SELECT deg, row_number() OVER (ORDER BY deg ASC, node ASC) AS rn,
           COUNT(*) OVER () AS n
    FROM d0
  ) WHERE rn = (n * 3) // 4 + 1
)"""
    chain = []
    for r in range(1, KCORE_ROUNDS + 1):
        p, c = f"e{r - 1}", f"e{r}"
        # MATERIALIZED: each e{r} references keep{r} twice and
        # keep{r} references e{r-1} twice, so DuckDB's CTE inlining
        # expanded the chain ~4^r ways at BIND time — EXPLAIN alone
        # took 94 s (the whole oracle-binds test's cost). The hint
        # pins one evaluation per CTE; results are unchanged.
        chain.append(f""", keep{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      SELECT pa AS node FROM {p} UNION ALL SELECT pb FROM {p}
    ) GROUP BY node
  ), kv WHERE deg >= kv.k
), {c} AS MATERIALIZED (
  SELECT pa, pb FROM {p}
  WHERE pa IN (SELECT node FROM keep{r})
    AND pb IN (SELECT node FROM keep{r})
)""")
    selects = []
    for r in range(0, KCORE_ROUNDS + 1):
        selects.append(f"""SELECT CAST({r} AS BIGINT) AS round, kv.k,
  (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM (
     SELECT pa AS node FROM e{r} UNION ALL SELECT pb FROM e{r})) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges
FROM kv""")
    return prep + "".join(chain) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round"


GRAPH_KCORE_SQL = _kcore_sql()


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------

def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the part co-purchase
    graph (graph_kcore's edge set): the Pearson correlation of the
    degrees at the two ends of every edge — positive means hubs buy
    with hubs (assortative retail ecosystems), negative means
    hub-and-spoke (star-shaped catalogs). The one-number structural
    summary next to kcore's density profile, and the standard check
    before trusting degree-based sampling or PageRank-ish scores on
    a graph (both behave differently on dis/assortative graphs).

    The standard trick for undirected graphs: list every edge in
    BOTH orientations, then x = deg(source end), y = deg(target
    end); the moment sums are exactly symmetric (sx = sy, sxx =
    syy) and Pearson over the doubled edge list is the textbook
    Newman r. All moments are BIGINT (degrees are counts); the one
    float step is the shared pearson_e6 template.

    Plan: the capped basket funnel (shared, checkpointed) → degree
    agg over 2|edges| endpoint rows → a broadcast deg join back to
    the doubled edge list → ONE 1-row moment aggregate.
    """
    edges = _copurchase_edges(spark, sf_dir)
    both = edges.selectExpr("pa AS u", "pb AS w").unionAll(
        edges.selectExpr("pb AS u", "pa AS w")
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.selectExpr("u", "d AS x")
    dw = deg.selectExpr("u AS w", "d AS y")
    paired = both.join(du, "u").join(dw, "w")
    mom = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return (
        mom.where(
            "n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
        )
        .withColumn("assortativity_e6", F.expr(pearson_e6()))
        .select("n", "sx", "sxy", "sxx", "assortativity_e6")
    )


GRAPH_ASSORTATIVITY_SQL = f"""
WITH {_copurchase_sql()}, both_dir AS (
  SELECT pa AS u, pb AS w FROM e0
  UNION ALL
  SELECT pb AS u, pa AS w FROM e0
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM both_dir GROUP BY u
), paired AS (
  SELECT du.d AS x, dw.d AS y
  FROM both_dir
  JOIN deg du ON both_dir.u = du.u
  JOIN deg dw ON both_dir.w = dw.u
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM paired
)
SELECT n, sx, sxy, sxx, {pearson_e6()} AS assortativity_e6
FROM mom
WHERE n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


# ---------------------------------------------------------------------------
# Nation trade lift (observed vs expected under independence)
# ---------------------------------------------------------------------------

def nation_trade_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-affinity lift on the nation→nation trade matrix:
    observed/expected in basis points, where expected assumes the
    customer nation and supplier nation are independent
    (row_total · col_total / grand_total) — the PMI-style "who
    actually prefers trading with whom" screen that raw volumes
    (nation_trade_volume) can't show because big economies dominate
    every cell. 10000 = exactly as expected; the interesting rows
    are the far tails.

    Integer-exact: lift_bp = (n · total · 10000) DIV (row_tot ·
    col_tot) — all BIGINT (n·total ≤ ~4·10¹⁵ at 100× fixtures,
    three orders of headroom under 2⁶³).

    Plan: the ONE fact-fact aggregation every trade query shares
    (lineitem⋈orders, dims broadcast) funnels to ≤|nations|² rows;
    both marginal windows and the final projection run on that tiny
    matrix with no further exchange beyond the two window keys.
    """
    trade = _trade_edges(spark, sf_dir)
    return (
        trade.withColumn(
            "row_tot", F.expr("SUM(n_trades) OVER (PARTITION BY src)")
        )
        .withColumn(
            "col_tot", F.expr("SUM(n_trades) OVER (PARTITION BY dst)")
        )
        .withColumn("total", F.expr("SUM(n_trades) OVER ()"))
        .withColumn(
            "lift_bp",
            F.expr(
                "CAST((CAST(n_trades AS DECIMAL(38,0)) * total * 10000) "
                "DIV (CAST(row_tot AS DECIMAL(38,0)) * col_tot) AS BIGINT)"
            ),
        )
        .select("src", "dst", "n_trades", "lift_bp")
        .orderBy("src", "dst")
    )


NATION_TRADE_LIFT_SQL = f"""
WITH {_TRADE_SQL},
scored AS (
  SELECT src, dst, CAST(n_trades AS BIGINT) AS n_trades,
         CAST(SUM(n_trades) OVER (PARTITION BY src) AS BIGINT) AS row_tot,
         CAST(SUM(n_trades) OVER (PARTITION BY dst) AS BIGINT) AS col_tot,
         CAST(SUM(n_trades) OVER () AS BIGINT) AS total
  FROM trade
)
SELECT src, dst, n_trades,
       CAST((CAST(n_trades AS HUGEINT) * total * 10000)
            // (CAST(row_tot AS HUGEINT) * col_tot) AS BIGINT) AS lift_bp
FROM scored
ORDER BY src, dst
"""
