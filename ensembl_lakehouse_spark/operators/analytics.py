"""Column-analytics operators (EXT, SURVEY §2 agg/window family):
reshaping and statistics a lakehouse user reaches for right after
the relational basics.

Shapes the reference's Athena users write constantly that the
single-table surface (app/main.py:479) cannot express:

- ``unpivot_measures`` — wide→long melt, via the native
  ``DataFrame.unpivot`` (Spark 3.4+), not a UNION of scans.
- ``corr_price_qty`` — correlation + least-squares slope/intercept
  from EXACT decimal co-moments (the naive ``F.corr`` on doubles is
  partition-order-nondeterministic; this formulation is hash-stable
  by construction and teaches the map-side-moment pattern that
  scales: 6 numbers per group cross the shuffle, never the rows).
- ``histogram_totalprice`` — fixed-width binning; bucket index is
  integer math on the scan side so the shuffle carries |buckets|
  partial rows per task.
- ``window_percent_rank`` — percent_rank/cume_dist with a total
  (tie-broken) ordering, so ranks are reproducible run-to-run.
- ``basket_pairs`` — market-basket co-occurrence mining with the
  quadratic-guard basket cap.

Determinism rule: same as operators/relational.py — decimal
fixed-point accumulation, one double conversion at the end, the
identical arithmetic expression in the DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ensembl_lakehouse_spark.sources.tables import load_spread, load_table

_DEC = "decimal(12,2)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt lineitem's four measures into (measure, value) rows and
    aggregate per returnflag × measure — the wide→long reshape.

    Plan: ``unpivot`` is a map-side row-explode (one input row → 4
    output rows, no shuffle, no extra scan — the UNION-ALL
    formulation DuckDB runs scans the table 4×); the only exchange
    is the final 12-row aggregation. All four measures are cast to
    one DECIMAL type first (unpivot requires a common value type,
    and it keeps the sums exact).
    """
    # conditional l_orderkey spread (guide §2.5): parallelizes the
    # 4× unpivot fan-out + partial agg; decimal sums are invariant
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_returnflag",
        _dec("l_quantity").alias("quantity"),
        _dec("l_extendedprice").alias("extendedprice"),
        _dec("l_discount").alias("discount"),
        _dec("l_tax").alias("tax"),
    )
    return (
        li.unpivot(
            ["l_returnflag"],
            ["quantity", "extendedprice", "discount", "tax"],
            "measure",
            "value",
        )
        .groupBy("l_returnflag", "measure")
        .agg(
            F.sum("value").cast("double").alias("total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "measure")
    )


UNPIVOT_MEASURES_SQL = """
WITH long AS (
  SELECT l_returnflag, 'quantity' AS measure,
         CAST(l_quantity AS DECIMAL(12,2)) AS value FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice',
         CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount',
         CAST(l_discount AS DECIMAL(12,2)) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'tax',
         CAST(l_tax AS DECIMAL(12,2)) FROM lineitem
)
SELECT l_returnflag, measure,
       CAST(SUM(value) AS DOUBLE) AS total,
       COUNT(*) AS n_rows
FROM long
GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
"""


def corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and least-squares fit of extendedprice on
    quantity, per returnflag — computed from exact decimal
    co-moments (n, Σx, Σy, Σxy, Σx², Σy²), then combined in double
    with one closed-form expression.

    Why not ``F.corr``: it accumulates doubles in partition order —
    bitwise-nondeterministic across runs and unequal to DuckDB's
    accumulation order. The moment sums here are DECIMAL (exact,
    order-independent); only the final 5-operation combine runs in
    float, identically in both engines. This is also the 100 TB
    shape: moments merge associatively, so map-side partial agg
    sends 6 numbers per group per task across the wire.

    The 2^53 caveat (measured, not theoretical): when a co-moment
    sum's unscaled decimal exceeds 2^53, Spark's cast (BigDecimal →
    double, correctly rounded ONCE) and DuckDB's (int128 ÷ 10^scale
    in doubles — double-rounded) can differ in the last ulp — syy at
    sf0.001 really does. Spark's side is the correctly-rounded one
    and stays a plain cast; the DuckDB twin routes the cast through
    VARCHAR (decimal → exact digit string → strtod), which is also
    correctly rounded, so both engines produce the identical double
    for the identical exact rational.

    Conditional l_orderkey spread (guide §2.5): the decimal
    co-moment partial agg is exact and order-invariant BY
    CONSTRUCTION (that is this operator's whole point), so the
    spread is free to parallelize it."""
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey")
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    moments = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum((x * y).cast("decimal(25,4)")).cast("double").alias("sxy"),
            F.sum((x * x).cast("decimal(25,4)")).cast("double").alias("sxx"),
            F.sum((y * y).cast("decimal(25,4)")).cast("double").alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    cov_n = F.col("sxy") * n - F.col("sx") * F.col("sy")
    var_x_n = F.col("sxx") * n - F.col("sx") * F.col("sx")
    var_y_n = F.col("syy") * n - F.col("sy") * F.col("sy")
    return (
        moments.select(
            "l_returnflag",
            "n",
            (cov_n / F.sqrt(var_x_n * var_y_n)).alias("corr_xy"),
            (cov_n / var_x_n).alias("slope"),
            ((F.col("sy") - (cov_n / var_x_n) * F.col("sx")) / n).alias("intercept"),
        )
        .orderBy("l_returnflag")
    )


# DECIMAL→DOUBLE goes through VARCHAR below: DuckDB's direct cast
# double-rounds (int128 / 10^scale) and differs from Spark's
# correctly-rounded BigDecimal cast in the last ulp once the
# unscaled value passes 2^53; text→strtod is correctly rounded.
CORR_PRICE_QTY_SQL = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(25,4)))
                   AS VARCHAR) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(25,4)))
                   AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(25,4)))
                   AS VARCHAR) AS DOUBLE) AS syy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (sxy * CAST(n AS DOUBLE) - sx * sy)
         / sqrt((sxx * CAST(n AS DOUBLE) - sx * sx)
                * (syy * CAST(n AS DOUBLE) - sy * sy)) AS corr_xy,
       (sxy * CAST(n AS DOUBLE) - sx * sy)
         / (sxx * CAST(n AS DOUBLE) - sx * sx) AS slope,
       (sy - ((sxy * CAST(n AS DOUBLE) - sx * sy)
              / (sxx * CAST(n AS DOUBLE) - sx * sx)) * sx)
         / CAST(n AS DOUBLE) AS intercept
FROM m
ORDER BY l_returnflag
"""


#: Fixed histogram bin width for o_totalprice (fixture range ≈ 1e3..6e5).
HIST_BIN_WIDTH = 25_000


def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bucket index, count,
    and exact decimal mass per bucket.

    Plan: the bucket index is scan-side integer math (floor of a
    double division by an integer constant — identical rounding in
    both engines since both divide the same doubles), so partial
    aggregation collapses each task to |buckets| rows before the one
    exchange. This is the scalable histogram: no sort, no
    percentile state, output bounded by range/width.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("bucket_total"),
        )
        .select(
            "bucket",
            (F.col("bucket") * HIST_BIN_WIDTH).cast("double").alias("bucket_low"),
            "n_orders",
            "bucket_total",
        )
        .orderBy("bucket")
    )


HISTOGRAM_TOTALPRICE_SQL = f"""
SELECT CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS INT) AS bucket,
       CAST(CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS INT)
            * {HIST_BIN_WIDTH} AS DOUBLE) AS bucket_low,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bucket_total
FROM orders
GROUP BY 1
ORDER BY bucket
"""


def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of each supplier's balance within its
    nation: percent_rank + cume_dist over a TOTAL ordering
    (balance, then suppkey) so tied balances still rank
    deterministically — rank functions over a partial order are a
    run-to-run flake at any scale.

    Plan: one shuffle on s_nationkey (bounded cardinality — the
    standard skew caveat from window_topk_per_group applies), one
    in-partition sort, both rank functions evaluated in the same
    window pass. percent_rank = (rank−1)/(n−1) over integers —
    exact in both engines.
    """
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return (
        supp.select(
            "s_suppkey",
            "s_nationkey",
            "s_acctbal",
            F.percent_rank().over(w).alias("bal_pct_rank"),
            F.cume_dist().over(w).alias("bal_cume_dist"),
        )
        .orderBy("s_nationkey", "s_acctbal", "s_suppkey")
    )


WINDOW_PERCENT_RANK_SQL = """
SELECT s_suppkey, s_nationkey, s_acctbal,
       PERCENT_RANK() OVER w AS bal_pct_rank,
       CUME_DIST()   OVER w AS bal_cume_dist
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
ORDER BY s_nationkey, s_acctbal, s_suppkey
"""


#: Quadratic guard: orders with more distinct parts than this are
#: excluded from pair generation (pairs grow as items², exactly the
#: degenerate-bucket risk the dedup LSH caps guard against).
BASKET_MAX_ITEMS = 20
#: Pairs reported.
BASKET_TOP_N = 50


def capped_basket_items(
    spark: SparkSession, sf_dir: str, cap: int
) -> DataFrame:
    """The shared market-basket funnel: distinct (order, part) with
    baskets over ``cap`` items dropped — the quadratic guard every
    co-purchase consumer (basket_pairs, basket_rules,
    graph_link_predict, graph_kcore) must apply BEFORE its
    within-order self-join. One implementation so a change to the
    cap semantics can never reach only some of the four.

    Conditional l_orderkey spread (guide §2.5): one partitioning
    serves the distinct, the basket-size window AND the downstream
    within-order self-join (all cluster on l_orderkey), so the
    spread exchange replaces up to three and the funnel's map work
    runs 32-way instead of single-task on the fixture layout."""
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey")
    items = li.select("l_orderkey", "l_partkey").distinct()
    return (
        items.withColumn(
            "n_items", F.expr("count(*) OVER (PARTITION BY l_orderkey)")
        )
        .where(F.col("n_items") <= cap)
        .select("l_orderkey", "l_partkey")
    )


def capped_items_sql(cap: int, kept: str = "kept") -> str:
    """DuckDB twin of capped_basket_items: the items/sized/{kept}
    CTE prep fragment (caller supplies the WITH and what follows)."""
    return (
        "items AS (\n"
        "  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem\n"
        "), sized AS (\n"
        "  SELECT l_orderkey, l_partkey,\n"
        "         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_items\n"
        "  FROM items\n"
        f"), {kept} AS (\n"
        f"  SELECT l_orderkey, l_partkey FROM sized WHERE n_items <= {cap}\n"
        ")"
    )


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the BASKET_TOP_N most co-ordered
    part pairs with their support counts — the frequent-itemset /
    association primitive (recommendations, co-occurrence graphs).

    Plan: distinct (order, part) first — multiplicity within an
    order must not inflate support — then the within-order self-join
    (pk_a < pk_b halves the candidates and canonicalizes the pair),
    pair-count aggregation, TakeOrderedAndProject top-N. Both the
    distinct and the self-join key on l_orderkey, so Catalyst reuses
    ONE partitioning for the distinct and the join (the executed
    plan shows no exchange between them); the pair agg is the second
    shuffle.

    Scale guard: pairs per order grow quadratically in basket size,
    so baskets over BASKET_MAX_ITEMS items are excluded — the
    documented cap pattern shared with the LSH bucket caps
    (operators/dedup.py). At TPC-H shapes (≤7 items) the cap never
    binds; on retail data it is the difference between |orders|·k²
    and one pathological basket of 10⁵ items generating 10¹⁰ pairs.
    """
    # localCheckpoint (r11, guide §3.3): the capped lattice feeds BOTH
    # self-join sides, and without it each side re-runs the scan +
    # distinct + basket-size window (2 full subtree evaluations in the
    # executed plan). Materializing the ≤|orders|·cap lattice once
    # halves the pre-join work; the checkpoint keeps the l_orderkey
    # hash partitioning, so the self-join still shuffles neither side.
    sized = capped_basket_items(spark, sf_dir, BASKET_MAX_ITEMS).localCheckpoint()
    a = sized.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = sized.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(BASKET_TOP_N)
    )


BASKET_PAIRS_SQL = f"""
WITH {capped_items_sql(BASKET_MAX_ITEMS)}
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
FROM kept a
JOIN kept b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY support DESC, part_a, part_b
LIMIT {BASKET_TOP_N}
"""


# ---------------------------------------------------------------------------
# Association rules (round 5): confidence + lift over the basket lattice
# ---------------------------------------------------------------------------

#: Fixed-point scale for confidence (basis points) and lift.
RULES_SCALE = 10_000

#: Rules emitted (both directions of each supported pair compete).
RULES_TOP_N = 40


def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket lattice: for each directed
    pair antecedent→consequent, support, confidence (basis points)
    and lift (RULES_SCALE-scaled) — the step after basket_pairs that
    recommendation/affinity systems actually consume.

    Rides basket_pairs' capped distinct-(order, part) lattice (same
    BASKET_MAX_ITEMS guard, same one-partitioning self-join); item
    supports and the basket count are two more partial aggs of that
    lattice. The pair list is bounded (top RULES_TOP_N by support,
    both directions), so the supports join runs against a relation
    of ≤2·RULES_TOP_N rows — broadcast, never a fact-side shuffle.

    Determinism: confidence and lift use staged INTEGER division —
    ``(support·S) DIV supp_a`` then ``·N DIV supp_b`` — so no
    float ever accumulates; the staged order is part of the contract
    (documented asymmetry ≤1 ulp of the scale), and the same tree
    runs on both engines. Staging also keeps every intermediate
    under 2^63 at warehouse scale, where support·N·S alone would
    overflow (2.25e22 at 1.5e9 baskets).
    """
    # localCheckpoint (r11, guide §3.3): kept feeds FOUR consumers
    # (n_baskets, supp, both self-join sides) and pairs feeds both
    # directions of the rule union — uncheckpointed, the executed plan
    # ran the scan + distinct + basket-size window subtree 6× and the
    # entire pair self-join + top-N twice (14 parquet scans in the
    # executed plan). Each lattice now computes
    # once; pairs is ≤RULES_TOP_N rows, so its checkpoint is free.
    kept = capped_basket_items(spark, sf_dir, BASKET_MAX_ITEMS).localCheckpoint()
    n_baskets = kept.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    supp = kept.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("part_supp")
    )
    a = kept.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = kept.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(RULES_TOP_N)
        .localCheckpoint()
    )
    directed = pairs.selectExpr(
        "part_a AS antecedent", "part_b AS consequent", "support"
    ).unionByName(
        pairs.selectExpr(
            "part_b AS antecedent", "part_a AS consequent", "support"
        )
    )
    return (
        directed.join(
            F.broadcast(supp).withColumnRenamed("l_partkey", "antecedent")
            .withColumnRenamed("part_supp", "supp_a"),
            "antecedent",
        )
        .join(
            F.broadcast(supp).withColumnRenamed("l_partkey", "consequent")
            .withColumnRenamed("part_supp", "supp_b"),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
        .withColumn(
            "conf_bp", F.expr(f"(support * {RULES_SCALE}) DIV supp_a")
        )
        .withColumn(
            "lift_fp",
            F.expr(
                f"((support * {RULES_SCALE}) DIV supp_a) * n_baskets DIV supp_b"
            ),
        )
        .select(
            "antecedent", "consequent", "support", "supp_a", "supp_b",
            "conf_bp", "lift_fp",
        )
        .orderBy(F.desc("lift_fp"), "antecedent", "consequent")
    )


BASKET_RULES_SQL = f"""
WITH {capped_items_sql(BASKET_MAX_ITEMS)}, nb AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM kept
), supp AS (
  SELECT l_partkey, COUNT(*) AS part_supp FROM kept GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
  FROM kept a
  JOIN kept b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  ORDER BY support DESC, part_a, part_b
  LIMIT {RULES_TOP_N}
), directed AS (
  SELECT part_a AS antecedent, part_b AS consequent, support FROM pairs
  UNION ALL
  SELECT part_b AS antecedent, part_a AS consequent, support FROM pairs
)
SELECT d.antecedent, d.consequent, CAST(d.support AS BIGINT) AS support,
       CAST(sa.part_supp AS BIGINT) AS supp_a,
       CAST(sb.part_supp AS BIGINT) AS supp_b,
       CAST((d.support * {RULES_SCALE}) // sa.part_supp AS BIGINT) AS conf_bp,
       CAST(((d.support * {RULES_SCALE}) // sa.part_supp) * nb.n_baskets
            // sb.part_supp AS BIGINT) AS lift_fp
FROM directed d
JOIN supp sa ON sa.l_partkey = d.antecedent
JOIN supp sb ON sb.l_partkey = d.consequent
CROSS JOIN nb
ORDER BY lift_fp DESC, antecedent, consequent
"""
