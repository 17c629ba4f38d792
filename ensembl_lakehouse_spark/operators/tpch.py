"""Classic TPC-H query shapes on the fixture schema (EXT, SURVEY §2
joins/agg family).

The reference's own surface is single-table SELECT-project-filter
(app/main.py:479 builds ``SELECT {fields} FROM {table} WHERE ...``),
but its users run exactly these shapes through Athena on the same
lake. Together with operators/subqueries.py (Q4/Q7/Q8/Q13/Q15/Q17/
Q21) and relational.py's Q1/Q5 twins, this module completes ALL 22
classic TPC-H shapes on the fixture schema: Q2/Q3/Q6/Q9/Q10/Q11/
Q12/Q14/Q16/Q18/Q19/Q20/Q22.

Fixture adaptations (documented, deliberate):

- There is no ``partsupp`` table, so the supplier⇄part relation for
  Q2/Q11/Q16/Q20 is derived from distinct ``(l_partkey, l_suppkey)``
  pairs in lineitem — same join lattice, same decorrelation
  patterns, observable relation instead of the catalog one.
- No ``l_shipmode``/``l_commitdate``/``l_receiptdate``: Q12's
  late-shipment split is defined against ``o_orderdate + N days``
  (same convention as subqueries.LATE_DAYS).
- No ``ps_supplycost``: Q9's profit uses a retail-price cost proxy
  (``0.10 × p_retailprice × l_quantity``) — the arithmetic shape
  (revenue − cost inside one agg) is unchanged.
- No ``c_phone``: Q22's country code is ``c_nationkey``.

Determinism rule (module-wide, same as operators/relational.py):
every SUM accumulates DECIMAL(12,2)-derived fixed-point values and
converts to double exactly once at the end, so Spark's
partition-order-dependent double addition can never flake the
oracle's value hash.

Scale notes are per-operator; the common one: lineitem⋈orders is
the only unavoidable fact⋈fact shuffle, dimension joins stay
broadcast *only* where the dimension is bounded (region/nation/
supplier); part and customer are SF-proportional, so those joins are
deliberately un-hinted — AQE broadcasts them at fixture SFs and
sort-merges at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.sources.tables import load_spread, load_table

_DEC = "decimal(12,2)"


def _dec(col: str):
    return F.col(col).cast(_DEC)


def _vol():
    """extendedprice × (1 − discount), exact in DECIMAL."""
    return _dec("l_extendedprice") * (F.lit(1).cast(_DEC) - _dec("l_discount"))


_VOL_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) "
    "* (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)


# ---------------------------------------------------------------- Q3

def ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 highest-revenue orders not yet shipped —
    BUILDING-segment customers, ordered before / shipped after the
    cutoff.

    Plan: the segment filter reduces customer to ~1/5 before its
    join; orders semi-joins against those keys (semi: the customer
    row content is never carried into the fact shuffle), then the
    one lineitem⋈orders shuffle, partial agg per order, and a
    driver-side top-10 via TakeOrderedAndProject — no global sort
    materializes at any scale. The customer join is un-hinted
    (SF·150k rows: AQE broadcasts at fixture SF, shuffles at 100 TB).
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit("1998-01-01"))
        .join(cust, F.col("o_custkey") == cust.c_custkey, "left_semi")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_spread(spark, sf_dir, "lineitem", "l_orderkey")
        .where(F.col("l_shipdate") > F.lit("1998-01-01"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_vol()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SHIP_PRIORITY_SQL = f"""
SELECT l_orderkey,
       CAST(SUM({_VOL_SQL}) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------- Q6

def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: what-if revenue delta — discount × price over a
    one-year, mid-discount, small-quantity slice. The canonical
    pushdown probe: every predicate lands in the parquet scan
    (PushedFilters shows all three ranges), the plan is scan →
    2-column project → single global agg. Map-side partial agg means
    one row crosses the final exchange per task regardless of SF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


REVENUE_FORECAST_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS promo_revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= CAST(0.05 AS DOUBLE)
  AND l_discount <= CAST(0.07 AS DOUBLE)
  AND l_quantity < 24
"""


# ---------------------------------------------------------------- Q9

def nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): per supplier nation × order
    year, profit on parts whose name contains "red", where profit =
    volume − 0.10·p_retailprice·l_quantity (retail-cost proxy; the
    fixture has no ps_supplycost).

    Plan: the p_name filter prunes part *before* its join so ~5/6 of
    lineitem drops before the orders shuffle; supplier and nation
    are bounded dims → broadcast. Profit terms multiply exactly in
    DECIMAL (scales add, no rounding), are narrowed to DECIMAL(18,6)
    (lossless: |amount| < 1e12) so the SUM accumulator type is
    identical in Spark and DuckDB, and convert to double once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (
        _vol()
        - _dec("p_retailprice") * _dec("l_quantity") * F.lit("0.10").cast("decimal(3,2)")
    ).cast("decimal(18,6)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).alias("sum_profit_d"))
        .select(
            "nation", "o_year", F.col("sum_profit_d").cast("double").alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


NATION_PROFIT_SQL = f"""
WITH j AS (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         CAST({_VOL_SQL}
              - CAST(p.p_retailprice AS DECIMAL(12,2))
                * CAST(l.l_quantity AS DECIMAL(12,2))
                * CAST(0.10 AS DECIMAL(3,2))
              AS DECIMAL(18,6)) AS amount_d
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT nation, o_year, CAST(SUM(amount_d) AS DOUBLE) AS sum_profit
FROM j
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------- Q10

def returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter of orders.

    Plan: the quarter filter prunes orders in the scan; lineitem's
    R-flag filter likewise; the one fact⋈fact shuffle joins the two
    reduced sides, then customer (un-hinted, SF-proportional) and
    nation (broadcast). Top-20 via TakeOrderedAndProject.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(F.sum(_vol()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


RETURNED_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name,
       CAST(SUM({_VOL_SQL}) AS DOUBLE) AS revenue,
       c_acctbal, n_name AS nation
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------- Q12

#: Days after order date a shipment counts as late (shared
#: convention with subqueries.LATE_DAYS; fixture has no commitdate).
Q12_LATE_DAYS = 60


def late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: does late shipping correlate with order
    priority? Two output rows (late / ontime), each with
    critical-priority vs other-priority lineitem counts — the
    conditional-aggregation pivot over a fact⋈fact join.

    Plan: one lineitem⋈orders shuffle (only 3 columns of each side
    survive the scan), map-side partial agg collapses to 2 rows
    before the final exchange. Integer counts only — nothing to
    flake.
    """
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q12_LATE_DAYS)
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.when(late, "late").otherwise("ontime").alias("ship_bucket"))
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


LATE_PRIORITY_SQL = f"""
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
            THEN 'late' ELSE 'ontime' END AS ship_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY ship_bucket
"""


# --------------------------------------------------------------- Q14

def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO-part share of revenue per month of 1996 —
    conditional aggregation over the lineitem⋈part join.

    Plan: shipdate range pushes into the lineitem scan; part is
    un-hinted (SF·200k at real scale). Both the promo and total sums
    accumulate DECIMAL in ONE pass — the textbook formulation's two
    scans fused into conditional aggregation — and the percentage
    divides once in double.
    """
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast(_DEC)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", _vol()).otherwise(zero)).alias(
                "promo_d"
            ),
            F.sum(_vol()).alias("total_d"),
        )
        .select(
            "ship_month",
            (
                F.lit(100.0)
                * F.col("promo_d").cast("double")
                / F.col("total_d").cast("double")
            ).alias("promo_pct"),
            F.col("total_d").cast("double").alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


PROMO_REVENUE_SQL = f"""
SELECT month(l_shipdate) AS ship_month,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_VOL_SQL}
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM({_VOL_SQL}) AS DOUBLE) AS promo_pct,
       CAST(SUM({_VOL_SQL}) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY ship_month
"""


# --------------------------------------------------------------- Q18

#: Minimum total quantity for an order to count as large-volume.
Q18_QTY_CUT = 250


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with any order whose total quantity
    exceeds the cut — the IN-(grouped-HAVING-subquery) shape,
    decorrelated to aggregate-then-join.

    Plan: lineitem pre-aggregates per order FIRST (partial agg → one
    shuffle keyed on l_orderkey, output |orders| rows) and the
    HAVING filter drops all but a handful *before* any join —
    the naive IN-subquery form would shuffle the full lineitem into
    the orders join. The surviving keys join orders then customer
    (both un-hinted; the survivor side is tiny so AQE broadcasts it
    against each).
    """
    li = load_spread(spark, sf_dir, "lineitem", "l_orderkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty_d"))
        .where(F.col("sum_qty_d") > F.lit(Q18_QTY_CUT).cast(_DEC))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sum_qty_d").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


LARGE_VOLUME_CUSTOMERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty_d
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST({Q18_QTY_CUT} AS DECIMAL(12,2))
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qty_d AS DOUBLE) AS sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------- Q19

def disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under three OR-ed brand/size/quantity
    bands — the disjunctive-predicate probe. The join key condition
    (l_partkey = p_partkey) is conjunctive and shared, so Catalyst
    runs ONE equi-join and evaluates the disjunction post-join
    (CNF extraction keeps the common conjunct in the join); a
    literal reading would union three separate joins.

    Plan: part is un-hinted; the disjunction's brand/size arms push
    into the part scan (OR of pushable conjuncts is pushable), the
    quantity arms into lineitem's. Single row out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    bands = (
        ((b == "Brand#11") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#12") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#13") & s.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(bands)
        .agg(
            F.sum(_vol()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


DISJUNCTIVE_FILTER_SQL = f"""
SELECT CAST(SUM({_VOL_SQL}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------- Q22

#: A customer is dormant if they placed no order on/after this date.
#: (Every above-average customer in the fixture has SOME order — the
#: fixture's orders/customers ratio is 10:1 — so the textbook "never
#: ordered" form returns zero rows and would be a vacuous check.)
Q22_DORMANT_SINCE = "1999-01-01"


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    recent order, grouped by country (c_nationkey; the fixture has
    no c_phone) — scalar subquery + NOT EXISTS, decorrelated to
    broadcast-scalar + left-anti.

    Plan: the global positive-balance average is a 1-row aggregate
    cross-joined (broadcast) as a filter; the NOT EXISTS is a
    left-anti against the date-filtered orders keyed on custkey —
    one shuffle each side, no correlated re-execution; the date
    filter pushes into the orders scan and the anti join carries
    only o_custkey. Average = exact decimal sum ÷ count, divided
    once in double, identically in DuckDB.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(Q22_DORMANT_SINCE))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


DORMANT_CUSTOMERS_SQL = f"""
SELECT c_nationkey AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                          / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_DORMANT_SINCE}')
GROUP BY 1
ORDER BY cntrycode
"""


# ---------------------------------------------------------------- Q2

def min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the supplier(s) quoting
    the minimum observed price — correlated-min subquery,
    decorrelated to per-key pre-agg + equality join back. The
    supplier⇄part "catalog" is the distinct (l_partkey, l_suppkey)
    pairs of lineitem with min(l_extendedprice) as the quote (no
    partsupp in the fixture).

    Plan: ONE lineitem scan builds the quotes (groupBy pair — one
    shuffle); the per-part minimum is a second tiny agg over |pairs|
    rows; joining the min back on (partkey, exact DECIMAL equality)
    never rescans the fact. Supplier and nation broadcast; part is
    un-hinted. Ties (two suppliers at the min) are all kept —
    deterministic output ordered by part then supplier.
    """
    # NOT spread: quotes is referenced twice (best + join-back), so
    # the spread exchange would be paid per reference (measured
    # 0.86 s -> 1.31 s); the agg exchange parallelizes downstream
    li = load_table(spark, sf_dir, "lineitem")
    # localCheckpoint (r11, guide §3.3): quotes feeds best AND the
    # join-back — uncheckpointed, the fact scan + pair agg ran twice
    # (5 parquet scans in the executed plan).
    # The |catalog-pairs| lattice materializes once.
    quotes = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec("l_extendedprice")).alias("quote_d")
    ).localCheckpoint()
    best = quotes.groupBy("l_partkey").agg(F.min("quote_d").alias("best_d"))
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand", "p_size")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        quotes.join(
            best.withColumnRenamed("l_partkey", "b_partkey"),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("quote_d") == F.col("best_d")),
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("p_partkey"),
            "p_brand",
            "p_size",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("quote_d").cast("double").alias("best_price"),
        )
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


MIN_PRICE_SUPPLIER_SQL = """
WITH quotes AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS quote_d
  FROM lineitem GROUP BY 1, 2
), best AS (
  SELECT l_partkey, MIN(quote_d) AS best_d FROM quotes GROUP BY 1
)
SELECT p_partkey, p_brand, p_size, s_name, n_name AS nation,
       CAST(quote_d AS DOUBLE) AS best_price
FROM quotes
JOIN best ON quotes.l_partkey = best.l_partkey AND quote_d = best_d
JOIN part ON quotes.l_partkey = p_partkey
JOIN supplier ON quotes.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size <= 10
ORDER BY p_partkey, s_name
LIMIT 100
"""


# --------------------------------------------------------------- Q11

#: A part is "important" if its revenue share exceeds this fraction
#: of the global total (uniform share at the fixture's 2000 parts is
#: 0.0005, so this keeps parts at ≥1.5× the mean share).
Q11_SHARE_CUT = 0.00075


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total revenue exceeds a fraction
    of the GLOBAL total — group-by + global-scalar-subquery
    threshold, the aggregate-vs-aggregate-of-itself pattern.

    Plan: one lineitem scan → per-part decimal revenue (one
    shuffle); the global total re-aggregates those |part| rows to 1
    row and broadcast-joins back as the threshold — the textbook SQL
    recomputes the whole sum inside the subquery; here the per-part
    view is computed once and reused for both sides (same
    self-reuse trick as subqueries.revenue_view_max). The threshold
    compare happens in double with the identical expression in both
    engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # localCheckpoint (r11, guide §3.3): the per-part view feeds the
    # threshold aggregate AND the filter side — uncheckpointed, the
    # fact scan + agg ran twice.
    value = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).alias("value_d")
    ).localCheckpoint()
    total = value.agg(F.sum("value_d").alias("total_d"))
    return (
        value.join(F.broadcast(total))
        .where(
            F.col("value_d").cast("double")
            > F.col("total_d").cast("double") * F.lit(Q11_SHARE_CUT)
        )
        .select("l_partkey", F.col("value_d").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


IMPORTANT_PARTS_SQL = f"""
WITH value AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_d
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, CAST(value_d AS DOUBLE) AS part_value
FROM value
WHERE CAST(value_d AS DOUBLE)
      > (SELECT CAST(SUM(value_d) AS DOUBLE) FROM value) * {Q11_SHARE_CUT}
ORDER BY part_value DESC, l_partkey
"""


# --------------------------------------------------------------- Q16

def supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size) — with a NOT-IN supplier exclusion
    (negative balance ~ "customer complaints"), over the
    lineitem-derived supplier⇄part pairs.

    Plan: distinct pairs = one shuffle on the pair key; the NOT IN
    is a left-anti against the (tiny, bounded) excluded-supplier
    list — broadcast anti, no shuffle added. countDistinct over
    (brand, type, size) re-shuffles |pairs| rows once. part is
    un-hinted.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") != "Brand#15") & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


SUPPLIER_COUNT_BY_PART_SQL = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
  AND p_brand <> 'Brand#15'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------- Q20

#: Minimum all-time shipped quantity for a (part, supplier) pair to
#: count toward "excess availability" (see docstring).
Q20_MIN_QTY = 50


def suppliers_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who
    shipped more than half their all-time volume of some "red" part
    during 1996 — the doubly-nested IN-subquery lattice
    (supplier ∈ {suppliers of parts ∈ {red parts} with excess
    availability}), decorrelated into ONE conditional aggregation.

    The fixture has no partsupp.availqty, so "excess availability"
    is re-expressed observationally: for each (part, supplier) pair,
    1996 shipped quantity > ½ × total shipped quantity — both sums
    come from the same single pass over lineitem as conditional
    DECIMAL aggregates (the nested form re-scans lineitem inside two
    IN-subqueries; this form scans it once). Qualifying pairs
    LEFT SEMI onto supplier (each supplier reported once however
    many parts qualify), then the bounded nation dim broadcasts.

    Determinism: quantities are integral doubles — DECIMAL sums are
    exact; the ½ comparison multiplies by 2 on the left instead of
    dividing, staying in integers end-to-end. The Q20_MIN_QTY floor
    keeps the predicate discriminating (without it a pair with one
    1996 shipment qualifies trivially and EVERY supplier passes —
    a vacuous result at fixture scale).
    """
    li = load_table(spark, sf_dir, "lineitem")
    red_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    in_96 = (F.col("l_shipdate") >= F.lit("1996-01-01")) & (
        F.col("l_shipdate") < F.lit("1997-01-01")
    )
    pair_qty = (
        li.join(red_parts, li.l_partkey == red_parts.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in_96, _dec("l_quantity")).otherwise(F.lit(0).cast(_DEC))).alias(
                "qty_96"
            ),
            F.sum(_dec("l_quantity")).alias("qty_all"),
        )
        .where(
            (F.col("qty_all") >= F.lit(Q20_MIN_QTY).cast(_DEC))
            & (F.lit(2).cast(_DEC) * F.col("qty_96") > F.col("qty_all"))
        )
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(pair_qty, supp.s_suppkey == pair_qty.l_suppkey, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


SUPPLIERS_EXCESS_SQL = f"""
WITH pair_qty AS (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2)))
           >= CAST({Q20_MIN_QTY} AS DECIMAL(12,2))
     AND CAST(2 AS DECIMAL(12,2))
           * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1997-01-01'
                      THEN CAST(l_quantity AS DECIMAL(12,2))
                      ELSE CAST(0 AS DECIMAL(12,2)) END)
         > SUM(CAST(l_quantity AS DECIMAL(12,2)))
)
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM pair_qty)
ORDER BY s_suppkey
"""
