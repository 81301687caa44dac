"""Analytic queries over the TPC-H-ish star schema (FIXTURES.md F4).

These exercise the same operator inventory (filter/map/window/agg/join/
topk) at relational scale — the scale factors the reference never
reaches. Money sums run in integer cents (order-insensitive & exact;
functions/analytics.py).

Scale design notes (the plans that survive 100×):
- dimension joins are explicitly broadcast (region/nation/customer/
  supplier are tiny relative to lineitem/orders at every SF);
- filters are expressed on base columns pre-join so parquet pushdown
  fires (verified via .explain in tests);
- aggregations are keyed groupBy → map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from striot_spark.tempdirs import staged
from striot_spark.functions.analytics import day_str
from striot_spark.functions.graph import same_key_pairs, undirected
from striot_spark.queries.registry import register
from striot_spark.sources.batch import load_table


def _cents(expr: str) -> str:
    return f"CAST(round(({expr})*100.0, 0) AS BIGINT)"


DISC_PRICE = "l_extendedprice * (1 - l_discount)"
CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


def disc_price_col() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))


def charge_col() -> F.Column:
    return (
        F.col("l_extendedprice")
        * (F.lit(1) - F.col("l_discount"))
        * (F.lit(1) + F.col("l_tax"))
    )


def money(col: F.Column) -> F.Column:
    return F.round(col * F.lit(100.0), 0).cast("long")


@register(
    "q17_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum({_cents('l_extendedprice')}) / 100.0 AS sum_base_price,
           sum({_cents(DISC_PRICE)}) / 100.0 AS sum_disc_price,
           sum({_cents(CHARGE)}) / 100.0 AS sum_charge,
           sum(l_quantity) / count(*) AS avg_qty,
           sum({_cents('l_extendedprice')}) / count(*) / 100.0 AS avg_price,
           sum({_cents('l_discount')}) / count(*) / 100.0 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: filter → keyed agg with map-side "
    "combine; quantities are integral doubles (exact under any order)",
)
def q17_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum(money(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
        (F.sum(money(disc_price_col())) / 100.0).alias("sum_disc_price"),
        (F.sum(money(charge_col())) / 100.0).alias("sum_charge"),
        (F.sum("l_quantity") / cnt).alias("avg_qty"),
        (F.sum(money(F.col("l_extendedprice"))) / cnt / 100.0).alias("avg_price"),
        (F.sum(money(F.col("l_discount"))) / cnt / 100.0).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "q18_top_orders",
    f"""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           sum({_cents(DISC_PRICE)}) / 100.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, order_date
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3-style: broadcast dim join + keyed agg + deterministic "
    "top-k (revenue DESC, orderkey ASC)",
)
def q18_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", day_str(F.col("o_orderdate")).alias("order_date"))
        .agg((F.sum(money(disc_price_col())) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "q19_regional_revenue",
    f"""
    SELECT n_name, sum({_cents(DISC_PRICE)}) / 100.0 AS revenue,
           count(*) AS n_items
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-style: star join with every dimension broadcast, "
    "lineitem never shuffled on a dim key",
)
def q19_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    dims = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            (F.sum(money(disc_price_col())) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q20_top_customers",
    f"""
    SELECT c_custkey, c_name,
           sum({_cents('o_totalprice')}) / 100.0 AS total_spent,
           count(*) AS n_orders
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spent DESC, c_custkey ASC
    LIMIT 10
    """,
    doc="top-k customers by lifetime spend: broadcast dim + deterministic "
    "rank",
)
def q20_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            (F.sum(money(F.col("o_totalprice"))) / 100.0).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@register(
    "q72_priority_semi_join",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-style EXISTS: orders (1996) with at least one returned "
    "line item, counted by priority. Lowered as a LEFT SEMI join — "
    "lineitem is filtered+deduped to order keys before the join, so the "
    "probe side shuffles keys only, and orders rows are never duplicated "
    "by multi-line matches (the trap of lowering EXISTS as inner join)",
)
def q72_priority_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned,
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q73_inactive_customers_anti_join",
    f"""
    WITH pos AS (
        SELECT CAST(sum({_cents('c_acctbal')}) AS BIGINT) AS s,
               count(*) AS n
        FROM customer WHERE c_acctbal > 0.0)
    SELECT c_mktsegment, count(*) AS n_cust,
           CAST(sum({_cents('c_acctbal')}) AS BIGINT) / 100.0 AS total_bal
    FROM customer, pos
    WHERE {_cents('c_acctbal')} * n > s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22-style NOT EXISTS: customers with above-average "
    "positive balance and no RECENT (1998+) orders. The scalar average "
    "is carried as an exact integer pair (sum-of-cents, count) "
    "broadcast as one row — `cents*n > s` is bit-exact in any engine "
    "and any partition order, where a float avg comparison can flip on "
    "summation-order ULPs. Lowered as LEFT ANTI join on the order keys",
)
def q73_inactive_customers_anti_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(money(F.col("c_acctbal"))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    custkeys = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("1998-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(money(F.col("c_acctbal")) * F.col("n") > F.col("s"))
        .join(custkeys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum(money(F.col("c_acctbal"))) / 100.0).alias("total_bal"),
        )
    )


@register(
    "q81_sole_returned_supplier",
    """
    WITH ret AS (
        SELECT DISTINCT l_orderkey, l_suppkey
        FROM lineitem WHERE l_returnflag = 'R'),
    anysup AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, count(*) AS n_orders
    FROM ret r
    JOIN supplier ON s_suppkey = r.l_suppkey
    WHERE EXISTS (SELECT 1 FROM anysup a
                  WHERE a.l_orderkey = r.l_orderkey
                    AND a.l_suppkey <> r.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM ret r2
                      WHERE r2.l_orderkey = r.l_orderkey
                        AND r2.l_suppkey <> r.l_suppkey)
    GROUP BY s_name
    """,
    doc="TPC-H Q21-style double-correlated subquery: suppliers who are "
    "the ONLY supplier with returned items on a multi-supplier order. "
    "EXISTS lowers to LEFT SEMI on (order, other-supplier) and NOT "
    "EXISTS to LEFT ANTI over the same derived sets — two semi-shaped "
    "joins on (orderkey, suppkey) pairs, never a correlated re-scan "
    "per row; supplier dim broadcasts",
)
def q81_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    anysup = li.select("l_orderkey", "l_suppkey").distinct()
    sup = load_table(spark, sf_dir, "supplier")

    other = anysup.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    with_other = ret.join(
        other,
        (F.col("l_orderkey") == F.col("o_k"))
        & (F.col("l_suppkey") != F.col("o_s")),
        "left_semi",
    )
    other_ret = ret.select(
        F.col("l_orderkey").alias("r_k"), F.col("l_suppkey").alias("r_s")
    )
    sole = with_other.join(
        other_ret,
        (F.col("l_orderkey") == F.col("r_k"))
        & (F.col("l_suppkey") != F.col("r_s")),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q126_volume_shipping",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           sum({_cents(DISC_PRICE)}) / 100.0 AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <= DATE '1997-12-31'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (volume shipping between two trading "
    "nations, by year): five-way star join — every dimension chain "
    "(orders->customer->nation, supplier->nation) broadcast, the "
    "nation-pair predicate applied to the broadcast sides and the "
    "l_shipdate range pushed to the lineitem parquet scan; the fact "
    "table is scanned once and shuffles only for the final "
    "(nation, nation, year) aggregation",
)
def q126_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") <= F.lit(dt.datetime(1997, 12, 31)))
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # prefilter BOTH nation dims to the trading pair before building
    # the broadcast chains: the OR pair-predicate can't push below the
    # joins on its own, and without this the forced ord_dim broadcast
    # carries every nation's customers (~12x the two-nation subset)
    pair_nations = ("NATION_3", "NATION_7")
    sn = nation.filter(F.col("n_name").isin(*pair_nations)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.filter(F.col("n_name").isin(*pair_nations)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    cust_dim = cust.join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
    )
    ord_dim = orders.join(
        F.broadcast(cust_dim), F.col("o_custkey") == F.col("c_custkey")
    )
    supp_dim = supp.join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3")
        & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7")
        & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(F.broadcast(ord_dim), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(money(disc_price_col())) / 100.0).alias("revenue"))
    )


@register(
    "q127_market_share",
    f"""
    WITH all_n AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {_cents(DISC_PRICE)} AS rev_c,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE p_type = 'PROMO'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate <= DATE '1997-12-31')
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                         THEN rev_c ELSE 0 END)
               AS BIGINT) AS nation_rev_c,
           CAST(sum(rev_c) AS BIGINT) AS total_rev_c
    FROM all_n GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (a nation's market share inside one part "
    "segment, by year): part/supplier/nation dimensions broadcast, "
    "p_type filter applied before the join so only the segment's "
    "lineitems survive; numerator and denominator computed in ONE "
    "aggregation over integer cents (emitting both sums, not the "
    "float ratio, keeps the gate engine-exact — the consumer divides)",
)
def q127_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("o_orderdate") <= F.lit(dt.datetime(1997, 12, 31)))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_dim = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    rev = money(disc_price_col())
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(
                    F.lit(0)
                )
            ).alias("nation_rev_c"),
            F.sum(rev).alias("total_rev_c"),
        )
    )


@register(
    "q132_bucketed_colocated_join",
    f"""
    SELECT o.o_orderpriority AS priority,
           count(*) AS n_items,
           CAST(sum({_cents('l.l_extendedprice')}) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="fact-fact equi-join with the shuffle paid at WRITE time: both "
    "sides land as catalog tables bucketed on the join key "
    "(functions/bucketing.py:write_bucketed, one sorted file per "
    "bucket, explicit-LOCATION database), and the sort-merge join of "
    "the bucketed scans plans with ZERO Exchange nodes (plan-gated). "
    "At 100 TB this is the layout that amortizes one shuffle across "
    "every future join/agg on the key — the Spark-native analogue of "
    "the reference's ahead-of-time partition placement (SURVEY.md §4)",
)
def q132_bucketed_colocated_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions import bucketing as B

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    items = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    ot = B.write_bucketed(orders, "orders_b", "o_orderkey", 8)
    lt = B.write_bucketed(items, "lineitem_b", "l_orderkey", 8)
    j = B.bucketed_equijoin(
        spark, ot, lt, F.col("o_orderkey") == F.col("l_orderkey")
    )
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(money(F.col("l_extendedprice"))).alias("revenue_cents"),
    )


def _trade_observations(
    spark: SparkSession, sf_dir: str, a: str = "a", b: str = "b"
) -> DataFrame:
    """Customer-supplier trade observations: one (``a`` = "c<custkey>",
    ``b`` = "s<suppkey>") row per orders⋈lineitem hit, duplicates kept."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    return o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(a),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(b),
    )


def _trade_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted trade graph: (a, b, w = trade multiplicity)."""
    return (
        _trade_observations(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _pagerank_oracle(iterations: int, scale: int, dn: int, dd: int) -> str:
    """Unroll the integer PageRank recurrence as chained CTEs — DuckDB
    reproduces the scaled-long arithmetic digit for digit."""
    teleport = (dd - dn) * scale // dd
    sql = f"""
    WITH eraw AS (
        SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT a AS src, b AS dst FROM eraw
              UNION ALL SELECT b AS src, a AS dst FROM eraw),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    v AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM v)"""
    for i in range(1, iterations + 1):
        sql += f""",
    r{i} AS (
        SELECT v.node,
               CAST({teleport} + ({dn} * COALESCE(s.s, 0)) // {dd}
                    AS BIGINT) AS pr
        FROM v LEFT JOIN (
            SELECT e.dst AS node, sum(r.pr // d.outdeg) AS s
            FROM edges e JOIN r{i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node)"""
    return sql + f"\n    SELECT node, pr FROM r{iterations}"


_PPR_SEEDS = ["c1", "c2", "c5"]


def _ppr_oracle(iterations: int, scale: int, dn: int, dd: int) -> str:
    """Unrolled personalized-PageRank recurrence: teleport mass
    concentrated on the seed set (mirrors ``pagerank(seeds=...)``)."""
    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    k = len(_PPR_SEEDS)
    sql = f"""
    WITH eraw AS (
        SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT a AS src, b AS dst FROM eraw
              UNION ALL SELECT b AS src, a AS dst FROM eraw),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    v AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM v),
    r0 AS (SELECT node,
                  CAST(CASE WHEN node IN ({seeds})
                       THEN (CAST({scale} AS BIGINT)
                             * (SELECT n FROM nn)) // {k}
                       ELSE 0 END AS BIGINT) AS pr
           FROM v)"""
    for i in range(1, iterations + 1):
        sql += f""",
    r{i} AS (
        SELECT v.node,
               CAST(CASE WHEN v.node IN ({seeds})
                    THEN ((CAST({dd - dn} AS BIGINT) * {scale}
                           * (SELECT n FROM nn))
                          // ({dd} * {k}))
                    ELSE 0 END
                    + ({dn} * COALESCE(s.s, 0)) // {dd}
                    AS BIGINT) AS pr
        FROM v LEFT JOIN (
            SELECT e.dst AS node, sum(r.pr // d.outdeg) AS s
            FROM edges e JOIN r{i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node)"""
    return sql + f"\n    SELECT node, pr FROM r{iterations} WHERE pr > 0"


@register(
    "q232_personalized_pagerank",
    _ppr_oracle(iterations=3, scale=10**9, dn=85, dd=100),
    doc="PERSONALIZED PageRank (random-walk-with-restart) from three "
    "seed customers over the customer-supplier trade graph "
    "(functions/graph.py:pagerank(seeds=...)) — the "
    "neighborhood-expansion / recommendation primitive: the whole "
    "teleport mass concentrates on the seeds, so rank flows only "
    "through their trade neighborhoods and far nodes stay at 0 "
    "(output filtered to pr > 0: reached nodes only, making the "
    "gate sensitive to exactly which nodes the 3-hop walk touches). "
    "Same scaled-long arithmetic and per-iteration plan as q133 — "
    "seed membership is a literal isin predicate folded into the "
    "rank projection, no extra join or shuffle; total mass conserved "
    "at ~N*scale so uniform and personalized ranks are directly "
    "comparable",
)
def q232_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import pagerank

    pairs = _trade_observations(spark, sf_dir).distinct()
    edges = undirected(pairs, "a", "b")
    pr = pagerank(edges, iterations=3, src="a", dst="b", seeds=_PPR_SEEDS)
    return pr.filter(F.col("rank") > 0).select(
        "node", F.col("rank").alias("pr")
    )


@register(
    "q133_pagerank_customer_supplier",
    _pagerank_oracle(iterations=3, scale=10**9, dn=85, dd=100),
    doc="fixed-iteration PageRank over the bipartite customer-supplier "
    "trade graph (distinct pairs from orders x lineitem, both edge "
    "directions), ALL arithmetic in scaled longs (rank DIV outdeg "
    "contributions, damped integer update) so every iteration is "
    "bit-identical under any partitioning/retry and the oracle "
    "unrolls the same recurrence as chained CTEs. Per iteration: one "
    "src-key join + one dst-key groupBy (map-side partials), edge "
    "list degree-annotated and persisted once "
    "(functions/graph.py:pagerank)",
)
def q133_pagerank_customer_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import pagerank

    pairs = _trade_observations(spark, sf_dir).distinct()
    edges = undirected(pairs, "a", "b")
    pr = pagerank(edges, iterations=3, src="a", dst="b")
    return pr.select("node", F.col("rank").alias("pr"))


def _dangling_pr_oracle(iterations: int, scale: int, dn: int, dd: int) -> str:
    """Unrolled PageRank with the classical dangling-node correction
    (mirrors ``pagerank(dangling='redistribute')``): vertices are
    src ∪ dst of the DIRECTED customer→supplier graph (suppliers have
    no out-edges — genuinely dangling), and each round the residual
    mass N*scale − Σranks is returned DIV N to every node."""
    teleport = (dd - dn) * scale // dd
    sql = f"""
    WITH eraw AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    deg AS (SELECT src, count(*) AS outdeg FROM eraw GROUP BY src),
    v AS (SELECT src AS node FROM eraw
          UNION SELECT dst AS node FROM eraw),
    nn AS (SELECT count(*) AS n FROM v),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM v)"""
    for i in range(1, iterations + 1):
        sql += f""",
    p{i} AS (
        SELECT v.node,
               CAST({teleport} + ({dn} * COALESCE(s.s, 0)) // {dd}
                    AS BIGINT) AS pr
        FROM v LEFT JOIN (
            SELECT e.dst AS node, sum(r.pr // d.outdeg) AS s
            FROM eraw e JOIN r{i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node),
    r{i} AS (
        SELECT node,
               CAST(pr + ((SELECT n FROM nn) * {scale}
                          - (SELECT sum(pr) FROM p{i}))
                         // (SELECT n FROM nn)
                    AS BIGINT) AS pr
        FROM p{i})"""
    return sql + f"\n    SELECT node, pr FROM r{iterations}"


@register(
    "q236_pagerank_dangling",
    _dangling_pr_oracle(iterations=2, scale=10**9, dn=85, dd=100),
    doc="PageRank with the classical dangling-node correction "
    "(functions/graph.py:pagerank(dangling='redistribute'), VERDICT "
    "r8 task 5) over the DIRECTED customer->supplier purchase graph "
    "— suppliers never link out, so without the correction their "
    "inflow mass leaves the system every round. Vertices are "
    "src UNION dst; after each damped round the residual "
    "N*scale - sum(ranks) (sink leakage + DIV dust, provably >= 0) "
    "is redistributed DIV N to every node — total mass conserved at "
    "~N*scale in exact long arithmetic, one scalar aggregate + "
    "broadcast cross-join per round (no extra keyed shuffle). The "
    "oracle unrolls the identical corrected recurrence as chained "
    "CTEs",
)
def q236_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import pagerank

    edges = _trade_observations(spark, sf_dir).distinct()
    pr = pagerank(
        edges, iterations=2, src="a", dst="b", dangling="redistribute"
    )
    return pr.select("node", F.col("rank").alias("pr"))


def _weighted_pr_oracle(iterations: int, scale: int, dn: int, dd: int) -> str:
    """Unrolled WEIGHTED PageRank (mirrors ``pagerank(weight=...)``):
    edge weight = lineitem multiplicity of each customer-supplier
    pair, out-strength Σw, per-edge contribution (pr * w) // Σw."""
    teleport = (dd - dn) * scale // dd
    sql = f"""
    WITH eraw AS (
        SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
    edges AS (SELECT a AS src, b AS dst, w FROM eraw
              UNION ALL SELECT b AS src, a AS dst, w FROM eraw),
    deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
    v AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM v)"""
    for i in range(1, iterations + 1):
        sql += f""",
    r{i} AS (
        SELECT v.node,
               CAST({teleport} + ({dn} * COALESCE(s.s, 0)) // {dd}
                    AS BIGINT) AS pr
        FROM v LEFT JOIN (
            SELECT e.dst AS node, sum((r.pr * e.w) // d.outdeg) AS s
            FROM edges e JOIN r{i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node)"""
    return sql + f"\n    SELECT node, pr FROM r{iterations}"


# shared by q237 (batch) and q250 (stream), as is ``_trade_pagerank``
_WEIGHTED_PR_ORACLE = _weighted_pr_oracle(
    iterations=3, scale=10**9, dn=85, dd=100
)


@register(
    "q237_weighted_pagerank",
    _WEIGHTED_PR_ORACLE,
    doc="WEIGHTED PageRank (functions/graph.py:pagerank(weight=...)) "
    "over the customer-supplier trade graph with edge weight = "
    "lineitem multiplicity of the pair (how often they actually "
    "traded, the parallel-edge view of a weighted graph): out-degree "
    "becomes out-strength sum(w) and each edge carries "
    "(rank * w) DIV strength — exact long arithmetic reducing to "
    "q133 at w=1, so heavily-traded relationships pull "
    "proportionally more rank. Same two-shuffle-per-iteration plan "
    "as q133 (weights ride the persisted degree-annotated edge "
    "list); the oracle unrolls the identical weighted recurrence",
)
def q237_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _trade_pagerank(_trade_weights(spark, sf_dir))


def _trade_pagerank(weights: DataFrame) -> DataFrame:
    """3-iteration weighted PageRank over (a, b, w) trade weights."""
    from striot_spark.functions.graph import pagerank

    edges = undirected(weights, "a", "b")
    pr = pagerank(edges, iterations=3, src="a", dst="b", weight="w")
    return pr.select("node", F.col("rank").alias("pr"))


def _served_counts(
    spark: SparkSession, src: str, key_cols: list, **sink_args
) -> DataFrame:
    """Replay the staged observations at ``src`` one file per
    micro-batch into the additive ``incremental_agg_sink`` keyed on
    ``key_cols``; returns the converged snapshot (keys and ``n_rows``)."""
    from striot_spark.streaming import runtime as RT

    return RT.drain_snapshot(
        RT.incremental_agg_sink,
        RT.file_stream(spark, src, max_files_per_trigger=1),
        source_path=src,
        key_cols=key_cols,
        sum_cols=[],
        **sink_args,
    )


_Q238_SCALE = 1_000_000


def _q238_oracle() -> str:
    return f"""
    WITH eraw AS (
        SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
    edges AS (SELECT a AS src, b AS dst, w FROM eraw
              UNION ALL SELECT b AS src, a AS dst, w FROM eraw),
    lab AS (SELECT 'c' || c_custkey AS n, c_nationkey AS l FROM customer
            UNION ALL
            SELECT 's' || s_suppkey AS n, s_nationkey AS l FROM supplier),
    tagged AS (
        SELECT e.w, ls.l AS sl, ld.l AS dl
        FROM edges e JOIN lab ls ON e.src = ls.n
             JOIN lab ld ON e.dst = ld.n),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS ee FROM tagged),
    per AS (
        SELECT sl, CAST(sum(w) AS BIGINT) AS dc,
               CAST(sum(CASE WHEN sl = dl THEN w ELSE 0 END)
                    AS BIGINT) AS ec
        FROM tagged GROUP BY sl)
    SELECT CAST(sum(ec * (SELECT ee FROM tot) - dc * dc)
                * {_Q238_SCALE}
                // ((SELECT ee FROM tot) * (SELECT ee FROM tot))
           AS BIGINT) AS q_ppm,
           CAST(count(*) AS BIGINT) AS n_communities,
           (SELECT ee FROM tot) AS w_directed
    FROM per
    """


@register(
    "q238_weighted_modularity",
    _q238_oracle(),
    doc="WEIGHTED Newman modularity (functions/graph.py:modularity("
    "weight=...), Newman 2004) of the nation partition of the trade "
    "graph: every customer/supplier is labeled with its nation and "
    "the metric asks how much intra-nation trade WEIGHT (lineitem "
    "multiplicities) exceeds the random-mixing expectation — exact "
    "integer ppm, one global division, weight sums replacing edge "
    "counts with the identical enforced W^2 headroom. Plan: two "
    "label equi-joins on the persisted tagged edge list + one "
    "groupBy per side, all keyed shuffles; labels come straight "
    "from customer/supplier dims (no iterative producer)",
)
def q238_weighted_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import modularity

    pairs = _trade_weights(spark, sf_dir)
    edges = undirected(pairs, "a", "b")
    cust = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
            "node"
        ),
        F.col("c_nationkey").alias("label"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias(
            "node"
        ),
        F.col("s_nationkey").alias("label"),
    )
    m = modularity(
        edges,
        cust.unionByName(supp),
        src="a",
        dst="b",
        weight="w",
        scale=_Q238_SCALE,
    )
    return m.select(
        "q_ppm",
        "n_communities",
        F.col("e_directed").alias("w_directed"),
    )


def _q137_oracle() -> str:
    from striot_spark.functions.bucketing import zorder_key_sql

    z = zorder_key_sql(["ck", "day"], bits=24)
    return f"""
    WITH d AS (
        SELECT o_custkey AS ck,
               date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS day
        FROM orders),
    z AS (SELECT ck, day, {z} AS zkey FROM d)
    SELECT zkey >> 20 AS file_id, count(*) AS n_rows,
           min(ck) AS min_ck, max(ck) AS max_ck,
           min(day) AS min_day, max(day) AS max_day
    FROM z GROUP BY zkey >> 20
    """


@register(
    "q137_zorder_zone_map",
    _q137_oracle(),
    doc="multi-dimensional data layout: Morton (Z-order) key "
    "interleaving customer and order-day bits "
    "(functions/bucketing.py:zorder_key, unrolled bitwise expression "
    "in whole-stage codegen, zero shuffle), rows chunked into files "
    "by key range, then the zone_map per-file min/max index — each "
    "file covers a small RECTANGLE of (customer, day) space, so "
    "min/max pruning is selective for filters on EITHER dimension, "
    "where a plain sort serves only its leading column. The oracle "
    "recomputes the identical key via zorder_key_sql. Day origin is "
    "1992-01-01 (before the dataset minimum) so every coordinate "
    "meets zorder_key's non-negative precondition — a later origin "
    "would sign-extend negative days and silently destroy the "
    "file-rectangle locality (r07 ADVICE); assert_range=True proves "
    "the bias per-row. bits=24 per dimension (48-bit zkey, well under "
    "the long): o_custkey stays < 2^24 (16.7M) to sf~110 and the day "
    "span forever — the previous bits=18 capped o_custkey at 262k, "
    "i.e. raise_error at sf≳2 (r8 ADVICE); past sf~110 raise bits "
    "(up to 31 per dim fits the long) rather than widening the shift",
)
def q137_zorder_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions import bucketing as B

    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .alias("day"),
    )
    z = d.withColumn(
        "zkey", B.zorder_key(["ck", "day"], bits=24, assert_range=True)
    )
    files = z.withColumn("file_id", F.shiftright(F.col("zkey"), 20))
    return B.zone_map(files, "file_id", ["ck", "day"])


_BLOOM_H = "(('0x' || substr(md5({x}), 1, 15))::BIGINT) % 2147483647"


def _q226_oracle() -> str:
    h = _BLOOM_H.format(x="key::VARCHAR")
    ph = _BLOOM_H.format(x="probe_key::VARCHAR")
    return f"""
    WITH step AS (SELECT max(o_orderkey) // 64 + 1 AS s FROM orders),
    layout AS (
        SELECT o_custkey AS key,
               o_orderkey // (SELECT s FROM step) AS file_id
        FROM orders),
    hs AS (SELECT key, file_id, {h} AS h FROM layout),
    pos AS (SELECT file_id, ((c.a * h + c.b) % 2147483647) % 1024 AS p
            FROM hs CROSS JOIN (VALUES (2, 1), (3, 7), (5, 13)) c(a, b)),
    idx AS (SELECT file_id, p // 32 AS widx,
                   bit_or((CAST(1 AS BIGINT)
                           << CAST(p % 32 AS INTEGER))) AS word
            FROM pos GROUP BY file_id, p // 32),
    probes AS (SELECT unnest([1, 2, 3, 5, 8, 13, 21, 34]) AS probe_key),
    ppos AS (SELECT probe_key,
                    ((c.a * ({ph}) + c.b) % 2147483647) % 1024 AS p
             FROM probes
             CROSS JOIN (VALUES (2, 1), (3, 7), (5, 13)) c(a, b)),
    cand AS (SELECT probe_key, file_id,
                    sum(CASE WHEN (word >> CAST(p % 32 AS INTEGER)) & 1
                             = 1 THEN 1 ELSE 0 END) AS nbits
             FROM ppos JOIN idx ON idx.widx = ppos.p // 32
             GROUP BY probe_key, file_id),
    truth AS (SELECT DISTINCT key, file_id FROM layout)
    SELECT c.probe_key, c.file_id,
           CAST(CASE WHEN t.key IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS present
    FROM cand c LEFT JOIN truth t
      ON t.key = c.probe_key AND t.file_id = c.file_id
    WHERE c.nbits = 3
    """


@register(
    "q226_bloom_file_skip",
    _q226_oracle(),
    doc="per-file BLOOM data-skipping index + point-lookup pruning "
    "(functions/bucketing.py:bloom_file_index/bloom_file_lookup) — "
    "the skipping tier zone maps cannot provide: orders laid out in "
    "64 contiguous-orderkey files (time-correlated, so every file's "
    "customer [min,max] spans the domain and q137-style min/max "
    "prunes nothing), a 1024-bit/file Bloom over o_custkey (md5 "
    "Carter-Wegman positions, 32-bit words in BIGINT — both engines "
    "shift far from the sign bit), and an 8-key probe whose output "
    "is every candidate (probe, file) pair with ground truth "
    "attached: 130 candidates / 90 true / 0 false negatives at "
    "sf0.01 — the consumer scans 130 of 520 (probe, file) pairs. "
    "Index build is one exploded scan + one bit_or groupBy "
    "(#files x 32 words regardless of row count); the lookup "
    "broadcasts 24 probe rows against the index and never touches "
    "the data files",
)
def q226_bloom_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions import bucketing as B

    o = load_table(spark, sf_dir, "orders")
    hi = int(o.agg(F.max("o_orderkey")).collect()[0][0])
    step = hi // 64 + 1
    layout = o.select(
        F.col("o_custkey").alias("key"),
        # integer div, not double-divide-then-truncate: exact at any
        # key magnitude
        F.expr(f"o_orderkey div {step}").alias("file_id"),
    )
    idx = B.bloom_file_index(layout, "file_id", "key")
    probes = [1, 2, 3, 5, 8, 13, 21, 34]
    cand = B.bloom_file_lookup(idx, probes)
    # truth shares lineage with the index (both derive from layout):
    # rename its columns so the left join is unambiguous
    truth = (
        layout.select(
            F.col("key").alias("t_key"), F.col("file_id").alias("t_fid")
        )
        .distinct()
    )
    return cand.join(
        truth,
        (F.col("t_key") == F.col("probe_key"))
        & (F.col("t_fid") == F.col("file_id")),
        "left",
    ).select(
        "probe_key",
        "file_id",
        F.when(F.col("t_key").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("present"),
    )


def _lpa_chain(rounds: int) -> str:
    """The WITH-chain of deterministic label-propagation rounds
    (shared by the q228 labels oracle and the q230 modularity
    oracle; same unrolling technique as ``_pagerank_oracle``)."""
    sql = """
    WITH eraw AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT u AS src, v AS dst FROM eraw
              UNION ALL SELECT v AS src, u AS dst FROM eraw),
    nd AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nd)"""
    for i in range(1, rounds + 1):
        sql += f""",
    p{i} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY count(*) DESC, l.label ASC) AS rn
            FROM edges e JOIN l{i - 1} l ON l.node = e.src
            GROUP BY e.dst, l.label) t
        WHERE rn = 1),
    l{i} AS (SELECT nd.node, COALESCE(p.label, nd.node) AS label
             FROM nd LEFT JOIN p{i} p ON p.node = nd.node)"""
    return sql


def _lpa_oracle(rounds: int) -> str:
    return _lpa_chain(rounds) + f"\n    SELECT node, label FROM l{rounds}"


def _modularity_oracle(rounds: int, scale: int = 1_000_000) -> str:
    """Newman modularity of the round-``rounds`` LPA partition, exact
    integer ppm — mirrors ``functions/graph.py:modularity``."""
    return (
        _lpa_chain(rounds)
        + f""",
    e_lab AS (
        SELECT ls.label AS sl, ld.label AS dl
        FROM edges e JOIN l{rounds} ls ON ls.node = e.src
             JOIN l{rounds} ld ON ld.node = e.dst),
    tot AS (SELECT count(*) AS ee FROM e_lab),
    ein AS (SELECT sl AS label, count(*) AS ec FROM e_lab
            WHERE sl = dl GROUP BY sl),
    deg AS (SELECT sl AS label, count(*) AS dc FROM e_lab GROUP BY sl),
    terms AS (
        SELECT d.dc, COALESCE(i.ec, 0) AS ec
        FROM deg d LEFT JOIN ein i ON i.label = d.label)
    SELECT CAST(sum(ec * ee - dc * dc) * {scale} // (max(ee) * max(ee))
                AS BIGINT) AS q_ppm,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(ee) AS BIGINT) AS e_directed
    FROM terms CROSS JOIN tot
    """
    )


@register(
    "q230_lpa_modularity",
    _modularity_oracle(rounds=3),
    doc="Newman modularity of the q228 LPA partition in exact integer "
    "ppm (functions/graph.py:modularity) — the evaluation metric that "
    "justifies a community assignment, the q176-recall pattern "
    "applied to graph structure: Q = sum_c(E_c/E - (deg_c/E)^2) "
    "computed as sum_c(E_c*E - deg_c^2) * 1e6 DIV E^2 over the "
    "both-directions edge list — all-long arithmetic, one global "
    "division, bit-identical on any engine (headroom to ~3e6 "
    "directed edges at scale=1e6, documented). Plan: two label "
    "equi-joins to tag endpoints + per-label counts; the oracle "
    "re-runs the identical 3 LPA rounds then the same metric",
)
def q230_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import label_propagation, modularity

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    edges = undirected(pairs)
    labels = label_propagation(edges, rounds=3, src="u", dst="v")
    return modularity(edges, labels, src="u", dst="v")


@register(
    "q228_lpa_communities",
    _lpa_oracle(rounds=3),
    doc="community detection by synchronous label propagation "
    "(functions/graph.py:label_propagation, Raghavan et al. 2007) "
    "over the part co-purchase graph (q149's distinct same-order "
    "partkey pairs, both directions): 3 deterministic rounds — adopt "
    "the most frequent neighbor label, ties to the smallest — so the "
    "oracle unrolls the identical rounds as chained CTEs. "
    "Frequency voting finds DENSE regions where the min-label "
    "broadcast (q74/q129) finds connectivity. Per round: one src-key "
    "join + one (node, label) groupBy + one per-node struct-min "
    "aggregate (PERF \u00a742 \u2014 map-side partials, no window sort; state "
    "bounded by a node's distinct neighbor labels); the edge "
    "list ships once, labels are the only per-round traffic",
)
def q228_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    edges = undirected(pairs)
    return label_propagation(edges, rounds=3, src="u", dst="v")


@register(
    "q231_equidepth_histogram",
    """
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS cv,
               l_orderkey * 100 + l_linenumber AS tb
        FROM lineitem),
    r AS (SELECT cv, row_number() OVER (ORDER BY cv ASC, tb ASC) - 1
                     AS rank
          FROM v),
    n AS (SELECT count(*) AS n FROM v)
    SELECT (r.rank * 10) // n.n AS bucket,
           count(*) AS n_rows, min(cv) AS lo, max(cv) AS hi
    FROM r CROSS JOIN n GROUP BY (r.rank * 10) // n.n
    """,
    doc="EXACT equi-depth histogram of lineitem price cents "
    "(functions/analytics.py:equidepth_histogram) — the sibling of "
    "q183's equi-width form: each of 10 buckets holds exactly "
    "floor/ceil(N/10) rows with boundaries wherever density puts "
    "them, the binning skewed feature columns need. bucket = "
    "global_rank * 10 DIV N under the (value, tiebreak) total order "
    "— a pure integer function of the rank, so ties split "
    "deterministically on any engine; the rank comes from "
    "global_index's two-pass range-partitioned numbering (no "
    "single-partition sort — q147's scale argument) and the "
    "reduction is one map-side-combined 10-group groupBy",
)
def q231_equidepth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.analytics import (
        cents,
        equidepth_histogram,
    )

    li = load_table(spark, sf_dir, "lineitem")
    vt = li.select(
        cents(F.col("l_extendedprice")).alias("cv"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("tb"),
    )
    return equidepth_histogram(vt, "cv", "tb", bins=10)


@register(
    "q147_quantiles_at_scale",
    """
    WITH v AS (
        SELECT CAST(round(l_extendedprice*100.0, 0) AS BIGINT) AS cents_v,
               l_orderkey * 100 + l_linenumber AS tb
        FROM lineitem),
    r AS (SELECT cents_v,
                 row_number() OVER (ORDER BY cents_v ASC, tb ASC) - 1
                     AS rank
          FROM v),
    n AS (SELECT count(*) AS n FROM v),
    t AS (SELECT unnest(range(0, 11)) AS q)
    SELECT CAST(t.q AS INTEGER) AS q, r.rank, r.cents_v AS value_cents
    FROM t CROSS JOIN n
    JOIN r ON r.rank = (t.q * (n.n - 1)) // 10
    """,
    doc="whole-table EXACT deciles by distributed rank selection "
    "(functions/analytics.py:quantiles_at_scale): global_index "
    "assigns ranks via the two-pass range partitioning (no "
    "single-partition sort) and the 11 boundary ranks are picked by "
    "a broadcast join — the quantile form that survives 100 TB, "
    "where F.percentile/median would buffer every value of the "
    "group in one task (fine for q13's bounded per-day groups, fatal "
    "for a whole-table quantile). Discrete quantiles: actual data "
    "values, integer-exact on any engine",
)
def q147_quantiles_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import quantiles_at_scale

    li = load_table(spark, sf_dir, "lineitem").select(
        money(F.col("l_extendedprice")).alias("cents_v"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("tb"),
    )
    q = quantiles_at_scale(li, "cents_v", "tb", n_quantiles=10)
    return q.select("q", "rank", F.col("cents_v").alias("value_cents"))


@register(
    "q149_triangle_count",
    """
    WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    nd AS (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0),
    deg AS (SELECT n, count(*) AS d FROM nd GROUP BY n),
    ann AS (
        SELECT e0.u, e0.v, du.d AS du, dv.d AS dv,
               ('0x' || substr(md5(e0.u::VARCHAR), 1, 15))::BIGINT AS hu,
               ('0x' || substr(md5(e0.v::VARCHAR), 1, 15))::BIGINT AS hv
        FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n),
    o AS (
        SELECT CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN u ELSE v END AS src,
               CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN v ELSE u END AS dst,
               CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN dv ELSE du END AS dd,
               CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN hv ELSE hu END AS dh
        FROM ann),
    w AS (
        SELECT o1.dst AS x, o2.dst AS y
        FROM o o1 JOIN o o2 ON o1.src = o2.src
        WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dh < o2.dh))
    SELECT count(*) AS n_triangles
    FROM w JOIN o ON w.x = o.src AND w.y = o.dst
    """,
    doc="exact triangle count over the part co-purchase graph "
    "(distinct part pairs sharing an order) with DEGREE orientation "
    "(Suri & Vassilvitskii WWW'11): each edge directed toward its "
    "higher-(degree, md5) endpoint, so every triangle counts once and "
    "the wedge self-join is bounded by m^1.5 even on hub-skewed "
    "graphs — all key equi-joins, no cartesian. Completes the graph "
    "family next to CC (q74/q129) and PageRank (q133) "
    "(functions/graph.py:triangle_count)",
)
def q149_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="a", out_b="b")
    return triangle_count(edges)


@register(
    "q151_group_quantiles",
    """
    WITH v AS (
        SELECT p_brand,
               CAST(round(p_retailprice*100.0, 0) AS BIGINT) AS cents_v,
               p_partkey AS tb
        FROM part),
    r AS (SELECT p_brand, cents_v,
                 row_number() OVER (
                     PARTITION BY p_brand
                     ORDER BY cents_v ASC, tb ASC) - 1 AS rank
          FROM v),
    n AS (SELECT p_brand, count(*) AS n FROM v GROUP BY p_brand),
    t AS (SELECT unnest(range(0, 5)) AS q),
    w AS (SELECT n.p_brand, CAST(t.q AS INTEGER) AS q,
                 (t.q * (n.n - 1)) // 4 AS rank
          FROM n CROSS JOIN t)
    SELECT w.p_brand, w.q, w.rank, r.cents_v AS value_cents
    FROM w JOIN r ON w.p_brand = r.p_brand AND w.rank = r.rank
    """,
    doc="per-brand EXACT price quartiles for groups too big to buffer "
    "(functions/analytics.py:group_quantiles_at_scale): rank within "
    "each group via a window — Spark's sort SPILLS to disk, so group "
    "size is bounded by executor disk, where F.percentile/median "
    "collect the whole group into one task's heap — then select the "
    "boundary ranks per group with a broadcast rank join. Discrete "
    "integer-cents quantiles, engine-exact; one key shuffle total",
)
def q151_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.analytics import group_quantiles_at_scale

    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        money(F.col("p_retailprice")).alias("cents_v"),
        F.col("p_partkey").alias("tb"),
    )
    q = group_quantiles_at_scale(p, ["p_brand"], "cents_v", "tb", 4)
    return q.select(
        "p_brand", "q", "rank", F.col("cents_v").alias("value_cents")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Chained-CTE unroll of exactly ``rounds`` peeling steps over the
    part co-purchase graph (q149's edge set, both directions)."""
    sql = """
    WITH p AS (
        SELECT DISTINCT a.l_partkey AS ia, b.l_partkey AS ib
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e0 AS (SELECT ia AS s, ib AS d FROM p UNION ALL SELECT ib, ia FROM p)"""
    cur = "e0"
    for r in range(1, rounds + 1):
        sql += f""",
    d{r} AS (SELECT s, count(*) AS deg FROM {cur} GROUP BY s),
    ok{r} AS (SELECT s FROM d{r} WHERE deg >= {k}),
    e{r} AS (
        SELECT e.s, e.d FROM {cur} e
        JOIN ok{r} a ON e.s = a.s JOIN ok{r} b ON e.d = b.s)"""
        cur = f"e{r}"
    sql += f"""
    SELECT s AS node, count(*) AS deg FROM {cur} GROUP BY s"""
    return sql


@register(
    "q172_kcore_parts",
    _kcore_oracle(k=90, rounds=3),
    doc="fixed-round k-core peeling (k=90, 3 rounds) over the part "
    "co-purchase graph — each round drops nodes of degree < k and "
    "their edges, extracting the densest co-purchase region (the "
    "degeneracy structure CC/PageRank/triangles don't see; "
    "functions/graph.py:k_core). Round-synchronous peeling: per round "
    "one map-side-combined degree groupBy + two survivor semi-joins, "
    "all key equi-joins; the oracle unrolls the identical rounds as "
    "chained CTEs, so equality proves every intermediate peel. On "
    "this graph the 3 fixed rounds are mid-cascade (2000 -> 1745 -> "
    "1534 -> 1221 nodes at sf0.01) — fixed-round semantics stay "
    "well-defined with or without convergence",
)
def q172_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import k_core

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    edges = undirected(pairs)
    return k_core(edges, k=90, rounds=3, src="u", dst="v")


@register(
    "q180_forecast_revenue_band",
    f"""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
               * CAST(round(l_discount * 100.0, 0) AS BIGINT))
               AS BIGINT) AS revenue_c2
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-07-01'
      AND CAST(round(l_discount * 100.0, 0) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecasting revenue change): one filtered "
    "scan, one scalar aggregate — the canonical predicate-pushdown "
    "benchmark. The revenue product stays EXACT by working in "
    "cent-hundredths (cents(price) x integer discount points), and "
    "the discount band compares rounded integer points, never raw "
    "floats; date + discount + quantity predicates all reach the "
    "parquet scan (plan-gated PushedFilters), so at 100 TB the scan "
    "reads row groups whose stats intersect the band and nothing "
    "else. No joins, no shuffle beyond the scalar combine",
)
def q180_forecast_revenue_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = F.round(F.col("l_discount") * 100.0, 0).cast("long")
    kept = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
        & (F.col("l_quantity") < 24)
    ).filter(pts.between(5, 7))
    return kept.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("long") * pts
        ).alias("revenue_c2"),
    )


@register(
    "q181_promo_revenue_share",
    f"""
    SELECT
        CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(round(l_extendedprice * (1 - l_discount)
                                 * 100.0, 0) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS promo_c,
        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100.0, 0)
                 AS BIGINT)) AS BIGINT) AS total_c,
        CAST(1000 * sum(CASE WHEN p_type = 'PROMO'
                        THEN CAST(round(l_extendedprice * (1 - l_discount)
                                        * 100.0, 0) AS BIGINT)
                        ELSE 0 END)
             // sum(CAST(round(l_extendedprice * (1 - l_discount) * 100.0,
                              0) AS BIGINT))
             AS BIGINT) AS promo_permille
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14 shape (promotion effect): one month of lineitem "
    "joined to part, promo share of discounted revenue as an integer "
    "permille of exact cents (the float percent is a consumer-side "
    "division of two emitted integers). The part side broadcasts "
    "(dimension BHJ, plan-gated) and the date band is pushed to the "
    "fact scan — the month's row groups only; conditional aggregation "
    "folds both sums into ONE pass with map-side partials",
)
def q181_promo_revenue_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_type"
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")
    j = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    )
    total = F.sum(rev)
    return j.agg(
        promo.alias("promo_c"),
        total.alias("total_c"),
        F.expr(
            "1000 * sum(CASE WHEN p_type = 'PROMO' THEN "
            "CAST(round(l_extendedprice * (1 - l_discount) * 100.0, 0) "
            "AS BIGINT) ELSE 0L END) DIV "
            "sum(CAST(round(l_extendedprice * (1 - l_discount) * 100.0, "
            "0) AS BIGINT))"
        ).alias("promo_permille"),
    )


@register(
    "q183_equiwidth_histogram",
    """
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) AS v
        FROM lineitem),
    b AS (SELECT min(v) AS lo, max(v) AS hi FROM c)
    SELECT least(15, ((v - lo) * 16) // (hi - lo + 1)) AS bucket,
           count(*) AS n, min(v) AS v_min, max(v) AS v_max
    FROM c, b
    GROUP BY 1
    """,
    doc="equi-width histogram build (the ANALYZE-stats / optimizer "
    "column-statistics pass): 16 integer-cents buckets between the "
    "observed min/max with per-bucket counts and actual value "
    "bounds. The 2-long bounds row comes from one scalar aggregate "
    "and BROADCASTS back (no second data shuffle beyond the bucket "
    "groupBy's map-side-combined partials); bucket index is pure "
    "integer arithmetic so every engine bins identically — the "
    "selectivity-estimation input a cost-based optimizer and a skew "
    "profiler both consume",
)
def q183_equiwidth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(money(F.col("l_extendedprice")).alias("v"))
    b = c.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    j = c.crossJoin(F.broadcast(b))
    return j.select(
        F.expr("least(15, ((v - lo) * 16) DIV (hi - lo + 1))").alias(
            "bucket"
        ),
        "v",
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


@register(
    "q199_returned_revenue_customers",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100.0,
                              0) AS BIGINT)) AS BIGINT) AS lost_c,
           count(*) AS n_items
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY lost_c DESC, c_custkey ASC LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): top-20 customers "
    "by exact-cents revenue of returned items. The returnflag "
    "predicate pushes to the lineitem scan, customer broadcasts "
    "(dimension BHJ), revenue folds with map-side partials, and the "
    "top-20 runs through TakeOrdered under a (lost_c, custkey) total "
    "order — no global sort (plan-gated)",
)
def q199_returned_revenue_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")
    j = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    agg = j.groupBy("c_custkey", "c_name").agg(
        F.sum(rev).alias("lost_c"), F.count(F.lit(1)).alias("n_items")
    )
    return agg.orderBy(
        F.col("lost_c").desc(), F.col("c_custkey").asc()
    ).limit(20)


@register(
    "q202_large_order_customers",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 180)
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           big.total_qty
    FROM big
    JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="TPC-H Q18 shape (large-volume orders): orders whose total "
    "line quantity exceeds the threshold, joined back to customer. "
    "The HAVING aggregate runs FIRST with map-side partials "
    "(quantities summed as integers), so only the tiny qualifying "
    "set — not the fact table — flows into the joins; the "
    "qualifying set (small by the HAVING premise) and the customer "
    "dimension both BROADCAST over the orders scan (plan-gated)",
)
def q202_large_order_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    from striot_spark.functions.analytics import day_str

    j = orders.join(
        F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"]
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    return j.select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        day_str(F.col("o_orderdate")).alias("o_orderdate"),
        "total_qty",
    )


@register(
    "q217_customer_order_distribution",
    """
    WITH co AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM co GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): how "
    "many customers placed 0, 1, 2, ... non-urgent orders — the "
    "left-join-then-histogram pattern whose subtlety is the "
    "ZERO-ORDER customers (an inner join silently drops them; the "
    "count(o_orderkey) of an unmatched left row is 0, not 1). Join "
    "predicate filters the fact side BEFORE the join; two map-side-"
    "combined aggregations, the second over a c_count-bounded table",
)
def q217_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    co = (
        cust.join(
            orders, cust["c_custkey"] == orders["o_custkey"], "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q218_top_supplier",
    """
    WITH r AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                              * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS total_c
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey),
    m AS (SELECT max(total_c) AS mx FROM r)
    SELECT s.s_suppkey, s.s_name, r.total_c
    FROM r JOIN m ON r.total_c = m.mx
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    """,
    doc="TPC-H Q15 shape (top supplier): the supplier(s) with maximum "
    "quarterly revenue — the view-then-max pattern. Revenue per "
    "supplier in exact cents from the date-pruned fact scan "
    "(supplier-bounded table), the 1-row max broadcasts back, and "
    "the supplier dimension broadcasts onto the winners; ties (all "
    "max-revenue suppliers) are returned as the spec demands rather "
    "than an arbitrary limit 1",
)
def q218_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")
    r = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_c"))
    m = r.agg(F.max("total_c").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        r.join(F.broadcast(m), r["total_c"] == m["mx"])
        .join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select("s_suppkey", "s_name", "total_c")
    )


@register(
    "q219_small_quantity_revenue",
    """
    WITH a AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey)
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT))
               AS BIGINT) AS revenue_c
    FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5
          < CAST(floor(avg_qty) AS BIGINT)
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): lineitems "
    "whose quantity is below a fifth of their part's average — the "
    "correlated-average pattern, decorrelated into ONE per-part "
    "aggregate joined back (part-bounded table; at scale it "
    "broadcasts or buckets with the fact). The threshold compares "
    "5*qty < floor(avg) in integers — fixture quantities are whole "
    "numbers, so floor(avg) is engine-exact where a float avg "
    "comparison could split at representation boundaries",
)
def q219_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        F.floor(F.avg("l_quantity")).cast("long").alias("favg")
    )
    j = li.join(a, li["l_partkey"] == a["ap"]).filter(
        F.col("l_quantity").cast("long") * 5 < F.col("favg")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
        ).alias("revenue_c"),
    )


# one-quarter slice: reach/link features are computed on a TIME-WINDOWED
# interaction graph in practice (and at 100 TB by necessity — the window
# is what keeps exact 2-hop expansion output-bounded); the date range
# pushes to the lineitem parquet scan on both engines
_COPURCHASE_Q_CTE = """
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1995-04-01'),
    eraw AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT u AS src, v AS dst FROM eraw
              UNION ALL SELECT v AS src, u AS dst FROM eraw)"""


def _quarter_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, l_partkey) of the lines shipped in 1995 Q1."""
    import datetime as dt

    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1995, 1, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1995, 4, 1)))
        )
        .select("l_orderkey", "l_partkey")
    )


def _copurchase_quarter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return same_key_pairs(
        _quarter_lines(spark, sf_dir), "l_orderkey", "l_partkey",
        out_a="u", out_b="v",
    )


@register(
    "q241_khop_reach",
    _COPURCHASE_Q_CTE
    + """,
    h1 AS (SELECT DISTINCT src, dst FROM edges WHERE dst <> src),
    r2 AS (SELECT src, dst FROM h1
           UNION
           SELECT a.src, b.dst
           FROM edges a JOIN edges b ON a.dst = b.src
           WHERE b.dst <> a.src),
    n1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS reach_1
           FROM h1 GROUP BY src),
    n2 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS reach_2
           FROM r2 GROUP BY src)
    SELECT n1.node, n1.reach_1, n2.reach_2
    FROM n1 JOIN n2 ON n1.node = n2.node
    """,
    doc="exact k-hop reach counts (functions/graph.py:khop_reach) over "
    "the part co-purchase graph: reach_1 = distinct neighbors, "
    "reach_2 = distinct nodes within two hops, self excluded — the "
    "neighborhood-size feature family (influence proxies, sampling "
    "weights) computed exactly on a ONE-QUARTER co-purchase window "
    "(interaction-graph features are time-windowed in practice, and "
    "the window is what keeps exact 2-hop expansion output-bounded "
    "at scale; the date range pushes to the parquet scan); one keyed "
    "frontier join + cumulative "
    "distinct per level, every level persisted once. The level-2 "
    "expansion is wedge-bounded (sum deg^2 before the distinct) — "
    "inherent to exact reach; the documented scale path is a degree "
    "cap or HLL-sketched reach once |reach| stops fitting",
)
def q241_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import khop_reach

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    edges = undirected(pairs)
    return khop_reach(edges, hops=2, src="u", dst="v")


@register(
    "q242_edge_neighborhood_jaccard",
    _COPURCHASE_Q_CTE
    + """,
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    cn AS (SELECT p.u, p.v, CAST(count(*) AS BIGINT) AS c
           FROM eraw p
           JOIN edges e1 ON e1.src = p.u
           JOIN edges e2 ON e2.src = p.v AND e2.dst = e1.dst
           GROUP BY p.u, p.v)
    SELECT p.u AS a, p.v AS b,
           CAST(COALESCE(cn.c, 0) AS BIGINT) AS common_nbrs,
           CAST(du.d + dv.d - COALESCE(cn.c, 0) AS BIGINT) AS union_nbrs,
           CAST(COALESCE(cn.c, 0) * 1000000
                // (du.d + dv.d - COALESCE(cn.c, 0))
                AS BIGINT) AS j_ppm
    FROM eraw p
    JOIN deg du ON du.src = p.u
    JOIN deg dv ON dv.src = p.v
    LEFT JOIN cn ON cn.u = p.u AND cn.v = p.v
    """,
    doc="neighborhood Jaccard per EDGE "
    "(functions/graph.py:edge_neighborhood_jaccard, Liben-Nowell & "
    "Kleinberg 2003) over the part co-purchase graph — the classic "
    "link-strength / link-prediction feature in exact integer ppm: "
    "common = third-vertex intersection (no self-loops, so u/v never "
    "appear), union = deg(u)+deg(v)-common (u and v count, being "
    "each other's neighbors), j_ppm = common*1e6 DIV union. High = "
    "intra-community edge, low = bridge — modularity's global signal "
    "made per-edge. Same one-quarter window discipline as q241. All "
    "keyed joins, wedge-bounded like q149's unoriented base",
)
def q242_edge_neighborhood_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import edge_neighborhood_jaccard

    pairs = _copurchase_quarter_pairs(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    return edge_neighborhood_jaccard(pairs)


_KHOP_HLL_TAIL = """,
    e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    h1 AS (SELECT src AS node,
                  ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 15))::BIGINT
                      AS hv
           FROM e),
    b1 AS (SELECT node, hv % 64 AS bucket,
                  CASE WHEN (hv // 64) = 0 THEN 40
                       ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                                  + 1, 40)
                  END AS rho
           FROM h1),
    r1 AS (SELECT node, bucket, max(rho) AS reg
           FROM b1 GROUP BY node, bucket),
    p2 AS (SELECT e.src AS node, r.bucket, r.reg
           FROM e JOIN r1 r ON r.node = e.dst
           UNION ALL SELECT node, bucket, reg FROM r1),
    r2 AS (SELECT node, bucket, max(reg) AS reg
           FROM p2 GROUP BY node, bucket),
    g1 AS (SELECT node, count(*) AS n_obs,
                  sum((1::BIGINT << (40 - reg))) AS s_obs
           FROM r1 GROUP BY node),
    g2 AS (SELECT node, count(*) AS n_obs,
                  sum((1::BIGINT << (40 - reg))) AS s_obs
           FROM r2 GROUP BY node)
    SELECT g1.node,
           CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                (1000 * (g1.s_obs + (64 - g1.n_obs) * (1::BIGINT << 40)))
                AS BIGINT) AS est_1,
           CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                (1000 * (g2.s_obs + (64 - g2.n_obs) * (1::BIGINT << 40)))
                AS BIGINT) AS est_2
    FROM g1 JOIN g2 ON g1.node = g2.node
    """


# shared by q243 (batch) and q245 (stream), as is ``_khop_hll``
_KHOP_HLL_ORACLE = _COPURCHASE_Q_CTE + _KHOP_HLL_TAIL


@register(
    "q243_khop_reach_hll",
    _KHOP_HLL_ORACLE,
    doc="HLL-sketched k-hop reach (functions/graph.py:khop_reach_hll, "
    "the HyperANF register-propagation idea, Boldi/Rosa/Vigna WWW'11) "
    "over the same one-quarter co-purchase graph as q241 — the scale "
    "path exact khop_reach documents: each node carries a fixed "
    "64-register sketch of its reach set, levels max-merge sketches "
    "along edges (register max IS set union), so per-level state is "
    "N*m rows and the level join is deg*m-bounded NO MATTER how "
    "dense the reach gets — where exact reach is output-bound, the "
    "sketch is state-bound. Same engine-exact shifted-long HLL "
    "arithmetic as q139/q233 (md5 bucket/rho, integer harmonic "
    "mean), so the APPROXIMATE estimates are bit-reproducible and "
    "fully hash-gated; accuracy vs the exact q241 answer is pinned "
    "separately by a property test",
)
def q243_khop_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _khop_hll(_copurchase_quarter_pairs(spark, sf_dir))


def _khop_hll(pairs: DataFrame) -> DataFrame:
    """2-hop HLL reach sketches over the undirected (u, v) pair graph."""
    from striot_spark.functions.graph import khop_reach_hll

    return khop_reach_hll(undirected(pairs), hops=2, src="u", dst="v")


def stage_pair_observations(sf_dir: str, prefix: str, lines: DataFrame) -> str:
    """Stage the co-purchase pair OBSERVATIONS of the
    ``(l_orderkey, l_partkey)`` frame ``lines``: one row per same-order
    partkey pair occurrence, duplicates kept, no pre-aggregation, as
    three mtime-ordered files. Ordered by (u, v), a pair's duplicate
    observations are contiguous, so the third-splits deliberately cut
    THROUGH pairs — the same edge's multiplicity accumulates across
    micro-batch boundaries, which is exactly what the additive ingest
    sink must get right. Test staging only (``split_thirds``); the
    q239 (all lines) and q245 (one quarter) replays.
    """
    from striot_spark.streaming.runtime import split_thirds, stage_ordered_files

    def write(out: str):
        a, b = lines.alias("a"), lines.alias("b")
        pe = a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        stage_ordered_files(
            split_thirds(pe, ["u", "v"]), out, order_cols=["u", "v"]
        )
        return pe.schema

    return staged(sf_dir, prefix, write)


@register(
    "q245_khop_hll_stream_serve",
    _KHOP_HLL_ORACLE,
    doc="STREAMED graph-feature serve (the q239 pattern on q243's "
    "feature): quarter co-purchase pair observations replay as three "
    "micro-batches cut THROUGH pairs, the additive ingest sink "
    "(incremental_agg_sink keyed on the edge, hash-prefix-partitioned "
    "state, and gc_grace_batches=1 — superseded partition dirs "
    "outlive the commit that replaces them by one batch, the "
    "shared-lake reader guarantee exercised on a real stream) "
    "accumulates the edge set into a #edges-sized snapshot, and "
    "serving runs khop_reach_hll off it. The sketch uses DISTINCT "
    "edges, and set-union ingest is batching/arrival-order "
    "independent, so the oracle is exactly q243's: the batch "
    "quarter-graph unrolled through the same register recursion",
)
def q245_khop_hll_stream_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = stage_pair_observations(
        sf_dir, "striot_q245_pairs_", _quarter_lines(spark, sf_dir)
    )
    snap = _served_counts(spark, src, ["u", "v"], gc_grace_batches=1)
    return _khop_hll(snap.select("u", "v"))


@register(
    "q246_neighborhood_function",
    _COPURCHASE_Q_CTE
    + """,
    e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    h1 AS (SELECT src AS node,
                  ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 15))::BIGINT
                      AS hv
           FROM e),
    b1 AS (SELECT node, hv % 64 AS bucket,
                  CASE WHEN (hv // 64) = 0 THEN 40
                       ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                                  + 1, 40)
                  END AS rho
           FROM h1),
    r1 AS (SELECT node, bucket, max(rho) AS reg
           FROM b1 GROUP BY node, bucket),
    p2 AS (SELECT e.src AS node, r.bucket, r.reg
           FROM e JOIN r1 r ON r.node = e.dst
           UNION ALL SELECT node, bucket, reg FROM r1),
    r2 AS (SELECT node, bucket, max(reg) AS reg
           FROM p2 GROUP BY node, bucket),
    p3 AS (SELECT e.src AS node, r.bucket, r.reg
           FROM e JOIN r2 r ON r.node = e.dst
           UNION ALL SELECT node, bucket, reg FROM r1),
    r3 AS (SELECT node, bucket, max(reg) AS reg
           FROM p3 GROUP BY node, bucket),
    est1 AS (SELECT node,
             CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                  (1000 * (sum((1::BIGINT << (40 - reg)))
                           + (64 - count(*)) * (1::BIGINT << 40)))
                  AS BIGINT) AS est
             FROM r1 GROUP BY node),
    est2 AS (SELECT node,
             CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                  (1000 * (sum((1::BIGINT << (40 - reg)))
                           + (64 - count(*)) * (1::BIGINT << 40)))
                  AS BIGINT) AS est
             FROM r2 GROUP BY node),
    est3 AS (SELECT node,
             CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                  (1000 * (sum((1::BIGINT << (40 - reg)))
                           + (64 - count(*)) * (1::BIGINT << 40)))
                  AS BIGINT) AS est
             FROM r3 GROUP BY node),
    n1 AS (SELECT CAST(sum(est) AS BIGINT) AS nf FROM est1),
    n2 AS (SELECT CAST(sum(est) AS BIGINT) AS nf FROM est2),
    n3 AS (SELECT CAST(sum(est) AS BIGINT) AS nf FROM est3)
    SELECT CAST(1 AS INTEGER) AS hop, n1.nf AS nf_est,
           CAST(n1.nf * 1000000 // n3.nf AS BIGINT) AS ppm_of_max
    FROM n1, n3
    UNION ALL
    SELECT CAST(2 AS INTEGER), n2.nf,
           CAST(n2.nf * 1000000 // n3.nf AS BIGINT)
    FROM n2, n3
    UNION ALL
    SELECT CAST(3 AS INTEGER), n3.nf,
           CAST(n3.nf * 1000000 // n3.nf AS BIGINT)
    FROM n3
    """,
    doc="global neighborhood function N(h) with effective-diameter "
    "read-out (functions/graph.py:neighborhood_function — the "
    "HyperANF headline statistic, Boldi/Rosa/Vigna WWW'11) over the "
    "quarter co-purchase graph, hops=3: per-hop estimated "
    "reachable-pair counts as the exact integer SUM of the per-node "
    "khop_reach_hll estimates, plus ppm_of_max (the smallest hop "
    "crossing 900000 ppm is the 90%-effective diameter). Fixed-width "
    "register state per node — never a pair table, which is |V|^2 at "
    "saturation; the whole curve is 3 keyed joins + 3 keyed "
    "aggregations deep. Fully hash-gated: the oracle unrolls the "
    "identical register recursion (base union propagate, max-merge) "
    "three levels in DuckDB",
)
def q246_neighborhood_function(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import neighborhood_function

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    edges = undirected(pairs)
    return neighborhood_function(edges, hops=3, src="u", dst="v")


_KTRUSS_ROUND = """,
    tr{n} AS (SELECT p1.u AS a, p1.v AS b, p2.v AS c
            FROM t{m} p1
            JOIN t{m} p2 ON p2.u = p1.u AND p2.v > p1.v
            JOIN t{m} p3 ON p3.u = p1.v AND p3.v = p2.v),
    s{n} AS (SELECT u, v, count(*) AS sup FROM (
             SELECT a AS u, b AS v FROM tr{n}
             UNION ALL SELECT a AS u, c AS v FROM tr{n}
             UNION ALL SELECT b AS u, c AS v FROM tr{n}) GROUP BY u, v)"""


# k-truss needs a denser window than q241/q243's one quarter: at
# sf0.01 the quarter graph has ZERO edges with 2-triangle support, so
# a 4-truss query on it would be vacuously green (the r7 trap) — the
# FULL-1995 window carries a real peeling sequence at every tested sf
_COPURCHASE_Y_CTE = """
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1996-01-01'),
    eraw AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


def _copurchase_year_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(dt.datetime(1995, 1, 1)))
            & (F.col("l_shipdate") < F.lit(dt.datetime(1996, 1, 1)))
        )
        .select("l_orderkey", "l_partkey")
    )
    return same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")


@register(
    "q244_ktruss_edges",
    _COPURCHASE_Y_CTE
    + """,
    t0 AS (SELECT u, v FROM eraw)"""
    + _KTRUSS_ROUND.format(n=1, m=0)
    + """,
    t1 AS (SELECT u, v FROM s1 WHERE sup >= 2)"""
    + _KTRUSS_ROUND.format(n=2, m=1)
    + """,
    t2 AS (SELECT u, v FROM s2 WHERE sup >= 2)"""
    + _KTRUSS_ROUND.format(n=3, m=2)
    + """
    SELECT t2.u AS a, t2.v AS b,
           CAST(COALESCE(s3.sup, 0) AS BIGINT) AS support
    FROM t2 LEFT JOIN s3 ON s3.u = t2.u AND s3.v = t2.v
    """,
    doc="fixed-round 4-truss peeling (functions/graph.py:k_truss, "
    "Cohen 2008) over the FULL-1995 co-purchase graph (the quarter "
    "window's 4-truss is empty at sf0.01 — a vacuous gate; the year "
    "window peels non-trivially at every tested sf) — the EDGE "
    "analogue of q172's k-core: two synchronous rounds each drop "
    "every edge in fewer than 2 surviving triangles, output is the "
    "surviving edges with FINAL recomputed support. Spark enumerates "
    "triangles degree-oriented (sum outdeg^2 <= m^1.5, q149's "
    "machinery) and unpacks each into its three canonical edges, so "
    "support values are orientation-independent and the DuckDB "
    "oracle's a<b<c enumeration reproduces them exactly; the pair "
    "set is persisted AND lineage-cut EVERY round (a support round "
    "references it ~5x — the k_core cadence rule at its tightest)",
)
def q244_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import k_truss

    pairs = _copurchase_year_pairs(spark, sf_dir)
    return k_truss(pairs, k=4, rounds=2, a="u", b="v").select(
        F.col("u").alias("a"), F.col("v").alias("b"), "support"
    )


@register(
    "q248_harmonic_centrality",
    _COPURCHASE_Q_CTE
    + """,
    e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    h1 AS (SELECT src AS node,
                  ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 15))::BIGINT
                      AS hv
           FROM e),
    b1 AS (SELECT node, hv % 64 AS bucket,
                  CASE WHEN (hv // 64) = 0 THEN 40
                       ELSE least(bit_count(((hv // 64) & (-(hv // 64))) - 1)
                                  + 1, 40)
                  END AS rho
           FROM h1),
    r1 AS (SELECT node, bucket, max(rho) AS reg
           FROM b1 GROUP BY node, bucket),
    p2 AS (SELECT e.src AS node, r.bucket, r.reg
           FROM e JOIN r1 r ON r.node = e.dst
           UNION ALL SELECT node, bucket, reg FROM r1),
    r2 AS (SELECT node, bucket, max(reg) AS reg
           FROM p2 GROUP BY node, bucket),
    p3 AS (SELECT e.src AS node, r.bucket, r.reg
           FROM e JOIN r2 r ON r.node = e.dst
           UNION ALL SELECT node, bucket, reg FROM r1),
    r3 AS (SELECT node, bucket, max(reg) AS reg
           FROM p3 GROUP BY node, bucket),
    est1 AS (SELECT node,
             CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                  (1000 * (sum((1::BIGINT << (40 - reg)))
                           + (64 - count(*)) * (1::BIGINT << 40)))
                  AS BIGINT) AS est
             FROM r1 GROUP BY node),
    est2 AS (SELECT node,
             CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                  (1000 * (sum((1::BIGINT << (40 - reg)))
                           + (64 - count(*)) * (1::BIGINT << 40)))
                  AS BIGINT) AS est
             FROM r2 GROUP BY node),
    est3 AS (SELECT node,
             CAST((709 * 64 * 64 * (1::BIGINT << 40)) //
                  (1000 * (sum((1::BIGINT << (40 - reg)))
                           + (64 - count(*)) * (1::BIGINT << 40)))
                  AS BIGINT) AS est
             FROM r3 GROUP BY node)
    SELECT e1.node,
           CAST(e1.est * 1000000 // 1
              + (e2.est - e1.est) * 1000000 // 2
              + (e3.est - e2.est) * 1000000 // 3 AS BIGINT) AS hc_est
    FROM est1 e1
    JOIN est2 e2 ON e2.node = e1.node
    JOIN est3 e3 ON e3.node = e1.node
    """,
    doc="per-node harmonic centrality, sketch-estimated "
    "(functions/graph.py:harmonic_centrality_hll — the HyperBall "
    "centrality, Boldi & Vigna 2013) over the quarter co-purchase "
    "graph, truncated at 3 hops: each newly reached node contributes "
    "scale DIV h for its distance h, with shell sizes read off the "
    "per-level khop_reach_hll estimate deltas (monotone, so deltas "
    ">= 0). THE centrality computable at 100 TB — exact "
    "closeness/harmonic needs all-pairs distances, this needs H "
    "keyed joins over N*m register rows. Exact integer terms "
    "(delta * 1e6 DIV h summed), oracle unrolls the identical "
    "recursion — hash-gated like q243/q246",
)
def q248_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import harmonic_centrality_hll

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    edges = undirected(pairs)
    return harmonic_centrality_hll(edges, hops=3, src="u", dst="v")


def _sssp_oracle(rounds: int, source: str, inv_scale: int) -> str:
    """Unrolled fixed-round Bellman-Ford (mirrors
    ``functions/graph.py:sssp``): trade graph as q237, arc cost =
    inv_scale DIV w (inverse trade intensity — heavily-traded pairs
    are 'close'), d_r = min over <= r-edge paths. Exact BIGINT
    arithmetic both engines."""
    sql = f"""
    WITH eraw AS (
        SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
    edges AS (SELECT a AS src, b AS dst,
                     CAST({inv_scale} // w AS BIGINT) AS cost FROM eraw
              UNION ALL
              SELECT b AS src, a AS dst,
                     CAST({inv_scale} // w AS BIGINT) AS cost FROM eraw),
    e AS (SELECT src, dst, CAST(min(cost) AS BIGINT) AS cost
          FROM edges GROUP BY src, dst),
    d0 AS (SELECT '{source}' AS node, CAST(0 AS BIGINT) AS dist)"""
    for i in range(1, rounds + 1):
        sql += f""",
    d{i} AS (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.cost AS dist
            FROM d{i - 1} d JOIN e ON e.src = d.node
        ) GROUP BY node)"""
    return sql + f"\n    SELECT node, dist FROM d{rounds}"


# shared by q249 (batch) and q267 (stream), as is ``_trade_sssp``
_SSSP_ORACLE = _sssp_oracle(rounds=3, source="c1", inv_scale=1_000_000)


@register(
    "q249_sssp_trade_proximity",
    _SSSP_ORACLE,
    doc="single-source shortest paths (functions/graph.py:sssp): "
    "fixed-round integer Bellman-Ford over the customer-supplier "
    "trade graph with arc cost = 1e6 DIV trade multiplicity "
    "(inverse intensity: frequently-trading pairs are close) — "
    "supply-chain proximity from customer c1 within <= 3 relaxation "
    "rounds, the classic distances primitive the reach/centrality "
    "family (q241/q243/q246/q248) specializes. FRONTIER relaxation: "
    "each round expands only rows improved last round (bit-identical "
    "to full Bellman-Ford per round), one keyed join + one "
    "groupBy-min per round, state |reached| <= |V| rows however long "
    "the paths; costs validated >= 0 and rounds*max_cost 2^63-guarded "
    "at setup (the pagerank headroom policy). The oracle unrolls the "
    "identical recurrence on the min-cost-reduced arc list",
)
def q249_sssp_trade_proximity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _trade_sssp(_trade_weights(spark, sf_dir))


def _trade_sssp(weights: DataFrame) -> DataFrame:
    """3-round shortest paths from c1 over (a, b, w) trade weights at
    arc cost 1e6 DIV w."""
    from striot_spark.functions.graph import sssp

    edges = undirected(weights, "a", "b").select(
        "a", "b", F.expr("CAST(1000000 DIV w AS BIGINT)").alias("cost")
    )
    return sssp(edges, ["c1"], rounds=3, src="a", dst="b", cost="cost")


def _stage_trade_observations(spark: SparkSession, sf_dir: str) -> str:
    """Stage the customer-supplier trade OBSERVATIONS (one row per
    orders⋈lineitem hit, duplicates kept — the multiplicities arrive
    as a stream of individual trades, not pre-counted) as three
    mtime-ordered files ordered by (a, b), so the third-splits cut
    through a pair's observations — the adversarial batching q239/q245
    use: per-key counts must come out identical no matter where the
    micro-batch boundaries land. Test staging only (``split_thirds``).
    """
    from striot_spark.streaming.runtime import split_thirds, stage_ordered_files

    def write(out: str):
        obs = _trade_observations(spark, sf_dir)
        stage_ordered_files(
            split_thirds(obs, ["a", "b"]), out, order_cols=["a", "b"]
        )
        return obs.schema

    return staged(sf_dir, "striot_q250_obs_", write)


@register(
    "q250_pagerank_stream_serve",
    _WEIGHTED_PR_ORACLE,
    doc="STREAMED weighted-PageRank serve (VERDICT r10 task 5 — the "
    "q245 pattern one step further, proving the full stream -> "
    "graph-analytics composition): individual customer-supplier trade "
    "observations replay as three micro-batches cut THROUGH pairs; "
    "incremental_agg_sink keyed on the edge accumulates per-pair "
    "multiplicities (n_rows is the additive count — batching/arrival-"
    "order independent, replay-guarded, hash-prefix-partitioned "
    "state with gc_grace_batches=1); serving runs "
    "pagerank(weight=...) off the #edges-sized snapshot. Counting is "
    "additive, so the served graph is exactly q237's batch trade "
    "graph and the oracle is q237's verbatim: the unrolled weighted "
    "recurrence",
)
def q250_pagerank_stream_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = _stage_trade_observations(spark, sf_dir)
    snap = _served_counts(spark, src, ["a", "b"], gc_grace_batches=1)
    return _trade_pagerank(snap.select("a", "b", F.col("n_rows").alias("w")))


@register(
    "q251_degree_distribution",
    _COPURCHASE_Q_CTE
    + """,
    e AS (SELECT DISTINCT src, dst FROM edges),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
            FROM e GROUP BY src)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
    doc="degree histogram (functions/graph.py:degree_distribution) "
    "over the quarter co-purchase graph — the first-look structural "
    "audit of any large graph (power-law check, hub detection, and "
    "the empirical input to the wedge bound sum(deg^2) that prices "
    "q149/q241/q242/q244): two map-side-combinable groupBys, no "
    "state beyond the histogram; same one-quarter window discipline "
    "(date predicates pushed to the lineitem scan) as q241",
)
def q251_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import degree_distribution

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    edges = undirected(pairs)
    return degree_distribution(edges, src="u", dst="v")


@register(
    "q252_degree_assortativity",
    _COPURCHASE_Q_CTE
    + """,
    e AS (SELECT DISTINCT src, dst FROM edges),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
            FROM e GROUP BY src),
    xy AS (SELECT du.d AS x, dv.d AS y
           FROM e JOIN deg du ON e.src = du.src
                  JOIN deg dv ON e.dst = dv.src),
    s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sx2,
                 CAST(sum(y * y) AS BIGINT) AS sy2
          FROM xy)
    SELECT m AS m_arcs,
           CASE WHEN (CAST(m AS HUGEINT) * sx2
                      - CAST(sx AS HUGEINT) * sx) = 0
                  OR (CAST(m AS HUGEINT) * sy2
                      - CAST(sy AS HUGEINT) * sy) = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(CAST(m AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / sqrt(CAST(CAST(m AS HUGEINT) * sx2
                                 - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                            * CAST(CAST(m AS HUGEINT) * sy2
                                   - CAST(sy AS HUGEINT) * sy AS DOUBLE))
           END AS r_assort
    FROM s
    """,
    doc="degree assortativity coefficient "
    "(functions/graph.py:degree_assortativity, Newman 2002): Pearson "
    "correlation of (deg(src), deg(dst)) over the quarter "
    "co-purchase arc list — hubs-attach-to-hubs vs hub-and-spoke, "
    "the standard one-number mixing audit. Moment sums are exact "
    "longs (one degree join + one global agg); the Pearson "
    "combination runs in decimal(38,0) (Spark) / HUGEINT (oracle "
    "intermediate — output stays BIGINT+DOUBLE per the canary "
    "rule), and only the final ratio is a DOUBLE computed from "
    "bit-identical exact integers, so both engines produce the same "
    "correctly-rounded value",
)
def q252_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import degree_assortativity

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    edges = undirected(pairs)
    return degree_assortativity(edges, src="u", dst="v")


def _sssp_parents_oracle(rounds: int, source: str, inv_scale: int) -> str:
    """Unrolled FULL Bellman-Ford on (dist, parent) structs — the
    frontier fold in ``sssp(return_parents=True)`` is provably equal
    to it (each node offers (final dist + cost, id) exactly once);
    named-struct min is lexicographic in both engines."""
    sql = f"""
    WITH eraw AS (
        SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
    edges AS (SELECT a AS src, b AS dst,
                     CAST({inv_scale} // w AS BIGINT) AS cost FROM eraw
              UNION ALL
              SELECT b AS src, a AS dst,
                     CAST({inv_scale} // w AS BIGINT) AS cost FROM eraw),
    e AS (SELECT src, dst, CAST(min(cost) AS BIGINT) AS cost
          FROM edges GROUP BY src, dst),
    d0 AS (SELECT '{source}' AS node, CAST(0 AS BIGINT) AS dist,
                  '{source}' AS parent)"""
    for i in range(1, rounds + 1):
        sql += f""",
    d{i} AS (
        SELECT node,
               CAST((min({{'d': dist, 'p': parent}})).d AS BIGINT)
                   AS dist,
               (min({{'d': dist, 'p': parent}})).p AS parent
        FROM (
            SELECT node, dist, parent FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.cost AS dist,
                   d.node AS parent
            FROM d{i - 1} d JOIN e ON e.src = d.node
        ) GROUP BY node)"""
    return sql + f"\n    SELECT node, dist, parent FROM d{rounds}"


@register(
    "q253_sssp_parents",
    _sssp_parents_oracle(rounds=3, source="c1", inv_scale=1_000_000),
    doc="shortest paths WITH deterministic parent pointers "
    "(functions/graph.py:sssp(return_parents=True)) — path "
    "reconstruction (routing/provenance) on q249's supply-chain "
    "proximity graph: the per-round fold runs on min(struct(dist, "
    "parent)) so parent(v) = minimum-id predecessor among the arcs "
    "achieving v's minimal within-horizon distance; sources "
    "self-parent (NULL-free structs — engines disagree on "
    "NULL-in-struct order). Lexicographic struct min is associative/"
    "commutative and ordered identically in Spark and DuckDB, so the "
    "oracle unrolls the identical fold (full-BF form, provably equal "
    "to the frontier form)",
)
def q253_sssp_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import sssp

    pairs = _trade_weights(spark, sf_dir)
    edges = undirected(pairs, "a", "b").select(
        "a", "b", F.expr("CAST(1000000 DIV w AS BIGINT)").alias("cost")
    )
    return sssp(
        edges,
        ["c1"],
        rounds=3,
        src="a",
        dst="b",
        cost="cost",
        return_parents=True,
    )


def _hc_pivots_oracle(
    rounds: int, pivots: list, inv_scale: int, scale: int
) -> str:
    """Unrolled per-pivot Bellman-Ford (full form) + the harmonic
    fold — mirrors ``harmonic_centrality_pivots`` exactly."""
    vals = ", ".join(f"('{p}')" for p in pivots)
    sql = f"""
    WITH eraw AS (
        SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
    edges AS (SELECT a AS src, b AS dst,
                     CAST({inv_scale} // w AS BIGINT) AS cost FROM eraw
              UNION ALL
              SELECT b AS src, a AS dst,
                     CAST({inv_scale} // w AS BIGINT) AS cost FROM eraw),
    e AS (SELECT src, dst, CAST(min(cost) AS BIGINT) AS cost
          FROM edges GROUP BY src, dst),
    d0 AS (SELECT p AS pv, p AS node, CAST(0 AS BIGINT) AS dist
           FROM (VALUES {vals}) t(p))"""
    for i in range(1, rounds + 1):
        sql += f""",
    d{i} AS (
        SELECT pv, node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT pv, node, dist FROM d{i - 1}
            UNION ALL
            SELECT d.pv, e.dst AS node, d.dist + e.cost AS dist
            FROM d{i - 1} d JOIN e ON e.src = d.node
        ) GROUP BY pv, node)"""
    return sql + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
           CAST(sum({scale} // dist) AS BIGINT) AS hc_est
    FROM d{rounds} WHERE dist > 0 GROUP BY node"""


_Q254_PIVOTS = ["c1", "c2", "c3", "s1"]


@register(
    "q254_harmonic_pivots",
    _hc_pivots_oracle(
        rounds=3,
        pivots=_Q254_PIVOTS,
        inv_scale=1_000_000,
        # arc costs are ~1e6/w, so 3-round distances run 5e5..3e6 —
        # scale must sit well above them or the DIV collapses to 0..2
        # (row-count probe caught exactly that at scale=1e6)
        scale=10**9,
    ),
    doc="pivot-sampled WEIGHTED harmonic centrality "
    "(functions/graph.py:harmonic_centrality_pivots, the "
    "Eppstein-Wang 2001 estimator): exact fixed-horizon shortest "
    "paths from a 4-pivot set over q249's inverse-intensity trade "
    "graph, folded as hc_est(v) = sum over reached pivots of "
    "scale DIV d(p, v) — the weighted generalization q248's "
    "unweighted-hop HLL sketch cannot express, and the standard "
    "scale path for centrality (|pivots|*|V| state, linear in the "
    "pivot budget, vs all-pairs |V|^2). All pivots run in ONE "
    "Bellman-Ford state keyed (pivot, node): one relax join + one "
    "groupBy-min per round total. Exact longs throughout; the "
    "oracle unrolls the identical per-pivot recurrence",
)
def q254_harmonic_pivots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import harmonic_centrality_pivots

    pairs = _trade_weights(spark, sf_dir)
    edges = undirected(pairs, "a", "b").select(
        "a", "b", F.expr("CAST(1000000 DIV w AS BIGINT)").alias("cost")
    )
    return harmonic_centrality_pivots(
        edges, _Q254_PIVOTS, rounds=3, src="a", dst="b", cost="cost",
        scale=10**9,
    )


@register(
    "q255_local_clustering",
    _COPURCHASE_Q_CTE
    + """,
    p AS (SELECT DISTINCT u, v FROM eraw),
    bd AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
            FROM bd GROUP BY u),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM p e1 JOIN p e2 ON e2.u = e1.v
                 JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri),
    nt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
           FROM corners GROUP BY node)
    SELECT d.node, d.degree,
           CAST(COALESCE(nt.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.degree < 2 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(2 AS HUGEINT) * COALESCE(nt.n_tri, 0)
                          * 1000000 // (d.degree * (d.degree - 1))
                          AS BIGINT) END AS lcc_ppm
    FROM deg d LEFT JOIN nt ON nt.node = d.node
    """,
    doc="per-node local clustering coefficient "
    "(functions/graph.py:local_clustering, Watts & Strogatz 1998): "
    "lcc = 2·tri(v)·1e6 DIV (deg·(deg−1)) — the ego-density feature "
    "(community cores high, bridges 0), the per-node version of "
    "q149's global count. Triangles enumerated once under the "
    "degree-orientation wedge bound (Σoutdeg² ≤ m^1.5) keeping the "
    "pivot, so each triangle unpacks into its three corners; the "
    "product runs in decimal(38,0)/HUGEINT (2·tri·scale approaches "
    "deg²·scale — the 2^63 precedent) and the ppm output is ≤ scale. "
    "Quarter co-purchase window as q241 (dates pushed to the scan)",
)
def q255_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import local_clustering

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    return local_clustering(pairs, src="u", dst="v")


@register(
    "q256_link_prediction_ra",
    _COPURCHASE_Q_CTE
    + """,
    p AS (SELECT DISTINCT u, v FROM eraw),
    bd AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
            FROM bd GROUP BY u),
    wed AS (SELECT b1.u AS z, b1.v AS x, b2.v AS y
            FROM bd b1 JOIN bd b2 ON b1.u = b2.u AND b1.v < b2.v),
    cand AS (SELECT w.x AS u, w.y AS v, w.z
             FROM wed w LEFT JOIN p ON p.u = w.x AND p.v = w.y
             WHERE p.u IS NULL)
    SELECT cand.u, cand.v,
           CAST(count(*) AS BIGINT) AS common_nbrs,
           CAST(sum(1000000 // d.degree) AS BIGINT) AS ra_ppm
    FROM cand JOIN deg d ON d.node = cand.z
    GROUP BY cand.u, cand.v
    """,
    doc="resource-allocation link prediction "
    "(functions/graph.py:link_prediction_ra, Zhou/Lü/Zhang 2009): "
    "for every distance-2 NON-edge, ra = Σ over common neighbors z "
    "of 1e6 DIV deg(z) — the integer-exact member of the "
    "common-neighbor index family (Adamic-Adar's 1/log deg is "
    "float) and the strongest simple baseline in the original "
    "benchmarks; in a co-purchase graph these are the products that "
    "share discriminative neighbors but were never bought together. "
    "One symmetric-adjacency self-join (the q149 wedge budget), "
    "per-z DIV terms computed BEFORE the fan-out, canonical u<v, "
    "anti-join against existing edges, one (u,v) groupBy",
)
def q256_link_prediction_ra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import link_prediction_ra

    pairs = _copurchase_quarter_pairs(spark, sf_dir)
    return link_prediction_ra(pairs, src="u", dst="v")


# ---- TPC-H shape completion (round 11): the seven query shapes the
# fixture schema previously lacked counterparts for, adapted to the
# available tables (no partsupp / l_shipmode / l_commitdate in the
# driver fixtures — cost and availability signals derive from
# lineitem history instead, which preserves each query's PLAN shape:
# correlated min, scalar-threshold having, conditional agg, NOT-IN
# exclusion, OR-of-ANDs pushdown, semi-join chain). With these, all
# 22 classic TPC-H query shapes have a registered, oracle-gated
# counterpart.


@register(
    "q257_min_cost_supplier",
    f"""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               min({_cents('l_extendedprice')} * 1000
                   // CAST(l_quantity AS BIGINT)) AS cost_mc
        FROM lineitem GROUP BY l_partkey, l_suppkey),
    eligible AS (
        SELECT c.l_partkey, c.l_suppkey, c.cost_mc
        FROM cost c
        JOIN supplier s ON s.s_suppkey = c.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'),
    best AS (
        SELECT l_partkey, min(cost_mc) AS best_mc
        FROM eligible GROUP BY l_partkey)
    SELECT p.p_partkey, min(e.l_suppkey) AS s_suppkey,
           CAST(b.best_mc AS BIGINT) AS cost_mc
    FROM part p
    JOIN best b ON b.l_partkey = p.p_partkey
    JOIN eligible e ON e.l_partkey = p.p_partkey
                   AND e.cost_mc = b.best_mc
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
    GROUP BY p.p_partkey, b.best_mc
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier): for each STANDARD "
    "size-15 part, the EUROPE supplier with the lowest observed unit "
    "price — the correlated-min-subquery shape, lowered as groupBy-"
    "min + equality join back (Catalyst's standard decorrelation); "
    "unit price in exact milli-cents (cents * 1000 DIV quantity — "
    "integral-double quantities, engine-exact), supplier ties broken "
    "by min suppkey. No partsupp in the fixtures: the offer table "
    "derives from observed lineitem history, same plan shape",
)
def q257_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.expr(
                "CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)"
                " * 1000 DIV CAST(l_quantity AS BIGINT)"
            )
        ).alias("cost_mc")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eligible = (
        cost.join(s, cost["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("l_partkey", "l_suppkey", "cost_mc")
    )
    best = eligible.groupBy("l_partkey").agg(
        F.min("cost_mc").alias("best_mc")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    return (
        p.join(best, p["p_partkey"] == best["l_partkey"])
        .join(
            eligible.withColumnRenamed("l_partkey", "__pk"),
            (F.col("__pk") == F.col("p_partkey"))
            & (F.col("cost_mc") == F.col("best_mc")),
        )
        .groupBy("p_partkey", "best_mc")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
        .select(
            "p_partkey",
            "s_suppkey",
            F.col("best_mc").cast("long").alias("cost_mc"),
        )
    )


@register(
    "q258_product_profit",
    f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum({_cents(DISC_PRICE)}
                    - CAST(l_quantity AS BIGINT)
                      * ({_cents('p_retailprice')} * 80 // 100))
                AS BIGINT) AS sum_profit_c
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (product-type profit by nation and year): "
    "profit = discounted revenue minus quantity times a cost proxy "
    "(80% of retail, exact integer cents — no ps_supplycost in the "
    "fixtures), for 'red%' parts, grouped by supplier nation x order "
    "year — the classic 5-table star join with an expression-derived "
    "group key; all money in exact cents",
)
def q258_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = money(disc_price_col()) - F.col("l_quantity").cast(
        "long"
    ) * F.expr(
        "CAST(round(p_retailprice * 100.0, 0) AS BIGINT) * 80 DIV 100"
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("long").alias("sum_profit_c"))
    )


@register(
    "q259_important_parts",
    f"""
    WITH pv AS (
        SELECT l.l_partkey,
               CAST(sum({_cents('l_extendedprice')}) AS BIGINT)
                   AS value_c
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7'
        GROUP BY l.l_partkey)
    SELECT l_partkey, value_c FROM pv
    WHERE value_c > (SELECT CAST(sum(value_c) // 1000 AS BIGINT)
                     FROM pv)
    """,
    doc="TPC-H Q11 shape (important stock): per-part traded value "
    "from NATION_7 suppliers, keeping parts above 1/1000 of the "
    "nation's total — the HAVING-over-global-scalar shape: the "
    "threshold is a 1-row aggregate broadcast against the per-part "
    "sums (never a re-scan); exact integer cents both sides. Stock "
    "value derives from lineitem history (no partsupp), same plan",
)
def q259_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    pv = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(
            F.sum(money(F.col("l_extendedprice")))
            .cast("long")
            .alias("value_c")
        )
    )
    from striot_spark.functions.caching import track_persist

    pv = track_persist(pv)
    thr = pv.agg(
        F.expr("CAST(sum(value_c) DIV 1000 AS BIGINT)").alias("__thr")
    )
    return (
        pv.crossJoin(F.broadcast(thr))
        .filter(F.col("value_c") > F.col("__thr"))
        .select("l_partkey", "value_c")
    )


@register(
    "q260_priority_line_counts",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12 shape (priority line counts): one fact-to-fact "
    "equi-join + CONDITIONAL aggregation (CASE inside sum — one pass, "
    "no per-branch scans), lines shipped in 1996 bucketed by return "
    "flag x order priority class. No l_shipmode/l_commitdate in the "
    "fixtures; the conditional-agg plan shape is the point",
)
def q260_priority_line_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1996, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1997, 1, 1)))
    )
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


@register(
    "q261_supplier_counts_by_part_attr",
    """
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#11'
      AND p.p_type <> 'MEDIUM'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p_size
    """,
    doc="TPC-H Q16 shape (supplier counts per part attribute): "
    "distinct suppliers observed per (brand, type, size) over an "
    "attribute filter, EXCLUDING a blacklist via NOT IN (suppliers "
    "in arrears, s_acctbal < 0 — the fixtures have no s_comment; 6 "
    "such suppliers at sf0.01, so the exclusion is non-vacuous) — "
    "the anti-join + count-distinct shape; supplier-part pairs from "
    "lineitem history (no partsupp)",
)
def q261_supplier_counts_by_part_attr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11")
        & (F.col("p_type") != "MEDIUM")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad),
            li["l_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size")
        )
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")
        )
    )


@register(
    "q262_or_block_revenue",
    f"""
    SELECT CAST(sum({_cents(DISC_PRICE)}) AS BIGINT) AS revenue_c,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (OR-of-ANDs discounted revenue): one "
    "lineitem-part join under three disjunctive brand/size/quantity "
    "blocks — the predicate-pushdown stress shape (each conjunct "
    "splits across both tables; Catalyst pushes the common-column "
    "residuals to each scan and keeps ONE join); exact-cents revenue "
    "plus the matched line count",
)
def q262_or_block_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    blk = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(blk).agg(
        F.sum(money(disc_price_col())).cast("long").alias("revenue_c"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


@register(
    "q263_excess_volume_suppliers",
    """
    WITH red_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    vol AS (
        SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, v.qty
    FROM supplier s
    JOIN vol v ON v.l_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3' AND v.qty > 50
    """,
    doc="TPC-H Q20 shape (excess-volume suppliers of a part class): "
    "NATION_3 suppliers who shipped more than 50 units of 'red%' "
    "parts during 1995 — the nested-IN / semi-join-chain shape "
    "(parts semi-join into lineitem, aggregate, threshold, then the "
    "supplier dim); quantity sums are integral doubles cast to exact "
    "longs, date range pushed to the scan. Availability derives "
    "from shipped history (no partsupp availqty in the fixtures)",
)
def q263_excess_volume_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime as dt

    red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(dt.datetime(1995, 1, 1)))
        & (F.col("l_shipdate") < F.lit(dt.datetime(1996, 1, 1)))
    )
    vol = (
        li.join(
            F.broadcast(red),
            li["l_partkey"] == red["p_partkey"],
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        s.join(vol, s["s_suppkey"] == vol["l_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", "qty")
    )


def _score_oracle(k: int, rounds: int) -> str:
    """Chained-CTE unroll of ``rounds`` STRENGTH-core peels over the
    weighted trade graph (q237's edge multiplicities)."""
    sql = """
    WITH eraw AS (
        SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2),
    e0 AS (SELECT a AS s, b AS d, w FROM eraw
           UNION ALL SELECT b, a, w FROM eraw)"""
    cur = "e0"
    for r in range(1, rounds + 1):
        sql += f""",
    d{r} AS (SELECT s, CAST(sum(w) AS BIGINT) AS st
             FROM {cur} GROUP BY s),
    ok{r} AS (SELECT s FROM d{r} WHERE st >= {k}),
    e{r} AS (
        SELECT e.s, e.d, e.w FROM {cur} e
        JOIN ok{r} a ON e.s = a.s JOIN ok{r} b ON e.d = b.s)"""
        cur = f"e{r}"
    sql += f"""
    SELECT s AS node, CAST(sum(w) AS BIGINT) AS deg
    FROM {cur} GROUP BY s"""
    return sql


@register(
    "q264_strength_core",
    _score_oracle(k=60, rounds=3),
    doc="fixed-round STRENGTH-core peeling "
    "(functions/graph.py:k_core(weight=...), the s-core of Eidsaa & "
    "Almaas 2013): each round drops nodes whose total trade "
    "multiplicity Σw < 60 and their edges — the weighted degeneracy "
    "structure (a customer with many one-off suppliers peels early; "
    "one with few heavy relationships survives), which the "
    "unweighted q172 k-core cannot see. w=1 reduces to k_core "
    "bit-for-bit (unit-tested); same per-round plan (one "
    "map-side-combined strength groupBy + two survivor semi-joins, "
    "weights riding the persisted edge list) and the same tight "
    "lineage cadence (3 self-references per round). The oracle "
    "unrolls the identical weighted peels as chained CTEs",
)
def q264_strength_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import k_core

    pairs = _trade_weights(spark, sf_dir)
    edges = undirected(pairs, "a", "b")
    return k_core(edges, k=60, rounds=3, src="a", dst="b", weight="w")


def _coreness_oracle(rounds: int) -> str:
    """Chained-CTE unroll of the h-index coreness iteration over the
    quarter co-purchase graph."""
    sql = """
    WITH p AS (
        SELECT DISTINCT a.l_partkey AS ia, b.l_partkey AS ib
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT ia AS s, ib AS d FROM p UNION ALL SELECT ib, ia FROM p),
    c0 AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS c
           FROM e GROUP BY s)"""
    cur = "c0"
    for r in range(1, rounds + 1):
        sql += f""",
    x{r} AS (SELECT e.s AS node, c.c AS cn,
                    row_number() OVER (PARTITION BY e.s
                                       ORDER BY c.c DESC) AS rk
             FROM e JOIN {cur} c ON c.node = e.d),
    c{r} AS (SELECT node, CAST(max(least(rk, cn)) AS BIGINT) AS c
             FROM x{r} GROUP BY node)"""
        cur = f"c{r}"
    return sql + f"""
    SELECT node, c AS coreness FROM {cur}"""


def _coreness_capped_oracle(rounds: int, cap: int) -> str:
    """q266's unrolled h-index recurrence with the final values
    clipped at ``cap`` — EXACTLY what the k-bounded coreness returns
    (H(min(x, k)) = min(H(x), k), so the clipped iteration tracks the
    unclipped one capped at k at every round; unit-proved in
    test_coreness_capped_equals_least_of_uncapped)."""
    base = _coreness_oracle(rounds)
    head, tail = base.rsplit("SELECT node, c AS coreness", 1)
    return (
        head
        + f"SELECT node, CAST(LEAST(c, {cap}) AS BIGINT) AS coreness"
        + tail
    )


# shared by q266 (batch) and q269 (stream), as is ``_part_coreness``
_CORENESS_ORACLE = _coreness_oracle(rounds=3)


@register(
    "q266_coreness",
    _CORENESS_ORACLE,
    doc="per-node CORENESS via the h-index iteration "
    "(functions/graph.py:coreness, Lü et al. 2016): start from the "
    "degree, repeatedly replace each node's value with the H-index "
    "of its neighbors' values — monotone non-increasing, converges "
    "to the exact core number, so one run yields the WHOLE "
    "degeneracy profile where q172's k_core answers a single k. "
    "Fixed 3 synchronous rounds (engine-identical whether or not "
    "converged); per round one keyed join + one per-node window "
    "rank + one groupBy-max, sum(deg) rows, window sort spills and "
    "hub degree bounds it. H-index tie order is irrelevant (depends "
    "only on the value multiset), so row_number needs no tiebreak; "
    "the oracle unrolls the identical rounds. Runs on q172's FULL "
    "part co-purchase graph (the quarter window's coreness tops out "
    "at 2 — vacuous-gate discipline: probe the value spread, not "
    "just the row count)",
)
def q266_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return _part_coreness(li, "l_orderkey", "l_partkey")


def _part_coreness(lines: DataFrame, key: str, item: str) -> DataFrame:
    """3-round coreness of the part co-purchase graph of ``lines``."""
    from striot_spark.functions.graph import coreness

    pairs = same_key_pairs(lines, key, item, out_a="u", out_b="v")
    return coreness(undirected(pairs), rounds=3, src="u", dst="v")


@register(
    "q267_sssp_stream_serve",
    _SSSP_ORACLE,
    doc="STREAMED shortest-path serve — the third leg of the "
    "stream->graph-analytics family (q245 reach sketch, q250 "
    "weighted PageRank, now distances): individual trade "
    "observations replay as three micro-batches cut THROUGH pairs, "
    "incremental_agg_sink accumulates per-pair multiplicities "
    "(additive n_rows, replay-guarded partitioned state), and "
    "serving runs sssp from c1 at cost 1e6 DIV multiplicity off the "
    "#edges-sized snapshot. Counting is additive, so the served "
    "graph is exactly q249's batch trade graph and the oracle is "
    "q249's verbatim — proximity features stay correct no matter "
    "where the micro-batch boundaries land",
)
def q267_sssp_stream_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _stage_trade_observations(spark, sf_dir)
    snap = _served_counts(spark, src, ["a", "b"])
    return _trade_sssp(snap.select("a", "b", F.col("n_rows").alias("w")))


def _betweenness_oracle(rounds: int, pivots: list, scale: int) -> str:
    """Unrolled pivot-Brandes (mirrors
    ``functions/graph.py:betweenness_pivots``): level-synchronous BFS
    forward (sigma = exact path counts), shortest-path DAG, then the
    dependency accumulation per level descending with the identical
    per-term integer DIV. HUGEINT only in intermediates; every CTE
    output column is BIGINT-cast."""
    vals = ", ".join(f"('{p}')" for p in pivots)
    sql = f"""
    WITH eraw AS (
        SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    e AS (SELECT a AS src, b AS dst FROM eraw
          UNION SELECT b, a FROM eraw),
    f0 AS (SELECT p AS pv, p AS node, CAST(0 AS BIGINT) AS dist,
                  CAST(1 AS BIGINT) AS sigma
           FROM (VALUES {vals}) t(p))"""
    for i in range(1, rounds + 1):
        sql += f""",
    n{i} AS (SELECT f.pv, e.dst AS node,
                    CAST(sum(f.sigma) AS BIGINT) AS sigma
             FROM f{i - 1} f JOIN e ON e.src = f.node
             WHERE f.dist = {i - 1} GROUP BY f.pv, e.dst),
    f{i} AS (SELECT * FROM f{i - 1}
             UNION ALL
             SELECT n.pv, n.node, CAST({i} AS BIGINT), n.sigma
             FROM n{i} n LEFT JOIN f{i - 1} s
               ON s.pv = n.pv AND s.node = n.node
             WHERE s.node IS NULL)"""
    sql += f""",
    dag AS (SELECT u.pv, u.node AS un, v.node AS vn, u.dist AS du,
                   u.sigma AS su, v.sigma AS sv
            FROM f{rounds} u JOIN e ON e.src = u.node
            JOIN f{rounds} v ON v.pv = u.pv AND v.node = e.dst
             AND v.dist = u.dist + 1)"""
    prev = None
    for lvl in range(rounds - 1, -1, -1):
        dl = (
            "CAST(0 AS BIGINT)"
            if prev is None
            else "coalesce(x.delta, 0)"
        )
        join = (
            ""
            if prev is None
            else f" LEFT JOIN {prev} x ON x.pv = g.pv AND x.node = g.vn"
        )
        sql += f""",
    d{lvl} AS (SELECT g.pv, g.un AS node,
               CAST(sum(CAST(g.su AS HUGEINT) * ({scale} + {dl})
                        // g.sv) AS BIGINT) AS delta
               FROM dag g{join}
               WHERE g.du = {lvl} GROUP BY g.pv, g.un)"""
        prev = f"d{lvl}"
    unions = "\n          UNION ALL ".join(
        f"SELECT * FROM d{lvl}" for lvl in range(rounds - 1, -1, -1)
    )
    return sql + f""",
    alld AS ({unions})
    SELECT node, CAST(sum(delta) AS BIGINT) AS bc_ppm
    FROM alld WHERE node <> pv
    GROUP BY node HAVING sum(delta) > 0"""


@register(
    "q268_betweenness_pivots",
    _betweenness_oracle(rounds=3, pivots=_Q254_PIVOTS, scale=1_000_000),
    doc="pivot-sampled BETWEENNESS centrality "
    "(functions/graph.py:betweenness_pivots — Brandes 2001 from a "
    "pivot set, the Brandes-Pich 2007 estimator) over the "
    "customer-supplier trade graph, unweighted 3-hop horizon from "
    "q254's 4 pivots: the broker/bottleneck signal completing the "
    "classic centrality family (degree q251, harmonic q254/q248, "
    "PageRank q232/q236, coreness q266). Forward = ONE "
    "level-synchronous BFS for all pivots keyed (pivot, node) "
    "carrying exact path counts sigma; backward = Brandes' "
    "dependency over the persisted shortest-path DAG, one keyed "
    "join + groupBy-sum per level, delta = sigma_u * (scale + "
    "delta_w) DIV sigma_w per DAG arc — exact integers, sigma "
    "headroom enforced at setup (max_indeg^rounds <= 2^62). State "
    "|pivots|*|V|, the linear-in-pivot-budget scale path vs "
    "all-pairs |V| SSSPs. The oracle unrolls the identical "
    "forward/backward recurrence",
)
def q268_betweenness_pivots(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import betweenness_pivots

    pairs = _trade_observations(spark, sf_dir).distinct()
    edges = undirected(pairs, "a", "b")
    return betweenness_pivots(
        edges, _Q254_PIVOTS, rounds=3, src="a", dst="b",
        scale=1_000_000,
    )


def _stage_copurchase_observations(
    spark: SparkSession, sf_dir: str
) -> str:
    """Stage the (l_orderkey, l_partkey) co-purchase OBSERVATIONS
    (duplicates kept — a part can appear on several lines of one
    order; the stream delivers raw line events, not pre-distinct
    keys) as three mtime-ordered files ordered by (k, p), so the
    third-splits cut through a key's observations — the adversarial
    batching the q250/q267 serves use: the materialized key set must
    come out identical no matter where the micro-batch boundaries
    land. Test staging only (``split_thirds``).
    """
    from striot_spark.streaming.runtime import split_thirds, stage_ordered_files

    def write(out: str):
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
        )
        stage_ordered_files(
            split_thirds(li, ["k", "p"]), out, order_cols=["k", "p"]
        )
        return li.schema

    return staged(sf_dir, "striot_q269_obs_", write)


@register(
    "q269_coreness_stream_serve",
    _CORENESS_ORACLE,
    doc="fourth stream->graph-analytics serve leg (after q245 reach, "
    "q250 weighted PageRank, q267 shortest paths — this one proves "
    "the DEGENERACY family rides the same tier): lineitem "
    "co-purchase observations stream through the replay-idempotent "
    "incremental_agg_sink keyed (l_orderkey, l_partkey) — additive "
    "counting, so the materialized key set is batch-boundary- and "
    "replay-independent — then the served snapshot's distinct keys "
    "pair up (same_key_pairs) into q266's FULL part co-purchase graph and "
    "functions/graph.py:coreness (h-index iteration, 3 rounds) runs "
    "on it. Oracle = q266's batch oracle VERBATIM: the stream-built "
    "graph must be bit-identical to the batch-built one, which is "
    "exactly the serve-tier contract",
)
def q269_coreness_stream_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = _stage_copurchase_observations(spark, sf_dir)
    snap = _served_counts(spark, src, ["k", "p"])
    return _part_coreness(snap.select("k", "p"), "k", "p")


@register(
    "q270_coreness_hub_capped",
    _coreness_capped_oracle(rounds=3, cap=60),
    doc="K-BOUNDED coreness (functions/graph.py:coreness with "
    "max_degree=60) on q266's full part co-purchase graph — the "
    "driver-gated evidence for the round-12 hub-degree guard's cap "
    "path: values are clipped at k, which returns EXACTLY "
    "least(coreness, k) (H-index is monotone per coordinate, so "
    "H(min(x,k)) = min(H(x),k) and the clipped iteration tracks the "
    "unclipped one by induction), and the per-round fold switches "
    "from a row_number sort over deg rows to a COUNTING H-index "
    "over <= k distinct clipped values per node (plan-gated: no "
    "row_number) — the per-hub sort cost a 100 TB power-law graph "
    "needs bounded. Degrees here run 42-206 (sf0.01), so cap 60 "
    "genuinely clips: output spread 42..60 both fixture scales. "
    "Oracle = q266's unrolled recurrence with LEAST(c, 60)",
)
def q270_coreness_hub_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import coreness

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    edges = undirected(pairs)
    return coreness(edges, rounds=3, src="u", dst="v", max_degree=60)


@register(
    "q271_link_prediction_ra_capped",
    """
    WITH p AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    bd AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
            FROM bd GROUP BY u),
    wed AS (SELECT b1.u AS z, b1.v AS x, b2.v AS y
            FROM bd b1 JOIN bd b2 ON b1.u = b2.u AND b1.v < b2.v
            JOIN deg dz ON dz.node = b1.u AND dz.degree <= 60),
    cand AS (SELECT w.x AS u, w.y AS v, w.z
             FROM wed w LEFT JOIN p ON p.u = w.x AND p.v = w.y
             WHERE p.u IS NULL)
    SELECT cand.u, cand.v,
           CAST(count(*) AS BIGINT) AS common_nbrs,
           CAST(sum(1000000 // d.degree) AS BIGINT) AS ra_ppm
    FROM cand JOIN deg d ON d.node = cand.z
    GROUP BY cand.u, cand.v
    """,
    doc="degree-CAPPED resource-allocation link prediction "
    "(functions/graph.py:link_prediction_ra with max_degree=60) on "
    "the FULL part co-purchase graph — the driver-gated evidence "
    "for the hub-degree guard's cap path on the wedge family: wedge "
    "CENTERS above the cap are dropped BEFORE the fan-out (each "
    "dropped center contributes < scale/k to ra_ppm — RA's whole "
    "design is that high-degree commons carry ~no signal), per-z "
    "DIV terms still computed from the FULL degree, candidates "
    "still anti-joined against the full edge set. Degrees run "
    "42-206 at sf0.01, so cap 60 genuinely drops hub centers while "
    "keeping the discriminative ones — the published estimator over "
    "the capped center set, the documented delta. The uncapped "
    "q256 form stays on the quarter graph; this one would be the "
    "100 TB configuration",
)
def q271_link_prediction_ra_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from striot_spark.functions.graph import link_prediction_ra

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    return link_prediction_ra(
        pairs, src="u", dst="v", max_degree=60
    )


def _hits_oracle(iterations: int, scale: int) -> str:
    """Unrolled HITS recurrence (mirror of functions/graph.py:hits):
    alternating in-sum / out-sum with L1 renormalization to N*scale,
    HUGEINT intermediates (Spark runs the normalization product in
    decimal(38,0); values identical under the enforced guards)."""
    sql = f"""
    WITH eraw AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    v AS (SELECT src AS node FROM eraw UNION SELECT dst FROM eraw),
    nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM v),
    h0 AS (SELECT node, CAST({scale} AS HUGEINT) AS sc FROM v)"""
    for i in range(1, iterations + 1):
        sql += f""",
    ra{i} AS (SELECT v.node, CAST(COALESCE(s.s, 0) AS HUGEINT) AS raw
              FROM v LEFT JOIN (
                  SELECT e.dst AS node, sum(h.sc) AS s
                  FROM eraw e JOIN h{i - 1} h ON h.node = e.src
                  GROUP BY e.dst) s ON v.node = s.node),
    a{i} AS (SELECT node,
                    raw * ((SELECT n FROM nn) * {scale})
                        // (SELECT sum(raw) FROM ra{i}) AS sc
             FROM ra{i}),
    rh{i} AS (SELECT v.node, CAST(COALESCE(s.s, 0) AS HUGEINT) AS raw
              FROM v LEFT JOIN (
                  SELECT e.src AS node, sum(a.sc) AS s
                  FROM eraw e JOIN a{i} a ON a.node = e.dst
                  GROUP BY e.src) s ON v.node = s.node),
    h{i} AS (SELECT node,
                    raw * ((SELECT n FROM nn) * {scale})
                        // (SELECT sum(raw) FROM rh{i}) AS sc
             FROM rh{i})"""
    return sql + f"""
    SELECT a.node, CAST(a.sc AS BIGINT) AS auth,
           CAST(h.sc AS BIGINT) AS hub
    FROM a{iterations} a JOIN h{iterations} h ON a.node = h.node
    """


@register(
    "q277_hits_trade",
    _hits_oracle(iterations=2, scale=10**9),
    doc="fixed-iteration integer HITS (functions/graph.py:hits, "
    "Kleinberg 1999) over the DIRECTED customer->supplier trade "
    "graph — the mutual-reinforcement counterpart of q133's "
    "PageRank, completing the classic link-analysis pair: supplier "
    "AUTHORITY = endorsed by high-hub customers, customer HUB = "
    "buying from high-authority suppliers; on the bipartite graph "
    "the two vectors split cleanly (customers end auth=0, suppliers "
    "hub=0 — structural, so the gate checks both directions' "
    "recurrences). L1 renormalization to N*scale per half-round in "
    "exact integers (decimal(38,0) normalization product; headroom "
    "max_deg*N*scale < 2^63 and max_deg*(N*scale)^2 < 10^38 both "
    "ENFORCED at setup), a documented delta from the textbook L2 "
    "(sqrt is not integer-exact; scaling never reorders). Oracle "
    "unrolls the identical recurrence in HUGEINT. Per half-round: "
    "one edge-key join + one keyed groupBy + one broadcast scalar — "
    "pagerank's 100 TB shape",
)
def q277_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import hits

    pairs = _trade_observations(spark, sf_dir, "src", "dst").distinct()
    return hits(pairs, iterations=2)


@register(
    "q278_butterfly_count",
    """
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
               FROM lineitem),
    c AS (SELECT a.p AS pa, b.p AS pb,
                 CAST(count(*) AS BIGINT) AS cooc
          FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
          GROUP BY a.p, b.p),
    bf AS (SELECT pa, pb, cooc * (cooc - 1) // 2 AS b
           FROM c WHERE cooc >= 2)
    SELECT part, CAST(sum(b) AS BIGINT) AS n_butterflies
    FROM (SELECT pa AS part, b FROM bf
          UNION ALL SELECT pb AS part, b FROM bf) x
    GROUP BY part
    """,
    doc="per-part BUTTERFLY count (bipartite 4-cycle / K_{2,2} motif, "
    "Sanei-Mehri, Sariyuce & Tirthapura KDD'18, public methodology) "
    "over the order-part purchase bipartite graph — the bipartite "
    "counterpart of q149's triangles (bipartite graphs have NO "
    "triangles; the butterfly is their smallest cohesion unit): "
    "bf(p) = Σ_q C(cooc(p,q), 2), where cooc = distinct orders "
    "containing both parts — two orders sharing two parts form one "
    "butterfly, the co-purchase clustering signal dedup/recsys "
    "pipelines use. Wedges pivot on the ORDER side, so the fan-out "
    "per order is C(order_size, 2) — bounded by basket size (~7 in "
    "TPC-H-shaped data), NEVER by part popularity: Σ wedges is "
    "LINEAR in orders at 100 TB and the only shuffle is the "
    "(pa, pb) count with map-side partials (the published "
    "smaller-side-pivot strategy). Exact integers throughout; the "
    "full-history window is deliberate — the 1995Q1 window of "
    "q241/q242 contains ZERO butterflies at fixture scale (probed; "
    "vacuous-gate discipline)",
)
def q278_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no .distinct() pre-pass: same_key_pairs' collect_set already
    # dedups parts within each order, so a distinct here would add a
    # full lineitem shuffle for no semantic effect (ADVICE r14)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # unique=False: one row per (order, part-pair) co-occurrence; the
    # cooc groupBy is the only pair shuffle (PERF §43)
    bf = (
        same_key_pairs(li, "o", "p", out_a="pa", out_b="pb", unique=False)
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
        .filter(F.col("cooc") >= 2)
        .select(
            "pa",
            "pb",
            F.expr("cooc * (cooc - 1) DIV 2").alias("b"),
        )
    )
    return (
        bf.select(F.col("pa").alias("part"), "b")
        .unionByName(bf.select(F.col("pb").alias("part"), "b"))
        .groupBy("part")
        .agg(F.sum("b").cast("long").alias("n_butterflies"))
    )


@register(
    "q281_rich_club",
    """
    WITH eraw AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT u AS src, v AS dst FROM eraw
              UNION ALL SELECT v AS src, u AS dst FROM eraw),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    emin AS (SELECT least(du.d, dv.d) AS m
             FROM eraw p
             JOIN deg du ON du.node = p.u
             JOIN deg dv ON dv.node = p.v),
    ks AS (SELECT DISTINCT d AS k FROM deg),
    stats AS (SELECT k,
                     (SELECT count(*) FROM deg WHERE d > k) AS nk,
                     (SELECT count(*) FROM emin WHERE m > k) AS ek
              FROM ks)
    SELECT CAST(k AS BIGINT) AS k, CAST(nk AS BIGINT) AS n_rich,
           CAST(ek AS BIGINT) AS e_rich,
           CAST(2 * ek * 1000000 // (nk * (nk - 1)) AS BIGINT)
               AS phi_ppm
    FROM stats WHERE nk >= 2
    """,
    doc="rich-club coefficient curve (Colizza, Flammini, Serrano & "
    "Vespignani 2006, public methodology) over the FULL part "
    "co-purchase graph (q266's; the quarter window's degrees top "
    "out at 2 and give a 2-point curve — vacuous-gate discipline): "
    "for every OBSERVED degree value k, phi(k) = "
    "2*E_k*1e6 DIV (N_k*(N_k-1)) where N_k = nodes with degree > k "
    "and E_k = edges whose BOTH endpoints have degree > k — do the "
    "best-connected products preferentially co-occur with each "
    "other (hub interconnection, the global complement of q252's "
    "assortativity and q255's local clustering). Exact integer ppm. "
    "Scale shape: an edge counts toward E_k for every k below its "
    "MIN endpoint degree, so both curves are SUFFIX SUMS over two "
    "degree-valued histograms — one degree groupBy, one edge "
    "min-degree annotation (two keyed joins), then windows over the "
    "distinct-degree frame (bounded by |distinct degrees|, single "
    "tiny partition by design — never data-sized). No per-threshold "
    "scans: the full curve costs one pass at 100 TB",
)
def q281_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    both = undirected(pairs)
    deg = both.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    emin = (
        pairs.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .select(F.least("du", "dv").alias("val"))
        .groupBy("val")
        .agg(F.count(F.lit(1)).cast("long").alias("e_cnt"))
    )
    nhist = deg.groupBy(F.col("d").alias("val")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cnt")
    )
    merged = nhist.join(emin, "val", "full").select(
        "val",
        F.coalesce("n_cnt", F.lit(0)).alias("n_cnt"),
        F.coalesce("e_cnt", F.lit(0)).alias("e_cnt"),
    )
    w = (
        W.orderBy(F.col("val").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    curve = merged.select(
        "val",
        "n_cnt",
        F.coalesce(F.sum("n_cnt").over(w), F.lit(0)).alias("n_rich"),
        F.coalesce(F.sum("e_cnt").over(w), F.lit(0)).alias("e_rich"),
    )
    return (
        curve.filter((F.col("n_cnt") > 0) & (F.col("n_rich") >= 2))
        .select(
            F.col("val").cast("long").alias("k"),
            F.col("n_rich").cast("long").alias("n_rich"),
            F.col("e_rich").cast("long").alias("e_rich"),
            F.expr(
                "CAST(2 * e_rich * 1000000 DIV (n_rich * (n_rich - 1)) "
                "AS BIGINT)"
            ).alias("phi_ppm"),
        )
    )


@register(
    "q285_transitivity",
    """
    WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    nd AS (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM nd GROUP BY n),
    wg AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
           FROM deg),
    ann AS (
        SELECT e0.u, e0.v, du.d AS du, dv.d AS dv,
               ('0x' || substr(md5(e0.u::VARCHAR), 1, 15))::BIGINT AS hu,
               ('0x' || substr(md5(e0.v::VARCHAR), 1, 15))::BIGINT AS hv
        FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n),
    o AS (
        SELECT CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN u ELSE v END AS src,
               CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN v ELSE u END AS dst,
               CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN dv ELSE du END AS dd,
               CASE WHEN du < dv OR (du = dv AND hu < hv)
                    THEN hv ELSE hu END AS dh
        FROM ann),
    w AS (
        SELECT o1.dst AS x, o2.dst AS y
        FROM o o1 JOIN o o2 ON o1.src = o2.src
        WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dh < o2.dh)),
    tr AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM w JOIN o ON w.x = o.src AND w.y = o.dst)
    SELECT wg.n_wedges, tr.n_triangles,
           CAST(3 * tr.n_triangles * 1000000 // wg.n_wedges AS BIGINT)
               AS transitivity_ppm
    FROM wg, tr
    """,
    doc="GLOBAL transitivity ratio (Watts-Strogatz / Newman's global "
    "clustering coefficient) over q149's full part co-purchase "
    "graph: 3 * triangles * 1e6 DIV wedges, with wedges = "
    "SUM C(deg, 2) off the degree frame and triangles from the SAME "
    "degree-oriented m^1.5-bounded counter q149 uses "
    "(functions/graph.py:triangle_count) — the corpus-level "
    "complement of q255's per-node local coefficient (the two "
    "deliberately disagree on skewed graphs: global weights hubs by "
    "their wedge mass, the mean of locals weights nodes equally — "
    "having both is the published practice). Exact integers; two "
    "1-row frames cross-joined (one broadcast BNLJ, q238's scalar "
    "idiom); headroom 3e6 * triangles < 2^63 holds to ~3e12 "
    "triangles",
)
def q285_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    from striot_spark.functions.caching import track_persist

    # the pair build (one groupBy + in-row expansion + distinct) feeds
    # BOTH the wedge count and triangle_count's internal pipeline —
    # persist it once or the build runs twice (the §38 discipline)
    edges = track_persist(
        same_key_pairs(li, "l_orderkey", "l_partkey", out_a="a", out_b="b")
    )
    both = undirected(edges, "a", "b")
    wedges = (
        both.groupBy(F.col("a").alias("n"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .agg(
            F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias(
                "n_wedges"
            )
        )
    )
    tri = triangle_count(edges).select(
        F.col("n_triangles").cast("long").alias("n_triangles")
    )
    return wedges.crossJoin(F.broadcast(tri)).select(
        "n_wedges",
        "n_triangles",
        F.expr(
            "CAST(3 * n_triangles * 1000000 DIV n_wedges AS BIGINT)"
        ).alias("transitivity_ppm"),
    )


def _katz_oracle(rounds: int) -> str:
    """Unrolled Katz walk recurrence (mirror of
    functions/graph.py:katz_centrality): w_r = A^T w_{r-1} with w_0=1,
    katz_scaled = Σ w_r * 2^(rounds-r); HUGEINT intermediates."""
    sql = """
    WITH eraw AS (
        SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (SELECT a AS src, b AS dst FROM eraw
              UNION ALL SELECT b AS src, a AS dst FROM eraw),
    v AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
    w0 AS (SELECT node, CAST(1 AS HUGEINT) AS w FROM v)"""
    for r in range(1, rounds + 1):
        sql += f""",
    w{r} AS (SELECT v.node, CAST(COALESCE(s.s, 0) AS HUGEINT) AS w
             FROM v LEFT JOIN (
                 SELECT e.dst AS node, sum(w.w) AS s
                 FROM edges e JOIN w{r - 1} w ON w.node = e.src
                 GROUP BY e.dst) s ON v.node = s.node)"""
    terms = " + ".join(
        f"w{r}.w * {2 ** (rounds - r)}" for r in range(1, rounds + 1)
    )
    joins = " ".join(
        f"JOIN w{r} ON w{r}.node = v.node" for r in range(1, rounds + 1)
    )
    return sql + f"""
    SELECT v.node, CAST({terms} AS BIGINT) AS katz_scaled
    FROM v {joins}
    """


@register(
    "q287_katz_centrality",
    _katz_oracle(rounds=3),
    doc="fixed-horizon Katz centrality "
    "(functions/graph.py:katz_centrality, Katz 1953) over the "
    "SYMMETRIC customer-supplier trade graph, attenuation 1/2, "
    "horizon 3 — the WALK-COUNTING centrality member: PageRank "
    "divides by out-degree (random-walk mass), Katz counts raw "
    "walks, so high-fan-in chains score where PageRank dilutes; "
    "the symmetric graph is deliberate (on the directed bipartite "
    "form walks die after one hop and Katz degenerates to "
    "in-degree). EXACT: katz_scaled = Σ_r w_r * 2^(3-r) = 8 * Σ "
    "w_r/2^r — every term a whole number, zero truncation; "
    "headroom N * max_indeg^rounds * 2^rounds < 2^62 ENFORCED at "
    "setup from the same degree agg as the small-graph gate "
    "(betweenness' sigma-guard policy). Oracle unrolls the "
    "identical recurrence in HUGEINT. Per round: one edge-key join "
    "+ one keyed groupBy — pagerank's shape minus the scalar "
    "normalizer",
)
def q287_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from striot_spark.functions.graph import katz_centrality

    pairs = _trade_observations(spark, sf_dir).distinct()
    edges = undirected(pairs, "a", "b")
    return katz_centrality(edges, rounds=3, src="a", dst="b")


@register(
    "q291_avg_neighbor_degree",
    """
    WITH eraw AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (SELECT u AS src, v AS dst FROM eraw
              UNION ALL SELECT v AS src, u AS dst FROM eraw),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ann AS (SELECT du.d AS k, dv.d AS nd
            FROM edges e
            JOIN deg du ON du.node = e.src
            JOIN deg dv ON dv.node = e.dst)
    SELECT k,
           CAST(count(*) // k AS BIGINT) AS n_nodes,
           CAST(sum(nd) * 1000 // (k * (count(*) // k)) AS BIGINT)
               AS knn_milli
    FROM ann GROUP BY k
    """,
    doc="average-neighbor-degree curve knn(k) (Pastor-Satorras, "
    "Vazquez & Vespignani 2001, public methodology) over the FULL "
    "part co-purchase graph: for each degree class k, the mean "
    "degree of the neighbors of degree-k nodes in exact integer "
    "milli-units — the degree-correlation CURVE whose slope sign is "
    "what q252's assortativity coefficient summarizes in one number "
    "(rising = assortative hubs-with-hubs, falling = disassortative "
    "hub-and-spoke), same number-vs-curve relationship as "
    "q252/q281. Plan: one degree groupBy + two arc-keyed annotation "
    "joins + one k groupBy — the arc table is scanned once; "
    "per-class node count recovered exactly as count(arcs) DIV k "
    "(every degree-k node contributes exactly k annotated arcs), so "
    "no second node-level aggregate is needed. Output is "
    "|distinct degrees| rows at any scale",
)
def q291_avg_neighbor_degree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = same_key_pairs(li, "l_orderkey", "l_partkey", out_a="u", out_b="v")
    both = undirected(pairs)
    deg = both.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ann = (
        both.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .select(F.col("du").alias("kk"), F.col("dv").alias("nd"))
    )
    return (
        ann.groupBy("kk")
        .agg(
            F.count(F.lit(1)).alias("arcs"),
            F.sum("nd").alias("snd"),
        )
        .select(
            F.col("kk").cast("long").alias("k"),
            F.expr("CAST(arcs DIV kk AS BIGINT)").alias("n_nodes"),
            F.expr(
                "CAST(snd * 1000 DIV (kk * (arcs DIV kk)) AS BIGINT)"
            ).alias("knn_milli"),
        )
    )
