"""TPC-H-shaped relational sweep — the 14 query shapes not already in
``catalog.py`` (which covers Q1/Q3/Q5/Q6/Q10/Q14/Q18/Q19), adapted to
the testdata's TPC-H-lite schema (no ``partsupp`` table; fewer columns —
see TESTDATA.md). Each adaptation keeps the *operator shape* the original
query exercises (correlated scalar subqueries, EXISTS / NOT EXISTS,
nested IN with HAVING, outer-join histograms, view-over-view max, ...)
and the house cross-engine hashing rules (exact-integer cents, aliased
columns, unique tiebreaks — see ``catalog.py`` module docstring).

Where the original needs ``partsupp``, supplier-part facts are derived
from ``lineitem`` (the join shape and cardinality pattern survive; the
missing supplycost column is substituted by sell-price minima).
"""

from __future__ import annotations

from .catalog import query, shared_sql

# Q2: min-cost supplier per part. The Spark plan uses the argmin-via-
# window form — ONE lineitem aggregation instead of the two the classic
# correlated-subquery text plans (Catalyst inlines the CTE into both
# consumers; at 100 TB that doubles the dominant scan+agg — measured
# ~30% whole-query win at sf0.1). The DuckDB oracle keeps TPC-H's
# correlated scalar subquery verbatim, so the hash match doubles as a
# cross-SHAPE equivalence proof (the correlated form itself stays
# exercised by `correlated_scalar_subquery`).
shared_sql(
    "q2_min_cost_supplier",
    # the selective part predicate is pushed BELOW the dominant
    # aggregation: a broadcast join against the filtered (dim-sized)
    # part keys shrinks the groupBy input by ~the part selectivity
    # before any shuffle — at 100 TB this is the difference between
    # aggregating the whole fact table and aggregating one part slice.
    """
    WITH sel AS (
      SELECT p_partkey, p_name FROM part
      WHERE p_size = 15 AND p_type = 'STANDARD'
    ),
    cost AS (
      SELECT l_partkey, l_suppkey,
        CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cost_c
      FROM lineitem JOIN sel ON l_partkey = p_partkey
      GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, cost_c,
        min(cost_c) OVER (PARTITION BY l_partkey) AS best_c
      FROM cost
    )
    SELECT p_partkey, p_name, s_name, n_name, cost_c
    FROM sel
    JOIN ranked ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE cost_c = best_c
    ORDER BY cost_c, p_partkey, s_name
    """,
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
        CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cost_c
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_name, s_name, n_name, cost_c
    FROM part
    JOIN cost ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_size = 15 AND p_type = 'STANDARD'
      AND cost_c = (SELECT min(c2.cost_c) FROM cost c2 WHERE c2.l_partkey = p_partkey)
    ORDER BY cost_c, p_partkey, s_name
    """,
)

# Q4: order-priority checking — EXISTS with a correlated date predicate
# (l_shipdate > orderdate+60d stands in for commitdate < receiptdate).
shared_sql(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

# Q7: volume shipping between two nations — double nation join with a
# symmetric pair predicate, grouped by year.
shared_sql(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
      CAST(sum(vol_c4) AS BIGINT) AS revenue_c4
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(round(l_extendedprice * 100) AS BIGINT)
          * CAST(round((1 - l_discount) * 100) AS BIGINT) AS vol_c4
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

# Q8: national market share — CASE-sum ratio of one supplier nation's
# revenue inside a region+type slice, per order year. Numerator and
# denominator are exact BIGINTs; the share is their single division.
shared_sql(
    "q8_market_share",
    """
    SELECT o_year,
      CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_c4 ELSE 0 END) AS BIGINT)
        AS nation_vol_c4,
      CAST(sum(vol_c4) AS BIGINT) AS total_vol_c4,
      round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_c4 ELSE 0 END) AS DOUBLE)
            / CAST(sum(vol_c4) AS DOUBLE), 9) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(round(l_extendedprice * 100) AS BIGINT)
          * CAST(round((1 - l_discount) * 100) AS BIGINT) AS vol_c4,
        n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)

# Q9: product-type profit — LIKE filter on part name, profit grouped by
# supplier nation and order year (supplycost term dropped: no partsupp).
shared_sql(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(sum(amount_c4) AS BIGINT) AS profit_c4
    FROM (
      SELECT n_name AS nation,
        CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(round(l_extendedprice * 100) AS BIGINT)
          * CAST(round((1 - l_discount) * 100) AS BIGINT) AS amount_c4
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

# Q11: important part values — HAVING against an uncorrelated scalar
# subquery. Fraction compare is multiplied through (value*2000 > total,
# i.e. share > 0.05% — parts average ~0.08% here, unlike TPC-H's
# partsupp where 0.01% works) so both sides stay exact BIGINT.
_Q11_ORACLE = """
    SELECT l_partkey, CAST(sum(price_c) AS BIGINT) AS value_c
    FROM (
      SELECT l_partkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
    ) v
    GROUP BY l_partkey
    HAVING sum(price_c) * 2000 > (
      SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
    )
    ORDER BY value_c DESC, l_partkey
"""


@query("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark, sf_dir):
    """Q11 with ONE fact-side aggregation: the classic HAVING-scalar-
    subquery form plans the lineitem join-aggregate TWICE (Catalyst
    inlines the subquery — the q2 lesson); here the corpus total comes
    from an unpartitioned window over the already-grouped (part-sized)
    result, so the joined scan runs once. The oracle keeps TPC-H's
    correlated form — the hash match doubles as a cross-shape
    equivalence proof."""
    return spark.sql(
        """
        SELECT l_partkey, value_c FROM (
          SELECT l_partkey, CAST(sum(price_c) AS BIGINT) AS value_c,
                 sum(sum(price_c)) OVER () AS total_c
          FROM (
            SELECT l_partkey,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_5'
          ) v
          GROUP BY l_partkey
        )
        WHERE value_c * 2000 > total_c
        ORDER BY value_c DESC, l_partkey
        """
    )

# Q12: shipping-priority classes — conditional counts per line status
# (l_linestatus stands in for the missing l_shipmode).
shared_sql(
    "q12_priority_classes",
    """
    SELECT l_linestatus,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)

# Q13: customer order-count distribution — LEFT OUTER join with an ON
# filter, then a histogram of the grouped counts.
shared_sql(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

# Q15: top supplier — revenue view reused twice (join + scalar max over
# the same CTE), returning all argmax suppliers.
shared_sql(
    "q15_top_supplier",
    # Spark side: the revenue CTE is consumed twice in the classic text
    # (join + scalar max) and Catalyst inlines it into BOTH consumers —
    # two lineitem aggregations. A windowed max over the already-grouped
    # (supplier-sized) result keeps it to one. Oracle keeps the classic
    # view-over-view form: hash match = cross-shape equivalence proof.
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
          AS total_revenue_c4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_c4
    FROM supplier
    JOIN (SELECT supplier_no, total_revenue_c4,
            max(total_revenue_c4) OVER () AS mx FROM revenue) r
      ON s_suppkey = supplier_no
    WHERE total_revenue_c4 = mx
    ORDER BY s_suppkey
    """,
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
          AS total_revenue_c4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_c4
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue_c4 = (SELECT max(total_revenue_c4) FROM revenue)
    ORDER BY s_suppkey
    """,
)

# Q16: supplier counts per part attribute — NOT IN subquery + count
# DISTINCT over a derived supplier-part relation (lineitem as partsupp).
shared_sql(
    "q16_part_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
      CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

# Q17: small-quantity revenue — lines under 20% of their part's average
# quantity. avg is multiplied through (qty*5*cnt < sum) so the compare
# stays exact-integer; the per-part aggregate is a reused CTE join.
shared_sql(
    "q17_small_quantity_revenue",
    # Spark side: the per-part averages only matter for the one selected
    # brand, and the correlation is per-partkey — so the brand filter is
    # pushed below BOTH lineitem consumers (broadcast join against the
    # dim-sized filtered part keys before the heavy groupBy). At 100 TB
    # this aggregates one brand slice instead of every part. Oracle
    # keeps the classic aggregate-everything form.
    """
    WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'),
    pq AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem JOIN bp ON p_partkey = l_partkey
      GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS total_price_c,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN pq ON pk = l_partkey
    WHERE CAST(round(l_quantity * 100) AS BIGINT) * 5 * cnt < sum_qty_c
    """,
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk,
        CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS total_price_c,
      CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq ON pk = l_partkey
    WHERE p_brand = 'Brand#3'
      AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * cnt < sum_qty_c
    """,
)

# Q20: potential part promotion — IN subquery nested over a grouped
# HAVING subquery (suppliers who moved real volume of 'small %' parts).
shared_sql(
    "q20_part_promotion",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 500 * 100
    )
    ORDER BY s_suppkey
    """,
)

# Q21: suppliers who kept orders waiting — EXISTS + NOT EXISTS against
# the same fact table with opposing correlations (the latest-shipping
# supplier on multi-supplier finished orders).
_Q21_SQL = """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """


@query("q21_waiting_suppliers", oracle=_Q21_SQL)
def q21_waiting_suppliers(spark, sf_dir):
    """Single-fact-pass rewrite of the EXISTS + NOT EXISTS text (r10
    optimization, guide §2.4/§1.2).

    The decorrelated form of the SQL text joins lineitem with itself
    twice (semi + anti): at the benched SF both copies broadcast (two
    full-fact hash relations built per run), and past the broadcast
    threshold the plan degrades to three fact-table shuffles. Both
    correlated subqueries range only over the SAME order's lines, so
    the whole decision is computable per order from one collect_list
    over the order's (shipdate, suppkey) rows — bounded by
    lines-per-order (~7, and bounded by order size in any TPC-H-shaped
    corpus), then answered with O(k^2) array lambdas per order, k<=7.
    ONE narrow shuffle of lineitem (24 B/row: okey, skey, date), no
    self-joins.

    Same-methodology A/B (`tools/probe.py ab` min-of-N, r10): sf1
    2.18 s -> 1.17 s (-46%); sf10 flat (8.13 -> 8.18); sf0.1 0.50 ->
    0.68 (the collect_list agg costs more than the broadcasts at the
    scheduling-floor SF). Kept for the scale trend: at 100 TB the
    decorrelated text's fact self-joins are three full-fact shuffles,
    this form is one narrow one. A windowed rewrite (per-
    (order,supplier) maxima + order-level top-2) was A/B'd earlier and
    LOST (0.64 vs 0.50 s sf0.1; 3.63 vs 1.79 sf1) — its two window
    SORTS over a near-fact-sized frame cost more; this form has no
    sorts: one hash aggregate keyed on the join key, arrays never
    leave the aggregate.

    Equivalence: l1 ranges over F-order lines; l2/l3 range over lines
    of l1's own order (same orderkey), so restricting the per-order
    array to F orders drops only orders that contribute no l1 rows.
    `exists(ls, r2 -> r2.s != r.s)` is the EXISTS subquery verbatim;
    `!exists(ls, r3 -> r3.s != r.s AND r3.d > r.d)` the NOT EXISTS;
    each surviving physical row contributes 1 to count(*) exactly as
    the SQL join does. Oracle-hash-verified at sf0.01 AND sf0.1.
    """
    from pyspark.sql import functions as F

    li = spark.table("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    f_orders = spark.table("orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    per_order = (
        li.join(f_orders, li["l_orderkey"] == f_orders["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_shipdate").alias("d"), F.col("l_suppkey").alias("s")
                )
            ).alias("ls")
        )
    )
    waits = per_order.select(
        F.explode(
            F.expr(
                "transform(filter(ls, r -> exists(ls, r2 -> r2.s != r.s)"
                " AND NOT exists(ls, r3 -> r3.s != r.s AND r3.d > r.d)),"
                " r -> r.s)"
            )
        ).alias("w_suppkey")
    )
    sup = spark.table("supplier").select("s_suppkey", "s_name")
    return (
        waits.join(F.broadcast(sup), waits["w_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )

# Distribution window functions: percent_rank / cume_dist / ntile —
# the analytic-frame surface not covered by the rank/lag/frame entries.
# percent_rank divides two exact ints; identical single division both
# engines.
shared_sql(
    "window_distribution",
    """
    SELECT o_custkey, o_orderkey,
      round(percent_rank() OVER w, 9) AS pr,
      round(cume_dist() OVER w, 9) AS cd,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders WHERE o_custkey < 40
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey
    )
    ORDER BY o_custkey, o_orderkey
    """,
)

# Edit-distance fuzzy matching — the string-similarity member of the
# dedup family (ngram Jaccard / minhash cover set similarity; this is
# the char-level variant). Quadratic pair generation is fine over a
# dimension table; at corpus scale the same scorer runs over LSH
# candidate pairs instead (dedup.py's blocking pattern).
shared_sql(
    "fuzzy_match_names",
    """
    SELECT a.s_suppkey AS sk_a, b.s_suppkey AS sk_b,
      CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    ORDER BY sk_a, sk_b
    """,
)

# Q22: global sales opportunity — anti-join (NOT EXISTS) plus a
# threshold from scalar subqueries, grouped by a derived country code
# (c_custkey % 7 stands in for the missing phone prefix; "no recent
# orders" replaces "no orders" — every synthetic customer has some).
# The avg-acctbal compare is multiplied through to stay exact-integer.
shared_sql(
    "q22_global_sales_opportunity",
    """
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
      CAST(sum(acctbal_c) AS BIGINT) AS totacctbal_c
    FROM (
      SELECT CAST(c_custkey % 7 AS BIGINT) AS cntrycode,
        CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c,
        c_custkey
      FROM customer
    ) cust
    WHERE cntrycode IN (1, 2, 3, 4, 5)
      AND acctbal_c * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0) > (
        SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      )
    GROUP BY cntrycode ORDER BY cntrycode
    """,
)
