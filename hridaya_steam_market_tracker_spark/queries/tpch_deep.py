"""Deeper TPC-H-family coverage over the fixture star schema.

Q7/Q8/Q14/Q15/Q17/Q19/Q22 shapes from the public TPC-H specification,
adapted to the driver's reduced schemas (no partsupp/shipmode/container
columns — filters use the columns that exist), plus the embedding
near-dup CLUSTER query (cosine pair graph -> connected components),
completing the dedup family on the vector side.

Scale posture:
* Every dimension (nation/region/supplier/customer/part at these SFs)
  broadcasts; only fact⋈fact joins shuffle, keyed on the join column.
* Scalar aggregates ("avg account balance", "max revenue") ride as
  broadcast one-row cross joins — never a driver-side collect.
* Q17's per-part quantity threshold is a groupBy(partkey) + shuffle
  join on partkey — same key as the main join, so AQE coalesces into
  one exchange chain; no correlated-subquery re-scan per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.queries import register
from hridaya_steam_market_tracker_spark.queries.oracle_sql import (
    components_sql,
    cosine_sql,
)
from hridaya_steam_market_tracker_spark.tables import table


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc=(
        "TPC-H Q7 volume shipping (public spec): bilateral trade volume "
        "between two nations by year. lineitem⋈orders shuffles on orderkey; "
        "supplier/customer/nation all broadcast."
    ),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(pair | rpair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    )
    GROUP BY o_year
    """,
    doc=(
        "TPC-H Q8 national market share (public spec): NATION_3 suppliers' "
        "share of ECONOMY-part volume sold into AMERICA, by order year. "
        "Six broadcast dimensions, one fact⋈fact shuffle."
    ),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", volume).otherwise(0.0))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q14_promo_effect",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    doc=(
        "TPC-H Q14 promotion effect (public spec): PROMO parts' percentage "
        "of one month's discounted revenue. Date range pushes to the fact "
        "scan; part broadcasts."
    ),
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(F.round(100.0 * F.sum(promo) / F.sum(disc), 6).alias("promo_revenue"))
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no,
         (SELECT max(total_revenue) AS mr FROM revenue)
    WHERE total_revenue = mr
    """,
    doc=(
        "TPC-H Q15 top supplier (public spec): supplier(s) with max quarterly "
        "revenue. The max is a broadcast one-row join against the per-supplier "
        "aggregate (computed once, reused for both sides); revenue rounds to "
        "2dp on both engines BEFORE the max/equality so cross-engine "
        "summation order can't flip the winner."
    ),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mr = revenue.agg(F.max("total_revenue").alias("mr"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mr))
        .filter(F.col("total_revenue") == F.col("mr"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_lim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.pk = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND l.l_quantity < pq.qty_lim
    """,
    doc=(
        "TPC-H Q17 small-quantity-order revenue (public spec): revenue lost "
        "if below-20%%-of-average-quantity orders for one brand stopped. The "
        "correlated subquery is decorrelated into a groupBy(partkey) + join "
        "on the same key as the main join — no per-row re-scan."
    ),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_lim")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(pq, li["l_partkey"] == pq["pk"])
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q19_discounted_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc=(
        "TPC-H Q19 discounted revenue (public spec): three OR-ed "
        "brand/size/quantity predicate arms over the part⋈lineitem join — "
        "the disjunctive-pushdown stress case. Part broadcasts; the "
        "lineitem quantity bounds (1..30, the union of the arms) still "
        "push to the fact scan."
    ),
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#25", 15, 20, 30)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q22_dormant_customers",
    oracle="""
    WITH cut AS (
      SELECT max(o_orderdate) - INTERVAL 365 DAY AS cutoff FROM orders
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey,
         (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
    WHERE c.c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders o, cut
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= cutoff)
    GROUP BY n_name
    """,
    doc=(
        "TPC-H Q22 global sales opportunity (public spec, keyed by nation "
        "instead of the absent phone country code, and 'no orders' read as "
        "no orders in the trailing data year — every fixture customer has "
        "lifetime orders): customers with above-positive-average balances "
        "gone dormant. Anti-join against recent orders (C5 family) + "
        "broadcast scalar average and cutoff; nation broadcasts."
    ),
)
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    cut = o.agg((F.max("o_orderdate") - F.expr("INTERVAL 365 DAYS")).alias("cutoff"))
    recent = (
        o.crossJoin(F.broadcast(cut))
        .filter(F.col("o_orderdate") >= F.col("cutoff"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    ab = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, "c_custkey", "left_anti")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "emb_near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {cosine_sql("a.v", "b.v")} >= 0.4
    ){components_sql("embeddings", "vec_id")}
    SELECT vec_id, component, component = vec_id AS is_canonical FROM comp
    """,
    doc=(
        "Embedding near-dup CLUSTERS: transitive closure of the exact "
        "cosine >= 0.4 pair graph (tiled block self-join, no cartesian) via "
        "min-label propagation — the vector-side twin of dedup_clusters, "
        "value-checked against a DuckDB recursive-CTE oracle."
    ),
)
def emb_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hridaya_steam_market_tracker_spark.operators.components import (
        cluster_labels,
    )
    from hridaya_steam_market_tracker_spark.operators.similarity import (
        cosine_self_join,
    )

    emb = table(spark, sf_dir, "embeddings")
    pairs = cosine_self_join(emb, threshold=0.4, n_blocks=16)
    labels = cluster_labels(emb.select("vec_id"), pairs)
    return labels.withColumn(
        "is_canonical", F.col("vec_id") == F.col("component")
    )
