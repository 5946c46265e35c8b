"""Second relational batch — remaining SURVEY.md §2 shapes not yet
covered by a named query (P3 regex filters, P7 conditional recode, R3
map-explode, U3 per-row set dedupe, A5 distinct counts, F7/F9 string
surgery, F14 date arithmetic rollups)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, MapType, StringType

from ..session import local_frame
from ..sources import read_table
from .registry import dsum_expr, query


@query(
    "q33_regex_filter",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE regexp_matches(source, '^src1[0-9]$') AND NOT contains(text, 'error')
    """,
    tags=("filter", "P3"),
)
def q33_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + negated-literal-contains filters (P3: str.contains chains,
    e.g. gh URL filter at data_integration.ipynb:1483 cell 24 and the
    '[bot]' literal-vs-regex decision §2.12.2 — here both forms used
    deliberately: rlike for the pattern, contains for the literal)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.where(
        F.col("source").rlike("^src1[0-9]$") & ~F.col("text").contains("error")
    ).select("doc_id", "source")


@query(
    "q34_conditional_recode",
    oracle="""
    SELECT CASE WHEN event_type IN ('signup', 'login') THEN 'auth'
                ELSE event_type END AS event_class,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
    tags=("filter", "P7"),
)
def q34_conditional_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional recode (P7: NORP→GPE fold at data_integration.ipynb:
    1948 cell 35) as when/otherwise + rollup."""
    events = read_table(spark, sf_dir, "events")
    recoded = F.when(
        F.col("event_type").isin("signup", "login"), F.lit("auth")
    ).otherwise(F.col("event_type"))
    return events.groupBy(recoded.alias("event_class")).agg(
        F.count(F.lit(1)).alias("n"), F.expr(dsum_expr("value", "total_value"))
    )


@query(
    "q35_map_explode",
    oracle="""
    SELECT k AS prop_key, COUNT(*) AS n, CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS total
    FROM (
      SELECT unnest(json_keys(props::JSON)) AS k,
             json_extract_string(props::JSON, '$.' || unnest(json_keys(props::JSON))) AS v
      FROM events
    ) GROUP BY k
    """,
    tags=("reshape", "R3", "S2"),
)
def q35_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map→rows explode (R3: per-repo languages dict at
    data_integration.ipynb:4255 cell 71): parse the JSON props column to a
    typed map, explode to (key, value) rows, aggregate."""
    events = read_table(spark, sf_dir, "events")
    parsed = events.select(
        F.from_json("props", MapType(StringType(), IntegerType())).alias("m")
    )
    return (
        parsed.select(F.explode("m").alias("prop_key", "v"))
        .groupBy("prop_key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("bigint")).alias("total"))
    )


@query(
    "q36_distinct_counts",
    oracle="""
    SELECT lang,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT n_chars) AS n_distinct_lengths
    FROM documents GROUP BY lang
    """,
    tags=("agg", "A5", "U2"),
)
def q36_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregates (A5: len(clustered_dupes) cardinality
    checks).  approx_count_distinct is the 100 TB variant; the exact form
    is used here because the oracle must hash-match."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("n_chars").alias("n_distinct_lengths"),
    )


@query(
    "q37_string_surgery",
    oracle="""
    SELECT doc_id,
           'corpus/' || source || '/' || CAST(doc_id AS VARCHAR) AS asset_path,
           array_to_string(string_split(text, ' ')[1:3], '_') AS slug,
           len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_unique_tokens
    FROM documents
    """,
    tags=("string", "F7", "F9", "U3"),
)
def q37_string_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal concat (F7), split→slice→rejoin (F9: cpe vendor_product
    surgery at parse_cve_json_data.py:105-108), per-row set dedupe (U3:
    array_distinct) — all as one projection."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("corpus/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string")
        ).alias("asset_path"),
        F.concat_ws("_", F.slice(toks, 1, 3)).alias("slug"),
        F.size(
            F.array_distinct(F.filter(toks, lambda x: x != F.lit("")))
        ).cast("long").alias("n_unique_tokens"),
    )


@query(
    "q38_quarterly_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
    tags=("time", "agg", "F14"),
)
def q38_quarterly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup with a pushed-down time-range predicate — the shape
    that becomes partition pruning on a date-partitioned 100 TB lake
    (scan only the matching ship_year=... directories)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.quarter("o_orderdate").cast("int").alias("order_quarter"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(dsum_expr("o_totalprice", "total_value")),
        )
    )


@query(
    "q41_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p,
           CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END
                AS DECIMAL(18,6))) AS DOUBLE) AS value_f
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("reshape", "pivot"),
)
def q41_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation (the shuffle-stable form of
    ``groupBy().pivot()`` — explicit columns, no two-phase distinct scan
    over the pivot key)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
        F.expr(
            "CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END"
            " AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("value_f"),
    )


@query(
    "q42_rollup",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def q42_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals (status → status×priority → grand
    total) — one pass, Catalyst expands the grouping sets."""
    orders = read_table(spark, sf_dir, "orders")
    # r12: pre-aggregate to the finest grouping first (the q64 Expand
    # rule) — the 3× grouping-set replication then runs over ≤|status×
    # priority| partial rows, not the table; SUM of partial counts ==
    # COUNT(*) per set.
    fine = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        fine.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.sum("_n").alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
        )
    )


@query(
    "q44_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    tags=("join", "agg", "tpch"),
)
def q44_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact joins → grouped
    revenue → top-k.  Catalyst pushes both date predicates into the scans
    and broadcasts the filtered customer side."""
    customer = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.expr(dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q45_supplier_revenue_having",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_name, r.total_revenue
    FROM rev r JOIN supplier ON l_suppkey = s_suppkey
    WHERE r.total_revenue > (SELECT AVG(total_revenue) FROM rev)
    """,
    tags=("join", "agg", "having", "tpch"),
)
def q45_supplier_revenue_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate → scalar-subquery HAVING (above-average suppliers, the
    TPC-H Q15 view shape): the average is one scalar broadcast into the
    filter, not a recomputation per row."""
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.expr(dsum_expr("l_extendedprice * (1 - l_discount)", "total_revenue"))
    )
    avg_rev = rev.agg(F.avg("total_revenue").alias("a"))
    return (
        rev.join(F.broadcast(avg_rev), F.col("total_revenue") > F.col("a"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select("s_name", "total_revenue")
    )


@query(
    "q46_summary_stats",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, min_value, max_value,
           round(s1 / n, 6) AS avg_value,
           round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS stddev_value
    FROM s
    """,
    tags=("agg", "A6"),
)
def q46_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()/summary() stats (A6, alerts/parse_alert.ipynb:638) with
    engineered determinism: mean and stddev derived from exact decimal
    sums (sum, sum-of-squares), so shuffle order cannot perturb them —
    the built-in stddev's float accumulation would not hash-match."""
    events = read_table(spark, sf_dir, "events")
    s = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias("s1"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("s2"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return s.select(
        "event_type",
        "n",
        "min_value",
        "max_value",
        F.round(F.col("s1") / F.col("n"), 6).alias("avg_value"),
        F.round(
            F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)),
            6,
        ).alias("stddev_value"),
    )


@query(
    "q47_interval_join",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    WHERE a.event_type = 'error'
    """,
    tags=("join", "interval"),
)
def q47_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval join: events within 5 minutes after an error by the
    same user (absent from the reference — SURVEY §2.3 notes no range
    joins — but core to event analytics).  Keyed on user_id the range
    predicate is a post-join filter on an equi-join, not a cartesian;
    the streaming twin (stream-stream join with watermarks) is in
    streaming/events.py."""
    events = read_table(spark, sf_dir, "events")
    a = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("id_a"), "user_id", F.col("ts").alias("ts_a")
    )
    b = events.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select("id_a", "id_b", "user_id")
    )


@query(
    "q52_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    tags=("join", "agg", "tpch"),
)
def q52_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer in a date
    window, top 20 — selective fact filter + 3 joins + top-k."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q53_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    tags=("join", "agg", "tpch"),
)
def q53_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority-class conditional counts per line
    status within a ship-date year."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q54_promo_share",
    oracle="""
    SELECT CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%%' THEN l_extendedprice * (1 - l_discount)
                        ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    tags=("join", "agg", "tpch"),
)
def q54_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of two exact decimal sums (promo revenue /
    total revenue) over a broadcast part join — both operands are
    order-independent, so the double division is bit-deterministic."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev = "l_extendedprice * (1 - l_discount)"
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.expr(
                f"CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%' THEN {rev} ELSE 0 END"
                " AS DECIMAL(18,6))) AS DOUBLE)"
            )
            / F.expr(f"CAST(SUM(CAST({rev} AS DECIMAL(18,6))) AS DOUBLE)")
        ).alias("promo_share")
    )


@query(
    "q55_disjunctive_filter",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 15)
    """,
    tags=("join", "filter", "tpch"),
)
def q55_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive band predicates across
    both join sides — Catalyst pushes the common subexpressions and keeps
    the residual as a join filter."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 5)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 15)
    )
    return joined.where(cond).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(dsum_expr("l_extendedprice", "total")),
    )


@query(
    "q57_sql_surface",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 0
    GROUP BY o_orderstatus
    """,
    tags=("sql", "agg"),
)
def q57_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw Spark SQL surface: identical SQL text runs on
    registered temp views (sources.load_all) and on the DuckDB oracle —
    users can bring SQL, not just the DataFrame API."""
    from ..sources import load_all

    load_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        WHERE c_acctbal > 0
        GROUP BY o_orderstatus
        """
    )


@query(
    "q58_full_outer",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS cust_balance
      FROM customer GROUP BY c_nationkey
    ),
    s AS (
      SELECT s_nationkey AS nationkey,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS supp_balance
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           c.cust_balance, s.supp_balance
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    tags=("join", "full_outer"),
)
def q58_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (absent from the reference — SURVEY §2.3 notes no
    full-outer joins — engine completeness): per-nation customer vs
    supplier balances, keeping nations present on only one side."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.expr(dsum_expr("c_acctbal", "cust_balance"))
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey_s")).agg(
        F.expr(dsum_expr("s_acctbal", "supp_balance"))
    )
    return (
        c.join(s, c.nationkey == s.nationkey_s, "full_outer")
        .select(
            F.coalesce(F.col("nationkey"), F.col("nationkey_s")).alias("nationkey"),
            "cust_balance",
            "supp_balance",
        )
    )


@query(
    "q59_asof_join",
    oracle="""
    SELECT e.event_id AS error_id, e.user_id, l.event_id AS signup_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') l
      ON e.user_id = l.user_id AND e.ts >= l.ts
    """,
    tags=("join", "asof"),
)
def q59_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: the most recent signup at-or-before each error, per
    user.  Spark lacks a native ASOF operator; the scalable plan is the
    union-tag trick — one sort per user partition, a running
    last-non-null window, no range explosion:

        union(tagged signup, tagged error)
        → window over (user, ts, tag-priority)
        → last(signup_struct, ignoreNulls) rowsBetween(-∞, 0)
        → keep error rows

    DuckDB's native ASOF JOIN is the oracle, proving the window
    formulation implements the same semantics."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    tagged = events.where(F.col("event_type").isin("signup", "error")).select(
        "user_id",
        "ts",
        "event_id",
        # signups sort before errors at equal ts so e.ts >= l.ts matches
        F.when(F.col("event_type") == "signup", F.lit(0)).otherwise(F.lit(1)).alias("prio"),
        F.when(
            F.col("event_type") == "signup", F.struct("event_id")
        ).alias("signup_info"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "prio", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_signup", F.last("signup_info", ignorenulls=True).over(w))
        .where(F.col("prio") == 1)
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("last_signup.event_id").alias("signup_id"),
        )
    )


@query(
    "q60_rolling_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS window_n
    FROM events
    """,
    tags=("window", "frame"),
)
def q60_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW):
    rolling 3-event value sum per user — the frame-spec surface the
    reference never needed (SURVEY §2.5) but an analytics engine must
    have.  Total order (ts, event_id) makes the frame deterministic;
    decimal accumulation keeps the sum exact."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias(
            "rolling_value"
        ),
        F.count(F.lit(1)).over(w).alias("window_n"),
    )


@query(
    "q61_quartiles",
    oracle="""
    SELECT event_type,
           round(CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS DOUBLE), 6) AS p25,
           round(CAST(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value) AS DOUBLE), 6) AS p50,
           round(CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS DOUBLE), 6) AS p75
    FROM events GROUP BY event_type
    """,
    tags=("agg", "percentile"),
)
def q61_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles per event type via the distributed
    range-partition selection kernel (operators/quantiles.py) — same
    percentile_cont interpolation as both engines' built-ins, but
    per-partition (never per-group) memory, so a giant group cannot OOM
    one aggregation buffer at 100 TB.  approx_percentile (q88) remains
    the sketch twin for unbounded-cardinality profiling."""
    from ..operators.quantiles import exact_quantiles

    events = read_table(spark, sf_dir, "events")
    qs = exact_quantiles(
        events, "value", {"p25": 0.25, "p50": 0.5, "p75": 0.75}, ["event_type"]
    )
    return qs.select(
        "event_type",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )


@query(
    "q62_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "lag"),
)
def q62_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: previous/next event id and microsecond gap to
    the previous event per user.  Total order (ts, event_id) keeps the
    offsets deterministic; microsecond arithmetic avoids second-truncation
    semantics differences between engines."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    )


@query(
    "q63_rank_distribution",
    oracle="""
    SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist()    OVER w, 6) AS cd,
           ntile(4) OVER w AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    tags=("window", "rank"),
)
def q63_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional window semantics (percent_rank / cume_dist /
    ntile) WITHOUT the built-in window over ``event_type``: ~5 event
    types means ``Window.partitionBy("event_type")`` sorts a fifth of
    the table in ONE task at any scale (full-output windows get no
    WindowGroupLimit rescue — the r6 verdict's single-reducer finding).
    Instead the distributed rank kernel (operators/prefix.global_ranks)
    derives each row's global row number and group size via
    range-partition + broadcast offsets, and the three distributions
    are row-local arithmetic: the order-by is a total order (event_id
    tiebreak), so percent_rank = (rn-1)/(n-1), cume_dist = rn/n, and
    ntile(4) is the ANSI bucket formula over (rn, n)."""
    from ..operators.prefix import global_ranks, ntile_expr

    events = read_table(spark, sf_dir, "events")
    g = global_ranks(
        events.select("event_id", "event_type", "value"),
        order_cols=["value", "event_id"],
        group_cols=["event_type"],
    )
    rn, n = F.col("rn"), F.col("n")
    pr = F.when(n == 1, F.lit(0.0)).otherwise((rn - 1) / (n - 1))
    return g.select(
        "event_id",
        "event_type",
        F.round(pr, 6).alias("pr"),
        F.round(rn / n, 6).alias("cd"),
        ntile_expr(rn, n, 4).alias("quartile"),
    )


@query(
    "q64_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def q64_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with GROUPING() markers — the full grouping-set
    surface beyond q42's ROLLUP.  Per-column GROUPING flags (not
    grouping_id) so the oracle is unambiguous about bit order."""
    li = read_table(spark, sf_dir, "lineitem")
    # r12: pre-aggregate to the finest grouping FIRST — Spark's Expand
    # replicates every INPUT row once per grouping set (4× the table)
    # before the aggregate, so cube directly on lineitem pushes 4·|T|
    # rows through the hash agg.  count/decimal-sum are algebraic
    # (decimal addition exact + associative), so cube over the ≤|rf×ls|
    # partial rows publishes bit-identical values, GROUPING() flags
    # included (cube groups by VALUE, data NULLs ride as a value group
    # in both forms; the flags alone mark subtotal rows).
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("_n"),
        F.expr("SUM(CAST(l_quantity AS DECIMAL(18,6)))").alias("_sq"),
    )
    return fine.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.sum("_n").alias("n"),
        F.expr("CAST(SUM(_sq) AS DOUBLE)").alias("sum_qty"),
    )


@query(
    "q65_set_ops",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
         y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
         urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT o_custkey FROM y96
    INTERSECT
    SELECT o_custkey FROM y97
    EXCEPT
    SELECT o_custkey FROM urgent
    """,
    tags=("setop", "intersect", "except"),
)
def q65_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level INTERSECT / EXCEPT (U-family beyond union): customers
    active in both 1996 and 1997, minus any with an urgent order.  At
    scale both rewrite to semi/anti joins on the grouping key, which is
    exactly what Catalyst plans (ReplaceIntersectWithSemiJoin /
    ReplaceExceptWithAntiJoin)."""
    orders = read_table(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    y97 = orders.where(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return y96.intersect(y97).subtract(urgent)


@query(
    "q66_string_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "string_agg"),
)
def q66_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg surface): distinct statuses per
    priority joined in sorted order — collect_set + array_sort +
    array_join keeps the result order-insensitive to shuffle order."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@query(
    "q71_exists_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("join", "subquery", "tpch-q4"),
)
def q71_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders in a quarter with at
    least one lineitem shipped >60 days after ordering.  Expressed as a
    left-semi join whose condition carries the cross-table date
    predicate — Catalyst plans the equi part as the hash key and the
    date comparison as a residual filter, which is exactly the
    decorrelated plan EXISTS should become."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    window = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        window.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q72_scalar_subquery",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*)) AS qlim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2' AND l.l_quantity < pa.qlim
    """,
    tags=("agg", "subquery", "tpch-q17"),
)
def q72_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar-aggregate subquery (TPC-H Q17 shape): revenue of
    small-quantity orders vs each part's 20%-of-average threshold.  The
    per-part average is computed once as a grouped table and joined back
    (the decorrelation Catalyst performs for scalar subqueries); the
    exact-decimal mean keeps the threshold comparison engine-stable."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    pa = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)")
        ).alias("qlim")
    )
    brand = part.where(F.col("p_brand") == "Brand#2").select("p_partkey")
    return (
        li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .join(pa, "l_partkey")
        .where(F.col("l_quantity") < F.col("qlim"))
        .agg(
            (
                F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)")
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q75_sessionize_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization"),
)
def q75_sessionize_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) as pure
    window functions: lag flags session starts, a running sum numbers
    them — the batch twin of q32's session_window and the streaming
    sessionizer, useful where session ids must be stable, dense and
    joinable.  Total order (ts, event_id) keeps ids deterministic."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(
        gap_us.isNull() | (gap_us > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        events.withColumn("session_id", F.sum(new_s).over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "q79_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN customer ON c_custkey  = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("join", "tpch-q7"),
)
def q79_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping among a nation set (TPC-H Q7 shape): a 5-way
    star-plus-fact join where every dimension broadcasts and only the
    lineitem↔orders join shuffles — the shape that proves join ordering
    and broadcast selection on a real multi-join."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    nations = ["NATION_1", "NATION_2", "NATION_3"]
    pair = (
        F.col("supp_nation").isin(nations)
        & F.col("cust_nation").isin(nations)
        & (F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nk") == F.col("c_nationkey"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.expr(dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q80_returned_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "topk", "tpch-q10"),
)
def q80_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue in a half-year window
    (TPC-H Q10 shape).  The limit rides on (revenue desc, c_custkey) —
    a total order, so the cut is deterministic — and Spark plans it as
    TakeOrderedAndProject: per-partition top-k, no global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.expr(dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q81_custom_source",
    oracle="""
    WITH api AS (
      SELECT CAST(floor(item / 100) AS INT) AS page,
             item AS item_id,
             'user_' || substr(md5(CAST(item AS VARCHAR)), 1, 8) AS login,
             CAST(('0x' || substr(md5(CAST(item AS VARCHAR)), 9, 4)) AS BIGINT)
               AS contributions
      FROM (SELECT unnest(range(0, 400)) AS item)
    )
    SELECT page, COUNT(*) AS n_items,
           -- DuckDB SUM(BIGINT) yields HUGEINT, which pandas widens to
           -- float64 and the driver hashes as "…0.0" vs Spark's int "…0".
           CAST(SUM(contributions) AS BIGINT) AS total_contributions,
           min(login) AS first_login
    FROM api GROUP BY page
    """,
    tags=("source", "connector", "datasource-api"),
)
def q81_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource API): the
    paginated-API connector (sources/pyds.py — the Spark-native form of
    the reference's hand-rolled GitHub pagination, gitlinks/gitapi.py:
    25-186) read and aggregated per page.  The md5-derived payload is
    deterministic, so the oracle regenerates the identical rows from a
    range — proving the connector end-to-end, not just its plumbing."""
    from ..sources.pyds import register

    register(spark)
    api = (
        spark.read.format("paged_api")
        .option("pages", 4)
        .option("page_size", 100)
        .load()
    )
    return api.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("contributions").alias("total_contributions"),
        F.min("login").alias("first_login"),
    )


@query(
    "q82_variant_json",
    oracle="""
    SELECT CAST(floor(CAST(json_extract(props, '$.k') AS BIGINT) / 10) AS INT)
             AS k_decile,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("semi-structured", "variant"),
)
def q82_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (parse_json →
    variant_get) rather than per-row string JSON parsing (q13's
    get_json_object): VARIANT parses once into a shredded binary format,
    which is the 100 TB answer for JSON-heavy event streams."""
    events = read_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.groupBy(
            F.floor(k / 10).cast("int").alias("k_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(dsum_expr("value", "sum_value")),
        )
    )


@query(
    "q83_scd2_intervals",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    ch AS (
      SELECT user_id, event_type, ts AS valid_from
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             IS NULL AS is_current
    FROM ch
    """,
    tags=("etl", "scd2", "window"),
)
def q83_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 capture: collapse each user's
    event-type stream into validity intervals (valid_from/valid_to,
    open = current).  The incremental-dimension idiom the reference's
    rebuild-everything pipeline lacks (SURVEY §3.2)."""
    from ..operators.etl import scd2_intervals

    events = read_table(spark, sf_dir, "events")
    return scd2_intervals(
        events, key="user_id", attr="event_type", ts_col="ts", tiebreak="event_id"
    )


@query(
    "q84_merge_upsert",
    oracle="""
    WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    upd AS (
      SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEW_' || c_name, c_acctbal
      FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.c_name, b.c_name) AS c_name,
           COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
           CASE WHEN u.c_custkey IS NULL THEN 'unchanged'
                WHEN b.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey
    """,
    tags=("etl", "merge", "upsert"),
)
def q84_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins MERGE/upsert of an update batch into a snapshot
    (operators/etl.merge_upsert — the relational core of MERGE INTO):
    updates replace, new keys insert, the rest pass through, with a
    per-row merge_action.  The update batch is derived deterministically
    from the customer table so the oracle reproduces it."""
    from ..operators.etl import merge_upsert

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .unionByName(
            cust.where(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.concat(F.lit("NEW_"), F.col("c_name")).alias("c_name"),
                "c_acctbal",
            )
        )
    )
    return merge_upsert(cust, updates, key="c_custkey")


@query(
    "q85_dq_audit",
    oracle="""
    SELECT 'lineitem_nonpositive_qty' AS rule,
           COUNT(*) FILTER (WHERE l_quantity <= 0) AS n_violations FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_range',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) FROM lineitem
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'customer_duplicate_key',
           -- CAST: SUM(BIGINT) is HUGEINT in DuckDB; uncast it promotes the
           -- whole UNION'd n_violations column to HUGEINT -> pandas float64.
           (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
             (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey) t
            WHERE n > 1)
    """,
    tags=("etl", "data-quality"),
)
def q85_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-driven data-quality audit (operators/etl.dq_audit): range
    checks, referential orphans via anti-joins, duplicate-key counts —
    one (rule, n_violations) row each.  The validation pass a
    production ETL runs before publishing a snapshot."""
    from ..operators.etl import dq_audit

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    rules = [
        ("lineitem_nonpositive_qty", li.where(F.col("l_quantity") <= 0)),
        (
            "lineitem_discount_range",
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
        ),
        (
            "orders_orphan_custkey",
            orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti"),
        ),
        (
            "lineitem_orphan_orderkey",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
        ),
    ]
    base = dq_audit(rules)
    dup_row = (
        cust.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("bigint").alias("n_violations"))
        .select(F.lit("customer_duplicate_key").alias("rule"), "n_violations")
    )
    return base.unionByName(dup_row)


@query(
    "q86_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS price,
             CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, val
    FROM wide UNPIVOT (val FOR metric IN (qty, price, tax))
    """,
    tags=("reshape", "unpivot"),
)
def q86_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of q41's pivot: a wide per-flag
    aggregate turned into (flag, metric, value) long form, the reshape
    every metrics store needs.  Map-side only (no shuffle beyond the
    producing aggregate)."""
    li = read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.expr(dsum_expr("l_quantity", "qty")),
        F.expr(dsum_expr("l_extendedprice", "price")),
        F.expr(dsum_expr("l_tax", "tax")),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q87_fuzzy_probe",
    oracle="""
    WITH probes AS (
      SELECT unnest(['small ring', 'red widgit', 'blue gadget']) AS probe
    )
    SELECT p.probe, t.p_partkey, t.p_name,
           CAST(levenshtein(t.p_name, p.probe) AS INT) AS dist
    FROM part t, probes p
    WHERE abs(length(t.p_name) - length(p.probe)) <= 3
      AND levenshtein(t.p_name, p.probe) <= 3
    """,
    tags=("string", "fuzzy", "levenshtein"),
)
def q87_fuzzy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy probe matching: part names within edit distance 3 of a
    probe list — the string-similarity surface behind the reference's
    entity matching (M2/M4), with the probe side broadcast so the scan
    side streams map-only.  A length-band prefilter skips the quadratic
    edit-distance DP for ~90% of candidates: |len(a)−len(b)| ≤ k is
    implied by levenshtein ≤ k, so results are identical (the oracle
    carries the same redundant predicate).  At dictionary scale the same
    shape runs against a q-gram-blocked candidate set instead of the
    full cross."""
    part = read_table(spark, sf_dir, "part")
    probes = local_frame(
        spark, [("small ring",), ("red widgit",), ("blue gadget",)], "probe string"
    )
    # bounded variant: early-exits the DP past the threshold (returns -1),
    # O(k·n) instead of O(n·m) per comparison
    dist = F.levenshtein(F.col("p_name"), F.col("probe"), 3)
    lenband = F.abs(F.length("p_name") - F.length("probe")) <= 3
    return (
        part.crossJoin(F.broadcast(probes))
        .where(lenband & (dist >= 0))
        .select("probe", "p_partkey", "p_name", dist.cast("int").alias("dist"))
    )


@query("q88_sketch_stats", oracle=None, tags=("agg", "sketch", "approx"))
def q88_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB substitutes for their exact
    twins: approx_count_distinct (HLL++) per event type and
    approx_percentile (KLL-style) of value.  Approximation is
    engine-specific, so no SQL oracle; tests pin each estimate by its
    PUBLISHED error bound, self-calibrated against the exact
    distributed quantile kernel — the estimate must land between
    exact_quantiles(0.5 ± rank-epsilon) and HLL within 4·rsd
    (tests/test_scale_ops.py::test_sketch_stats_self_calibrating_bounds)."""
    events = read_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q93_banded_range_join",
    oracle="""
    WITH bands AS (
      SELECT unnest(range(0, 10)) AS band_id
    ),
    b AS (
      SELECT band_id, band_id * 10.0 AS lo, band_id * 10.0 + 10.0 AS hi
      FROM bands
    )
    SELECT b.band_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_id
    """,
    tags=("join", "range", "theta"),
)
def q93_banded_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric range (theta) join against a band dimension, rewritten as
    an equi-join: uniform band width means the band key is computable
    per event (floor(value/width)), so what would be a
    broadcast-nested-loop theta join becomes a hash join — the standard
    banding rewrite for range predicates at scale.  The oracle keeps the
    BETWEEN form to prove the rewrite is semantics-preserving."""
    events = read_table(spark, sf_dir, "events")
    bands = spark.range(0, 10).select(
        F.col("id").cast("bigint").alias("band_id"),
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 10.0).alias("hi"),
    )
    keyed = events.withColumn(
        "band_id", F.floor(F.col("value") / 10.0).cast("bigint")
    )
    return (
        keyed.join(F.broadcast(bands), "band_id")
        .where((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(dsum_expr("value", "sum_value")),
        )
    )


@query(
    "q94_rank_with_ties",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(rank() OVER (PARTITION BY o_orderpriority
                               ORDER BY floor(o_totalprice / 10000) DESC) AS BIGINT)
               AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    tags=("window", "rank", "ties"),
)
def q94_rank_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() with real ties (price bucketed to force them): every row in
    a tied bucket keeps the same rank and ALL tied rows survive the
    top-3 cut — the keep-ties semantics row_number-based top-k (q09)
    deliberately avoids.  Result is deterministic because the tie GROUP
    membership is, even though no within-tie order exists."""
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.floor(F.col("o_totalprice") / 10000).desc()
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("bigint").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


@query(
    "q95_state_durations",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    ch AS (
      SELECT user_id, event_type, ts AS valid_from
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    iv AS (
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
      FROM ch
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(date_diff('microsecond', valid_from, valid_to)) AS BIGINT)
             AS total_us
    FROM iv WHERE valid_to IS NOT NULL
    GROUP BY event_type
    """,
    tags=("etl", "scd2", "duration"),
)
def q95_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state rollup over the SCD2 intervals (q83's operator
    composed with a duration aggregate): total microseconds each
    event-type state was active across closed intervals — integer
    microsecond arithmetic, so the sums are exact."""
    from ..operators.etl import scd2_intervals

    events = read_table(spark, sf_dir, "events")
    iv = scd2_intervals(
        events, key="user_id", attr="event_type", ts_col="ts", tiebreak="event_id"
    )
    return (
        iv.where(F.col("valid_to").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(
                F.unix_micros(F.col("valid_to")) - F.unix_micros(F.col("valid_from"))
            ).alias("total_us"),
        )
    )


@query(
    "q96_conditional_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS BIGINT)
             AS recent_errors
    FROM events
    """,
    tags=("window", "frame", "conditional"),
)
def q96_conditional_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregate over a trailing row frame: errors among the
    user's previous 10 events (excluding the current row) — the
    feature-engineering shape behind "recent failure count" signals.
    NULL for each user's first row (empty frame), matching SQL frame
    semantics in both engines."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    flag = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return events.select(
        "event_id",
        "user_id",
        F.sum(flag).over(w).cast("bigint").alias("recent_errors"),
    )


@query(
    "q97_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT order_year, o_orderpriority, revenue,
           round(revenue / SUM(revenue) OVER (PARTITION BY order_year), 6)
             AS year_share
    FROM rev
    """,
    tags=("window", "ratio"),
)
def q97_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each priority's share of its year's revenue — an
    aggregate re-windowed over its own output (5 rows per partition, so
    the unbounded frame is over the post-agg table, not the fact
    table)."""
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    rev = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"), "o_orderpriority"
    ).agg(F.expr(dsum_expr("o_totalprice", "revenue")))
    w = Window.partitionBy("order_year")
    return rev.select(
        "order_year",
        "o_orderpriority",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("year_share"),
    )


@query(
    "q98_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_signup,
           CAST(SUM(CASE WHEN first_view > first_signup THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_view_after_signup,
           CAST(SUM(CASE WHEN first_purchase > first_view
                          AND first_view > first_signup THEN 1 ELSE 0 END)
                AS BIGINT) AS stage_full_funnel
    FROM firsts
    """,
    tags=("analytics", "funnel"),
)
def q98_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → view → purchase): per-user
    first-occurrence timestamps via conditional MIN in ONE aggregation
    pass over the fact table, then stage predicates — the single-shuffle
    funnel plan (no per-stage self-joins)."""
    events = read_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = events.groupBy("user_id").agg(
        first_ts("signup").alias("first_signup"),
        first_ts("view").alias("first_view"),
        first_ts("purchase").alias("first_purchase"),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("first_signup").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("stage_signup"),
        F.sum(
            F.when(F.col("first_view") > F.col("first_signup"), 1).otherwise(0)
        ).cast("bigint").alias("stage_view_after_signup"),
        F.sum(
            F.when(
                (F.col("first_purchase") > F.col("first_view"))
                & (F.col("first_view") > F.col("first_signup")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("stage_full_funnel"),
    )


@query(
    "q99_retention",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT a.wk AS week_start,
           COUNT(DISTINCT a.user_id) AS active_users,
           COUNT(DISTINCT b.user_id) AS retained_next_week,
           round(CAST(COUNT(DISTINCT b.user_id) AS DOUBLE)
                 / COUNT(DISTINCT a.user_id), 6) AS retention_rate
    FROM weekly a
    LEFT JOIN weekly b
      ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAY
    GROUP BY a.wk
    """,
    tags=("analytics", "retention", "cohort"),
)
def q99_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: users active in week W who return in
    W+1, as a self-join of the deduplicated (user, week) activity table
    — the cohort-retention shape.  The distinct activity table is tiny
    relative to the fact table, so the self-join is cheap and the fact
    table is scanned once."""
    events = read_table(spark, sf_dir, "events")
    weekly = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    a, b = weekly.alias("a"), weekly.alias("b")
    joined = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.wk") == F.col("a.wk") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    return (
        joined.groupBy(F.col("a.wk").alias("week_start"))
        .agg(
            F.countDistinct(F.col("a.user_id")).alias("active_users"),
            F.countDistinct(F.col("b.user_id")).alias("retained_next_week"),
            F.round(
                F.countDistinct(F.col("b.user_id")).cast("double")
                / F.countDistinct(F.col("a.user_id")),
                6,
            ).alias("retention_rate"),
        )
    )


@query(
    "q110_market_share",
    oracle="""
    WITH target AS (
      SELECT MIN(n_name) AS tn
      FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    vol AS (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region    ON r_regionkey = n1.n_regionkey
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(
             CAST(SUM(CASE WHEN supp_nation = (SELECT tn FROM target)
                      THEN CAST(volume AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE),
             6) AS mkt_share
    FROM vol GROUP BY o_year
    """,
    tags=("join", "tpch-q8"),
)
def q110_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): 7-way star join feeding a
    conditional-share aggregation — the share numerator is a CASE inside
    the same decimal-exact sum as the denominator, so one pass computes
    both.  Every dimension broadcasts; lineitem↔orders is the only
    shuffle.  The target nation is resolved by a deterministic MIN over
    the region's nations (stable across sf dirs)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    asia_keys = nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    target = asia_keys.agg(F.min("n_name")).collect()[0][0]
    n1 = asia_keys.select(F.col("n_nationkey").alias("c_nk"))
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(
            F.broadcast(part.where(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(customer.select("c_custkey", "c_nationkey"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nk") == F.col("c_nationkey"))
        .join(supplier.select("s_suppkey", "s_nationkey"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nk") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    dec = F.col("volume").cast("decimal(18,6)")
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == target, dec).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum(dec).cast("double"),
            6,
        ).alias("mkt_share")
    )


@query(
    "q111_last_to_ship",
    oracle="""
    SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
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
    """,
    tags=("join", "tpch-q21", "exists"),
)
def q111_last_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape on the available columns: suppliers who shipped
    LAST in multi-supplier finished orders — a semi join (some other
    supplier exists on the order) AND an anti join (nobody shipped
    later) against the same fact, the decorrelation double-whammy Q21
    exists to test.  Both correlated subqueries become shuffle joins on
    the order key with residual inequality predicates — no per-row
    re-scan of lineitem."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supplier = read_table(spark, sf_dir, "supplier")
    l1 = li.alias("l1").join(
        orders.where(F.col("o_orderstatus") == "F").select("o_orderkey"),
        F.col("l1.l_orderkey") == F.col("o_orderkey"),
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waited = (
        l1.join(
            l2,
            (F.col("k2") == F.col("l1.l_orderkey")) & (F.col("s2") != F.col("l1.l_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("k3") == F.col("l1.l_orderkey"))
            & (F.col("s3") != F.col("l1.l_suppkey"))
            & (F.col("d3") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return (
        waited.join(supplier, F.col("s_suppkey") == F.col("l1.l_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct(F.col("l1.l_orderkey")).alias("numwait"))
    )


@query(
    "q112_group_quantiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
           round(quantile_cont(o_totalprice, 0.75)
                 - quantile_cont(o_totalprice, 0.25), 6) AS iqr_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "quantile"),
)
def q112_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped quantiles (median / p90 / IQR) — the exact twin of
    q88's KLL sketch: both engines interpolate continuously so values
    match to the rounding.
    Computed by the distributed range-partition selection kernel
    (operators/quantiles.py): per-partition memory regardless of group
    size, so the exact form now survives unbounded groups too;
    unbounded-cardinality *profiling* still belongs to the q88 sketch
    path when approximate is acceptable."""
    from ..operators.quantiles import exact_quantiles

    orders = read_table(spark, sf_dir, "orders")
    qs = exact_quantiles(
        orders,
        "o_totalprice",
        {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9},
        ["o_orderpriority"],
    )
    return qs.select(
        "o_orderpriority",
        F.round("p50", 6).alias("median_price"),
        F.round("p90", 6).alias("p90_price"),
        F.round(F.col("p75") - F.col("p25"), 6).alias("iqr_price"),
    )


@query(
    "q124_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "outer", "agg", "tpch-q13"),
)
def q124_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the outer-join aggregate the registry lacked:
    customers LEFT JOIN their (priority-filtered) orders, COUNT the
    non-null side per customer (zero-order customers survive with 0),
    then histogram the counts.  The ON-clause right-side filter is
    expressed by pre-filtering the right input — equivalent for a left
    join and lets the filter push into the orders scan."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q126_customer_opportunity",
    oracle="""
    WITH pos AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (0, 5, 10, 15, 20) AND c_acctbal > 0.0
    ),
    avgbal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS a
      FROM pos
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM pos, avgbal
    WHERE c_acctbal > avgbal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = pos.c_custkey
          AND o.o_orderpriority = '1-URGENT'
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
    tags=("agg", "subquery", "anti-join", "tpch-q22"),
)
def q126_customer_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape, nationkey standing in
    for phone country codes): customers in target nations with
    above-average positive balance and no RECENT URGENT order (every
    synthetic customer has some order, so the anti-join side is the
    filtered order subset), rolled up per nation.  The scalar average is
    a broadcast 1-row cross join (Catalyst's decorrelation of the
    uncorrelated scalar subquery); the no-orders predicate is a
    left-anti join whose build side is filtered BEFORE the shuffle — at
    scale both sides shuffle on custkey, no correlated per-row
    probing."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    pos = cust.where(
        F.col("c_nationkey").isin(0, 5, 10, 15, 20) & (F.col("c_acctbal") > 0.0)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    avgbal = pos.agg(
        F.expr(
            "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
        ).alias("a")
    )
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        pos.crossJoin(F.broadcast(avgbal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(urgent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr(dsum_expr("c_acctbal", "totacctbal")),
        )
    )


@query(
    "q127_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("agg", "subquery", "tpch-q15"),
)
def q127_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue, KEEPING ties (TPC-H Q15 shape).
    Revenue stays an exact DECIMAL through the max-equality comparison —
    double equality across engines would be a last-ulp coin flip — and
    is cast to DOUBLE only for output.  The max is a broadcast 1-row
    aggregate over the (already tiny, one row per supplier) revenue
    table; supplier enrichment is a broadcast-able dimension join."""
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.expr(
                "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))"
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mxrev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mxrev"))
        .join(sup, rev.supplier_no == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q130_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY source),
    dev AS (
      SELECT d.source, d.doc_id, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS adev
      FROM documents d JOIN med m USING (source)),
    mad AS (
      SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY source),
    scored AS (
      SELECT dev.source, doc_id,
             round(0.6745 * (n_chars - med) / nullif(mad.mad, 0.0), 6) AS z
      FROM dev JOIN mad USING (source))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           round(max(abs(z)), 6) AS max_abs_z
    FROM scored GROUP BY source
    """,
    tags=("quality", "agg", "quantile"),
)
def q130_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier detection by modified z-score (median absolute
    deviation): the robust data-quality screen a curation pipeline runs
    before trusting length/score distributions — unlike mean/stddev, one
    corrupt giant document cannot mask the others.

    Two grouped EXACT medians (value, then absolute deviation) with the
    group medians broadcast-joined back between them, both computed by
    the distributed range-partition selection kernel
    (operators/quantiles.py) — per-partition memory, never a per-group
    WindowExec buffer, so one giant source cannot OOM a task at 100 TB.
    n_chars is integral so both medians are exactly representable (k or
    k + 0.5) and the 0.6745·dev/MAD arithmetic is identical IEEE double
    math in both engines; scores round to 6 dp before the 3.5 threshold.
    MAD = 0 groups (constant columns) yield NULL scores and count no
    outliers in either engine."""
    from ..operators.quantiles import exact_quantiles

    docs = read_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    med = exact_quantiles(docs, "n_chars", {"med": 0.5}, ["source"])
    # pin the deviation table: three consumers (the second kernel's
    # sampling pass + shuffle, and the scoring join) would otherwise
    # each re-run the scan + broadcast join — the standard multi-pass
    # pin, same trade as kmeans' quantized corpus (A/B: 2.37→2.05 s
    # min-of-4 at sf0.1, and 2 fewer source scans at any scale)
    dev = docs.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    ).localCheckpoint(eager=True)
    mad = exact_quantiles(dev, "adev", {"mad": 0.5}, ["source"])
    scored = dev.join(F.broadcast(mad), "source").select(
        "source",
        "doc_id",
        F.round(
            0.6745 * (F.col("n_chars") - F.col("med"))
            / F.nullif(F.col("mad"), F.lit(0.0)),
            6,
        ).alias("z"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.abs("z") > 3.5, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


@query(
    "q134_burst_collapse",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type,
             CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) >= 300000000
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS keep
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(keep) AS BIGINT) AS n_kept
    FROM flagged GROUP BY user_id, event_type
    """,
    tags=("window", "dedup", "events"),
)
def q134_burst_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-collapse event dedup: within each (user, event_type) stream
    keep an event only if ≥ 300 s passed since the previous one — the
    debounce/throttle dedup a telemetry or clickstream pipeline applies
    before aggregation (retries and double-fires collapse to one).
    Integer-microsecond gap over a total order (ts, event_id); the same
    lag-flag shape as q75's gaps-and-islands, aggregated to per-stream
    kept counts.  At 100 TB the window partitions by (user, type) — high
    cardinality, shuffle-parallel, no global sort."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = events.select(
        "user_id",
        "event_type",
        F.when(gap.isNull() | (gap >= 300_000_000), 1).otherwise(0).alias("keep"),
    )
    return flagged.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("keep").cast("long").alias("n_kept"),
    )


@query(
    "q137_grouped_corr",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,6)) AS x,
             CAST(props->>'$.k' AS BIGINT) AS y
      FROM events
    ),
    moments AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy)
                 / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0.0),
                 6) AS corr_value_k
    FROM moments
    """,
    tags=("agg", "statistics"),
)
def q137_grouped_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation from EXACT decimal moments: one pass
    computes Σx, Σy, Σxy, Σx², Σy² as fixed-point sums (shuffle-order-
    independent), then the correlation assembles in identical IEEE double
    arithmetic in both engines — the cross-engine-safe form of
    ``corr()``, whose native double accumulation would drift per
    partitioning.  Profiles value-vs-props.k per event type; constant
    columns (zero variance) yield NULL via the nullif guard.  One scan,
    one shuffle keyed by group — the same economics as any grouped agg."""
    events = read_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    )
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
        F.lit(0.0),
    )
    return m.select("event_type", "n", F.round(corr, 6).alias("corr_value_k"))


@query(
    "q138_column_profile",
    oracle="""
    SELECT 'doc_id' AS col_name,
           COUNT(*) - COUNT(doc_id) AS n_nulls,
           COUNT(DISTINCT doc_id) AS n_distinct,
           CAST(MIN(doc_id) AS VARCHAR) AS min_val,
           CAST(MAX(doc_id) AS VARCHAR) AS max_val
    FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           MIN(lang), MAX(lang) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           MIN(source), MAX(source) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
    FROM documents
    """,
    tags=("quality", "profile", "agg"),
)
def q138_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (null count / exact distinct count /
    min / max per column) in ONE scan: all per-column aggregates compute
    in a single multi-distinct aggregation (Catalyst expands the distinct
    sets map-side), then pivot long with ``stack`` — the table-audit
    every ingestion run records before trusting a batch.  Exact distincts
    expand rows ×(number of distinct aggregates); at 100 TB unbounded-
    cardinality columns move to the q88 HLL sketch twin."""
    docs = read_table(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            # min/max on the NATIVE type (numeric order), cast after —
            # casting first would rank '99' above '499'
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    one = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_val, max_val)"
        )
    )


@query(
    "q144_ab_welch_test",
    oracle="""
    WITH base AS (
      SELECT event_type, event_id % 2 AS arm,
             CAST(value AS DECIMAL(18,6)) AS x
      FROM events
    ),
    m AS (
      SELECT event_type, arm, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM base GROUP BY event_type, arm
    ),
    stats AS (
      SELECT event_type, arm, n, sx / n AS mean,
             (sxx - sx * sx / n) / (n - 1) AS var
      FROM m WHERE n >= 2
    )
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           round(a.mean, 6) AS mean_a, round(b.mean, 6) AS mean_b,
           round((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 6) AS t_welch
    FROM stats a JOIN stats b
      ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
    """,
    tags=("agg", "statistics", "abtest"),
)
def q144_ab_welch_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Welch's t statistic between two deterministic arms
    (event_id parity — the hash-assignment idiom of every A/B system):
    the in-engine significance readout an experimentation pipeline
    computes at rollup time.  Sample moments come from EXACT decimal
    sums (q137's discipline), variance and t assemble in identical IEEE
    doubles, rounded to 1e-6.  One scan, one (group, arm) shuffle."""
    events = read_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        (F.col("event_id") % 2).alias("arm"),
        F.col("value").cast("decimal(18,6)").alias("x"),
    )
    m = base.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    stats = m.where(F.col("n") >= 2).select(
        "event_type",
        "arm",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    a = stats.where(F.col("arm") == 0).alias("a")
    b = stats.where(F.col("arm") == 1).alias("b")
    return a.join(b, F.col("a.event_type") == F.col("b.event_type")).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(F.col("a.mean"), 6).alias("mean_a"),
        F.round(F.col("b.mean"), 6).alias("mean_b"),
        F.round(
            (F.col("a.mean") - F.col("b.mean"))
            / F.sqrt(F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")),
            6,
        ).alias("t_welch"),
    )


@query(
    "q146_equifreq_binning",
    oracle="""
    WITH b AS (
      SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
             round(quantile_cont(o_totalprice, 0.50), 6) AS q2,
             round(quantile_cont(o_totalprice, 0.75), 6) AS q3
      FROM orders
    ),
    binned AS (
      SELECT CASE WHEN o_totalprice <= q1 THEN 1
                  WHEN o_totalprice <= q2 THEN 2
                  WHEN o_totalprice <= q3 THEN 3
                  ELSE 4 END AS bin,
             o_totalprice
      FROM orders, b
    )
    SELECT bin, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_price
    FROM binned GROUP BY bin
    """,
    tags=("agg", "quantile", "binning"),
)
def q146_equifreq_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-frequency feature binning: exact quartile boundaries from
    the distributed range-partition selection kernel
    (operators/quantiles.py — a GLOBAL group is exactly the case where
    the in-memory percentile aggregate would OOM at 100 TB), rounded to
    6 dp so the bin edges are engine-identical, broadcast into a CASE
    assignment, then per-bin count + exact-decimal mean — the
    quantile-bucketing transform of a feature pipeline, without ntile's
    single-partition global window (the boundary table is 1 row;
    assignment is a pure map over the scan)."""
    from ..operators.quantiles import exact_quantiles

    orders = read_table(spark, sf_dir, "orders")
    b = exact_quantiles(
        orders, "o_totalprice", {"q1": 0.25, "q2": 0.50, "q3": 0.75}
    ).select(
        F.round("q1", 6).alias("q1"),
        F.round("q2", 6).alias("q2"),
        F.round("q3", 6).alias("q3"),
    )
    binned = orders.crossJoin(F.broadcast(b)).select(
        F.when(F.col("o_totalprice") <= F.col("q1"), 1)
        .when(F.col("o_totalprice") <= F.col("q2"), 2)
        .when(F.col("o_totalprice") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
        ).alias("mean_price"),
    )


_RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE nxt AS (
      SELECT o_custkey AS c, o_orderkey AS k,
             CAST(o_totalprice AS DOUBLE) AS price,
             lead(o_orderkey) OVER w AS nk,
             CAST(lead(o_totalprice) OVER w AS DOUBLE) AS nk_price,
             row_number() OVER w AS rn
      FROM orders
      WHERE o_custkey % 10 = 0
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    walk(c, k, depth, cum) AS (
      SELECT c, k, 1 AS depth, price AS cum FROM nxt WHERE rn = 1
      UNION ALL
      SELECT w2.c, n.nk, w2.depth + 1, w2.cum + n.nk_price
      FROM walk w2 JOIN nxt n ON w2.c = n.c AND w2.k = n.k
      WHERE n.nk IS NOT NULL AND w2.depth < 8
    )
    SELECT c AS custkey, MAX(depth) AS chain_len,
           round(MAX(cum), 6) AS total_spend
    FROM walk GROUP BY c
"""


@query(
    "q147_recursive_chain",
    oracle=_RECURSIVE_CHAIN_SQL,
    tags=("sql", "recursive", "graph"),
)
def q147_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) — the IDENTICAL SQL text
    runs on both engines: per-customer order chains walked link by link
    (lead() builds the next-order edge; the recursion carries depth and
    a running spend, hop-capped at 8 — recursion cost is per-LEVEL, so
    the cap bounds the iteration count, not the row volume), aggregated
    to chain length + total.  An acyclic
    linked-list walk because Spark's recursion supports UNION ALL only
    (cycle-unsafe on graphs); the iterative-DataFrame algorithms in
    graph/ remain the cycle-safe path.  Recursion depth = the longest
    order chain (≲40 at any SF; the engine caps at
    spark.sql.cte.recursion.level.limit=100).  The walk's running sum is
    sequential per chain, so double accumulation is order-deterministic
    in both engines."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_CHAIN_SQL)


@query(
    "q149_psi_drift",
    oracle="""
    WITH binned AS (
      SELECT source, CAST(floor(n_chars / 50.0) AS INT) AS bin
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
      FROM binned GROUP BY bin
    ),
    totals AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS nbins FROM counts
    ),
    probs AS (
      SELECT bin,
             (ca + 1.0) / (na + nbins) AS pa,
             (cb + 1.0) / (nb + nbins) AS pb
      FROM counts, totals
    )
    SELECT bin, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
           round((pa - pb) * ln(pa / pb), 6) AS psi_contrib
    FROM probs
    """,
    tags=("quality", "drift", "monitoring"),
)
def q149_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two sources' document-
    length distributions — the monitoring readout a production ingest
    runs per batch to catch a source whose content shifted.  Fixed-width
    bins (floor(n_chars/50) — floor-cast per CLAUDE.md, never a rounding
    cast), add-one smoothing so empty-on-one-side bins contribute a
    finite penalty instead of log(0), per-bin PSI contributions.
    Integer counts exact; the (p−q)·ln(p/q) assembly is identical IEEE
    double math, rounded 1e-6.  One scan, one bin-keyed shuffle."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1")
    )
    binned = docs.select(
        "source", F.floor(F.col("n_chars") / 50.0).cast("int").alias("bin")
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"), F.count(F.lit(1)).alias("nbins")
    )
    probs = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        ((F.col("ca") + 1.0) / (F.col("na") + F.col("nbins"))).alias("pa"),
        ((F.col("cb") + 1.0) / (F.col("nb") + F.col("nbins"))).alias("pb"),
    )
    return probs.select(
        "bin",
        F.round("pa", 6).alias("p_a"),
        F.round("pb", 6).alias("p_b"),
        F.round((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 6).alias(
            "psi_contrib"
        ),
    )


@query(
    "q154_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
             GROUP BY user_id),
    spine AS (
      SELECT user_id, CAST(d AS DATE) AS day FROM (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
        FROM span)
    )
    SELECT s.user_id, CAST(s.day AS VARCHAR) AS day,
           COALESCE(d.n_events, 0) AS n_events
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    """,
    tags=("timeseries", "gap-fill", "spine"),
)
def q154_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: each user's daily event-count series with
    missing days materialized as zeros between that user's first and
    last active day — the densification step every downstream rolling /
    anomaly computation assumes (a 3-day gap must read as three zeros,
    not as adjacent rows).

    Plan: daily counts (one keyed agg), per-user [min, max] span (tiny
    agg), `sequence(d0, d1)` explode builds the spine WITHOUT a
    cross-join against a global calendar — each user only generates its
    own span — then a left join brings counts back.  Spine size is
    Σ_user days(span): linear in users x active range, never
    |users| x |global calendar|."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        # ISO string, not DATE: engine drivers disagree on date boxing
        # (DuckDB fetchdf -> datetime64, Spark -> date), so the portable
        # output contract is the ISO-8601 day string
        F.col("day").cast("string").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


def _ewma_terms(k_max: int = 7) -> tuple[str, str]:
    """SQL num/den chains for the truncated EWMA — generated so the
    Spark builder and the oracle share ONE term order (left-assoc sums
    are IEEE-identical only if built identically)."""
    num, den = ["0.0"], ["0.0"]
    for k in range(k_max):
        w = 0.5 ** k
        lagv = "value" if k == 0 else f"lag(value, {k}) OVER w"
        num.append(f"CASE WHEN {lagv} IS NOT NULL THEN {w!r} * ({lagv}) ELSE 0.0 END")
        den.append(f"CASE WHEN {lagv} IS NOT NULL THEN {w!r} ELSE 0.0 END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_terms(7)


@query(
    "q155_ewma",
    oracle=f"""
    SELECT event_id, user_id,
           round(({_EWMA_NUM}) / ({_EWMA_DEN}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("timeseries", "window", "ewma"),
)
def q155_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average (half-life decay
    0.5^k over the last 7 events per user): the smoothing a monitoring
    pipeline applies before thresholding noisy per-event values.

    The infinite EWMA recurrence is not associative, so instead of a
    driver loop the 7-term truncation is an explicit lag chain — pure
    window expressions, whole-stage codegen, one shuffle on user_id.
    Early rows renormalize over the lags that exist (num/den both skip
    NULL lags).  Weights are exact binary fractions and BOTH engines
    evaluate the same left-associated term order, so doubles match
    bit-for-bit before the 6-dp round."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = F.lit(0.0), F.lit(0.0)
    for k in range(7):
        lk = F.col("value") if k == 0 else F.lag("value", k).over(w)
        wk = F.lit(0.5 ** k)
        num = num + F.when(lk.isNotNull(), wk * lk).otherwise(F.lit(0.0))
        den = den + F.when(lk.isNotNull(), wk).otherwise(F.lit(0.0))
    return ev.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma")
    )


@query(
    "q156_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT s.user_id, s.s_ts,
             MIN(CASE WHEN e.ts > s.s_ts THEN e.ts END) AS v_ts
      FROM s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'view'
      GROUP BY s.user_id, s.s_ts
    ),
    p AS (
      SELECT v.user_id, v.s_ts, v.v_ts,
             MIN(CASE WHEN v.v_ts IS NOT NULL AND e.ts > v.v_ts
                       AND date_diff('microsecond', v.s_ts, e.ts) <= 259200000000
                  THEN e.ts END) AS p_ts
      FROM v LEFT JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'purchase'
      GROUP BY v.user_id, v.s_ts, v.v_ts
    )
    SELECT CAST(CAST(s_ts AS DATE) AS VARCHAR) AS cohort_day,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(v_ts) AS BIGINT) AS n_viewed,
           CAST(COUNT(p_ts) AS BIGINT) AS n_purchased,
           round(CAST(COUNT(p_ts) AS DOUBLE) / COUNT(*), 6) AS conv_rate
    FROM p GROUP BY 1
    """,
    tags=("timeseries", "funnel", "join", "agg"),
)
def q156_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step conversion funnel per signup cohort day:
    first signup → first view AFTER it → first purchase AFTER that view
    and within 72 h of signup.  The product-analytics query every event
    pipeline serves; the ordering constraint (each step strictly after
    the previous user-specific step) is what separates a funnel from
    three independent counts.

    Plan: one |users|-row anchor per step, each step a keyed left join +
    conditional-MIN agg (MIN skips NULLs identically in both engines) —
    no window over the raw event stream, no per-user sort; everything
    shuffles on user_id.  Cohort day emitted as an ISO string (q154's
    DATE-boxing rule)."""
    ev = read_table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    v = (
        s.join(views, "user_id", "left")
        .groupBy("user_id", "s_ts")
        .agg(F.min(F.when(F.col("ts") > F.col("s_ts"), F.col("ts"))).alias("v_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    within_72h = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("s_ts"))
    ) <= 259_200_000_000
    p = (
        v.join(purchases, "user_id", "left")
        .groupBy("user_id", "s_ts", "v_ts")
        .agg(
            F.min(
                F.when(
                    F.col("v_ts").isNotNull()
                    & (F.col("ts") > F.col("v_ts"))
                    & within_72h,
                    F.col("ts"),
                )
            ).alias("p_ts")
        )
    )
    return p.groupBy(
        F.to_date("s_ts").cast("string").alias("cohort_day")
    ).agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.count("v_ts").alias("n_viewed"),
        F.count("p_ts").alias("n_purchased"),
        F.round(F.count("p_ts").cast("double") / F.count(F.lit(1)), 6).alias(
            "conv_rate"
        ),
    )


@query(
    "q168_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             ln(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                     AS BIGINT) / 4503599627370496.0) / o_totalprice AS k
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                 ORDER BY round(k, 12) DESC, o_orderkey) AS rn
      FROM keyed
    ) WHERE rn <= 20
    """,
    tags=("sample", "weighted", "training"),
)
def q168_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=20 per priority class —
    the Efraimidis–Spirakis A-ES scheme a training-data pipeline uses to
    draw an importance-weighted subset in one pass: each row gets key
    ln(u)/w (u = md5-derived uniform in (0,1), the q69 determinism
    idiom; w = o_totalprice) and the k LARGEST keys per group are an
    exact weighted sample without replacement.  ln keeps the full
    double range (u^(1/w) saturates at 1 for large w); the key is
    rounded to 12 dp with an order-key tie-break so both engines rank
    identically.

    Scale: one scan + a per-group top-k rank window — Spark pushes the
    rank cut map-side (WindowGroupLimit), so only k rows per group per
    task survive to the shuffle; no sort of the full table."""
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    u = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10
    ).cast("double") / F.lit(float(1 << 52))
    keyed = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.log(u) / F.col("o_totalprice"), 12).alias("k"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("k").desc(), F.col("o_orderkey")
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@query(
    "q169_nucleus_selection",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type, value,
             SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY event_type ORDER BY value DESC, event_id
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY event_type) AS tot
      FROM events WHERE value > 0
    )
    SELECT event_id, event_type, value,
           round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
    FROM c
    WHERE CAST(cum - CAST(value AS DECIMAL(18,6)) AS DOUBLE)
          < 0.5 * CAST(tot AS DOUBLE)
    """,
    tags=("window", "nucleus", "training"),
)
def q169_nucleus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group NUCLEUS (top-p) selection, p=0.5: the smallest
    value-descending prefix of each event type whose mass reaches half
    the group total — the nucleus-sampling shape (and the "keep the
    head of the mass" curation cut) done at table scale.

    The running mass per ~5-value event_type group comes from the
    distributed prefix-sum kernel (operators/prefix.running_total) —
    the ordinary window form funnels a fifth of the table through one
    task (the q63/q160 single-reducer class this round eliminated).
    Values accumulate as exact DECIMAL(18,6) in BOTH engines, so the
    partition-wise summation grouping cannot drift a double ulp
    (dsum convention); only the final share ratio becomes a double."""
    from ..operators.prefix import running_total

    events = read_table(spark, sf_dir, "events")
    t = events.where(F.col("value") > 0).select(
        "event_id",
        "event_type",
        "value",
        F.col("value").cast("decimal(18,6)").alias("_v6"),
        (-F.col("value")).alias("_negv"),
    )
    cum = running_total(
        t,
        "_v6",
        ["_negv", "event_id"],
        ["event_type"],
        out_col="_cum",
        total_col="_tot",  # grand totals ride the kernel's control
        # table for free — no second aggregation pass over the data
    )
    return (
        cum.where(
            (F.col("_cum") - F.col("_v6")).cast("double")
            < 0.5 * F.col("_tot").cast("double")
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                F.col("_cum").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("cum_share"),
        )
    )


def _q173_oracle() -> str:
    from .analytics4 import _q312_rho_sql

    return f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events GROUP BY event_type, user_id
    ),
    reg AS (
      SELECT event_type, (hv // 16777216) % 256 AS j,
             MAX({_q312_rho_sql("hv % 16777216")}) AS m
      FROM h GROUP BY 1, 2
    ),
    merged AS (
      SELECT 'ALL' AS event_type, j, MAX(m) AS m FROM reg GROUP BY j
    ),
    allreg AS (SELECT * FROM reg UNION ALL SELECT * FROM merged),
    types AS (
      SELECT DISTINCT event_type FROM events UNION ALL SELECT 'ALL'
    ),
    grid AS (
      SELECT t.event_type, u.j
      FROM types t, (SELECT unnest(generate_series(0, 255)) AS j) u
    ),
    full_reg AS (
      SELECT g.event_type, COALESCE(a.m, 0) AS m
      FROM grid g LEFT JOIN allreg a
        ON a.event_type = g.event_type AND a.j = g.j
    ),
    s AS (
      SELECT event_type,
             SUM(1.0 / (CAST(1 AS BIGINT) << m)) AS z,
             COUNT(CASE WHEN m > 0 THEN 1 END) AS hit
      FROM full_reg GROUP BY 1
    ),
    est AS (
      SELECT event_type, hit,
             CASE WHEN 0.7213 / (1.0 + 1.079 / 256) * 65536 / z
                       <= 2.5 * 256 AND hit < 256
                  THEN 256.0 * ln(256.0 / (256 - hit))
                  ELSE 0.7213 / (1.0 + 1.079 / 256) * 65536 / z END AS e
      FROM s
    ),
    nr AS (
      SELECT event_type, COUNT(*) AS n_rows FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL', COUNT(*) FROM events
    )
    SELECT est.event_type,
           round(est.e, 6) AS approx_users,
           CAST(nr.n_rows AS BIGINT) AS n_rows
    FROM est JOIN nr ON nr.event_type = est.event_type
    ORDER BY est.event_type
    """


@query(
    "q173_hll_mergeable_union",
    oracle=_q173_oracle(),
    tags=("agg", "sketch", "approx", "mergeable"),
)
def q173_hll_mergeable_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches with the merge stage fully
    ORACLED (r8 verdict item: q312 proved the register algebra is
    SQL-expressible — this applies it to the union query): one
    256-register md5-HLL per event type, then the ALL row computed as a
    register-wise MAX over the per-type register TABLE — the O(sketch)
    merge, never a re-scan of events — with q312's bias-corrected
    estimate + linear-counting small-range branch.  Unlike the binary
    DataSketches surface (still exercised in
    tests/test_scale_ops.py::test_datasketches_builtin_union), every
    register here is a deterministic integer in BOTH engines, so the
    driver's hash gate pins per-type sketches AND the merge itself.

    Scale plan: register assignment is one map-side-combinable MAX agg
    over (type, 256) groups after a (type, user) pre-distinct; the
    merge runs on the bounded register table (|types|·256 rows, pinned
    once for its two consumers); the register grid is a broadcast
    (types × 256) fan-out.  Exactness: q312's contract — integer rho
    via 24-branch CASE, exact dyadic Σ2^-M (25+8 bits < 53), one
    division and a 6-dp round; the linear-counting ln feeds a 6-dp
    round of an O(m) value, round-safe.  Estimates are ALSO pinned to
    exact distincts by the published RSE bound in
    tests/test_scale_ops.py::test_hll_union_self_calibrating."""
    from .analytics4 import _q312_rho_sql

    events = read_table(spark, sf_dir, "events")
    h = events.select("event_type", "user_id").distinct().select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    reg = (
        h.groupBy(
            "event_type", F.expr("(hv div 16777216) % 256").alias("j")
        )
        .agg(F.expr(f"MAX({_q312_rho_sql('hv % 16777216')})").alias("m"))
        # bounded (|types|·256); feeds the merge AND the union below
        .localCheckpoint(eager=True)
    )
    merged = reg.groupBy("j").agg(F.max("m").alias("m")).select(
        F.lit("ALL").alias("event_type"), "j", "m"
    )
    allreg = reg.unionByName(merged)
    types = (
        events.select("event_type")
        .distinct()
        .unionByName(
            local_frame(events.sparkSession, [("ALL",)], "event_type string")
        )
    )
    grid = types.crossJoin(
        F.broadcast(spark.range(0, 256).select(F.col("id").alias("j")))
    )
    full_reg = grid.join(allreg, ["event_type", "j"], "left").select(
        "event_type", F.coalesce("m", F.lit(0)).alias("m")
    )
    s = full_reg.groupBy("event_type").agg(
        F.sum(
            F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE)")
        ).alias("z"),
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).alias("hit"),
    )
    raw = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / 256) * 65536 / F.col("z")
    est = F.when(
        (raw <= 2.5 * 256) & (F.col("hit") < 256),
        256.0 * F.log(256.0 / (256 - F.col("hit"))),
    ).otherwise(raw)
    nr = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    nr = nr.unionByName(
        events.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit("ALL").alias("event_type"), "n_rows"
        )
    )
    return (
        s.join(nr, "event_type")
        .select(
            "event_type",
            F.round(est, 6).alias("approx_users"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        .orderBy("event_type")
    )


@query(
    "q176_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           round(CAST(c.n AS DOUBLE) / t.tot, 6) AS prob
    FROM c JOIN t USING (from_type)
    """,
    tags=("window", "markov", "sequence"),
)
def q176_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: per
    (event_type → next event_type) count and row-normalized probability
    — the behavioral-sequence model behind next-action prediction and
    session simulation.

    Scale: the lead window partitions by user_id (high-cardinality —
    bounded per-task state), then two tiny keyed aggregates on the
    ~|types|² transition table; probabilities are exact-integer /
    exact-integer divisions, so the hash cannot drift."""
    from pyspark.sql.window import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("prob"),
    )


@query(
    "q179_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10 < 9
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN CAST(('0x' || substr(md5('m' || CAST(o_orderkey AS VARCHAR)), 1, 8))
                            AS BIGINT) % 20 = 0
                  THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10 > 0
    ),
    j AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
             CASE
               WHEN a.o_orderkey IS NULL THEN 'added'
               WHEN b.o_orderkey IS NULL THEN 'removed'
               WHEN a.o_orderstatus <> b.o_orderstatus
                 OR a.o_totalprice <> b.o_totalprice THEN 'changed'
               ELSE 'unchanged'
             END AS diff
      FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT diff, COUNT(*) AS n, CAST(MIN(k) AS BIGINT) AS example_key
    FROM j GROUP BY diff
    """,
    tags=("etl", "diff", "versioning"),
)
def q179_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table SNAPSHOT DIFF — the added / removed / changed / unchanged
    audit between two dataset versions (the check a pipeline runs
    before promoting a rebuilt table).  The two versions are carved
    deterministically from orders (md5 buckets: v1 drops bucket 9, v2
    drops bucket 0 and perturbs 5% of prices), so both engines diff the
    identical pair; the diff itself is one full-outer join on the key
    with row-compare residuals and a tiny rollup.

    Scale: a single co-partitioned full-outer join (both sides shuffle
    on the key once) + a 4-row aggregate; no collect, no window."""
    orders = read_table(spark, sf_dir, "orders")
    b1 = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long") % 10
    mod = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("m"), F.col("o_orderkey").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % 20
    v1 = orders.where(b1 < 9).select("o_orderkey", "o_orderstatus", "o_totalprice")
    v2 = orders.where(b1 > 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(mod == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    a = v1.alias("a")
    b = v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer").select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("k"),
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
            | (F.col("a.o_totalprice") != F.col("b.o_totalprice")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("diff"),
    )
    return j.groupBy("diff").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").cast("long").alias("example_key"),
    )


def cdc_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic CDC feed behind q180 — (k, seq, op, v)
    rows md5-selected from orders, md5-assigned delete ops — shared with
    the streaming twin's test so stream and batch apply the IDENTICAL
    log."""
    orders = read_table(spark, sf_dir, "orders")
    seqs = spark.range(3).select(F.col("id").cast("long").alias("seq"))
    ev = orders.crossJoin(F.broadcast(seqs)).where(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("seq").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 4
        == 0
    )
    opsel = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("op"),
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("seq").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % 5
    return ev.select(
        F.col("o_orderkey").alias("k"),
        "seq",
        F.when(opsel == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (F.col("o_totalprice") + F.col("seq")).alias("v"),
    )


@query(
    "q180_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS k, seq,
             CASE WHEN CAST(('0x' || substr(md5('op' || CAST(o_orderkey AS VARCHAR)
                            || ':' || CAST(seq AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 5 = 0
                  THEN 'D' ELSE 'U' END AS op,
             o_totalprice + seq AS v
      FROM orders
      CROSS JOIN (SELECT unnest(range(0, 3)) AS seq)
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                     || CAST(seq AS VARCHAR)), 1, 8)) AS BIGINT)
            % 4 = 0
    ),
    numbered AS (
      SELECT k, op, v,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT k AS o_orderkey, v AS price
    FROM numbered WHERE rn = 1 AND op <> 'D'
    """,
    tags=("etl", "cdc", "upsert"),
)
def q180_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC LOG APPLY: collapse an ordered change stream (upserts +
    deletes per key, sequence-numbered) into the final table state —
    latest op wins, a trailing delete erases the key (the semantics of
    applying a Debezium-style feed to a lake table; merge_upsert/q84 is
    the single-batch special case).  The change log is synthesized
    deterministically from orders (md5-selected (key, seq) events,
    md5-assigned delete ops), identical in both engines.

    Scale: latest-per-key is a rank-1 window on the high-cardinality
    key — Spark pushes the cut map-side (WindowGroupLimit), so state
    per task is one row per key, never the key's history."""
    from pyspark.sql.window import Window

    log = cdc_change_log(spark, sf_dir)
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(F.col("k").alias("o_orderkey"), F.col("v").alias("price"))
    )
