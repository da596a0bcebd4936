"""Extended relational coverage (ext-typed-relational, SURVEY.md §2.6).

Operators beyond the reference's surface that a complete analytics
engine must carry: as-of joins, range (non-equi) joins, CUBE grouping
sets, semi/anti joins, percentiles, pivot, calendar rollups, string
transforms. Every query is a pure DataFrame plan with a DuckDB oracle;
conventions per queries/registry.py (identical aliases, both-side
rounding, unique-key tie-breaks).

Scale notes: the non-equi joins here broadcast their small side
deliberately (band/dimension tables); semi/anti joins shuffle on the
join key only (no payload); CUBE is one shuffle with grouping-set
expansion map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from k8e_fetch_spark.functions.rounding import round_fixed, sql_round
from k8e_fetch_spark.io import load
from k8e_fetch_spark.queries.registry import register


@register(
    "join_asof_purchase",
    oracle="""
        SELECT event_id, user_id, ts, last_purchase_ts FROM (
            SELECT event_id, user_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_ts
            FROM events
        ) WHERE event_type = 'click'
    """,
    tags=("ext-typed-relational", "asof-join"),
)
def join_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the timestamp of the same user's
    most recent STRICTLY EARLIER purchase. Implemented as a single
    event-time window (last_value ignoreNulls over rows preceding) —
    one shuffle on user_id, no self-join, no range explosion; the
    standard scalable as-of formulation."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return (
        events.withColumn("last_purchase_ts", F.last(purchase_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "last_purchase_ts")
    )


_BANDS = [(0, 100_000), (100_000, 200_000), (200_000, 300_000), (300_000, 500_000)]
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT {i} AS band_id, {lo} AS lo, {hi} AS hi" for i, (lo, hi) in enumerate(_BANDS)
)


@register(
    "join_range_price_bands",
    oracle=f"""
        WITH bands AS ({_BANDS_SQL})
        SELECT band_id, count(*) AS n_orders,
               {sql_round('sum(o_totalprice)', 2)} AS total
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band_id
    """,
    tags=("ext-typed-relational", "range-join"),
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: orders into price bands. The band table is
    tiny and broadcast, so the non-equi predicate evaluates scan-local
    (BroadcastNestedLoopJoin over 4 rows) — never a shuffled theta
    join."""
    orders = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [(i, float(lo), float(hi)) for i, (lo, hi) in enumerate(_BANDS)],
        "band_id int, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_fixed(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "cube_orders",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n,
               {sql_round('sum(o_totalprice)', 2)} AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("ext-typed-relational", "cube"),
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with grouping id — all 4 grouping
    sets in ONE shuffle (map-side grouping-set expansion), not 4 scans."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        round_fixed(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "join_semi_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("ext-typed-relational", "semi-join"),
)
def join_semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order.
    Only the join key shuffles; no payload duplication, no post-dedup."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
    """,
    tags=("ext-typed-relational", "anti-join"),
)
def join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers who never placed a big
    order — the same primitive the Compress merge uses
    (op-insert-ignore). The big-order threshold keeps the anti side
    NON-EMPTY at every fixture SF (the r10 non-vacuous sweep caught the
    unfiltered form returning zero rows at the driver SF — every
    customer has SOME order, so its green rows proved nothing)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "agg_percentiles",
    oracle=f"""
        SELECT o_orderpriority,
               {sql_round('quantile_cont(o_totalprice, 0.5)', 4)} AS p50,
               {sql_round('quantile_cont(o_totalprice, 0.9)', 4)} AS p90,
               {sql_round('quantile_cont(o_totalprice, 0.99)', 4)} AS p99
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("ext-typed-relational", "percentiles"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). At 100 TB swap for approx_percentile and
    drop the oracle to a tolerance check — noted, not silently done."""
    orders = load(spark, sf_dir, "orders")
    # one percentile call with an array of fractions: the group's value
    # buffer is collected and sorted ONCE for all three cut points
    # (three separate calls each keep and sort their own buffer — 3x
    # state, 3x sort; measured 1.25 s -> 0.8 s warm at sf0.1)
    pcts = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("p")
    )
    return pcts.select(
        "o_orderpriority",
        round_fixed(F.col("p")[0], 4).alias("p50"),
        round_fixed(F.col("p")[1], 4).alias("p90"),
        round_fixed(F.col("p")[2], 4).alias("p99"),
    )


@register(
    "pivot_event_types",
    oracle="""
        SELECT user_id,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'view') AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'error') AS error,
               count(*) FILTER (event_type = 'signup') AS signup
        FROM events
        GROUP BY user_id
    """,
    tags=("ext-typed-relational", "pivot"),
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns. Explicit pivot
    values — no extra distinct-values job, single shuffle."""
    events = load(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "error", "signup"]
    out = (
        events.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for absent combos; oracle's FILTER yields 0
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@register(
    "orders_by_month",
    oracle=f"""
        SELECT date_trunc('month', o_orderdate) AS month,
               count(*) AS n_orders,
               {sql_round('sum(o_totalprice)', 2)} AS total
        FROM orders
        GROUP BY 1
    """,
    tags=("ext-typed-relational", "date-fns"),
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: month truncation + aggregates (the partition key
    a production table would use — this query IS the partition-pruning
    access pattern)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_fixed(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_approx_sketches",
    oracle=None,  # sketch outputs differ across engines by design
    tags=("ext-typed-relational", "sketch", "approx"),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for their exact twins:
    HLL++ count-distinct and KLL-style approx percentiles, one pass, no
    full shuffle of distinct values. Rows-only here (sketches are
    engine-specific by design); tests/test_scale.py asserts each lands
    within tolerance of the exact answers."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_p50"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "string_funcs_parts",
    oracle="""
        SELECT p_partkey,
               upper(p_brand) AS brand_uc,
               substring(p_name, 1, 8) AS name_prefix,
               CAST(length(p_name) AS INTEGER) AS name_len,
               CAST(contains(p_type, 'ECO') AS BOOLEAN) AS is_economy,
               regexp_extract(p_brand, '[0-9]+', 0) AS brand_num
        FROM part
    """,
    tags=("ext-typed-relational", "string-fns"),
)
def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function coverage: case, substring, length, contains,
    regexp extraction — all scan-local codegen expressions."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.col("p_type").contains("ECO").alias("is_economy"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
    )


@register(
    "having_big_orders",
    oracle=f"""
        SELECT o_custkey, count(*) AS n_orders,
               {sql_round('sum(o_totalprice)', 2)} AS total
        FROM orders
        GROUP BY o_custkey
        HAVING sum(o_totalprice) > 3000000
    """,
    tags=("ext-typed-relational", "having"),
)
def having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: GROUP BY + HAVING on the aggregate. The HAVING
    predicate evaluates post-aggregation — one shuffle total."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_sum"),
        )
        .filter(F.col("_sum") > 3000000)  # HAVING on the raw aggregate
        .select("o_custkey", "n_orders", round_fixed(F.col("_sum"), 2).alias("total"))
    )


@register(
    "scalar_subquery_rich_idle",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
    """,
    tags=("ext-typed-relational", "scalar-subquery", "anti-join"),
)
def scalar_subquery_rich_idle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: scalar subquery (global average, computed once
    and broadcast as a 1-row literal join) + anti join against the
    big-order subset (non-empty at every fixture SF — the unfiltered
    anti side was vacuously empty, r10 sweep). The scalar side never
    shuffles the big table twice."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    avg_bal = customer.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "correlated_min_supplier",
    oracle=f"""
        SELECT s_nationkey, s_suppkey, s_name, {sql_round('s_acctbal', 2)} AS s_acctbal
        FROM supplier s
        WHERE s_acctbal = (SELECT min(s_acctbal) FROM supplier s2
                           WHERE s2.s_nationkey = s.s_nationkey)
    """,
    tags=("ext-typed-relational", "correlated-subquery"),
)
def correlated_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated min-per-group, decorrelated the way
    Catalyst would: one grouped min joined back on the key — a single
    aggregation instead of a per-row subquery."""
    supplier = load(spark, sf_dir, "supplier")
    mins = supplier.groupBy(F.col("s_nationkey").alias("_nk")).agg(
        F.min("s_acctbal").alias("_min_bal")
    )
    return (
        supplier.join(
            F.broadcast(mins),
            (supplier.s_nationkey == F.col("_nk")) & (supplier.s_acctbal == F.col("_min_bal")),
        )
        .select("s_nationkey", "s_suppkey", "s_name", round_fixed(F.col("s_acctbal"), 2).alias("s_acctbal"))
    )


@register(
    "disjunctive_part_filter",
    oracle=f"""
        SELECT p_brand, count(*) AS n,
               {sql_round('sum(p_retailprice)', 2)} AS total_price
        FROM part
        WHERE (p_type = 'ECONOMY' AND p_size BETWEEN 1 AND 15)
           OR (p_type = 'SMALL' AND p_size BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#1' AND p_retailprice < 1200)
        GROUP BY p_brand
    """,
    tags=("ext-typed-relational", "disjunctive-pushdown"),
)
def disjunctive_part_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped OR-of-ANDs predicate: the whole disjunction
    pushes to the parquet scan as one filter (verified by the
    PushedFilters plan check pattern in tests/test_plans.py)."""
    part = load(spark, sf_dir, "part")
    pred = (
        ((F.col("p_type") == "ECONOMY") & F.col("p_size").between(1, 15))
        | ((F.col("p_type") == "SMALL") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#1") & (F.col("p_retailprice") < 1200))
    )
    return (
        part.filter(pred)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_fixed(F.sum("p_retailprice"), 2).alias("total_price"),
        )
    )


@register(
    "exists_late_shipments",
    oracle="""
        SELECT o_orderkey, o_orderdate FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        )
    """,
    tags=("ext-typed-relational", "semi-join", "non-equi"),
)
def exists_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS with a correlated non-equi condition:
    orders with any lineitem shipped >90 days after the order date.
    Compiles to a left-semi join with the extra predicate as the join
    condition — no distinct, no payload duplication."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return orders.join(li, cond, "left_semi").select("o_orderkey", "o_orderdate")


_PROFILE_COLS = ("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
_PROFILE_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS column_name,
              count(*) - count({c}) AS n_nulls,
              count(DISTINCT {c}) AS n_distinct,
              CAST(min({c}) AS VARCHAR) AS min_value,
              CAST(max({c}) AS VARCHAR) AS max_value
       FROM customer"""
    for c in _PROFILE_COLS
)


@register(
    "profile_customer_table",
    oracle=_PROFILE_SQL,
    tags=("ext-typed-relational", "profiling"),
)
def profile_customer_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling op (training-data QA): per-column null counts,
    distinct counts, min/max — computed in ONE scan (all aggregates in
    a single row) then unpivoted with stack(); the oracle's UNION ALL
    form scans once per column, ours doesn't."""
    customer = load(spark, sf_dir, "customer")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one_row = customer.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__distinct`, `{c}__min`, `{c}__max`" for c in _PROFILE_COLS
    )
    return one_row.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_expr}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )


@register(
    "grouping_sets_orders",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               {sql_round('sum(o_totalprice)', 2)} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
    """,
    tags=("ext-typed-relational", "grouping-sets"),
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    three grouping sets in one shuffle via map-side expansion."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        round_fixed(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "bag_set_ops_orders",
    oracle="""
        WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 250000),
             urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        SELECT o_custkey, count(*) AS n FROM (
            SELECT * FROM hi INTERSECT ALL SELECT * FROM urgent
        ) GROUP BY o_custkey
    """,
    tags=("ext-typed-relational", "setops", "bag-semantics"),
)
def bag_set_ops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — multiplicity = min of the two
    sides), aggregated so the comparison is order-free."""
    orders = load(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return hi.intersectAll(urgent).groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "null_semantics_customer",
    oracle="""
        SELECT c_custkey,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_nonneg,
               CAST(c_acctbal IS NOT DISTINCT FROM NULL AS BOOLEAN) AS bal_is_null
        FROM customer
    """,
    tags=("ext-typed-relational", "null-semantics"),
)
def null_semantics_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling breadth: nullif/coalesce, CASE-to-NULL, and
    null-safe comparison (<=> / IS NOT DISTINCT FROM)."""
    customer = load(spark, sf_dir, "customer")
    bal_nonneg = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return customer.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_or_other"
        ),
        bal_nonneg.alias("bal_nonneg"),
        F.col("c_acctbal").eqNullSafe(F.lit(None).cast("double")).alias("bal_is_null"),
    )


@register(
    "date_arithmetic_orders",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since_95,
               CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS q,
               CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start
        FROM orders WHERE o_orderkey < 500
    """,
    tags=("ext-typed-relational", "date-fns"),
)
def date_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic breadth: interval addition, day deltas, quarter
    extraction, week truncation — all scan-local expressions."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.date_trunc("week", "o_orderdate").alias("week_start"),
    )


_FUNNEL_ORACLE = """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
"""


@register(
    "events_funnel_conversion",
    oracle=_FUNNEL_ORACLE,
    tags=("ext-typed-relational", "funnel", "sequential"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view -> click -> purchase): per user,
    the first view, the first click AFTER that view, and the first
    purchase AFTER that click — the sequential-pattern query every
    event-analytics engine ships. Each stage is one pushed-filter scan
    plus a map-side-combined min aggregate; stage chaining is a
    key-equality join with the time predicate applied pre-aggregate, so
    nothing wider than (user_id, ts) ever shuffles. NULLs mark funnel
    drop-off (clicked-never-purchased users keep t_purchase NULL)."""
    # The stage results PROPAGATE FORWARD through the chain (each stage
    # groups by the funnel state so far and left-joins only the next
    # event slice): a final v JOIN c JOIN p re-executes v's subplan 3x
    # and c's 2x — six events scans where this form needs three, one
    # pushed-filter scan per stage (verified on the formatted plan).
    # min(when(ts > t_prev, ts)) over a LEFT join keeps every user and
    # yields NULL both for no-next-event and for NULL t_prev, exactly
    # the drop-off semantics; the grouping keys beyond user_id are
    # user-constant, so the groups are per-user either way.
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    vc = (
        v.join(clicks, on="user_id", how="left")
        .groupBy("user_id", "t_view")
        .agg(F.min(F.when(F.col("ts") > F.col("t_view"), F.col("ts"))).alias("t_click"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return (
        vc.join(purchases, on="user_id", how="left")
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min(F.when(F.col("ts") > F.col("t_click"), F.col("ts"))).alias("t_purchase"))
        .select("user_id", "t_view", "t_click", "t_purchase")
    )


_CONSTRAINT_ORACLE = """
    SELECT 'orders_fk_customer' AS constraint_name,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
           ) AS n_violations
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
    UNION ALL
    SELECT 'customer_name_not_null',
           (SELECT count(*) FROM customer WHERE c_name IS NULL)
    UNION ALL
    SELECT 'lineitem_ship_not_before_order',
           (SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate < o.o_orderdate)
"""


@register(
    "quality_constraint_checks",
    oracle=_CONSTRAINT_ORACLE,
    tags=("ext-typed-relational", "constraints", "data-quality"),
)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint validation — the pre-load
    gate an ELT pipeline runs before the table sink (the reference
    loads blind; a Postgres target would reject or, worse, accept bad
    rows): referential integrity (orders->customer, lineitem->orders as
    anti-join counts), domain ranges (discount in [0,1], positive
    totals), null checks, and a cross-table temporal sanity join (no
    line ships before its order). One row per constraint with its
    violation count — zero everywhere on healthy data, and the shape
    stays cheap at scale: ONE pass per table. Every lineitem-rooted
    constraint (orphan FK, discount range, ship-before-order) folds
    into a single conditional aggregation over one LEFT join — the
    NULL right side IS the FK violation, so the anti-join count rides
    the same scan as the temporal check; the orders-rooted pair folds
    the same way over a broadcast customer lookup; customer's null
    check is its own cheap dim scan. The oracle states each constraint
    independently — identical counts, three scans instead of eight."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def cnt(cond) -> "F.Column":
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    def stack(one_row: DataFrame, names: list[str]) -> DataFrame:
        expr = ", ".join(f"'{n}', `{n}`" for n in names)
        return one_row.selectExpr(
            f"stack({len(names)}, {expr}) AS (constraint_name, n_violations)"
        )

    li_counts = (
        li.select("l_orderkey", "l_shipdate", "l_discount")
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
            how="left",
        )
        .agg(
            cnt(F.col("o_orderkey").isNull()).alias("lineitem_fk_orders"),
            cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
                "lineitem_discount_range"
            ),
            cnt(
                F.col("o_orderkey").isNotNull()
                & (F.col("l_shipdate") < F.col("o_orderdate"))
            ).alias("lineitem_ship_not_before_order"),
        )
    )
    ord_counts = (
        orders.select("o_custkey", "o_totalprice")
        .join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            how="left",
        )
        .agg(
            cnt(F.col("c_custkey").isNull()).alias("orders_fk_customer"),
            cnt(F.col("o_totalprice") <= 0).alias("orders_totalprice_positive"),
        )
    )
    cust_counts = customer.agg(
        cnt(F.col("c_name").isNull()).alias("customer_name_not_null")
    )
    return (
        stack(ord_counts, ["orders_fk_customer", "orders_totalprice_positive"])
        .unionByName(
            stack(
                li_counts,
                [
                    "lineitem_fk_orders",
                    "lineitem_discount_range",
                    "lineitem_ship_not_before_order",
                ],
            )
        )
        .unionByName(stack(cust_counts, ["customer_name_not_null"]))
    )


_COHORT_ORACLE = """
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT f.cohort_week AS cohort_week,
           CAST(datediff('week', f.cohort_week, a.active_week) AS INTEGER) AS weeks_since,
           count(*) AS n_active_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
"""


@register(
    "events_retention_cohort",
    oracle=_COHORT_ORACLE,
    tags=("ext-typed-relational", "cohort", "retention"),
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort analysis — the classic product-analytics shape:
    users bucketed by first-seen week, activity counted per
    (cohort week, weeks since). The oracle states it as
    first-seen-aggregate JOIN activity; the Spark plan exploits that
    ``min`` commutes with the monotone ``date_trunc`` to express the
    cohort week as a window-min over the user's distinct active weeks
    — ONE fact scan and a single linear pipeline (the aggregate+join
    form reads the fact twice; Spark does not unify duplicate
    aggregate branches — the q21 lesson), with the distinct folding
    map-side before the window."""
    from pyspark.sql.window import Window

    events = load(spark, sf_dir, "events")
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    cohort = F.min("active_week").over(Window.partitionBy("user_id"))
    weeks_since = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("int")
    return (
        activity.withColumn("cohort_week", cohort)
        .groupBy("cohort_week", weeks_since.alias("weeks_since"))
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "join_salted_skew",
    # Salting must be answer-invariant: the oracle is the PLAIN
    # join + aggregate over the same planted-skew key.
    oracle=f"""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                        ELSE l_orderkey % 97 END AS k,
                   l_quantity
            FROM lineitem
        ),
        dim AS (
            SELECT g.k, 'grp_' || CAST(g.k AS VARCHAR) AS label
            FROM (SELECT unnest(generate_series(0, 96)) AS k) g
        )
        SELECT f.k, d.label,
               CAST(count(*) AS BIGINT) AS n_rows,
               {sql_round('sum(f.l_quantity)', 2)} AS sum_qty
        FROM fact f JOIN dim d ON f.k = d.k
        GROUP BY f.k, d.label
    """,
    tags=("scale", "skew-salting", "planted-oracle"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-dim join, hash-checked answer-invariant: the
    fact side gets a planted hot key (70% of lineitem collapses to
    k=0, the remainder spreads over 96 tail keys — the boilerplate-key
    profile a 100 TB web corpus join actually shows) and joins a
    97-row dimension through operators/scale.py:salted_join — the
    fact key becomes (k, deterministic salt in [0,8)), the dim is
    replicated once per salt, so the hot key's rows spread over 8
    tasks instead of stalling one straggler. The oracle is the PLAIN
    join + aggregate: salting that changes any row is a wrong salting.

    This is the manual form for engines/paths without AQE skew
    handling (and for deterministic layout control); with AQE on,
    spark.sql.adaptive.skewJoin splits the same straggler at runtime —
    both paths are tested equivalent in tests/test_scale.py."""
    from k8e_fetch_spark.operators.scale import salted_join

    li = load(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey") % 97)
        .alias("k"),
        "l_quantity",
    )
    dim = spark.range(0, 97).select(
        F.col("id").cast("bigint").alias("k"),
        F.concat(F.lit("grp_"), F.col("id").cast("string")).alias("label"),
    )
    joined = salted_join(fact, dim, "k", n_salts=8)
    return joined.groupBy("k", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        round_fixed(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "join_bucketed_colocated",
    # Bucketing must be answer-invariant: the oracle is the PLAIN
    # join + aggregate straight off the parquet tables.
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    tags=("scale", "bucketing", "co-located-join"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once pattern declared and hash-checked
    answer-invariant: lineitem and orders are WRITTEN bucketed (and
    sorted) on the order key via operators/scale.py:write_bucketed,
    then the fact-fact join reads both bucketed tables and runs as a
    sort-merge join with NO exchange on either side (the ``merge``
    hint keeps the demo on the SMJ path the pattern exists for —
    without it the sf0.01 orders side would broadcast; the
    zero-Exchange plan invariant is asserted in
    tests/test_scale.py:test_bucketed_join_has_no_shuffle). The oracle
    is the plain join + aggregate off the raw parquet: bucketing that
    changes any row is a wrong bucketing.

    At 100 TB this is THE repeated-fact-join strategy: the bucket
    write costs one shuffle ONCE, then every subsequent
    join/aggregation on the bucket key is exchange-free — the q21-class
    fact-fact joins stop paying their dominant cost on every query.
    The query implements exactly that contract: the bucket write runs
    once per source fingerprint (sf_dir + mtime/size of the two
    parquet files) and is REUSED on repeat invocations, so a warm run
    measures the exchange-free join the pattern exists for, and any
    stale reuse is caught by the answer hash check against the
    raw-parquet oracle. Revenue uses the integer-cent convention
    (exact bigint sum, float order can't drift)."""
    import os
    import tempfile
    from pathlib import Path

    from k8e_fetch_spark.operators.scale import write_bucketed

    # Warehouse is namespaced per-uid (overridable) so two users /
    # concurrent sessions on a shared host never race on the same
    # marker + table files mid-rewrite; a real deployment sets the
    # override to a per-tenant warehouse path.
    wh = Path(
        os.environ.get(
            "K8E_BUCKET_DEMO_WH",
            os.path.join(
                tempfile.gettempdir(), f"k8e_bucket_demo_wh_{os.getuid()}"
            ),
        )
    )
    wh.mkdir(parents=True, exist_ok=True)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS k8e_bucket_demo LOCATION '{wh}'")

    from k8e_fetch_spark.io import derived_fixture, source_fingerprint

    fp = {
        "sf": str(sf_dir),
        "li": source_fingerprint(sf_dir, "lineitem"),
        "od": source_fingerprint(sf_dir, "orders"),
        "v": 2,
    }

    def build() -> None:
        # self-heal: DROP removes a live table's files; rmtree clears a
        # stale location left by a previous session (saveAsTable refuses
        # a managed-table path that exists without catalog metadata)
        import shutil

        for t in ("li_rev", "od_pri"):
            spark.sql(f"DROP TABLE IF EXISTS k8e_bucket_demo.{t}")
            shutil.rmtree(wh / t, ignore_errors=True)
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        od = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        write_bucketed(li, "k8e_bucket_demo.li_rev", ["l_orderkey"], 8, ["l_orderkey"])
        write_bucketed(od, "k8e_bucket_demo.od_pri", ["o_orderkey"], 8, ["o_orderkey"])

    derived_fixture(
        wh / "source_fingerprint.json",
        fp,
        lambda: spark.catalog.tableExists("k8e_bucket_demo.li_rev")
        and spark.catalog.tableExists("k8e_bucket_demo.od_pri"),
        build,
    )
    lib = spark.table("k8e_bucket_demo.li_rev")
    odb = spark.table("k8e_bucket_demo.od_pri")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    return (
        lib.join(odb.hint("merge"), lib.l_orderkey == odb.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            (F.sum(cents).cast("double") / F.lit(100.0)).cast("double").alias("revenue"),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
        WITH ev AS (
            SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
                   event_type, value
            FROM events
        ),
        visits AS (
            SELECT event_id AS vid, es AS v_start,
                   es + LEAST(CAST(FLOOR(value * 60) AS BIGINT), 7200) AS v_end
            FROM ev WHERE event_type = 'view'
        ),
        outages AS (
            SELECT event_id AS oid, es AS o_start, es + 1800 AS o_end
            FROM ev WHERE event_type = 'error'
        )
        SELECT oid, count(*) AS n_visits,
               CAST(sum(LEAST(v_end, o_end) - GREATEST(v_start, o_start)) AS BIGINT)
                   AS overlap_seconds,
               min(vid) AS first_vid
        FROM outages JOIN visits
          ON v_start <= o_end AND o_start <= v_end
        GROUP BY oid
    """,
    tags=("ext-typed-relational", "range-join", "interval-overlap"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large interval-overlap join, bucketed: view events become
    visit intervals ``[ts, ts + value minutes]`` (capped at 2 h — the
    cap bounds the bin-explode factor, see operators/intervals.py),
    error events become 30-minute outage windows; for each outage,
    count the overlapping visits and total overlap seconds.

    Unlike join_range_price_bands (tiny broadcast side), BOTH sides
    here grow with the data, so the non-equi predicate must not reach
    the join strategy: interval_overlap_join turns it into a hash
    equi-join on 1-hour epoch bins with the exact predicate as a
    post-filter and first-shared-bin dedup (no distinct). The oracle
    is the plain inequality join DuckDB runs natively (IEJoin)."""
    from k8e_fetch_spark.operators.intervals import interval_overlap_join

    ev = load(spark, sf_dir, "events")
    es = F.floor(F.col("ts").cast("double")).cast("long")
    visits = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        es.alias("v_start"),
        (es + F.least(F.floor(F.col("value") * 60).cast("long"), F.lit(7200))).alias(
            "v_end"
        ),
    )
    outages = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("oid"),
        es.alias("o_start"),
        (es + F.lit(1800)).alias("o_end"),
    )
    pairs = interval_overlap_join(
        visits, outages, "v_start", "v_end", "o_start", "o_end", bin_width=3600
    )
    return pairs.groupBy("oid").agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.sum(
            F.least(F.col("v_end"), F.col("o_end"))
            - F.greatest(F.col("v_start"), F.col("o_start"))
        ).alias("overlap_seconds"),
        F.min("vid").alias("first_vid"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
        SELECT event_id, user_id, ts,
               CASE WHEN date_diff('second', last_purchase_ts, ts) <= 3600
                    THEN last_purchase_ts END AS last_purchase_ts,
               (last_purchase_ts IS NOT NULL
                AND date_diff('second', last_purchase_ts, ts) <= 3600) AS attributed
        FROM (
            SELECT event_id, user_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_ts
            FROM events
        ) WHERE event_type = 'click'
    """,
    tags=("ext-typed-relational", "asof-join", "tolerance"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas ``merge_asof(tolerance=...)``
    / QuestDB ``ASOF JOIN ... TOLERANCE`` semantics): the most recent
    strictly-earlier purchase counts only within a 1-hour attribution
    window — stale matches null out instead of attributing forever.
    Same single-window plan as join_asof_purchase (one shuffle on
    user_id, no self-join, no range explosion); the tolerance is a
    post-window projection, so the scale shape is unchanged. The
    boundary is integer seconds on both engines (exactly 3600 s is
    IN)."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    within = (
        F.col("last_purchase_ts").isNotNull()
        & (
            F.col("ts").cast("long") - F.col("last_purchase_ts").cast("long")
            <= 3600
        )
    )
    return (
        events.withColumn(
            "last_purchase_ts", F.last(purchase_ts, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(within, F.col("last_purchase_ts")).alias("last_purchase_ts"),
            within.alias("attributed"),
        )
    )


@register(
    "join_asof_nearest",
    oracle="""
        WITH framed AS (
            SELECT event_id, user_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
                   first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
            FROM events
        ),
        deltas AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN prev_ts IS NOT NULL
                        THEN date_diff('second', prev_ts, ts) END AS back_s,
                   CASE WHEN next_ts IS NOT NULL
                        THEN date_diff('second', ts, next_ts) END AS fwd_s,
                   prev_ts, next_ts
            FROM framed WHERE event_type = 'click'
        )
        SELECT event_id, user_id, ts,
               CASE WHEN back_s <= 3600 AND (fwd_s IS NULL OR fwd_s > 3600 OR back_s <= fwd_s)
                    THEN prev_ts
                    WHEN fwd_s <= 3600 THEN next_ts END AS nearest_purchase_ts,
               CAST(CASE WHEN back_s <= 3600 AND (fwd_s IS NULL OR fwd_s > 3600 OR back_s <= fwd_s)
                         THEN back_s
                         WHEN fwd_s <= 3600 THEN fwd_s END AS INTEGER) AS delta_seconds,
               CASE WHEN back_s <= 3600 AND (fwd_s IS NULL OR fwd_s > 3600 OR back_s <= fwd_s)
                    THEN 'backward'
                    WHEN fwd_s <= 3600 THEN 'forward' END AS direction
        FROM deltas
    """,
    tags=("ext-typed-relational", "asof-join", "nearest"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction=NEAREST (pandas ``merge_asof(direction=
    'nearest', tolerance=...)``): each click matches the same user's
    CLOSEST purchase in event time, looking BOTH ways within a 1-hour
    tolerance; exact-tie distances resolve BACKWARD (pandas' rule).
    Completes the as-of family: backward (join_asof_purchase),
    backward+tolerance (join_asof_tolerance), nearest (this).

    Same scale shape as the other two: ONE user_id window exchange.
    The forward frame is deliberately NOT a ``1 FOLLOWING ->
    UNBOUNDED FOLLOWING`` frame: Spark's UnboundedFollowing frame
    recomputes the aggregate from scratch PER ROW (quadratic in
    partition depth — measured 21.9x wall at 20x on the first cut),
    so the next-purchase lookup runs as a PRECEDING frame over the
    REVERSED (ts, event_id) sort, which the engine computes
    incrementally. Both frames share the one hash exchange; the
    second sort is partition-local. No self-join, no range explosion;
    the nearest/tolerance rule is a post-window projection. A
    purchase sharing a click's exact timestamp lands by
    (ts, event_id) order: smaller event_id -> backward frame at
    delta 0, larger -> forward frame at delta 0 — deterministic on
    both engines.

    Per-user frame state = one timestamp per direction; the key widens
    to (user, day) at deploy like the rest of the family."""
    events = load(spark, sf_dir, "events")
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # reverse-order preceding == forward-order following, computed
    # incrementally instead of from-scratch-per-row
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    framed = (
        events.withColumn("prev_ts", F.last(purchase_ts, ignorenulls=True).over(w_back))
        .withColumn("next_ts", F.last(purchase_ts, ignorenulls=True).over(w_fwd))
        .filter(F.col("event_type") == "click")
    )
    back_s = F.when(
        F.col("prev_ts").isNotNull(),
        F.col("ts").cast("long") - F.col("prev_ts").cast("long"),
    )
    fwd_s = F.when(
        F.col("next_ts").isNotNull(),
        F.col("next_ts").cast("long") - F.col("ts").cast("long"),
    )
    deltas = framed.select(
        "event_id", "user_id", "ts", "prev_ts", "next_ts",
        back_s.alias("back_s"), fwd_s.alias("fwd_s"),
    )
    pick_back = (F.col("back_s") <= 3600) & (
        F.col("fwd_s").isNull()
        | (F.col("fwd_s") > 3600)
        | (F.col("back_s") <= F.col("fwd_s"))
    )
    pick_fwd = F.col("fwd_s") <= 3600
    return deltas.select(
        "event_id",
        "user_id",
        "ts",
        F.when(pick_back, F.col("prev_ts"))
        .when(pick_fwd, F.col("next_ts"))
        .alias("nearest_purchase_ts"),
        F.when(pick_back, F.col("back_s"))
        .when(pick_fwd, F.col("fwd_s"))
        .cast("int")
        .alias("delta_seconds"),
        F.when(pick_back, F.lit("backward"))
        .when(pick_fwd, F.lit("forward"))
        .alias("direction"),
    )
