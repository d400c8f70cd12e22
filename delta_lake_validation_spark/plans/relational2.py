"""Extended relational coverage — operators Spark gives beyond the
reference's literal usage (SURVEY.md §2.3 notes left/semi/anti/etc. come free
via ``how=``; §2.4 notes grouping sets/rollup; §2.7 notes orderBy top-k).
Each query still pairs with a DuckDB oracle, same determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from delta_lake_validation_spark.functions.aggregates import dsum, sql_dsum
from delta_lake_validation_spark.plans.registry import register
from delta_lake_validation_spark.tables import Tables


# ---------------------------------------------------------------------------
# Join family beyond inner (left outer / semi / anti)
# ---------------------------------------------------------------------------
@register(
    "left_join_nation_customers",
    oracle="""
    SELECT n_name, count(c_custkey) AS n_customers
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("join",),
    doc="left outer join; SURVEY.md §2.3 engine note",
)
def left_join_nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.nation.join(t.customer, F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    tags=("join",),
    doc="left_semi join; SURVEY.md §2.3 engine note",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t.customer.join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@register(
    "anti_join_idle_customers",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
    doc="left_anti join; SURVEY.md §2.3 engine note",
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("c_custkey")
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP and CUBE
# ---------------------------------------------------------------------------
@register(
    "rollup_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
    doc="SURVEY.md §2.4 engine note (grouping sets)",
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


@register(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
    doc="SURVEY.md §2.4 engine note (grouping sets)",
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation)
# ---------------------------------------------------------------------------
@register(
    "pivot_revenue_by_status",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_extendedprice END", 2)} AS F,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice END", 2)} AS O
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
    doc="pivot as conditional agg; generalizes A1",
)
def pivot_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum(F.col("l_extendedprice"), 2))
    )


# ---------------------------------------------------------------------------
# Analytic windows: lag/lead and running frames
# ---------------------------------------------------------------------------
@register(
    "lag_lead_user_events",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    tags=("window",),
    doc="lag/lead; SURVEY.md §2.5 engine note (no frame specs in reference)",
)
def lag_lead_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "running_sum_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS running_value
    FROM events
    """,
    tags=("window", "frame"),
    doc="explicit rowsBetween frame; SURVEY.md §2.5 engine note",
)
def running_sum_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).cast("double").alias("running_value"),
    )


# ---------------------------------------------------------------------------
# JSON extraction (events.props is a JSON string)
# ---------------------------------------------------------------------------
@register(
    "json_extract_props",
    oracle=r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k_value
    FROM events
    """,
    tags=("json",),
    doc="JSON scalar extraction; SURVEY.md §2.9 (none in reference — engine extension)",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Tables(spark, sf_dir).events
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# Array functions over the embedding column
# ---------------------------------------------------------------------------
@register(
    "array_ops_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(round(CAST(embedding[1] AS DOUBLE), 6) AS DOUBLE) AS first_component
    FROM embeddings
    """,
    tags=("array",),
    doc="array functions; SURVEY.md §1.2 (ArrayType via embeddings fixture)",
)
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Tables(spark, sf_dir).embeddings
    return emb.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6)
        .cast("double")
        .alias("first_component"),
    )


# ---------------------------------------------------------------------------
# Set operations: union all / intersect / except
# ---------------------------------------------------------------------------
@register(
    "intersect_repeat_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    tags=("setop",),
    doc="INTERSECT; SURVEY.md §2.6 engine note",
)
def intersect_repeat_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tables(spark, sf_dir).orders
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "except_lost_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    tags=("setop",),
    doc="EXCEPT; SURVEY.md §2.6 engine note",
)
def except_lost_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tables(spark, sf_dir).orders
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    # subtract == SQL EXCEPT (distinct set difference); exceptAll keeps
    # surplus multiplicities, which is a different operator
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# Ordered top-k (orderBy + limit; ties broken deterministically)
# ---------------------------------------------------------------------------
@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    tags=("sort", "limit"),
    doc="orderBy top-k; SURVEY.md §2.7 (reference only uses show(n) limits)",
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tables(spark, sf_dir).orders
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HAVING (post-aggregation filter)
# ---------------------------------------------------------------------------
@register(
    "having_big_customers",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) > 12
    """,
    tags=("agg", "having"),
    doc="post-agg filter; generalizes A1",
)
def having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tables(spark, sf_dir).orders
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


# ---------------------------------------------------------------------------
# String function battery
# ---------------------------------------------------------------------------
@register(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 10) AS name_prefix,
           CAST(length(p_type) AS INTEGER) AS type_len,
           replace(p_type, ' ', '_') AS type_snake
    FROM part
    """,
    tags=("scalar", "string"),
    doc="string scalar battery; SURVEY.md §2.9",
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_type").cast("int").alias("type_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


# ---------------------------------------------------------------------------
# Date/time extraction battery
# ---------------------------------------------------------------------------
@register(
    "date_funcs_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           count(*) AS n
    FROM orders GROUP BY 1, 2
    """,
    tags=("scalar", "date", "agg"),
    doc="date extraction; SURVEY.md §2.9",
)
def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Tables(spark, sf_dir).orders
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.quarter("o_orderdate").cast("int").alias("q"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Time-bucket aggregation over nanosecond event timestamps (exact integer
# arithmetic on epoch nanos — see tables.EVENTS_SCHEMA note)
# ---------------------------------------------------------------------------
@register(
    "events_hourly_buckets",
    oracle="""
    SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    tags=("agg", "time"),
    doc="tumbling-window batch analog; SURVEY.md §2.10 engine note",
)
def events_hourly_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Tables(spark, sf_dir).events
    return (
        ev.groupBy(F.expr("ts div 3600000000000").alias("hour_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# SQL-string entry point (EP1 parity, SURVEY.md §3): the same logical query
# as order_revenue_by_priority but entering through spark.sql over temp
# views — exercising parser + analyzer + catalog resolution.
# ---------------------------------------------------------------------------
@register(
    "sql_entry_revenue",
    oracle=f"""
    SELECT o_orderpriority, {sql_dsum('o_totalprice', 2)} AS total_price,
           count(*) AS n_orders
    FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997
    GROUP BY o_orderpriority
    """,
    tags=("sql", "agg"),
    doc="EP1 spark.sql entry: SURVEY.md §3 / validation_suite.py:422 et al.",
)
def sql_entry_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_validation_spark.sql import run_sql

    factor_sum = (
        "CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)"
        " / 100.0 AS DOUBLE)"
    )
    return run_sql(
        spark,
        sf_dir,
        f"""
        SELECT o_orderpriority, {factor_sum} AS total_price,
               count(*) AS n_orders
        FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997
        GROUP BY o_orderpriority
        """,
    )


# ---------------------------------------------------------------------------
# Exact percentiles (median + p90) — Spark percentile() and DuckDB
# quantile_cont use the same linear-interpolation definition.
#
# r9 (guide §2.5): the exact `percentile()` aggregate is a
# TypedImperativeAggregate — every group's full value->count map funnels
# into ONE final-agg task, and l_returnflag has 3 values, so the whole
# corpus sorts inside 3 tasks (the same hot-key-window class the r7
# de-skews removed).  The scale-safe identical-result form is selection by
# rank: distributed_rank (two-pass range prefix, no corpus-sized task)
# gives every row its 1-based position in the per-flag value order; the
# percentile is then taken from the ≤2 rows whose ranks bracket
# pos = q·(n−1), lo = floor(pos), hi = ceil(pos), with Spark's own rule
# (Percentile.getPercentile):
#     lo == hi             -> v[lo]       (integral position)
#     v[lo] == v[hi]       -> v[lo]       (equal bracketing values)
#     otherwise            -> (hi − pos)·v[lo] + (pos − lo)·v[hi]
# Each part matters bitwise: the difference form
# v[lo] + (pos − lo)·(v[hi] − v[lo]) rounds differently from the weighted
# form and turns a lone -0.0 into +0.0, and the weighted form alone does
# not return v exactly for two equal values v.
# Spark SQL's sort treats -0.0 and +0.0 as equal, so the (orderkey,
# linenumber) tiebreak alone would decide which zero gets which rank.
# percentile() sorts its value->count map with the zeros equal too, and in
# practice puts -0.0 first (the java.lang.Double.compare / IEEE 754
# totalOrder order), so the order key ranks -0.0 before +0.0 explicitly.
# Other value ties are interchangeable: the tiebreak cannot change them.
# Not promised: a group holding both -0.0 and +0.0 whose bracketing ranks
# fall among those zeros.  There the sign of percentile()'s own result
# follows the map's hash order after the merge, which depends on the
# partitioning of its input (one 34-value multiset gave +0.0 from 1 input
# partition and -0.0 from 2, 3, 4 or 6); no fixed rank order can match it,
# and this plan keeps -0.0 first.
# Pinned by tests/test_exact_agg_properties.py::
# test_distributed_percentile_bitwise.
# ---------------------------------------------------------------------------
_PCT_QS = (("median_price", 0.5), ("p90_price", 0.9))


def _distributed_percentiles(
    vals: DataFrame,
    counts: DataFrame,
    key: str,
    value_col: str,
    tiebreak: list[str],
    qs=_PCT_QS,
) -> DataFrame:
    """(key, <name> double ...): exact linear-interpolation percentiles of
    ``value_col`` per ``key`` via rank selection instead of a per-group
    value buffer.  Bit-identical to ``F.percentile``: an integral position
    or equal bracketing values return the lower value, otherwise
    ``(hi − pos)·v[lo] + (pos − lo)·v[hi]``, with -0.0 ranked before +0.0.
    The one exception is a group with zeros of both signs at the bracketing
    ranks, where ``F.percentile``'s own sign depends on its input's
    partitioning (see the comment above).  ``vals`` must be null-free in
    ``value_col``; ``tiebreak`` must make the order unique; ``counts``
    carries (key, __n) with the non-null count per key (keys with __n = 0
    yield NULLs, matching the aggregate's ignore-nulls contract)."""
    from delta_lake_validation_spark.functions.prefix import distributed_rank

    v = F.col(value_col)
    # false for -0.0, true for +0.0: ranks -0.0 first, which Spark SQL's
    # sort alone does not (it treats the two zeros as equal); NULL for every
    # non-zero value, whose order the value column already decides
    is_pos_zero = F.when(v == 0.0, ~v.cast("string").startswith("-"))
    ranked = distributed_rank(
        vals,
        order_by=[v, is_pos_zero, *tiebreak],
        partition_by=[key],
        out="__rk",
    )
    tgt = (
        counts.filter(F.col("__n") >= 1)
        .select(
            key,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("__q"),
                            (
                                F.lit(q) * (F.col("__n") - 1).cast("double")
                            ).alias("__pos"),
                        )
                        for name, q in qs
                    ]
                )
            ).alias("t"),
        )
        .select(
            key,
            "t.__q",
            "t.__pos",
            F.floor("t.__pos").cast("long").alias("__lo"),
            F.ceil("t.__pos").cast("long").alias("__hi"),
        )
    )
    picked = ranked.join(
        F.broadcast(tgt),
        (ranked[key] == tgt[key])
        & (
            (F.col("__rk") == F.col("__lo") + 1)
            | (F.col("__rk") == F.col("__hi") + 1)
        ),
    ).select(ranked[key].alias(key), value_col, "__rk", "__q", "__pos", "__lo", "__hi")
    lo, hi, pos = F.col("__lo"), F.col("__hi"), F.col("__pos")
    vlo, vhi = F.col("__vlo"), F.col("__vhi")
    interp = F.when((lo == hi) | (vlo == vhi), vlo).otherwise(
        (hi.cast("double") - pos) * vlo + (pos - lo.cast("double")) * vhi
    )
    per_q = (
        picked.groupBy(key, "__q", "__pos", "__lo", "__hi")
        .agg(
            F.min(
                F.when(F.col("__rk") == F.col("__lo") + 1, F.col(value_col))
            ).alias("__vlo"),
            F.min(
                F.when(F.col("__rk") == F.col("__hi") + 1, F.col(value_col))
            ).alias("__vhi"),
        )
        .select(key, "__q", interp.alias("__v"))
    )
    out = counts.select(key)
    pivoted = per_q.groupBy(key).agg(
        *[
            F.min(F.when(F.col("__q") == name, F.col("__v"))).alias(name)
            for name, _ in qs
        ]
    )
    return out.join(pivoted, key, "left")


@register(
    "price_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS median_price,
           CAST(round(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
    doc="exact percentile via distributed rank selection (no per-group "
    "value buffer); SURVEY.md §2.4 engine extension",
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    base = li.select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    # count() of the value column = non-null count, and keeps every flag
    # (an all-null flag must still emit a NULL-percentile row)
    counts = base.groupBy("l_returnflag").agg(
        F.count("l_extendedprice").alias("__n")
    )
    vals = base.filter(F.col("l_extendedprice").isNotNull())
    pct = _distributed_percentiles(
        vals,
        counts,
        key="l_returnflag",
        value_col="l_extendedprice",
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    return pct.select(
        "l_returnflag",
        F.round("median_price", 4).cast("double").alias("median_price"),
        F.round("p90_price", 4).cast("double").alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# Sketch aggregates: HyperLogLog distinct count — the sketch estimate itself
# is non-deterministic across engines, so the deterministic contract is
# (exact count, estimate-within-tolerance).  approx_count_distinct's default
# rsd is 0.05 (1σ); 4σ = 20% bounds the estimate with overwhelming
# probability, making `within_tol` a stable TRUE on both sides.
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx"),
    doc="HLL sketch aggregate; SURVEY.md §2.4 engine extension",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Tables(spark, sf_dir).events
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.2 * F.col("exact_users")
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13-style: customer order-count distribution (left join + two-level
# aggregation — the classic "count the counts" shape)
# ---------------------------------------------------------------------------
@register(
    "order_count_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers FROM (
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    ) GROUP BY n_orders
    """,
    tags=("join", "agg"),
    doc="TPC-H Q13 shape; two-level aggregation over left join",
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per_cust = (
        t.customer.join(t.orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# TPC-H Q4-style: priority counts for orders having a late lineitem
# (EXISTS-with-predicate shape via semi join)
# ---------------------------------------------------------------------------
@register(
    "late_order_priority_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS n FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q4 shape; semi join with residual date predicate",
)
def late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    late = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
    return (
        t.orders.join(
            late.select(F.col("l_orderkey").alias("k")).distinct(),
            F.col("o_orderkey") == F.col("k"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Map type: parse the JSON props string into map<string,int> and access keys
# ---------------------------------------------------------------------------
@register(
    "map_ops_props",
    oracle=r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k_from_map,
           1 AS n_keys
    FROM events
    """,
    tags=("map", "json"),
    doc="MapType surface: from_json -> map access/size; SURVEY.md §2.9 extension",
)
def map_ops_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Tables(spark, sf_dir).events
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").cast("int").alias("k_from_map"),
        F.size(m).cast("int").alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# Array explode + re-aggregate: per-vector component statistics
# ---------------------------------------------------------------------------
@register(
    "embedding_component_stats",
    oracle="""
    SELECT vec_id,
           CAST(round(min(CAST(x AS DOUBLE)), 6) AS DOUBLE) AS min_c,
           CAST(round(max(CAST(x AS DOUBLE)), 6) AS DOUBLE) AS max_c,
           count(*) AS n_c
    FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
    GROUP BY vec_id
    """,
    tags=("array", "agg"),
    doc="explode/unnest + re-aggregate; SURVEY.md §2.9 extension",
)
def embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Tables(spark, sf_dir).embeddings
    ex = emb.select("vec_id", F.explode("embedding").alias("x"))
    return ex.groupBy("vec_id").agg(
        F.round(F.min(F.col("x").cast("double")), 6).cast("double").alias("min_c"),
        F.round(F.max(F.col("x").cast("double")), 6).cast("double").alias("max_c"),
        F.count(F.lit(1)).alias("n_c"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q6-style: forecast revenue change (tight range filters -> one scalar;
# the canonical predicate-pushdown showcase)
# ---------------------------------------------------------------------------
@register(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 4)} AS revenue_effect
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter"),
    doc="TPC-H Q6 shape; range filters push to the parquet scan",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1996-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue_effect"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q14-style: promo revenue share (join + conditional aggregation ratio)
# ---------------------------------------------------------------------------
@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(round(
        {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) END", 4)}
        * 100.0
        / {sql_dsum('l_extendedprice * (1 - l_discount)', 4)}, 4) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    tags=("join", "agg", "conditional"),
    doc="TPC-H Q14 shape; conditional-aggregate ratio over a join",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    joined = t.lineitem.join(
        F.broadcast(t.part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev)
    return joined.agg(
        F.round(dsum(promo, 4) * 100.0 / dsum(rev, 4), 4)
        .cast("double")
        .alias("promo_pct")
    )


# ---------------------------------------------------------------------------
# Salted two-stage aggregation through the driver gate: must equal the plain
# groupBy the oracle computes (functions/skew.py correctness, end-to-end)
# ---------------------------------------------------------------------------
@register(
    "salted_qty_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS l_quantity_sum,
           count(*) AS n_rows_count
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "skew"),
    doc="salted hot-key aggregation; functions/skew.py",
)
def salted_qty_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_validation_spark.functions.skew import salted_groupby

    li = Tables(spark, sf_dir).lineitem.withColumn(
        "qty_long", F.col("l_quantity").cast("long")
    ).withColumn("n_rows", F.lit(1))
    out = salted_groupby(
        li, ["l_returnflag"], {"qty_long": "sum", "n_rows": "count"}, n_salts=8
    )
    return out.select(
        "l_returnflag",
        F.col("qty_long_sum").cast("long").alias("l_quantity_sum"),
        F.col("n_rows_count").cast("long").alias("n_rows_count"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q10-style: top returned-revenue customers (4-way join + ordered top-k)
# ---------------------------------------------------------------------------
@register(
    "top_return_customers",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS lost_revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey ASC LIMIT 20
    """,
    tags=("join", "agg", "sort"),
    doc="TPC-H Q10 shape; multi-join + grouped revenue + ordered top-k",
)
def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.filter(F.col("l_returnflag") == "R")
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer scales with SF — let AQE pick the strategy; only nation
        # (25 rows at every SF) earns a broadcast hint
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q18-style: large-volume orders (IN over a grouped-HAVING subquery)
# ---------------------------------------------------------------------------
@register(
    "large_volume_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
    GROUP BY o_orderkey, o_custkey
    """,
    tags=("join", "agg", "subquery"),
    doc="TPC-H Q18 shape; semi join against a grouped-HAVING key set",
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("bigkey"))
    )
    return (
        t.orders.join(big, F.col("o_orderkey") == F.col("bigkey"), "left_semi")
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Analytic-window battery: ntile, percent_rank, first/last value in frame
# ---------------------------------------------------------------------------
@register(
    "window_battery_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS pct_rank,
           first_value(o_orderkey) OVER w AS cheapest_key,
           CAST(nth_value(o_totalprice, 2) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice ASC, o_orderkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE)
               AS second_cheapest_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    tags=("window",),
    doc="ntile/percent_rank/first_value/nth_value; SURVEY.md §2.5 extension",
)
def window_battery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four analytics rebuilt from the two-pass distributed rank +
    per-key scalars (VERDICT r7 finding 2): o_orderpriority has 5 distinct
    values, so `Window.partitionBy("o_orderpriority")` hands each sort task
    ~20% of the orders table — the exact hot-key shape chars_decile was
    de-skewed from.  With row_number from functions/prefix.py (range
    slices stay ~n/P regardless of key skew) the rest are closed forms:

    - ntile(4): standard bucket sizing — the first n%4 buckets get
      floor(n/4)+1 rows, so the quartile is a two-case ceil over the rank.
    - percent_rank = (rank-1)/(n-1) — (o_totalprice, o_orderkey) is a
      total order (orderkey unique), so rank == row_number and the IEEE
      double division is bit-identical to the window function's.
    - first_value / nth_value(2) over the full frame are per-key scalars:
      a 5-row agg over the rank<=2 rows, broadcast-joined back.
    """
    from delta_lake_validation_spark.functions.prefix import distributed_rank

    o = Tables(spark, sf_dir).orders
    ranked = distributed_rank(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        order_by=[F.asc("o_totalprice"), F.asc("o_orderkey")],
        partition_by=["o_orderpriority"],
        out="__rnk",
    )
    # group sizes come straight off the scan (partial agg) — no need to
    # re-evaluate the rank pipeline for a count
    per_key = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("__n"))
    heads = (
        ranked.filter(F.col("__rnk") <= 2)
        .groupBy("o_orderpriority")
        .agg(
            F.max(F.when(F.col("__rnk") == 1, F.col("o_orderkey"))).alias(
                "cheapest_key"
            ),
            F.max(F.when(F.col("__rnk") == 2, F.col("o_totalprice")))
            .cast("double")
            .alias("second_cheapest_price"),
        )
    )
    rnk, n = F.col("__rnk"), F.col("__n")
    base, rem = (n / 4).cast("long"), n % 4
    head_rows = rem * (base + 1)
    quartile = F.when(
        rnk <= head_rows, ((rnk + base) / (base + 1)).cast("long")
    ).otherwise(
        rem
        + ((rnk - head_rows + F.greatest(base, F.lit(1)) - 1)
           / F.greatest(base, F.lit(1))).cast("long")
    )
    pct = F.when(n > 1, (rnk - 1).cast("double") / (n - 1).cast("double")
                 ).otherwise(F.lit(0.0))
    return (
        ranked.join(F.broadcast(per_key), "o_orderpriority")
        .join(F.broadcast(heads), "o_orderpriority")
        .select(
            "o_orderkey",
            quartile.cast("int").alias("price_quartile"),
            F.round(pct, 6).cast("double").alias("pct_rank"),
            "cheapest_key",
            "second_cheapest_price",
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance scalar (fuzzy matching primitive for entity resolution)
# ---------------------------------------------------------------------------
@register(
    "brand_edit_distance",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_brand, 'Brand#11') AS INTEGER) AS dist
    FROM part
    """,
    tags=("scalar", "string", "fuzzy"),
    doc="levenshtein; SURVEY.md §2.9 note (F.levenshtein, greenfield)",
)
def brand_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.levenshtein(F.col("p_brand"), F.lit("Brand#11")).cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Entity-resolution blocking: near-identical customer names within a nation.
# All-pairs comparison is quadratic.  Chunk-pigeonhole blocking (split the
# suffix into 3 chunks, bucket on each) is lossless but DEGENERATES on
# zero-padded sequential ids: the high-order chunk is a constant ("000"), so
# one bucket holds every row of a nation and the join is quadratic again —
# measured 28 s at sf0.1.  The skew-proof lossless scheme is mask-pair
# blocking (deletion-neighborhood generation): emit the suffix with every
# C(9,2)=36 position pair wildcarded; a pair with hamming distance <= 2
# collides exactly on the mask covering its mismatch positions.  A bucket is
# now "rows agreeing on 7 *specified* digits", which stays tiny under any
# digit-distribution skew, and the candidate count is output-bound rather
# than data-bound.  Exact distance verification runs only on candidates.
# ---------------------------------------------------------------------------
_FUZZY_MAX_HAMMING = 2


@register(
    "fuzzy_name_pairs",
    oracle=f"""
    SELECT a.c_custkey AS k1, b.c_custkey AS k2,
           CAST(hamming(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE hamming(a.c_name, b.c_name) <= {_FUZZY_MAX_HAMMING}
    """,
    tags=("fuzzy", "dedup", "blocking", "entity-resolution"),
    doc="blocked fuzzy self-join: hamming<=2 customer-name pairs per nation "
    "via lossless mask-pair (wildcarded position pair) blocking",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = Tables(spark, sf_dir).customer.select(
        "c_custkey", "c_nationkey", "c_name"
    )
    suffix_len = 9  # digits after the constant "Customer#" prefix
    # The suffix is NUMERIC, so "the suffix with positions i and j
    # wildcarded" has an exact 8-byte integer encoding: parse the suffix
    # once (sfx), precompute the 9 digit terms z_i = d_i * 10^(8-i) with
    # integer div/mod, and mask (i, j) is sfx - z_i - z_j; *36 + mask_idx
    # makes the encoding injective across masks.  Two names agree on mask
    # (i, j) iff all digits outside {i, j} are equal — exactly the
    # string-wildcard agreement condition — so the candidate set is
    # IDENTICAL, but the 36× exploded rows carry (key, one long) instead
    # of (key, mask_idx, 9-char string) (guide §2.3 "shuffle keys, not
    # payloads") and the map side does integer subtractions instead of
    # 36 string concats (A/B of the exploded side alone at sf0.1: 0.33 s
    # strings, 0.69 s xxhash64-of-strings, 0.19 s integer masks).  A
    # non-numeric suffix raises loudly via the explicit null-guard below
    # (ADVICE r8: the bare cast is only loud under ANSI, which the session
    # does not pin — with ANSI off it yields NULL buckets and silently
    # loses pairs) — the fixture contract is zero-padded sequential ids.
    # Candidate distinct runs on the bare (k1, k2) key
    # pair; names rehydrate afterwards via two key joins.  (A previous
    # version dragged both full name strings through the amplification
    # and the distinct — the slowest query in the r2 bench at 6.7s, for
    # identical output.)
    zcols = {
        f"_z{i}": F.expr(
            f"(sfx div {10 ** (suffix_len - 1 - i)}) % 10"
            f" * {10 ** (suffix_len - 1 - i)}"
        )
        for i in range(suffix_len)
    }
    n_masks = suffix_len * (suffix_len - 1) // 2  # C(9,2) = 36
    buckets = []
    idx = 0
    for i in range(suffix_len):
        for j in range(i + 1, suffix_len):
            buckets.append(
                (F.col("sfx") - F.col(f"_z{i}") - F.col(f"_z{j}")) * n_masks
                + idx
            )
            idx += 1
    sfx_raw = F.substring("c_name", 10, suffix_len).cast("long")
    sfx_checked = F.when(sfx_raw.isNotNull(), sfx_raw).otherwise(
        # raise_error is ANSI-independent; the branch never evaluates for
        # the numeric-suffix fixture contract, so it costs nothing
        F.expr(
            "raise_error(concat('fuzzy_name_pairs: non-numeric c_name "
            "suffix in ', c_name, ' — wildcard-mask keys would silently "
            "drop pairs'))"
        ).cast("long")
    )
    keyed = (
        cust.withColumn("sfx", sfx_checked)
        .withColumns(zcols)
        .select(
            "c_custkey",
            "c_nationkey",
            F.explode(F.array(*buckets)).alias("bkt"),
        )
    )
    right = keyed.select(
        F.col("c_custkey").alias("k2"),
        F.col("c_nationkey").alias("n2"),
        F.col("bkt").alias("b2"),
    )
    cand = (
        keyed.join(
            right,
            (F.col("c_nationkey") == F.col("n2"))
            & (F.col("bkt") == F.col("b2"))
            & (F.col("c_custkey") < F.col("k2")),
        )
        .select(F.col("c_custkey").alias("k1"), "k2")
        .distinct()
    )
    names = cust.select("c_custkey", "c_name")
    cand = cand.join(
        names.select(F.col("c_custkey").alias("k1"), F.col("c_name").alias("name1")),
        "k1",
    ).join(
        names.select(F.col("c_custkey").alias("k2"), F.col("c_name").alias("name2")),
        "k2",
    )
    dist = F.expr(
        "size(filter(zip_with(split(name1, ''), split(name2, ''),"
        " (x, y) -> x <> y), b -> b))"
    ).cast("int")
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= _FUZZY_MAX_HAMMING)
        .select("k1", "k2", "dist")
    )


# ---------------------------------------------------------------------------
# Approximate percentile with a deterministic grading contract (same pattern
# as approx_distinct_users): emit the exact quantile plus a within-tolerance
# flag for the sketch estimate.  approx_percentile's rank error is bounded by
# 1/accuracy (1e-4 of the group here, ~60 ranks at sf0.1), far inside the 1%
# relative value tolerance for this price distribution — so `within_tol` is a
# stable TRUE on both engines.  At 100 TB the sketch is the only viable path
# (single-pass, mergeable partials, no full sort); the exact column doubles
# as the oracle anchor.
# ---------------------------------------------------------------------------
@register(
    "approx_price_quantiles",
    oracle="""
    SELECT l_returnflag,
           CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS exact_p50,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile", "approx"),
    doc="mergeable approx-percentile sketch graded against the exact quantile",
)
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4)
            .cast("double")
            .alias("exact_p50"),
            F.percentile_approx(
                "l_extendedprice", F.lit(0.5), F.lit(10000)
            ).alias("approx_p50"),
        )
        .select(
            "l_returnflag",
            "exact_p50",
            (
                F.abs(F.col("approx_p50") - F.col("exact_p50"))
                <= 0.01 * F.abs(F.col("exact_p50"))
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit across the star schema: orphan foreign keys
# per relationship, as one tiny summary row each.  The pipeline-hygiene gate
# run before training-data exports.  Each relationship is a left-anti join
# (fact shuffles on its FK; dims broadcast under the threshold, AQE decides
# above it); counts aggregate to a 5-row result so the driver never sees
# row-level data.
# ---------------------------------------------------------------------------
@register(
    "fk_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
                (SELECT o_orderkey FROM orders)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
                (SELECT p_partkey FROM part))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders WHERE o_custkey NOT IN
                (SELECT c_custkey FROM customer))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
                (SELECT n_nationkey FROM nation))
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN
                (SELECT n_nationkey FROM nation))
    """,
    tags=("join", "anti", "audit", "quality"),
    doc="orphan-FK audit over the star schema via per-relationship anti joins",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    rels = [
        ("lineitem->orders", t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
        ("lineitem->part", t.lineitem, "l_partkey", t.part, "p_partkey"),
        ("orders->customer", t.orders, "o_custkey", t.customer, "c_custkey"),
        ("customer->nation", t.customer, "c_nationkey", t.nation, "n_nationkey"),
        ("supplier->nation", t.supplier, "s_nationkey", t.nation, "n_nationkey"),
    ]
    out = None
    for name, fact, fk, dim, pk in rels:
        orphans = (
            fact.select(F.col(fk).alias("fk"))
            .join(dim.select(F.col(pk).alias("fk")), "fk", "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            .select(F.lit(name).alias("relation"), "n_orphans")
        )
        out = orphans if out is None else out.unionByName(orphans)
    return out
