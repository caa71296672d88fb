"""Second relational batch: multiset set-ops, argmin/argmax, median, exact
statistical moments, map functions, array aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.functions.exact import dec, dsum
from airflow_cms_inpatient_etl_spark.operators.text import hash60
from airflow_cms_inpatient_etl_spark.queries.base import register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table


@register(
    "set_union_all_counts",
    oracle="""
    SELECT k AS key_value, COUNT(*) AS n FROM (
        SELECT o_custkey AS k FROM orders
        UNION ALL
        SELECT c_custkey AS k FROM customer
    ) GROUP BY k
    """,
)
def set_union_all_counts(spark, sf_dir):
    """UNION ALL (bag semantics) + re-aggregation."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key_value"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key_value"))
    return o.unionAll(c).groupBy("key_value").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set_except_all_linenums",
    oracle="""
    SELECT l_linenumber FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT l_linenumber FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def set_except_all_linenums(spark, sf_dir):
    """EXCEPT ALL — multiset difference (duplicates preserved by multiplicity)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_linenumber")
    r = li.filter(F.col("l_returnflag") == "R").select("l_linenumber")
    return a.exceptAll(r)


@register(
    "set_intersect_all_linenums",
    oracle="""
    SELECT l_linenumber FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT l_linenumber FROM lineitem WHERE l_returnflag = 'N'
    """,
)
def set_intersect_all_linenums(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_linenumber")
    n = li.filter(F.col("l_returnflag") == "N").select("l_linenumber")
    return a.intersectAll(n)


@register(
    "agg_argmax_argmin",
    oracle="""
    SELECT o_orderpriority,
           MAX(STRUCT_PACK(p := o_totalprice, k := o_orderkey))['k'] AS priciest_order,
           MIN(STRUCT_PACK(p := o_totalprice, k := o_orderkey))['k'] AS cheapest_order,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_argmax_argmin(spark, sf_dir):
    """argmax/argmin via lexicographic MAX over a (value, key) struct — price
    ties broken by key so the selected row is deterministic in both engines
    (plain max_by/arg_max leaves tie-resolution engine-defined)."""
    o = load_table(spark, sf_dir, "orders")
    by = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    return o.groupBy("o_orderpriority").agg(
        F.max(by).getField("k").alias("priciest_order"),
        F.min(by).getField("k").alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "agg_exact_moments",
    oracle="""
    WITH s AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n, sx, sxx,
           (sxx - sx * sx / n) / (n - 1) AS var_samp_exact,
           SQRT((sxx - sx * sx / n) / (n - 1)) AS stddev_samp_exact
    FROM s
    """,
)
def agg_exact_moments(spark, sf_dir):
    """Variance/stddev from exact single-pass sums (Σx, Σx²) — the scalable,
    engine-reproducible alternative to builtin stddev (whose merge order makes
    the low bits nondeterministic on a cluster)."""
    c = load_table(spark, sf_dir, "customer")
    # decimal-first squaring: see agg_exact_correlation for why the double
    # square must not be cast to decimal post hoc
    bal = dec("c_acctbal", scale=2, precision=18)
    g = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(bal).cast("double").alias("sx"),
        F.sum(bal * bal).cast("double").alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    return g.select("c_mktsegment", "n", "sx", "sxx", var.alias("var_samp_exact"), F.sqrt(var).alias("stddev_samp_exact"))


@register(
    "agg_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           QUANTILE_CONT(l_extendedprice, 0.25) AS p25,
           QUANTILE_CONT(l_extendedprice, 0.50) AS p50,
           QUANTILE_CONT(l_extendedprice, 0.90) AS p90,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (both engines use lower+(upper−lower)·f
    on the sorted values, so results are bit-identical — contrast with the
    sketch-based approx_percentile, which is rows-only checked)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.50)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.90)).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_median_price",
    oracle="""
    SELECT o_orderpriority, MEDIAN(o_totalprice) AS median_price, COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_median_price(spark, sf_dir):
    """Exact median (interpolated for even counts in both engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("median_price"), F.count(F.lit(1)).alias("n")
    )


@register(
    "dedup_keep_latest_event",
    oracle="""
    SELECT user_id, event_type, ts AS latest_ts, event_id, value
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_latest_event(spark, sf_dir):
    """Keep-latest dedup (the CDC/compaction idiom): row_number = 1 over a
    descending event-time order with a unique tiebreaker — deterministic,
    unlike dropDuplicates which keeps an arbitrary row."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("ts").alias("latest_ts"), "event_id", "value")
    )


@register(
    "null_handling",
    oracle="""
    WITH cust AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         supp AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1),
         f AS (
            SELECT COALESCE(cust.nationkey, supp.nationkey) AS nationkey,
                   cust.n_cust AS n_cust, supp.n_supp AS n_supp
            FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
         )
    SELECT nationkey,
           COALESCE(n_cust, 0) AS n_cust_filled,
           COALESCE(n_supp, 0) AS n_supp_filled,
           NULLIF(COALESCE(n_supp, 0), 0) AS n_supp_or_null,
           CASE WHEN n_supp IS NULL THEN 'no_suppliers' ELSE 'has_suppliers' END AS supplier_status,
           n_cust IS NOT NULL AND n_supp IS NOT NULL AS complete_row
    FROM f
    """,
)
def null_handling(spark, sf_dir):
    """NULL-handling surface: COALESCE / NULLIF / IS NULL flags / na.fill over
    the outer-join result (the engine's missing-value toolkit, SURVEY A8 writ large)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    f = (
        c.join(s, "nationkey", "full_outer")
        # null-dependent flags computed before the fill
        .withColumn(
            "supplier_status",
            F.when(F.col("n_supp").isNull(), "no_suppliers").otherwise("has_suppliers"),
        )
        .withColumn("complete_row", F.col("n_cust").isNotNull() & F.col("n_supp").isNotNull())
    )
    filled = f.na.fill({"n_cust": 0, "n_supp": 0})  # DataFrameNaFunctions surface
    return filled.select(
        "nationkey",
        F.col("n_cust").alias("n_cust_filled"),
        F.col("n_supp").alias("n_supp_filled"),
        F.nullif(F.col("n_supp"), F.lit(0)).alias("n_supp_or_null"),
        "supplier_status",
        "complete_row",
    )


@register(
    "conditional_aggregation",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(COUNT_IF(l_quantity > 25) AS BIGINT) AS n_large,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(27,6))
                         ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE) AS qty_finished,
           CAST(COUNT_IF(l_quantity > 25) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_large
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def conditional_aggregation(spark, sf_dir):
    """count_if / filtered sums — one-pass conditional rollups (replaces N
    separate filtered scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("l_quantity") > 25).alias("n_large"),
        F.sum(
            F.when(F.col("l_linestatus") == "F", dec("l_quantity")).otherwise(
                F.lit(0).cast("decimal(27,6)")
            )
        )
        .cast("double")
        .alias("qty_finished"),
        (F.count_if(F.col("l_quantity") > 25) / F.count(F.lit(1))).alias("frac_large"),
    )


@register(
    "lateral_correlated_agg",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, l.n_items, l.max_qty
    FROM orders o,
    LATERAL (SELECT COUNT(*) AS n_items, MAX(l_quantity) AS max_qty
             FROM lineitem WHERE l_orderkey = o.o_orderkey) l
    WHERE l.n_items > 0
    """,
)
def lateral_correlated_agg(spark, sf_dir):
    """LATERAL correlated subquery (per-order aggregate).  Catalyst
    decorrelates this into an aggregate + equi-join — same plan you'd write by
    hand, so the convenient form is also the scalable form.  Views are
    call-scoped so concurrent sf_dirs cannot race, and dropped immediately
    (spark.sql analyzes eagerly — the returned plan no longer needs them)."""
    import uuid

    sfx = uuid.uuid4().hex[:8]
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(f"orders_{sfx}")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(f"lineitem_{sfx}")
    try:
        return spark.sql(
            f"""
            SELECT o.o_orderkey, o.o_totalprice, l.n_items, l.max_qty
            FROM orders_{sfx} o,
            LATERAL (SELECT COUNT(*) AS n_items, MAX(l_quantity) AS max_qty
                     FROM lineitem_{sfx} WHERE l_orderkey = o.o_orderkey) l
            WHERE l.n_items > 0
            """
        )
    finally:
        spark.catalog.dropTempView(f"orders_{sfx}")
        spark.catalog.dropTempView(f"lineitem_{sfx}")


@register(
    "map_functions",
    oracle="""
    SELECT event_id,
           ARRAY_TO_STRING(LIST_SORT(JSON_KEYS(props)), ',') AS keys_sorted,
           LEN(JSON_KEYS(props)) AS n_keys,
           CAST(props->>'k' AS BIGINT) AS k_value
    FROM events
    """,
)
def map_functions(spark, sf_dir):
    """MapType surface: JSON → map<string,bigint> → map_keys / size / element_at."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
        F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
        F.element_at(m, "k").alias("k_value"),
    )


@register(
    "histogram_price_buckets",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / 50000) AS BIGINT) * 50000 AS bucket_lo,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def histogram_price_buckets(spark, sf_dir):
    """Equi-width histogram via floor bucketing (portable alternative to
    width_bucket; floor on doubles is IEEE-exact so bucket edges agree)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return o.groupBy(
        bucket.alias("bucket"), (bucket * 50000).alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "deterministic_sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE CAST('0x' || SUBSTR(MD5(l_orderkey || '#' || l_linenumber), 1, 15) AS BIGINT) % 100 < 5
    """,
)
def deterministic_sample(spark, sf_dir):
    """Reproducible ~5% sample via hash-mod on the row key — unlike
    ``df.sample`` (partition-layout-dependent), this picks the same rows on
    any cluster, any engine, any run: the right way to carve stable eval/test
    splits out of a 100 TB corpus."""
    li = load_table(spark, sf_dir, "lineitem")
    h = hash60(F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber")))
    return li.filter(h % 100 < 5).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "agg_exact_correlation",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr_qty_price
    FROM s
    """,
)
def agg_exact_correlation(spark, sf_dir):
    """Pearson correlation from exact single-pass sums (Σx, Σy, Σx², Σy², Σxy)
    — same one-shuffle shape as builtin corr() but engine-reproducible."""
    li = load_table(spark, sf_dir, "lineitem")
    # Cast to decimal BEFORE multiplying: the square of a double is not a
    # clean decimal, so casting the double product to decimal lands near
    # rounding boundaries where engines disagree; decimal×decimal is exact.
    q = dec("l_quantity", scale=2, precision=18)
    p = dec("l_extendedprice", scale=2, precision=18)
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return g.select("l_returnflag", "n", corr.alias("corr_qty_price"))


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT user_id,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT event_type)), ',') AS event_types,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """Array aggregation (collect_set) with explicit ordering — collection
    order is engine/partition-dependent, so always sort before comparing."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
    )


# --------------------------------------------------------------------------- #
# profile_table_stats — ANALYZE-style single-pass column profiling             #
# --------------------------------------------------------------------------- #

# (column, is-string) pairs; decimals/doubles excluded on purpose: their
# engine string formatting differs ('1.00' vs '1'), while ints, dates and
# strings cast identically.
_PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


@register(
    "profile_table_stats",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def profile_table_stats(spark, sf_dir):
    """ANALYZE-style data profiling: per-column row count, null count, exact
    NDV, and min/max for 7 lineitem columns — the stats collection every
    warehouse runs before planning and every pipeline runs as a DQ snapshot.

    Plan: a UNION of 7 single-column branches, each a COLUMN-PRUNED scan
    feeding a single-distinct two-phase aggregate.  The tempting
    "one pass" alternative — all 35 aggregates in one ``agg`` — plans as
    Catalyst's Expand strategy (the multi-distinct rewrite ANALYZE TABLE
    uses): the scan fans to 8 streams (one per distinct column + one for
    the plain aggregates) and pushes 8× the row volume through the
    exchange, and its 35-aggregate generated code takes seconds of JIT on
    first touch — measured 15.3 s cold / 0.13 s warm at sf0.1 vs 1.3 s /
    0.07 s for the union.  On columnar storage the union reads the SAME
    total bytes (each branch prunes to its one column — the scans'
    ReadSchema is a single field), the branches run as independent
    parallel stages, and no row ever expands.  min/max are cast to string
    after aggregation so one schema carries mixed types; profiled columns
    are ints/strings/dates whose cast formatting is engine-identical
    (decimals excluded — '1.00' vs '1')."""
    from functools import reduce

    li = load_table(spark, sf_dir, "lineitem")
    branches = [
        li.select(c).agg(
            F.lit(c).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_val"),
            F.max(c).cast("string").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    return reduce(lambda a, b: a.unionAll(b), branches)


# --------------------------------------------------------------------------- #
# q18-style large-order customers + dominant-key (skew) profiler               #
# --------------------------------------------------------------------------- #


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(27,6))) > 200
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem per order,
    keep orders whose total quantity exceeds 200, then enrich with order and
    customer attributes.  The HAVING aggregate runs FIRST (partial-agg
    map-side combine shrinks 6 M rows/SF to one row per qualifying order)
    and only the small survivor set joins outward — the
    aggregate-then-join ordering that makes this shape linear instead of
    join-then-aggregate quadratic in shuffle volume.  Quantity sums use the
    exact decimal recipe (functions/exact.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
    )


@register(
    "skew_dominant_supplier_orders",
    oracle="""
    WITH s AS (
        SELECT l_orderkey, l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS sv
        FROM lineitem GROUP BY 1, 2
    ),
    o AS (
        SELECT l_orderkey,
               CAST(SUM(sv) AS DOUBLE) AS total_value,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(MAX(sv) AS DOUBLE) AS max_supplier_value,
               (MAX(sv) * 10 > SUM(sv) * 6) AS dominated
        FROM s GROUP BY 1
    )
    SELECT l_orderkey, n_suppliers, total_value, max_supplier_value, dominated
    FROM o WHERE n_suppliers >= 2 AND dominated
    """,
)
def skew_dominant_supplier_orders(spark, sf_dir):
    """Dominant-key profiling — the query you run BEFORE picking a join
    strategy at scale: find multi-supplier orders where one supplier holds
    > 60 % of the order's value (two-level aggregation: per-(order,supplier)
    partial sums, then per-order max/total).  The same shape profiles any
    key for skew (dominant user per session, dominant domain per crawl
    shard) to decide salting/AQE-skew-join thresholds.  The 60 % test is
    decimal-integer arithmetic (max·10 > total·6) — exact on both engines,
    no double-division hazard."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).alias("sv")
    )
    o = s.groupBy("l_orderkey").agg(
        F.sum("sv").cast("double").alias("total_value"),
        F.count(F.lit(1)).alias("n_suppliers"),
        F.max("sv").cast("double").alias("max_supplier_value"),
        (F.max("sv") * 10 > F.sum("sv") * 6).alias("dominated"),
    )
    return o.filter((F.col("n_suppliers") >= 2) & F.col("dominated")).select(
        "l_orderkey", "n_suppliers", "total_value", "max_supplier_value", "dominated"
    )


# --------------------------------------------------------------------------- #
# hierarchy_rollup_subtree — recursive-CTE-shaped closure + rollup             #
# --------------------------------------------------------------------------- #


@register(
    "hierarchy_rollup_subtree",
    oracle="""
    WITH RECURSIVE anc AS (
        SELECT c_custkey AS node, c_custkey AS anc FROM customer
        UNION ALL
        SELECT node, anc // 2 FROM anc WHERE anc >= 2
    )
    SELECT a.anc AS node, CAST(COUNT(*) AS BIGINT) AS n_subtree,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS subtree_bal
    FROM anc a JOIN customer c ON c.c_custkey = a.node
    GROUP BY a.anc
    """,
)
def hierarchy_rollup_subtree(spark, sf_dir):
    """Hierarchy (BOM/org-chart) subtree rollup — the workload recursive CTEs
    exist for, which Spark SQL has no native verb for.  The hierarchy is the
    heap-shaped tree parent(k) = k div 2 over customer keys; for every node,
    roll up its ENTIRE subtree (descendant count + decimal-exact account
    balance, self included).  Spark side: ``operators.graph.ancestor_closure``
    builds the (node, ancestor) closure by POINTER DOUBLING —
    ceil(log2(depth)) snapshot rounds, each freeing the previous round's
    blocks, instead of the depth-many rounds a level-walker needs — then ONE
    grouped aggregate over the closure keyed by ancestor.  The DuckDB oracle
    builds the same closure with a real WITH RECURSIVE walk (a different
    algorithm entirely — depth-many sequential steps), so the doubling
    machinery is value-checked against the semantics it re-implements.
    ``max_depth`` is floor(log2(max key)) — the heap-tree bound, a domain
    constant derived from one MAX aggregate (a model parameter, same
    contract as pagerank's node count)."""
    import math as _math

    from airflow_cms_inpatient_etl_spark.functions.exact import dsum
    from airflow_cms_inpatient_etl_spark.operators.graph import ancestor_closure

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    parents = c.filter(F.col("c_custkey") >= 2).select(
        F.col("c_custkey").alias("node"),
        (F.col("c_custkey") / F.lit(2)).cast("long").alias("parent"),
    )
    max_key = c.agg(F.max("c_custkey")).first()[0]
    closure = ancestor_closure(
        parents,
        max_depth=max(1, int(_math.log2(max(max_key, 2)))),
        nodes=c.select("c_custkey"),  # custkey 0 is isolated (no parent row)
    )
    return (
        closure.join(c, closure["node"] == c["c_custkey"])
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_subtree"),
            dsum("c_acctbal", "subtree_bal"),
        )
    )
