"""Advanced relational operators beyond the reference surface: as-of
join, rollup/grouping-sets, exact discrete percentiles, set operations.

These close the gap between the reference's operator inventory and what
a modern analytics engine is expected to ship (SURVEY.md §7.1 step 8's
"north-star extensions" tier).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.operators.asof import asof_join
from udacity_dend_capstone_immigration_spark.sources.readers import local_frame
from udacity_dend_capstone_immigration_spark.workload.base import dsum, query, sql_dsum, table


# --- as-of (point-in-time) join: for each purchase, the most recent
# click by the same user at-or-before the purchase time. DuckDB's native
# ASOF JOIN is the oracle; Spark gets the union-tag + last_value window
# implementation (one shuffle, no range-join blowup).
@query(
    "asof_purchase_to_click",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_event_id,
               arg_max(value, event_id) AS click_value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    purch AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value AS purchase_value,
           c.click_event_id, c.click_value
    FROM purch p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_to_click(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_event_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["click_event_id", "click_value"],
    )


# --- rollup (grouping sets): subtotals + grand total in one pass.
@query(
    "lineitem_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS row_cnt,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def lineitem_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("row_cnt"), dsum(F.col("l_quantity"), "sum_qty")
    )


# --- exact discrete percentiles (order statistics — no interpolation,
# so values are actual data points and bit-identical across engines).
@query(
    "value_percentiles_by_type",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.25) AS p25,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.75) AS p75,
           quantile_disc(value, 0.99) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles_by_type(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    pd_ = lambda p, a: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
    ).alias(a)
    return ev.groupBy("event_type").agg(
        pd_(0.25, "p25"), pd_(0.5, "p50"), pd_(0.75, "p75"), pd_(0.99, "p99")
    )


# --- quantile-sketch audit: percentile_approx (Spark's GK sketch — the
# mergeable one-pass summary a 100 TB profiling job ships instead of a
# full sort) next to the exact order statistics. Sketch VALUES are
# engine-specific (DuckDB cannot reproduce Spark's sketch), so like
# `approx_distinct_summary` the query is self-validating: it emits the
# exact discrete percentiles (oracle-verifiable) plus a within_bound
# flag asserting each sketch value lands inside the ±1-percentile RANK
# bracket of its target — orders of magnitude looser than the 1e-4
# rank error accuracy=10000 guarantees, and a drifting sketch flips
# the flag and fails the value hash.
@query(
    "approx_quantile_summary",
    oracle="""
    SELECT quantile_disc(l_extendedprice, 0.5) AS exact_p50,
           quantile_disc(l_extendedprice, 0.9) AS exact_p90,
           quantile_disc(l_extendedprice, 0.99) AS exact_p99,
           CAST(TRUE AS BOOLEAN) AS within_bound
    FROM lineitem
    """,
)
def approx_quantile_summary(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    pd_ = lambda p, a: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY l_extendedprice)"
    ).alias(a)
    agg = li.agg(
        pd_(0.5, "exact_p50"),
        pd_(0.9, "exact_p90"),
        pd_(0.99, "exact_p99"),
        pd_(0.49, "lo50"),
        pd_(0.51, "hi50"),
        pd_(0.89, "lo90"),
        pd_(0.91, "hi90"),
        pd_(0.98, "lo99"),
        pd_(0.995, "hi99"),
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
            F.lit(10000),
        ).alias("ap"),
    )
    wb = (
        (F.col("ap")[0] >= F.col("lo50"))
        & (F.col("ap")[0] <= F.col("hi50"))
        & (F.col("ap")[1] >= F.col("lo90"))
        & (F.col("ap")[1] <= F.col("hi90"))
        & (F.col("ap")[2] >= F.col("lo99"))
        & (F.col("ap")[2] <= F.col("hi99"))
    )
    return agg.select(
        "exact_p50", "exact_p90", "exact_p99", wb.alias("within_bound")
    )


# --- set operations (SURVEY.md §2.7 lists them absent in the reference;
# unionByName/intersect/exceptAll come free from the DataFrame algebra).
@query(
    "set_ops_customer_keys",
    oracle="""
    SELECT 'with_orders_and_high_balance' AS bucket, COUNT(*) AS cnt FROM (
        SELECT o_custkey FROM orders
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'high_balance_without_orders', COUNT(*) FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        EXCEPT
        SELECT o_custkey FROM orders
    )
    """,
)
def set_ops_customer_keys(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    high = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    a = (
        high.intersect(orders)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("with_orders_and_high_balance").alias("bucket"), "cnt")
    )
    b = (
        high.exceptAll(orders.distinct())
        .distinct()
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("high_balance_without_orders").alias("bucket"), "cnt")
    )
    return a.unionByName(b)


# --- interval (range) join, bucketed: points ∈ [start, end) as a
# bucket equi-join + residual predicate instead of the O(n×m)
# nested-loop a raw range predicate plans. Intervals synthesized from
# orders onto the events month; output aggregated per interval.
@query(
    "range_join_event_counts",
    oracle=f"""
    WITH iv AS (
        SELECT o_orderkey AS interval_id,
               TIMESTAMP '2024-01-01' + INTERVAL (o_orderkey % 28) DAY AS start_ts,
               TIMESTAMP '2024-01-01' + INTERVAL (o_orderkey % 28) DAY
                   + INTERVAL (1 + o_orderkey % 3) DAY AS end_ts
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT iv.interval_id,
           COUNT(*) AS event_cnt,
           {sql_dsum("e.value", "total_value")}
    FROM events e JOIN iv
        ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
    GROUP BY iv.interval_id
    """,
)
def range_join_event_counts(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.operators.rangejoin import range_join_bucketed

    ev = table(spark, sf_dir, "events").select("ts", "value")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    base = F.to_timestamp(F.lit("2024-01-01"))
    start = F.timestamp_add("DAY", (F.col("o_orderkey") % 28).cast("int"), base)
    end = F.timestamp_add("DAY", (1 + F.col("o_orderkey") % 3).cast("int"), start)
    iv = o.select(
        F.col("o_orderkey").alias("interval_id"),
        start.alias("start_ts"),
        end.alias("end_ts"),
    )
    joined = range_join_bucketed(ev, iv, "ts", "start_ts", "end_ts", bucket_width_sec=86_400)
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("event_cnt"), dsum(F.col("value"), "total_value")
    )


# --- CUBE: all 4 grouping combinations in one pass. grouping() flags
# disambiguate the roll-up NULLs from natural NULLs on both engines.
@query(
    "cube_order_summary",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS order_cnt,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_summary(spark, sf_dir):
    """One shuffle; Spark expands the cube map-side (Expand node) so
    partial aggregation still combines before the exchange."""
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("order_cnt"),
        dsum(F.col("o_totalprice"), "total_price"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "order_cnt", "total_price",
    )


# --- explicit GROUPING SETS (the general form rollup/cube sugar over),
# via the SQL entry point.
@query(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS order_cnt,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_revenue(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS order_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- explicit left-semi join (EXISTS): customers with at least one
# order. The anti-join sibling is customers_without_orders.
@query(
    "customers_with_orders_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_with_orders_semi(spark, sf_dir):
    """left_semi keeps the probe row on first match — no fan-out, and
    only the join key of the build side ships (broadcast-able when the
    order-key projection is small; at 100 TB Catalyst picks SMJ and the
    semi short-circuit still avoids the match fan-out)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# --- scalar subquery: orders above the global average price. The
# average is the decimal-sum/count portable form so the per-row
# comparison threshold is the SAME double on both engines (a native
# double avg differs in the last ulp by summation order — boundary rows
# would flip).
@query(
    "orders_above_avg_price",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (
        SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(o_totalprice) AS DOUBLE)
        FROM orders)
    """,
)
def orders_above_avg_price(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.workload.base import davg

    orders = table(spark, sf_dir, "orders")
    avg_df = orders.agg(davg(F.col("o_totalprice"), "avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


# --- schema'd JSON parsing: from_json with an explicit struct schema
# (vs events_json_extract's path-at-a-time get_json_object).
@query(
    "events_json_schema",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (CAST(json_extract_string(props, '$.k') AS INT) >= 50) AS k_ge_50,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
    FROM events GROUP BY event_type
    """,
)
def events_json_schema(spark, sf_dir):
    """Parse once into a typed struct column; downstream predicates and
    aggregates then run on plain ints inside codegen instead of
    re-walking JSON text per reference."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("p.k") >= 50, 1)).alias("k_ge_50"),
        F.sum(F.col("p.k")).cast("bigint").alias("k_sum"),
    )


# --- bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep
# multiplicities (min / difference of per-value counts), unlike the
# distinct-semantics pair above. Spark plans both as a single
# aggregate-join on the value — one exchange per side, no row
# explosion — so the shape holds when the inputs are 100 TB multisets.
@query(
    "set_ops_bag_semantics",
    oracle="""
    SELECT 'urgent_intersect_all_high' AS bucket, COUNT(*) AS cnt FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    UNION ALL
    SELECT 'urgent_except_all_high', COUNT(*) FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    """,
)
def set_ops_bag_semantics(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    high = orders.where(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("k")
    )
    a = (
        urgent.intersectAll(high)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("urgent_intersect_all_high").alias("bucket"), "cnt")
    )
    b = (
        urgent.exceptAll(high)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("urgent_except_all_high").alias("bucket"), "cnt")
    )
    return a.unionByName(b)


# --- approximate-percentile sketch with in-query accuracy validation.
# approx_percentile's contract is a RANK error <= n/accuracy; the query
# recomputes the approx values' exact ranks in a second conditional
# aggregate and asserts the bound, so the single within_bound column
# proves sketch accuracy even though sketch internals differ across
# engines (same pattern as approx_distinct_summary). Oracle checks the
# exact percentile_disc columns; at 100 TB the sketch pass is the one
# you'd run (fixed-size state, map-side combinable), the exact pass is
# the audit.
@query(
    "approx_quantile_accuracy",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50_exact,
           quantile_disc(value, 0.9) AS p90_exact,
           COUNT(*) AS n,
           CAST(TRUE AS BOOLEAN) AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def approx_quantile_accuracy(spark, sf_dir):
    acc = 100  # rank error bound: n / acc
    eps = 1.0 / acc
    ev = table(spark, sf_dir, "events")
    pd_ = lambda p, a: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
    ).alias(a)
    agg = ev.groupBy("event_type").agg(
        pd_(0.5, "p50_exact"),
        pd_(0.9, "p90_exact"),
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("p50_approx"),
        F.expr(f"approx_percentile(value, 0.9, {acc})").alias("p90_approx"),
        F.count(F.lit(1)).alias("n"),
    )
    ranks = (
        ev.join(F.broadcast(agg), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                F.count(F.when(F.col("value") <= F.col(f"p{p}_approx"), 1)).alias(f"le{p}")
                for p in (50, 90)
            ],
            *[
                F.count(F.when(F.col("value") < F.col(f"p{p}_approx"), 1)).alias(f"lt{p}")
                for p in (50, 90)
            ],
        )
    )

    def _ok(p: int, frac: float):
        lo = (F.col("n").cast("double") * F.lit(frac - eps))
        hi = (F.col("n").cast("double") * F.lit(frac + eps))
        return (F.col(f"le{p}").cast("double") >= lo) & (
            F.col(f"lt{p}").cast("double") <= hi
        )

    return (
        agg.join(ranks, "event_type")
        .select(
            "event_type",
            "p50_exact",
            "p90_exact",
            "n",
            (_ok(50, 0.5) & _ok(90, 0.9)).alias("within_bound"),
        )
    )


# --- salted two-stage aggregation through the gate: 5 hot event types
# x 10k rows per type is exactly the shape where one reducer owns a hot
# key's merge; the salted partial spreads it over 16 sub-keys. The
# oracle is the PLAIN group-by — proving salting changes the schedule,
# never the answer (decimal partials are exact and associative).
from udacity_dend_capstone_immigration_spark.operators.skew import salted_count_sum  # noqa: E402


@query(
    "events_salted_type_totals",
    oracle=f"""
    SELECT event_type, COUNT(*) AS cnt,
           {sql_dsum("value", "total")}
    FROM events GROUP BY event_type
    """,
)
def events_salted_type_totals(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return salted_count_sum(ev, ["event_type"], "value", salt_buckets=16)


# --- robust statistics: median, interpolated median, MAD (median
# absolute deviation), IQR per event type. MAD is the two-pass shape:
# per-group median → join back (broadcast — group cardinality is tiny)
# → median of absolute deviations. Interpolated percentile() proved
# bit-identical to DuckDB quantile_cont on doubles (a + (b-a)*frac with
# the same frac arithmetic both engines — verified empirically before
# registering); the deviations are per-row exact double subtractions.
@query(
    "events_robust_stats",
    oracle="""
    WITH med AS (
        SELECT event_type,
               quantile_disc(value, 0.5) AS median,
               quantile_cont(value, 0.5) AS median_interp,
               quantile_disc(value, 0.75) - quantile_disc(value, 0.25) AS iqr
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - m.median) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_disc(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT med.event_type, median, median_interp, iqr, mad
    FROM med JOIN mad ON med.event_type = mad.event_type
    """,
)
def events_robust_stats(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    pd_ = lambda p, a: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
    ).alias(a)
    med = ev.groupBy("event_type").agg(
        pd_(0.5, "median"),
        F.expr("percentile(value, 0.5)").alias("median_interp"),
        (
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)")
            - F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)")
        ).alias("iqr"),
    )
    dev = ev.join(F.broadcast(med.select("event_type", "median")), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("median")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    return med.join(mad, "event_type").select(
        "event_type", "median", "median_interp", "iqr", "mad"
    )


# --- equi-depth histogram: 10 equal-count buckets over value with
# per-bucket bounds — how engines build optimizer column statistics
# (and how you pick balanced range-partition boundaries). ntile over
# the (value, event_id) total order is deterministic; the rollup is
# map-side combinable on 10 keys. At real scale you'd ntile a
# deterministic hash-sample instead of the full column — same plan,
# sampled input.
@query(
    "events_equi_depth_histogram",
    oracle="""
    WITH tiled AS (
        SELECT value,
               ntile(10) OVER (ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT bucket, COUNT(*) AS cnt,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM tiled GROUP BY bucket
    """,
)
def events_equi_depth_histogram(spark, sf_dir):
    """Equi-depth (ntile) histogram over every event value. The bucket
    assignment is the distributed range-partitioned rank from
    ``operators.quantiles`` — bit-identical to the oracle's plain
    ``ntile(10) OVER (ORDER BY value, event_id)`` but with no
    single-task global sort (r2 verdict fix; plan-gated)."""
    from udacity_dend_capstone_immigration_spark.operators.quantiles import equi_depth_buckets

    ev = table(spark, sf_dir, "events")
    tiled = equi_depth_buckets(
        ev.select("value", "event_id"), ["value", "event_id"], 10
    ).select("value", "bucket")
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


# --- as-of join with tolerance (pandas merge_asof parity): attribution
# windows expire — a click older than 30 minutes no longer explains the
# purchase. The matched right timestamp rides the same window pass, so
# the staleness bound costs zero extra shuffles (operators/asof.py).
@query(
    "asof_purchase_to_click_30m",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_event_id,
               arg_max(value, event_id) AS click_value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    purch AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value AS purchase_value,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE
                THEN c.click_event_id END AS click_event_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE
                THEN c.click_value END AS click_value
    FROM purch p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_to_click_30m(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_event_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    return asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["click_event_id", "click_value"],
        tolerance="30 minutes",
    )


# --- count-min-sketch heavy hitters: the streaming-scale frequency
# primitive (Cormode & Muthukrishnan 2005) done as two aggregates whose
# SKETCH exchange carries w×d cells at ANY corpus size — the same
# corpus-independent-exchange shape as IVF training. Every hash is md5
# (the engine-portable hash rule), so the sketch is fully DETERMINISTIC
# and the oracle replays it exactly: the driver hash-checks not just
# the exact counts but the estimates themselves, making the
# overcount column (est − exact ≥ 0, the CMS one-sided error) an
# oracle-proven property instead of a claim. At 100 TB the exact
# per-key aggregate is the expensive path and the sketch is the cheap
# one; here both run so the error is measured — the
# approx_distinct_summary self-validation pattern for frequencies.
_CMS_W, _CMS_D = 64, 4


def _cms_bucket(u_col, j_col):
    """Depth-j CMS bucket of a key: md5 of "key#j" → first 8 hex → mod w
    (engine-portable; shared by the batch and streaming sketches)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(u_col.cast("string"), F.lit("#"), j_col.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_W
    )


@query(
    "events_heavy_hitters_cms",
    oracle=f"""
    WITH u AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id),
    jj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(j)),
    cells AS (
        SELECT jj.j,
               CAST(('0x' || substring(md5(CAST(e.user_id AS VARCHAR) || '#'
                    || CAST(jj.j AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W} AS bucket,
               COUNT(*) AS cell_cnt
        FROM events e, jj
        GROUP BY 1, 2
    ),
    ub AS (
        SELECT u.user_id, u.exact_cnt, jj.j,
               CAST(('0x' || substring(md5(CAST(u.user_id AS VARCHAR) || '#'
                    || CAST(jj.j AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W} AS bucket
        FROM u, jj
    ),
    est AS (
        SELECT ub.user_id, ub.exact_cnt, MIN(c.cell_cnt) AS cms_est
        FROM ub JOIN cells c ON c.j = ub.j AND c.bucket = ub.bucket
        GROUP BY ub.user_id, ub.exact_cnt
    )
    SELECT user_id, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
    FROM est
    ORDER BY exact_cnt DESC, user_id ASC LIMIT 20
    """,
)
def events_heavy_hitters_cms(spark, sf_dir):
    """Top-20 users by exact count, with the deterministic CMS estimate
    beside the truth. One corpus pass builds the 256-cell sketch
    (map-side combine into a w×d exchange); the per-user estimate is a
    broadcast join of the candidate keys' buckets against the tiny cell
    table and a min over depths."""
    from udacity_dend_capstone_immigration_spark.operators.topk import top_k

    ev = table(spark, sf_dir, "events")
    bucket = _cms_bucket
    js = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("j")
    cells = (
        ev.select("user_id")
        .select("user_id", js)
        .select("j", bucket(F.col("user_id"), F.col("j")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
    )
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    ub = u.select("user_id", "exact_cnt", js).select(
        "user_id",
        "exact_cnt",
        "j",
        bucket(F.col("user_id"), F.col("j")).alias("bucket"),
    )
    est = (
        # cells is w×d = 256 rows by construction (constants) — bounded
        ub.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cell_cnt").alias("cms_est"))
    )
    out = est.select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )
    return top_k(out, order_by=[F.desc("exact_cnt"), F.asc("user_id")], k=20)


# --- dynamic partition pruning roundtrip: at 100 TB the fact table is
# partitioned on a join key and the dim-side predicate is only known at
# plan time THROUGH the join — static pruning can't help, and a full
# fact scan is the cluster-melter. Catalyst's DPP injects the
# broadcast-materialized dim keys as a runtime partition filter on the
# fact scan (plan shows `dynamicpruningexpression` in PartitionFilters
# — pinned in tests/test_plans.py::test_dpp_fires_on_partitioned_fact),
# so the scan reads 2 of 5 partitions here and the engagement fraction
# of a 100 TB store in production. The oracle states the same join
# aggregate over the original parquet, proving the partitioned
# write→DPP-join→aggregate cycle lossless.
#: one staging dir (partitioned fact + dim table) per process,
#: OVERWRITTEN each invocation and swept at exit — a fresh mkdtemp per
#: run would leak a full events copy every driver/bench/pytest
#: invocation (the bucketed_join_roundtrip accumulation class).
_DPP_OUT: list = []


def _dpp_out_dir() -> str:
    import atexit
    import shutil
    import tempfile

    if not _DPP_OUT:
        d = tempfile.mkdtemp(prefix="events_dpp_")
        _DPP_OUT.append(d)
        atexit.register(lambda: shutil.rmtree(d, ignore_errors=True))
    return _DPP_OUT[0]


@query(
    "events_dpp_partitioned_join",
    oracle=f"""
    SELECT e.event_type, COUNT(*) AS cnt,
           {sql_dsum("e.value", "total_value")}
    FROM events e
    WHERE e.event_type IN ('click', 'view')
    GROUP BY e.event_type
    """,
)
def events_dpp_partitioned_join(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    out = _dpp_out_dir()
    from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

    write_parquet(
        ev.select("event_id", "event_type", "value"),
        f"{out}/fact",
        partition_by=("event_type",),
    )
    fact = spark.read.parquet(f"{out}/fact")
    # the dim: every type labeled; only the predicate on the DIM decides
    # which fact partitions exist in the plan's runtime filter. It is a
    # TABLE, as in a star schema: over a local relation the optimizer
    # folds the category filter into the literal rows, and DPP only
    # fires on a build side that still carries a selective Filter.
    write_parquet(
        local_frame(
            spark,
            [
                ("click", "engagement"),
                ("view", "engagement"),
                ("purchase", "conversion"),
                ("signup", "conversion"),
                ("error", "ops"),
            ],
            "event_type string, category string",
        ),
        f"{out}/dim",
    )
    dim = spark.read.parquet(f"{out}/dim")
    joined = fact.join(
        F.broadcast(dim.where(F.col("category") == "engagement")), "event_type"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(F.col("value"), "total_value"),
    )


# --- z-order clustering + min/max file skipping (Delta OPTIMIZE
# ZORDER / Iceberg manifest-stats parity on plain parquet,
# `sources/zorder.py`): events re-laid-out on a Morton interleave of
# (user_id, value-cents) so each file covers a tight RECTANGLE in both
# dimensions, then a 2-D box predicate plans the scan from per-file
# min/max stats — only intersecting files are listed (the z-beats-
# linear-sort skipping ratio is measured in tests/test_zorder.py —
# 1 vs 4 of 16 files for a quarter-width 2-D box on a uniform grid;
# this corpus's box reads 7/16 at sf0.01, 5/16 at sf0.1). The bounds are ALSO a real
# filter, so parquet row-group pruning stacks on top and the result
# can never depend on the manifest — which is exactly what this oracle
# hash-proves: the skipping read is LOSSLESS vs filtering the raw
# table.
@query(
    "events_zorder_box_scan",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events
    WHERE user_id BETWEEN 10 AND 40
      AND CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) BETWEEN 5000 AND 10000
    GROUP BY event_type
    """,
)
def events_zorder_box_scan(spark, sf_dir):
    import tempfile

    from udacity_dend_capstone_immigration_spark.sources.zorder import (
        scan_with_skipping,
        zorder_write,
    )
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    ev = read_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("value_c"),
    )
    out = tempfile.mkdtemp(prefix="zorder_events_")
    zorder_write(ev, out, ["user_id", "value_c"], n_files=16)
    df, _read, _total = scan_with_skipping(
        spark, out, {"user_id": (10, 40), "value_c": (5000, 10000)}
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "total_value"),
    )


# --- partition-layout EVOLUTION (the Iceberg partition-evolution
# contract on plain parquet): a table's early history was written
# UNPARTITIONED (generation 1), the layout was then evolved to
# day-partitioning (generation 2) — and history is NOT rewritten
# (at 100 TB a layout change that rewrites history is a non-starter;
# schema_evolution_roundtrip is this query's column-level sibling).
# The reader is one UNION view over both generations where each side
# gets the pruning its layout affords: the day predicate prunes
# gen-2 to its matching `day_pt=` directories (PartitionFilters,
# plan-pinned in tests/test_plans.py) and pushes down to gen-1's
# row-group stats. The oracle recomputes from raw events, proving the
# two-generation cycle loses and duplicates nothing across the
# layout boundary.
@query(
    "events_partition_evolution_scan",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
    GROUP BY event_type
    """,
)
def events_partition_evolution_scan(spark, sf_dir):
    import tempfile

    from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    ev = read_events(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value",
        F.col("ts").cast("date").alias("day_pt"),
    )
    root = tempfile.mkdtemp(prefix="ptevo_")
    # generation 1: the first half of history, unpartitioned
    write_parquet(
        ev.where(F.col("day_pt") < F.lit("2024-01-16").cast("date")).drop("day_pt"),
        f"{root}/gen1",
    )
    # generation 2: the rest, day-partitioned (the evolved layout)
    write_parquet(
        ev.where(F.col("day_pt") >= F.lit("2024-01-16").cast("date")),
        f"{root}/gen2",
        partition_by=("day_pt",),
    )
    lo, hi = F.lit("2024-01-10").cast("date"), F.lit("2024-01-20").cast("date")
    g1 = (
        spark.read.parquet(f"{root}/gen1")
        .where(F.col("ts").cast("date").between(lo, hi))
        .select("event_id", "event_type", "value")
    )
    g2 = (
        spark.read.parquet(f"{root}/gen2")
        .where(F.col("day_pt").between(lo, hi))
        .select("event_id", "event_type", "value")
    )
    return g1.unionByName(g2).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "total_value"),
    )


# --- linear multi-touch attribution: every purchase distributes one
# unit of credit equally across the SAME user's clicks in the
# preceding hour (the marketing-attribution workload; first/last-touch
# are the degenerate cases the as-of join already covers). Shapes that
# matter at scale: the purchase×click pairing is keyed on (user_id,
# hour-bucket) — NOT user alone; the in-function comment has the
# measured hot-key blowup that forced the bucketing — and the
# fractional credit is
# an EXACT INTEGER ledger — floor(1_000_000 / n) millionths per click,
# the events_user_linear_trend lesson applied: summing 1/n doubles
# through a decimal cast can land on rounding midpoints, integer
# micro-credit cannot. The floor remainder is reported beside the
# credit, so the ledger provably balances:
# credit + remainder = 1_000_000 × purchases, per user, exactly.
@query(
    "events_multitouch_attribution",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ),
    per_purchase AS (
        SELECT p.user_id, p.p_id, COUNT(*) AS n_clicks
        FROM purchases p JOIN clicks c
            ON p.user_id = c.user_id
           AND c.c_ts <= p.p_ts
           AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        GROUP BY p.user_id, p.p_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS attributed_purchases,
           CAST(SUM(n_clicks) AS BIGINT) AS attributed_pairs,
           CAST(SUM(n_clicks * (1000000 // n_clicks)) AS BIGINT)
               AS credit_millionths,
           CAST(SUM(1000000 - n_clicks * (1000000 // n_clicks)) AS BIGINT)
               AS remainder_millionths
    FROM per_purchase
    GROUP BY user_id
    """,
)
def events_multitouch_attribution(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    ev = read_events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    # bucketed interval pairing (the rangejoin recipe, keyed on
    # user_id AND a window-width time bucket): a plain user-keyed join
    # evaluates EVERY click×purchase combination of a user before the
    # range filter — a hot user owning 10% of a 10M-row table is a
    # ~4e10-pair single task (measured: the x100-hot extrapolation run
    # had to be killed). Each click interval [c_ts, c_ts+1h] spans at
    # most 2 buckets; a purchase lives in exactly 1, so no pair can
    # match twice and per-cell work is the TRUE pair count.
    bw = 3_600_000_000  # 1 hour in micros — the attribution window
    pb = p.withColumn("_b", (F.unix_micros(F.col("p_ts")) / F.lit(bw)).cast("long"))
    cb = c.withColumn(
        "_b",
        F.explode(
            F.sequence(
                (F.unix_micros(F.col("c_ts")) / F.lit(bw)).cast("long"),
                ((F.unix_micros(F.col("c_ts")) + F.lit(bw)) / F.lit(bw)).cast("long"),
            )
        ),
    )
    # both pairing sides are SF-scaling and the click side sits below
    # an explode — Catalyst's estimate is blind to the fan-out and
    # would statically broadcast it (the registry plan gate caught
    # exactly that); hint the join to sort-merge per the CLAUDE rule
    per_purchase = (
        pb.hint("merge").join(cb.hint("merge"), ["user_id", "_b"])
        .where(
            (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id", "p_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    unit = F.floor(F.lit(1000000) / F.col("n_clicks")).cast("bigint")
    return per_purchase.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("attributed_purchases"),
        F.sum("n_clicks").cast("bigint").alias("attributed_pairs"),
        F.sum(F.col("n_clicks") * unit).cast("bigint").alias("credit_millionths"),
        F.sum(F.lit(1000000) - F.col("n_clicks") * unit)
        .cast("bigint")
        .alias("remainder_millionths"),
    )


# --- approx_top_k audit (Spark 4's sketch-based frequent-items
# aggregate — the one-expression answer to the hand-built CMS when a
# SINGLE engine computes it; the CMS stays the cross-engine/streaming
# form). Sketch internals are engine-specific AND tie order within
# equal counts is unspecified, so the hash surface is the
# approx_distinct_summary/CMS pattern: the sketch's top-k is VALIDATED
# against exact counts — every returned item's exact count must reach
# the exact k-th count (any valid top-k under ties passes; any missed
# heavy hitter or phantom item fails) — and the exact boundary count
# plus the validity flag are what the driver hashes.
@query(
    "events_approx_top_k_users",
    oracle="""
    WITH exact AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    kth AS (
        SELECT cnt AS kth_cnt FROM exact ORDER BY cnt DESC, user_id LIMIT 1 OFFSET 9
    )
    SELECT CAST(10 AS INT) AS k, kth.kth_cnt,
           CAST(TRUE AS BOOLEAN) AS sketch_is_valid_topk
    FROM kth
    """,
)
def events_approx_top_k_users(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    ev = read_events(spark, sf_dir)
    sketch = ev.select(
        F.expr("approx_top_k(user_id, 10, 10000)").alias("items")
    ).select(F.explode("items").alias("it")).select(
        F.col("it.item").alias("user_id"), F.col("it.count").alias("est")
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    kth = (
        exact.orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
        .agg(F.min("cnt").alias("kth_cnt"))
    )
    checked = (
        sketch.join(exact, "user_id")
        .crossJoin(F.broadcast(kth))
        .agg(
            F.min("kth_cnt").alias("kth_cnt"),
            (F.count(F.lit(1)) == 10).alias("has_10"),
            F.min((F.col("cnt") >= F.col("kth_cnt")).cast("int")).alias("all_heavy"),
        )
    )
    return checked.select(
        F.lit(10).cast("int").alias("k"),
        "kth_cnt",
        (F.col("has_10") & (F.col("all_heavy") == 1)).alias("sketch_is_valid_topk"),
    )


# --- k-anonymity / l-diversity audit (privacy compliance gate for
# training-data release): bucket every row by its quasi-identifier
# tuple (event_type, hour-of-day, value band), then report — per event
# type — how many QI groups exist, the smallest group, how many groups
# fall under k=5 (re-identifiable cohorts), how many rows sit in them,
# and how many groups fail l-diversity (< 2 distinct users — the
# group's sensitive attribute is fully determined). Two hash
# aggregates, both map-side combinable; the group space is the QI
# domain (type × 24 h × value bands), corpus-size-free, so the audit
# is one linear scan at any SF. The value band uses floor(value/50) —
# double division then floor is the same IEEE op in both engines
# (exact-integer `%` bucketing is for bigints; value is a double).
@query(
    "events_k_anonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT event_type,
               EXTRACT(hour FROM ts) AS hod,
               FLOOR(value / 50.0e0) AS band,
               COUNT(*) AS group_size,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type, EXTRACT(hour FROM ts), FLOOR(value / 50.0e0)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(group_size) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN group_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS small_groups,
           CAST(SUM(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
               AS BIGINT) AS rows_at_risk,
           CAST(SUM(CASE WHEN n_users < 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS low_diversity_groups
    FROM qi GROUP BY event_type
    """,
)
def events_k_anonymity_audit(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    qi = ev.groupBy(
        "event_type",
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / F.lit(50.0)).alias("band"),
    ).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return qi.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("group_size").cast("bigint").alias("min_group_size"),
        F.sum(F.when(F.col("group_size") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("small_groups"),
        F.sum(F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.sum(F.when(F.col("n_users") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("low_diversity_groups"),
    )


# --- randomized response (Warner's local-DP mechanism) release audit:
# privatize every event's type with the deterministic md5-coin
# mechanism (`operators/privacy.py` — keep w.p. 0.8, else uniform over
# the closed 5-category domain), then report, per category, the
# released count next to the true count and the unbiased debiased
# estimate n̂ = (reported − n·(1−keep)/k)/keep. Everything is one
# map-stage expression + two map-combinable counts; the release is a
# pure function of (seed, event_id) so retries, backfills, and the
# DuckDB oracle reproduce the exact same coins (the r13 stage-gate
# proved the per-row release bit-for-bit; this registers the audit).
# The debias arithmetic is a fixed-order double tree over exact
# integer counts — no libm, portable (CLAUDE.md float rules).
_RR_CATS = ["click", "error", "purchase", "signup", "view"]
_RR_SQL_ARR = "[" + ", ".join(f"'{c}'" for c in _RR_CATS) + "]"


@query(
    "events_randomized_response",
    oracle=f"""
    WITH rel AS (
        SELECT CASE WHEN ('0x' || substring(md5('rr:keep:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 800
                    THEN event_type
                    ELSE {_RR_SQL_ARR}[CAST(('0x' || substring(md5('rr:draw:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS INT) + 1]
               END AS event_type
        FROM events
    ),
    rep AS (
        SELECT event_type, COUNT(*) AS reported_cnt,
               SUM(COUNT(*)) OVER () AS tot
        FROM rel GROUP BY event_type
    ),
    tru AS (SELECT event_type, COUNT(*) AS true_cnt FROM events GROUP BY event_type)
    SELECT r.event_type,
           CAST(r.reported_cnt AS BIGINT) AS reported_cnt,
           CAST(t.true_cnt AS BIGINT) AS true_cnt,
           (CAST(r.reported_cnt AS DOUBLE) - CAST(r.tot AS DOUBLE)
                * ((1.0e0 - CAST(800 AS DOUBLE) / 1000.0e0) / 5.0e0))
               / (CAST(800 AS DOUBLE) / 1000.0e0) AS n_hat
    FROM rep r JOIN tru t ON r.event_type = t.event_type
    """,
)
def events_randomized_response(spark, sf_dir):
    from pyspark.sql import Window

    from udacity_dend_capstone_immigration_spark.operators.privacy import (
        randomized_response,
        rr_debias,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    rel = ev.select(
        randomized_response(
            F.col("event_type"), _RR_CATS, F.col("event_id")
        ).alias("event_type")
    )
    # total BEFORE the join (a category absent from either side must
    # not change n); 5-row post-aggregate global window — bounded
    rep = rel.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("reported_cnt")
    ).withColumn("tot", F.sum("reported_cnt").over(Window.partitionBy()))
    tru = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_cnt"))
    return rep.join(tru, "event_type").select(
        "event_type",
        F.col("reported_cnt").cast("bigint").alias("reported_cnt"),
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        rr_debias(
            F.col("reported_cnt"), F.col("tot"), k=len(_RR_CATS)
        ).alias("n_hat"),
    )


# --- k-anonymity RELEASE (the enforcement twin of the audit above):
# suppress every row whose (event_type, hour, value-band) QI group
# holds < 5 members (`operators/privacy.py:suppress_small_groups`,
# null-safe per QI column), then aggregate the released rows per
# event type and per surviving group — the oracle is DuckDB's HAVING
# form, so the hash compare proves the release keeps exactly the
# >= k groups with exactly their row counts. The row-level release is
# the artifact; this registers its layout-keyed aggregation (the
# store-roundtrip proof pattern).
@query(
    "events_k_anonymity_release",
    oracle="""
    WITH qi AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hod,
               FLOOR(value / 50.0e0) AS band, COUNT(*) AS gsz
        FROM events
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
    )
    SELECT event_type, CAST(SUM(gsz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(gsz) AS BIGINT) AS min_group_size
    FROM qi GROUP BY event_type
    """,
)
def events_k_anonymity_release(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.operators.privacy import (
        suppress_small_groups,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / F.lit(50.0)).alias("band"),
        "user_id",
    )
    rel = suppress_small_groups(ev, ["event_type", "hod", "band"], k=5)
    grp = rel.groupBy("event_type", "hod", "band").agg(
        F.count(F.lit(1)).alias("gsz")
    )
    return grp.groupBy("event_type").agg(
        F.sum("gsz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("gsz").cast("bigint").alias("min_group_size"),
    )


# --- distinct l-DIVERSITY release (r15 — the homogeneity-attack fix
# the k-anonymity release alone misses: a >= k QI group whose
# sensitive attribute is constant still discloses it for every member;
# Machanavajjhala et al. 2007). Sensitive attribute = user_id: a
# released (event_type, hour, value-band) group must span >= 4 distinct
# users. Oracle is the HAVING COUNT(DISTINCT ...) form, so the hash
# proves the release keeps exactly the diverse groups with exactly
# their row counts AND their diversity (min_distinct_sensitive >= 4
# recomputed by both engines).
@query(
    "events_l_diversity_release",
    oracle="""
    WITH qi AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hod,
               FLOOR(value / 50.0e0) AS band, COUNT(*) AS gsz,
               COUNT(DISTINCT user_id) AS ndv
        FROM events
        GROUP BY 1, 2, 3 HAVING COUNT(DISTINCT user_id) >= 4
    )
    SELECT event_type, CAST(SUM(gsz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(ndv) AS BIGINT) AS min_distinct_sensitive
    FROM qi GROUP BY event_type
    """,
)
def events_l_diversity_release(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.operators.privacy import (
        enforce_l_diversity,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / F.lit(50.0)).alias("band"),
        "user_id",
    )
    rel = enforce_l_diversity(ev, ["event_type", "hod", "band"], "user_id", l=4)
    grp = rel.groupBy("event_type", "hod", "band").agg(
        F.count(F.lit(1)).alias("gsz"),
        F.count_distinct(F.col("user_id")).alias("ndv"),
    )
    return grp.groupBy("event_type").agg(
        F.sum("gsz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("ndv").cast("bigint").alias("min_distinct_sensitive"),
    )
