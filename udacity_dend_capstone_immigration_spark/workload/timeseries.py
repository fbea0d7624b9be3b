"""Time-series queries over ``events``: RANGE-interval frames, gap
filling / resampling, and keep-latest dedup.

These extend the window family (`SURVEY.md` §2.5 notes the reference has
none; the engine exposes the full idiomatic set). Scale posture:

- The RANGE frame and keep-latest queries are a single exchange on
  ``user_id`` / the dedup key; the window sort is within-partition and
  spills gracefully.
- Gap fill generates the per-user hour spine from an already-aggregated
  (user, hour) table, so the explode fans out dim-sized rows, never raw
  events. At 100 TB the spine cardinality is |users| x |hours|, bounded
  and independent of event volume.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.sources.readers import local_frame
from udacity_dend_capstone_immigration_spark.sources.store import begin, commit, recover
from udacity_dend_capstone_immigration_spark.workload.base import ORACLES, query, table

#: 1 hour in microseconds — Spark's rangeBetween needs a numeric order
#: key; unix_micros keeps full event-time precision so the inclusive
#: lower bound lands on exactly the same rows as DuckDB's
#: RANGE BETWEEN INTERVAL 1 HOUR PRECEDING (both bounds inclusive).
_HOUR_US = 3_600_000_000


# --- moving aggregate over an event-time RANGE frame (value-based, not
# row-based: each row's frame is [ts - 1h, ts] regardless of row count).
@query(
    "events_moving_agg_1h",
    oracle="""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS cnt_1h,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER w AS VARCHAR) AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_agg_1h(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_HOUR_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("cnt_1h"),
        F.sum(F.col("value").cast("decimal(28,10)")).over(w).cast("double").alias("sum_1h"),
    )


# --- the same trailing frame via the arrival/expiry rewrite (same
# oracle — identical results): Spark's BOUNDED sliding frame
# re-evaluates the buffered frame per output row, so a hot user owning
# 10% of a 10M-row table costs 222s in ONE task (r10 extrapolation);
# the rewrite's two cumulative unbounded-preceding sums are
# incremental and take the same partition to 14.1s (16×). This is the
# shape to ship when keys can be hot; the direct-frame query above
# stays the default (fastest when no key is hot — A/B'd per the
# CLAUDE.md discipline: base sf0.1 0.79 vs 1.01s, uniform 100×
# 3.36 vs 3.88s).
from udacity_dend_capstone_immigration_spark.operators.windows import trailing_range_agg  # noqa: E402
from udacity_dend_capstone_immigration_spark.workload.base import ORACLES  # noqa: E402


@query("events_moving_agg_1h_expiry", oracle=ORACLES["events_moving_agg_1h"])
def events_moving_agg_1h_expiry(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return trailing_range_agg(
        ev.select("event_id", "user_id", "ts", "value"),
        "ts",
        "user_id",
        "value",
        _HOUR_US,
        count_alias="cnt_1h",
        sum_alias="sum_1h",
    ).select("event_id", "user_id", "ts", "cnt_1h", "sum_1h")


# --- gap fill / resample: dense hourly series per user, zero-filled
# where the user had no events (hypertable-rollup shape).
@query(
    "events_hourly_gap_fill",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS event_cnt
        FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    span AS (
        SELECT user_id, MIN(hour) AS mn, MAX(hour) AS mx FROM hourly GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        FROM span
    )
    SELECT s.user_id, s.hour, COALESCE(h.event_cnt, 0) AS event_cnt
    FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
    """,
)
def events_hourly_gap_fill(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("event_cnt"))
    span = hourly.groupBy("user_id").agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
    spine = span.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    out = spine.join(hourly, ["user_id", "hour"], "left")
    return out.select(
        "user_id", "hour", F.coalesce(F.col("event_cnt"), F.lit(0)).alias("event_cnt")
    )


# --- keep-latest dedup: newest record per (user, event_type) — the
# SCD-style "current version of each key" operator every ingest
# pipeline needs (row_number desc = 1; one exchange on the key).
@query(
    "events_latest_per_key",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def events_latest_per_key(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


# --- SCD Type 2 interval build: the history twin of keep-latest.
# Each (user, event_type) version row gets [valid_from, valid_to)
# bounds via lead() over the version order, plus an is_current flag —
# the standard slowly-changing-dimension materialization. One exchange
# on the key; lead() rides the same window sort as the version number,
# so history construction costs exactly one shuffle at any scale.
@query(
    "events_scd2_intervals",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current,
           CAST(row_number() OVER w AS INT) AS version_no
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    """,
)
def events_scd2_intervals(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("int").alias("version_no"),
    )


# --- event-type transition matrix: per-user consecutive event pairs
# (lag over the time order) rolled into Markov-style transition counts
# and row-normalized probabilities. The sequence-mining building block
# (funnels, next-action prediction features); the lag rides one
# user_id exchange, the count rollup is map-side combinable on 25 keys.
@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, cnt,
           CAST(cnt AS DOUBLE)
               / SUM(cnt) OVER (PARTITION BY prev_type) AS prob
    FROM pairs
    """,
)
def events_transition_matrix(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "cnt",
        (F.col("cnt").cast("double") / F.sum("cnt").over(wn)).alias("prob"),
    )


# --- running extrema + drawdown: per-user running max of value and the
# gap from it (the monitoring/finance window shape: peak tracking,
# regression-from-peak alerts). Same single user_id exchange as the
# other window queries; running max is order-independent given the
# (ts, event_id) total order, and the drawdown is one exact double
# subtraction per row.
@query(
    "events_running_drawdown",
    oracle="""
    SELECT event_id, user_id, ts, value,
           MAX(value) OVER w AS running_max,
           MAX(value) OVER w - value AS drawdown
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def events_running_drawdown(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_max = F.max("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        run_max.alias("running_max"),
        (run_max - F.col("value")).alias("drawdown"),
    )


# --- trailing-window anomaly ratio: each hour's event count vs the
# average of the preceding 24 hourly counts (per type). Counts are
# integers, the trailing average is an exact int-sum / int-count, and
# the ratio is one double division — the anomaly-detection shape
# without the float-stddev portability trap. Pre-aggregation to hourly
# keys the window over |types| x |hours| rows, independent of raw
# volume.
@query(
    "events_hourly_anomaly_ratio",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    trail AS (
        SELECT event_type, hour, cnt,
               SUM(cnt) OVER w AS tr_sum,
               COUNT(*) OVER w AS tr_n
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, cnt,
           CAST(cnt * tr_n AS DOUBLE) / tr_sum AS ratio_to_trailing,
           CAST(cnt * tr_n AS DOUBLE) / tr_sum > 2.0 AS anomalous
    FROM trail WHERE tr_n > 0
    """,
)
def events_hourly_anomaly_ratio(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-24, -1)
    trail = hourly.select(
        "event_type",
        "hour",
        "cnt",
        F.sum("cnt").over(w).alias("tr_sum"),
        F.count(F.lit(1)).over(w).alias("tr_n"),
    ).where(F.col("tr_n") > 0)
    ratio = (F.col("cnt") * F.col("tr_n")).cast("double") / F.col("tr_sum")
    return trail.select(
        "event_type",
        "hour",
        "cnt",
        ratio.alias("ratio_to_trailing"),
        (ratio > 2.0).alias("anomalous"),
    )


# --- fixed-width histogram: value distribution of events in width-2
# bins with readable labels — the profiling primitive behind every
# engine's `histogram()`. Bin assignment is floor division (exact);
# the rollup is map-side combinable on ~tens of keys.
@query(
    "events_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 2.0) * 2 AS DOUBLE) AS bin_lo,
           CAST(floor(value / 2.0) * 2 + 2 AS DOUBLE) AS bin_hi,
           COUNT(*) AS cnt
    FROM events
    GROUP BY floor(value / 2.0)
    """,
)
def events_value_histogram(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    bin_lo = (F.floor(F.col("value") / 2.0) * 2).cast("double")
    return ev.groupBy(bin_lo.alias("bin_lo")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(
        "bin_lo", (F.col("bin_lo") + 2).cast("double").alias("bin_hi"), "cnt"
    )


# --- per-user OLS linear trend + next-day forecast: the grouped
# regression a metrics/anomaly pipeline fits per entity (the
# distributed form of sklearn's per-group LinearRegression loop). One
# hash aggregate per user carrying four moments + the exact MAX — the
# `lineitem_price_qty_corr` recipe, hardened: the moments are built on
# EXACT INTEGERS (event seconds since a fixed epoch × value cents via
# the repo's floor(x+0.5) half-up chain), because double PRODUCTS fed
# straight to a DECIMAL cast can land exactly on a scale-10 rounding
# midpoint where Spark's HALF_UP and DuckDB's tie-break diverge one
# ulp (measured on this very query's h*y — the midpoint-unreachable
# argument in workload/base.py holds for parquet doubles, not for
# arbitrary products). Integer moments make every sum exact and every
# downstream double op a fixed-order tree on identical operands. The
# exchange carries one compact row per user at any event volume; no
# window, no second pass, no corpus-wide sort anywhere.
@query(
    "events_user_linear_trend",
    oracle="""
    WITH x AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 - epoch_us(TIMESTAMP '2024-01-01') // 1000000 AS s,
               CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS yc
        FROM events
    ),
    m AS (
        SELECT user_id,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(s AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(yc AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(s * yc AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxy,
               CAST(CAST(SUM(CAST(s * s AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx,
               MAX(s) AS mx
        FROM x GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 36.0e0 AS slope_per_hour,
           ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) / 100.0e0
               AS intercept,
           (((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
               + ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * (CAST(mx AS DOUBLE) + 86400.0e0)) / 100.0e0
               AS forecast_next_day
    FROM m
    WHERE n >= 2.0e0 AND (n * sxx - sx * sx) != 0.0e0
    """,
)
def events_user_linear_trend(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.workload.base import (
        dsum_expr,
        read_events,
    )

    ev = read_events(spark, sf_dir)
    epoch0 = F.unix_micros(F.lit("2024-01-01").cast("timestamp")) / F.lit(1000000)
    sec = (F.unix_micros(F.col("ts")) / F.lit(1000000)).cast("bigint") - epoch0.cast(
        "bigint"
    )
    yc = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    m = (
        ev.select("user_id", sec.alias("s"), yc.alias("yc"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum_expr(F.col("s")).alias("sx"),
            dsum_expr(F.col("yc")).alias("sy"),
            dsum_expr(F.col("s") * F.col("yc")).alias("sxy"),
            dsum_expr(F.col("s") * F.col("s")).alias("sxx"),
            F.max("s").alias("mx"),
        )
    )
    n, sx, sy, sxy, sxx, mx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "mx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return (
        m.where((n >= F.lit(2.0)) & ((n * sxx - sx * sx) != F.lit(0.0)))
        .select(
            "user_id",
            n.cast("bigint").alias("n_events"),
            (slope * F.lit(36.0)).alias("slope_per_hour"),
            (intercept / F.lit(100.0)).alias("intercept"),
            (
                (intercept + slope * (mx.cast("double") + F.lit(86400.0)))
                / F.lit(100.0)
            ).alias("forecast_next_day"),
        )
    )


# --- time-weighted average value per user (the TWAP/IoT integral
# mean: each reading holds until the next one, so its weight is the
# interval it was live). One user-keyed window (lead) + one aggregate;
# moments are EXACT integers — duration in micros × value in cents —
# summed as DECIMAL(38,0) (cents×micros per-term tops ~1.5e17, beyond
# DECIMAL(28,10)'s integer headroom across a hot user; 38,0 holds the
# corpus), VARCHAR-roundtripped to double only for the final ratio.
@query(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               epoch_us(ts) AS t_us,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_us,
               CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS yc
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           (CAST(CAST(SUM(CAST((next_us - t_us) * yc AS DECIMAL(38,0)))
                      AS VARCHAR) AS DOUBLE)
            / CAST(CAST(SUM(CAST(next_us - t_us AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE)) / 100.0e0 AS twap
    FROM seq WHERE next_us IS NOT NULL
    GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lead(F.unix_micros(F.col("ts"))).over(w).alias("next_us"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("yc"),
    ).where(F.col("next_us").isNotNull())

    def dsum38(col):
        return F.sum(col.cast("decimal(38,0)")).cast("double")

    dur = F.col("next_us") - F.col("t_us")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        ((dsum38(dur * F.col("yc")) / dsum38(dur)) / F.lit(100.0)).alias("twap"),
    )


# --- OHLC bars (candlestick downsampling): per (user, hour) the
# open/high/low/close of `value` plus tick count — the canonical
# time-series compaction finance/IoT dashboards read instead of raw
# ticks. NO window function: open/close are min_by/max_by over an
# exact ZERO-PADDED STRING order key (16-digit micros ‖ 10-digit
# event_id — lexicographic order == (ts, event_id) order, with no
# packing arithmetic to overflow: the first cut packed event_id into
# 20 bits and silently mis-ordered sub-10µs ties once event_ids
# passed 2^20 on the x100 corpus), so the whole bar table is ONE
# map-combinable hash aggregate — at any event volume the exchange
# carries one row per (user, hour), where a row_number-based
# open/close pays a full per-user sort first.
@query(
    "events_ohlc_bars",
    oracle="""
    WITH keyed AS (
        SELECT user_id, date_trunc('hour', ts) AS bar_hour, value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0')
                   || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ok
        FROM events
    )
    SELECT user_id, bar_hour,
           arg_min(value, ok) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ok) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM keyed
    GROUP BY user_id, bar_hour
    """,
)
def events_ohlc_bars(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.workload.base import read_events

    ev = read_events(spark, sf_dir)
    ok = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 16, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    keyed = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        "value",
        ok.alias("ok"),
    )
    return keyed.groupBy("user_id", "bar_hour").agg(
        F.min_by("value", "ok").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ok").alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    )


# --- point-in-time feature assembly (the feature-store correctness
# op): for every 'purchase' row (the label event), training features
# computed from the user's history STRICTLY BEFORE the label timestamp
# — prior click/view counts, prior value mass, and recency — so the
# assembled training set can never leak the label row or anything after
# it. All four features ride ONE (user_id)-keyed window pass: the
# conditional counts and the decimal value sum share a cumulative
# unbounded-preceding-to-1-preceding frame (linear per partition — the
# O(rows × frame) re-scoring trap is bounded-RANGE frames, not
# cumulative ones), and recency is a lag over the same sort. Filtering
# to the label rows happens AFTER the window, so the features see the
# full history; nothing downstream of the single exchange shuffles
# again. Recency is an exact microsecond bigint (unix_micros both
# sides — second-granularity diffs truncate vs DuckDB's boundary
# counting on fractional-second data).
@query(
    "events_pit_feature_assembly",
    oracle="""
    WITH feats AS (
        SELECT event_id, user_id, ts, event_type,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    OVER w AS BIGINT) AS n_clicks_before,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                    OVER w AS BIGINT) AS n_views_before,
               CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER w
                    AS VARCHAR) AS DOUBLE) AS vsum,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts, n_clicks_before, n_views_before,
           COALESCE(vsum, 0.0e0) AS value_sum_before,
           epoch_us(ts) - epoch_us(prev_ts) AS micros_since_prev
    FROM feats WHERE event_type = 'purchase'
    """,
)
def events_pit_feature_assembly(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wl = Window.partitionBy("user_id").orderBy(*order)
    feats = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.count(F.when(F.col("event_type") == "click", 1))
        .over(w)
        .cast("bigint")
        .alias("n_clicks_before"),
        F.count(F.when(F.col("event_type") == "view", 1))
        .over(w)
        .cast("bigint")
        .alias("n_views_before"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(28,10)")).over(w).cast("double"),
            F.lit(0.0),
        ).alias("value_sum_before"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(wl))).alias(
            "micros_since_prev"
        ),
    )
    return feats.where(F.col("event_type") == "purchase").drop("event_type")


#: Shared oracle CTEs for the materialized feature store: per-user
#: per-day aggregates, then cumulative through each active day.
_FS_SNAP_CTES = """
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS c,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS v,
               SUM(CAST(value AS DECIMAL(28,10))) AS vs
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    snap AS (
        SELECT user_id, d,
               CAST(SUM(c) OVER w AS BIGINT) AS clicks_cum,
               CAST(SUM(v) OVER w AS BIGINT) AS views_cum,
               CAST(CAST(SUM(vs) OVER w AS VARCHAR) AS DOUBLE) AS vsum_cum
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY d)
    )
"""


_FS_BUCKETS = 16


def _fs_daily_from(ev):
    """Per-(user, active day) aggregates over an events frame — the
    feature store's unit of ingest (batch table or stream micro-batch).
    Decimal value mass keeps the cumulative chain exact across
    incremental appends (double accumulation would order-depend)."""
    return ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("v"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("vs"),
    )


def _fs_daily(spark, sf_dir):
    return _fs_daily_from(table(spark, sf_dir, "events"))


def _fs_write_latest(latest, store: str, bootstrap: bool):
    """The compacted per-user current-state table (SCD1), bucketed by
    user so incremental appends merge O(touched buckets), never the
    whole table. vs_cum_dec stays DECIMAL — the exactness carrier the
    snapshot partitions' serve-facing doubles are derived from."""
    from udacity_dend_capstone_immigration_spark.sources.merge import merge_upsert
    from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

    rows = latest.withColumn("pt", F.pmod(F.col("user_id"), F.lit(_FS_BUCKETS)))
    if bootstrap:
        write_parquet(rows, f"{store}/latest", partition_by=("pt",))
    else:
        # a user's bucket never changes -> the stable-partition fast
        # path: zero store scans beyond the touched buckets
        merge_upsert(
            latest.sparkSession,
            f"{store}/latest",
            rows,
            ("user_id",),
            "pt",
            assume_stable_partitions=True,
        )


def fs_roundtrip_agg(spark, store: str):
    """The per-persisted-partition checksum aggregate every feature-
    store lifecycle query returns — ONE definition, because the build /
    append / streaming queries all share the build roundtrip's oracle
    and must stay bit-identical to keep append ≡ rebuild provable."""
    from udacity_dend_capstone_immigration_spark.workload.base import dsum

    back = read_feature_snapshots(spark, store)
    return back.groupBy("feature_date").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("clicks_cum").cast("bigint").alias("clicks_checksum"),
        F.sum("views_cum").cast("bigint").alias("views_checksum"),
        dsum(F.col("vsum_cum"), "vsum_checksum"),
    )


def build_feature_store(
    spark, sf_dir: str, store_dir: str | None = None, cutoff: str | None = None
) -> str:
    """Materialize the daily per-user feature snapshots (cumulative
    click/view counts + decimal-exact value mass through each ACTIVE
    day) under ``<store>/snapshots``, partitioned by ``feature_date`` —
    the offline half of a feature store; a PIT probe for a label range
    prunes to the days it can legally see. Alongside, ``<store>/latest``
    keeps ONE current row per user (decimal cumulative state) so a
    day-over-day append (:func:`append_feature_day`) is O(day batch +
    touched user buckets), never a history rescan. One day-grain
    aggregate (map-combinable; group domain |users|×|days|, far below
    event volume), one user-keyed cumulative window. ``cutoff``
    (ISO date string) bounds the build to days ≤ cutoff — the
    backfill/append split."""
    import tempfile

    from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

    store = store_dir or tempfile.mkdtemp(prefix="featstore_")
    daily = _fs_daily(spark, sf_dir)
    if cutoff is not None:
        daily = daily.where(F.col("d") <= F.lit(cutoff).cast("date"))
    w = Window.partitionBy("user_id").orderBy("d")
    cum = daily.select(
        "user_id",
        "d",
        F.sum("c").over(w).cast("bigint").alias("clicks_cum"),
        F.sum("v").over(w).cast("bigint").alias("views_cum"),
        F.sum("vs").over(w).alias("vs_cum_dec"),
    )
    snap = cum.select(
        "user_id",
        "clicks_cum",
        "views_cum",
        F.col("vs_cum_dec").cast("double").alias("vsum_cum"),
        F.col("d").cast("string").alias("feature_date"),
    )
    write_parquet(snap, f"{store}/snapshots", partition_by=("feature_date",))
    wl = Window.partitionBy("user_id").orderBy(F.col("d").desc())
    latest = (
        cum.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select("user_id", "d", "clicks_cum", "views_cum", "vs_cum_dec")
    )
    _fs_write_latest(latest, store, bootstrap=True)
    return store


_SERVED_FS: dict[tuple, str] = {}


def served_feature_store_dir(spark, sf_dir: str) -> str:
    """Return a built feature store for ``sf_dir``, building on first
    use — the same memoized train-once/serve-many entry every other
    store tier exposes (``served_index_dir`` / ``served_dedup_index_dir``
    / ``served_bpe_dir``). Cache validity = directory existence AND the
    events-table fingerprint the store was built from, so a regenerated
    corpus in a long-lived process can never serve stale snapshots.
    READ-ONLY consumers only: the lifecycle roundtrips (append/prune)
    keep building their own fresh stores — they mutate."""
    import os

    from udacity_dend_capstone_immigration_spark.workload.vectors import (
        _corpus_fingerprint,
    )

    key = (sf_dir, _corpus_fingerprint(sf_dir, "events"))
    d = _SERVED_FS.get(key)
    if d is None or not os.path.isdir(f"{d}/snapshots"):
        d = build_feature_store(spark, sf_dir)
        _SERVED_FS[key] = d
    return d


def append_feature_day(spark, store: str, sf_dir: str, day: str) -> None:
    """Ingest ONE day into the feature store incrementally: the day's
    per-user aggregates join the |users|-sized ``latest`` table (never
    the history), the new cumulative rows land as the day's snapshot
    partition (dynamic single-partition overwrite via the bucketed
    merge path is unnecessary — the partition is batch-addressed by
    construction) and ``latest`` merges O(touched user buckets).
    Decimal state makes append ≡ rebuild EXACT: double(cum) + day
    would drift one ulp per append; decimal + decimal is associative.
    Cost is O(day batch + |active users' buckets|) at any history
    length — the property the append roundtrip's full-rebuild oracle
    certifies."""
    dayagg = _fs_daily(spark, sf_dir).where(
        F.col("d") == F.lit(day).cast("date")
    )
    append_feature_dayagg(spark, store, dayagg, day)


def append_feature_dayagg(spark, store: str, dayagg, day: str) -> None:
    """The micro-batch form of :func:`append_feature_day`: ``dayagg``
    is the (user_id, d, c, v, vs) aggregate of exactly one day (what a
    streaming foreachBatch hands over after its own day-grain
    aggregate). Not idempotent — callers on at-least-once channels gate
    replays (batch-id markers), like the SCD2 stream."""
    from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

    recover(store)
    latest = spark.read.parquet(f"{store}/latest").select(
        "user_id",
        F.col("clicks_cum").alias("p_clicks"),
        F.col("views_cum").alias("p_views"),
        F.col("vs_cum_dec").alias("p_vs"),
    )
    zero_dec = F.lit(0).cast("decimal(38,10)")
    new_cum = (
        dayagg.join(latest, "user_id", "left")
        .select(
            "user_id",
            "d",
            (F.coalesce(F.col("p_clicks"), F.lit(0)) + F.col("c"))
            .cast("bigint")
            .alias("clicks_cum"),
            (F.coalesce(F.col("p_views"), F.lit(0)) + F.col("v"))
            .cast("bigint")
            .alias("views_cum"),
            # vs is NULL when every event that day carried a NULL value
            # (the rebuild's window SUM skips those days — P + NULL would
            # instead poison the cumulative chain forever)
            (F.coalesce(F.col("p_vs"), zero_dec)
             + F.coalesce(F.col("vs"), F.lit(0).cast("decimal(28,10)")))
            .cast("decimal(38,10)")
            .alias("vs_cum_dec"),
        )
        .localCheckpoint()  # cut lineage off the latest store being merged
    )
    snap = new_cum.select(
        "user_id",
        "clicks_cum",
        "views_cum",
        F.col("vs_cum_dec").cast("double").alias("vsum_cum"),
        F.col("d").cast("string").alias("feature_date"),
    )
    # batch-addressed partition write: the column is the directory
    write_parquet(snap.drop("feature_date"), f"{store}/snapshots/feature_date={day}")
    _fs_write_latest(
        new_cum.select("user_id", "d", "clicks_cum", "views_cum", "vs_cum_dec"),
        store,
        bootstrap=False,
    )


def feature_retention_floor(spark, store: str):
    """The store's retention floor date (ISO string) or None if the
    store has never been pruned. One-row read — eager-decision
    contract."""
    import os

    d = f"{store}/retention"
    if not os.path.isdir(d):
        return None
    return spark.read.parquet(d).collect()[0]["floor"]


def prune_feature_snapshots(spark, store: str, keep_days: int) -> list:
    """Retention for the snapshot history (r13 verdict item 6 — the WAP
    store prunes versions and the ANN/dedup stores fold; the feature
    store accumulated one partition per day forever). Keeps the newest
    ``keep_days`` ACTIVE-day partitions and FOLDS everything older into
    the floor partition first: snapshots are sparse (a user only has
    rows on their active days), so naively dropping old partitions
    would silently zero the PIT features of any user inactive since the
    floor. The fold carries each user's newest state at-or-before the
    floor INTO the floor partition — exactly what un-pruned strict-
    before as-of would have served for every probe day > floor — so a
    PIT probe inside the window is bit-identical to the un-pruned store
    (`tests/test_feature_retention.py` pins it). Probes at-or-before
    the floor are unanswerable by construction; the floor lands in
    ``<store>/retention`` and :func:`read_feature_snapshots` raises on
    them (loud, never silently-zero). ``latest`` is untouched — it
    carries full cumulative state, so appends are unaffected.

    One store commit replaces the floor partition with the fold,
    drops the older partitions and replaces ``retention``, so no crash
    can leave history gone without the floor recorded, or the floor
    half-folded. Returns the dropped partition values."""
    import os

    from pyspark.sql import Window as W

    from udacity_dend_capstone_immigration_spark.sources.writers import write_parquet

    snap_dir = f"{store}/snapshots"
    recover(store)
    days = sorted(
        e.split("=", 1)[1]
        for e in os.listdir(snap_dir)
        if e.startswith("feature_date=")
    )
    if len(days) <= keep_days:
        return []
    floor = days[-keep_days]
    old = [d for d in days if d < floor]
    back = spark.read.parquet(snap_dir).where(
        F.col("feature_date") <= F.lit(floor)
    )
    wl = W.partitionBy("user_id").orderBy(F.col("feature_date").desc())
    folded = (
        back.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select("user_id", "clicks_cum", "views_cum", "vsum_cum")
    )
    esc = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName
    )
    stage = begin(store)
    floor_part = f"snapshots/feature_date={esc(floor)}"
    write_parquet(folded, f"{stage}/{floor_part}")
    write_parquet(
        local_frame(spark, [(floor,)], "floor string"), f"{stage}/retention"
    )
    commit(
        store,
        stage,
        replace=[floor_part, "retention"],
        drop=[f"snapshots/feature_date={esc(d)}" for d in old],
    )
    return old


def read_feature_snapshots(spark, store: str, min_asof_day=None):
    """Serve-side snapshot scan with the retention contract: when the
    store carries a floor and the caller's earliest as-of probe day
    PRECEDES it, raise — an as-of at or after the floor is answered
    exactly (the fold carried every user's state into the floor
    partition), one before it would need the pruned history and would
    otherwise silently read as first-day zeros. Pass ``min_asof_day``
    (ISO string or date) from the label frame's bounded min; omit it
    for maintenance scans. Finishes any pending store commit first."""
    recover(store)
    if min_asof_day is not None:
        floor = feature_retention_floor(spark, store)
        if floor is not None and str(min_asof_day) < floor:
            raise ValueError(
                f"PIT probe at as-of day {min_asof_day} precedes the "
                f"store's retention floor {floor}: the snapshots that "
                "could answer it were pruned. Rebuild with a longer "
                "window or serve from a store with deeper retention."
            )
    return spark.read.parquet(f"{store}/snapshots")


# --- feature-store build roundtrip: the snapshots come BACK off the
# partitioned store and aggregate per PERSISTED partition value, so a
# layout error (row in the wrong date partition, partition-column
# round-trip loss) fails the hash, not just a value error. The oracle
# recomputes every snapshot from `events` — write ≡ recompute.
@query(
    "feature_store_build_roundtrip",
    oracle=f"""
    WITH {_FS_SNAP_CTES}
    SELECT CAST(d AS VARCHAR) AS feature_date,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(clicks_cum) AS BIGINT) AS clicks_checksum,
           CAST(SUM(views_cum) AS BIGINT) AS views_checksum,
           CAST(CAST(SUM(CAST(vsum_cum AS DECIMAL(28,10))) AS VARCHAR)
                AS DOUBLE) AS vsum_checksum
    FROM snap GROUP BY d
    """,
)
def feature_store_build_roundtrip(spark, sf_dir):
    store = build_feature_store(spark, sf_dir)
    return fs_roundtrip_agg(spark, store)


# --- PIT serving from the materialized store: every 'purchase' label
# event picks up the NEWEST snapshot STRICTLY BEFORE its day (as-of on
# asof_day = label_day − 1; the union-tag window join — one shuffle,
# no per-entity range blowup). Daily materialization trades event-level
# freshness (`events_pit_feature_assembly` is the exact-recency twin)
# for O(1) serve-time work per label at any event volume — the
# standard online/offline feature-store split. Missing history
# (first-day labels) surfaces as zeros, matching the assembly query's
# empty-frame semantics. The serve plan's feature side is a bare store
# scan (training-free); the oracle recomputes the snapshots and
# ASOF-joins them, so the hash proves store + as-of semantics together.
@query(
    "features_pit_served",
    oracle=f"""
    WITH {_FS_SNAP_CTES},
    lab AS (
        SELECT event_id, user_id, ts, CAST(ts AS DATE) AS d
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id, l.ts,
           COALESCE(s.clicks_cum, 0) AS clicks_cum,
           COALESCE(s.views_cum, 0) AS views_cum,
           COALESCE(s.vsum_cum, 0.0e0) AS vsum_cum
    FROM lab l ASOF LEFT JOIN snap s
        ON l.user_id = s.user_id AND l.d > s.d
    """,
)
def features_pit_served(spark, sf_dir):
    from udacity_dend_capstone_immigration_spark.operators.asof import asof_join

    # r16 (guide §1.2 "don't compute things you throw away"): serve from
    # the MEMOIZED store — this was the one *_served query still paying
    # its full training job (daily aggregate + cumulative window + 31
    # partitioned-write directories) on every invocation; every sibling
    # serve tier (ANN/dedup/BPE/DSIR) already goes through a
    # served_*_dir memo keyed on the source fingerprint. Warm serve
    # A/B at sf0.1: 3.79 → sub-second; values identical (the store is
    # read-only here and the build is bit-deterministic).
    store = served_feature_store_dir(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    labels = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.date_sub(F.col("ts").cast("date"), 1).alias("asof_day"),
    )
    # serve through the retention-floor gate (r15 advice): the label
    # frame's bounded min as-of day is a one-row eager decision; a
    # probe preceding a pruned store's floor raises LOUDLY here instead
    # of silently COALESCE-ing pre-floor features to zero below
    min_day = labels.agg(F.min("asof_day")).collect()[0][0]
    snaps = read_feature_snapshots(spark, store, min_asof_day=min_day).select(
        "user_id",
        F.to_date("feature_date").alias("fd"),
        "clicks_cum",
        "views_cum",
        "vsum_cum",
    )
    joined = asof_join(
        labels,
        snaps,
        "user_id",
        "user_id",
        "asof_day",
        "fd",
        payload=["clicks_cum", "views_cum", "vsum_cum"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("clicks_cum", F.lit(0).cast("bigint")).alias("clicks_cum"),
        F.coalesce("views_cum", F.lit(0).cast("bigint")).alias("views_cum"),
        F.coalesce("vsum_cum", F.lit(0.0)).alias("vsum_cum"),
    )


# --- incremental day-over-day append, proven against the FULL-REBUILD
# oracle (append ≡ rebuild — the standing store-lifecycle proof shape):
# the store is built through cutoff = max_day − 3, the last three days
# land one `append_feature_day` at a time (each O(day batch + touched
# user buckets) — the day joins the |users|-sized latest table, never
# the history), and the roundtrip aggregates the read-back snapshot
# partitions with the SAME oracle as the one-shot build. Decimal
# cumulative state in `latest` is what makes the hash achievable:
# double accumulation would drift one ulp per append. The distinct-day
# collect is bounded by the data's ~30-day span (eager-decision
# contract).
@query(
    "feature_store_append_roundtrip",
    oracle=ORACLES["feature_store_build_roundtrip"],
)
def feature_store_append_roundtrip(spark, sf_dir):
    days = sorted(
        r[0] for r in _fs_daily(spark, sf_dir).select("d").distinct().collect()
    )
    cutoff, tail = days[-4], days[-3:]
    store = build_feature_store(spark, sf_dir, cutoff=str(cutoff))
    for day in tail:
        append_feature_day(spark, store, sf_dir, str(day))
    return fs_roundtrip_agg(spark, store)


#: retention window for the registered prune roundtrip (and its oracle)
_FS_KEEP_DAYS = 5

# --- prune roundtrip (r15 — the retention fold gets an OFFICIAL driver
# row, not just unit pins): build, prune to the last _FS_KEEP_DAYS
# active days, aggregate the read-back store per PERSISTED partition.
# The oracle recomputes every snapshot from events AND the fold from
# scratch: days after the floor unchanged, the floor partition = each
# user's newest state at-or-before the floor — so the hash proves the
# fold carried exactly the right rows into exactly the right partition
# (a fold row landing on any other day, or a second-newest state
# chosen, fails the hash; the latter is precisely the corruption a
# torn floor rewrite would leave, which the store commit rules out).
@query(
    "feature_store_prune_roundtrip",
    oracle=f"""
    WITH {_FS_SNAP_CTES},
    fd AS (
        SELECT d AS floor_d FROM (SELECT DISTINCT d FROM snap)
        ORDER BY d DESC LIMIT 1 OFFSET {_FS_KEEP_DAYS - 1}
    ),
    folded AS (
        SELECT user_id, (SELECT floor_d FROM fd) AS d,
               clicks_cum, views_cum, vsum_cum
        FROM (
            SELECT s.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY d DESC) AS rn
            FROM snap s WHERE d <= (SELECT floor_d FROM fd)
        ) WHERE rn = 1
    ),
    pruned AS (
        SELECT user_id, d, clicks_cum, views_cum, vsum_cum FROM snap
        WHERE d > (SELECT floor_d FROM fd)
        UNION ALL
        SELECT user_id, d, clicks_cum, views_cum, vsum_cum FROM folded
    )
    SELECT CAST(d AS VARCHAR) AS feature_date,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(clicks_cum) AS BIGINT) AS clicks_checksum,
           CAST(SUM(views_cum) AS BIGINT) AS views_checksum,
           CAST(CAST(SUM(CAST(vsum_cum AS DECIMAL(28,10))) AS VARCHAR)
                AS DOUBLE) AS vsum_checksum
    FROM pruned GROUP BY d
    """,
)
def feature_store_prune_roundtrip(spark, sf_dir):
    """build → prune(keep_days={_FS_KEEP_DAYS}) → per-persisted-partition
    checksum aggregate (`fs_roundtrip_agg`, shared with the build /
    append / streaming lifecycle queries). Also asserts the loud-floor
    marker landed and the serve gate honors it."""
    store = build_feature_store(spark, sf_dir)
    dropped = prune_feature_snapshots(spark, store, keep_days=_FS_KEEP_DAYS)
    assert dropped, "prune found nothing to drop — testdata shrank below the window"
    floor = feature_retention_floor(spark, store)
    assert floor is not None and floor > dropped[-1]
    return fs_roundtrip_agg(spark, store)
