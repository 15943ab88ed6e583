"""Window-function queries (SURVEY.md §2 W): raster normalization
(eq_hist / log / cbrt / linear) + the full ranking/lag surface on the
events table.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from shadems_spark.catalog import load_table
from shadems_spark.operators import normalize as N
from shadems_spark.operators import raster as R
from shadems_spark.queries import register
from shadems_spark.queries.core import PRICE_RANGE, TIME_RANGE
from shadems_spark.vis import vis_sql_from, vis_view

_VIS = vis_sql_from("lineitem")
_BX = R.bin_axis_sql("time_day", *TIME_RANGE, 32)
_BY = R.bin_axis_sql("re", *PRICE_RANGE, 32)
_CLIP = (
    f"time_day BETWEEN {TIME_RANGE[0]!r} AND {TIME_RANGE[1]!r} "
    f"AND re BETWEEN {PRICE_RANGE[0]!r} AND {PRICE_RANGE[1]!r}"
)
_BINNED = f"""
    (SELECT {_BY} AS by, {_BX} AS bx, count(*) AS val
     FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2)
"""


def _binned(spark, sf_dir):
    return R.raster(
        vis_view(load_table(spark, sf_dir, "lineitem")),
        F.col("time_day").cast("double"),
        F.col("vis.re"),
        TIME_RANGE,
        PRICE_RANGE,
        32,
        32,
    )


@register(
    "q_eq_hist",
    sql=f"""
    SELECT by, bx, val, round(cume_dist() OVER (ORDER BY val), 6) AS shade
    FROM {_BINNED} b
    """,
)
def q_eq_hist(spark, sf_dir):
    """W1: eq_hist normalization over the binned raster."""
    out = N.eq_hist(_binned(spark, sf_dir))
    return out.withColumn("shade", F.round("shade", 6))


@register(
    "q_norms",
    sql=f"""
    SELECT by, bx, val,
           round((ln(1.0 + CAST(val AS DOUBLE)) - min(ln(1.0 + CAST(val AS DOUBLE))) OVER ())
                 / (max(ln(1.0 + CAST(val AS DOUBLE))) OVER () - min(ln(1.0 + CAST(val AS DOUBLE))) OVER ()), 6) AS shade_log,
           round((cbrt(CAST(val AS DOUBLE)) - min(cbrt(CAST(val AS DOUBLE))) OVER ())
                 / (max(cbrt(CAST(val AS DOUBLE))) OVER () - min(cbrt(CAST(val AS DOUBLE))) OVER ()), 6) AS shade_cbrt,
           round((CAST(val AS DOUBLE) - min(CAST(val AS DOUBLE)) OVER ())
                 / (max(CAST(val AS DOUBLE)) OVER () - min(CAST(val AS DOUBLE)) OVER ()), 6) AS shade_linear
    FROM {_BINNED} b
    """,
)
def q_norms(spark, sf_dir):
    """W2: log / cbrt / linear normalizations rescaled to [0,1] —
    all three scales' min/max ride ONE 1-row broadcast aggregate of
    the binned raster (three per-scale passes would each carry their
    own aggregate branch of the raster lineage); same formulas as the
    renderer's driver-side shading (render.shade_values)."""
    out = _binned(spark, sf_dir)
    v = F.col("val").cast("double")
    exprs = {
        "shade_log": F.log(F.lit(1.0) + v),
        "shade_cbrt": F.cbrt(v),
        "shade_linear": v,
    }
    mm = out.agg(
        *[
            a
            for name, t in exprs.items()
            for a in (
                F.min(t).alias(f"__lo_{name}"),
                F.max(t).alias(f"__hi_{name}"),
            )
        ]
    )
    scaled = out.crossJoin(F.broadcast(mm))
    return scaled.select(
        "by",
        "bx",
        "val",
        *[
            F.round(
                (t - F.col(f"__lo_{name}"))
                / (F.col(f"__hi_{name}") - F.col(f"__lo_{name}")),
                6,
            ).alias(name)
            for name, t in exprs.items()
        ],
    )


@register(
    "q_eq_hist_interp",
    sql=f"""
    WITH b AS (SELECT * FROM {_BINNED} t),
    mm AS (SELECT min(CAST(val AS DOUBLE)) AS lo, max(CAST(val AS DOUBLE)) AS hi
           FROM b),
    kb AS (SELECT by, bx, CAST(val AS DOUBLE) AS v FROM b),
    hist AS (SELECT CAST(least(greatest(floor((v - lo) / ((hi - lo) / 64.0)), 0), 63)
                         AS INT) AS k, count(*) AS h
             FROM kb, mm GROUP BY 1),
    dense AS (SELECT CAST(i AS INT) AS k, coalesce(h, 0) AS h
              FROM range(64) t(i) LEFT JOIN hist ON hist.k = i),
    cdf AS (SELECT k, sum(h) OVER (ORDER BY k)
                       / CAST((SELECT count(*) FROM b) AS DOUBLE) AS cdf
            FROM dense),
    seg AS (SELECT k, cdf AS cdf_k, lead(cdf) OVER (ORDER BY k) AS cdf_next
            FROM cdf),
    sj AS (SELECT by, bx, v,
                  CAST(least(greatest(floor((v - (lo + (hi - lo) * 0.0078125))
                                            / ((hi - lo) / 64.0)), 0), 62)
                       AS INT) AS j,
                  lo, hi
           FROM kb, mm)
    SELECT by, bx, CAST(v AS BIGINT) AS val,
           round(cdf_k
                 + least(greatest((v - ((lo + (hi - lo) * 0.0078125)
                                        + j * ((hi - lo) / 64.0)))
                                  / ((hi - lo) / 64.0), 0), 1)
                   * (coalesce(cdf_next, cdf_k) - cdf_k), 6) AS shade
    FROM sj JOIN seg ON seg.k = sj.j
    """,
)
def q_eq_hist_interp(spark, sf_dir):
    """W1 interpolation variant (operators/normalize.py::
    eq_hist_interp): datashader's binned-histogram eq_hist — 64-bin
    CDF at bin centers, piecewise-linear interpolation per pixel —
    vs q_eq_hist's exact empirical CDF.  Deterministic arithmetic
    end-to-end, so the interpolation itself is hash-exact against
    the unrolled SQL mirror."""
    out = N.eq_hist_interp(_binned(spark, sf_dir), n_bins=64)
    return out.select(
        "by", "bx", "val", F.round("shade", 6).alias("shade")
    )


@register(
    "q_rank",
    sql="""
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
           rank() OVER (PARTITION BY user_id ORDER BY event_type) AS rk,
           dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drk
    FROM events WHERE user_id % 7 = 0
    """,
)
def q_rank(spark, sf_dir):
    """W4: ranking family over event streams per user."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    wt = Window.partitionBy("user_id").orderBy(F.expr("ts_ns div 1000"), "event_id")
    we = Window.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(wt).alias("rn"),
        F.rank().over(we).alias("rk"),
        F.dense_rank().over(we).alias("drk"),
    )


@register(
    "q_lag",
    sql="""
    SELECT event_id, user_id,
           lag(value)  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS roll3
    FROM events WHERE user_id % 7 = 0
    """,
)
def q_lag(spark, sf_dir):
    """W4: lag/lead + a bounded rows-frame rolling sum."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = Window.partitionBy("user_id").orderBy(F.expr("ts_ns div 1000"), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.sum("value").over(w.rowsBetween(-2, 0)), 2).alias("roll3"),
    )


@register(
    "q_window_battery",
    sql=f"""
    SELECT row_key, line_no, corr_label,
           CAST(ntile(4) OVER w AS INT) AS tile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist,
           first_value(u) OVER w AS first_u,
           lead(u, 2) OVER w AS lead_u,
           round(avg(u) OVER (PARTITION BY corr_label ORDER BY row_key, line_no, u
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_u
    FROM {_VIS} v WHERE row_key % 20 = 0
    WINDOW w AS (PARTITION BY corr_label ORDER BY row_key, line_no, u)
    """,
)
def q_window_battery(spark, sf_dir):
    """W4 extended: the remaining ranking/frame surface in one query —
    ntile, percent_rank, cume_dist, first_value, lead, and an explicit
    ROWS-frame rolling mean.  The ordering key includes ``u`` because
    the fixture carries duplicate (row_key, line_no) pairs with
    different values — rows still tying after ``u`` are identical in
    every selected column, so ROWS-frame outputs agree as multisets
    and the oracle reproduces them exactly."""
    v = vis_view(load_table(spark, sf_dir, "lineitem")).filter(F.col("row_key") % 20 == 0)
    w = Window.partitionBy("corr_label").orderBy("row_key", "line_no", "u")
    roll = w.rowsBetween(-2, Window.currentRow)
    return v.select(
        "row_key",
        "line_no",
        "corr_label",
        F.ntile(4).over(w).alias("tile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("u").over(w).alias("first_u"),
        F.lead("u", 2).over(w).alias("lead_u"),
        F.round(F.avg("u").over(roll), 4).alias("roll_u"),
    )


@register(
    "q_scd2",
    sql="""
    WITH e AS (SELECT user_id, event_type, event_id,
                      epoch_us(ts) AS ts_us
               FROM events WHERE user_id < 20),
    seg AS (SELECT *,
                   lag(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
            FROM e),
    starts AS (SELECT user_id, event_type, ts_us FROM seg
               WHERE prev IS NULL OR prev != event_type)
    SELECT user_id, event_type, ts_us AS valid_from,
           lead(ts_us) OVER
             (PARTITION BY user_id ORDER BY ts_us) AS valid_to
    FROM starts
    """,
)
def q_scd2(spark, sf_dir):
    """SCD-type-2 history build: collapse each user's event_type
    stream into change segments with [valid_from, valid_to) intervals
    — two lag/lead windows, both partitioned by user_id, so every
    shuffle is the natural per-entity key and state never exceeds one
    user's history per task."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = ev.select(
        "user_id", "event_type", "event_id", ts_us.alias("ts_us")
    ).withColumn("prev", F.lag("event_type").over(w))
    starts = seg.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us")
    return starts.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from"),
        F.lead("ts_us").over(w2).alias("valid_to"),
    )


@register(
    "q_outliers",
    sql="""
    WITH med AS (SELECT event_type,
                        quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS ad
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT d.event_id, d.event_type,
           round(d.value, 4) AS value,
           round(d.ad / m.mad, 4) AS score
    FROM dev d JOIN mad m USING (event_type)
    WHERE d.ad > 6 * m.mad
    """,
)
def q_outliers(spark, sf_dir):
    """Robust outlier detection: |value - median| > 6 * MAD per event
    type.  Two tiny per-type aggregates (exact interpolated
    percentile on both engines) broadcast back onto the fact scan —
    the fact table shuffles only for the percentile itself, and a
    t-digest/approx swap keeps even that map-side at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("ad") > 6 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(F.col("ad") / F.col("mad"), 4).alias("score"),
        )
    )


@register(
    "q_range_frame",
    sql="""
    SELECT event_id, user_id, ts_us,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
             AS rolling_1h,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS n_1h
    FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events WHERE user_id < 10)
    """,
)
def q_range_frame(spark, sf_dir):
    """RANGE-frame window (value-based, not row-based): per-user
    rolling 1-hour sum/count over event time — the frame the ROWS
    battery can't express when events are irregularly spaced.  Keyed
    on user_id, so frame state per task is one user's hour of
    events.  ts in integer µs (epoch arithmetic identical on both
    engines; duplicate timestamps make ROWS ambiguous but RANGE
    well-defined)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    base = ev.select(
        "event_id", "user_id", F.expr("ts_ns div 1000").alias("ts_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.round(F.sum("value").over(w), 2).alias("rolling_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@register(
    "q_winsorized",
    sql="""
    WITH s AS (SELECT event_type, value, event_id FROM events
               WHERE value IS NOT NULL),
    r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM s),
    b AS (SELECT event_type, max(n) AS n,
                 max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                          THEN value END) AS lo,
                 max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                          THEN value END) AS hi
          FROM r GROUP BY 1),
    w AS (SELECT r.event_type, b.n, b.lo, b.hi,
                 CAST(round(value * 1000000000.0) AS BIGINT) AS v_nano,
                 CAST(round(least(greatest(value, b.lo), b.hi)
                            * 1000000000.0) AS BIGINT) AS wz_nano,
                 CASE WHEN rn > CAST(ceil(0.05 * b.n) AS BIGINT)
                       AND rn <= CAST(ceil(0.95 * b.n) AS BIGINT)
                      THEN 1 ELSE 0 END AS kept
          FROM r JOIN b USING (event_type))
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           round(max(lo), 6) AS p05, round(max(hi), 6) AS p95,
           round(sum(v_nano) / (max(n) * 1000000000.0), 6) AS mean_raw,
           round(sum(wz_nano) / (max(n) * 1000000000.0), 6) AS mean_winsor,
           CAST(sum(kept) AS BIGINT) AS n_trimmed,
           round(sum(CASE WHEN kept = 1 THEN v_nano ELSE 0 END)
                 / (sum(kept) * 1000000000.0), 6) AS mean_trimmed
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def q_winsorized(spark, sf_dir):
    """Winsorized and trimmed means per event type at the exact
    5th/95th order statistics — the robust-location battery beside
    q_outliers' MAD z-scores: winsorizing clamps the tails (keeps n),
    trimming drops them (keeps the middle 90%) — the difference
    between the two and the raw mean IS the tail-influence
    diagnostic.

    Exactness: cut points are exact order statistics under the
    deterministic (value, event_id) order (rank ceil(0.05n) /
    ceil(0.95n) — no interpolating percentile whose definition could
    differ between engines); every clamped/kept value is nano-int
    rounded before its group sum; means are one division each.
    Scale: one per-type rank window (the per-group-cardinality
    shuffle), then a 5-key aggregate; at 100 TB swap exact ranks for
    KLL cutpoints and keep the clamp/filter pass identical."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = ev.select("event_type", "value", "event_id")
    wp = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = s.select(
        "event_type", "value",
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.05 * F.col("n")).cast("long"),
                F.col("value"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("value"),
            )
        ).alias("hi"),
    )
    w = r.join(F.broadcast(b.withColumnRenamed("n", "nb")), "event_type").select(
        "event_type", "nb", "lo", "hi",
        F.round(F.col("value") * 1000000000.0).cast("long").alias("v_nano"),
        F.round(
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
            * 1000000000.0
        ).cast("long").alias("wz_nano"),
        (
            (F.col("rn") > F.ceil(0.05 * F.col("nb")).cast("long"))
            & (F.col("rn") <= F.ceil(0.95 * F.col("nb")).cast("long"))
        ).cast("long").alias("kept"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.max("nb").alias("n_"),
            F.round(F.max("lo"), 6).alias("p05"),
            F.round(F.max("hi"), 6).alias("p95"),
            F.round(
                F.sum("v_nano") / (F.max("nb") * 1000000000.0), 6
            ).alias("mean_raw"),
            F.round(
                F.sum("wz_nano") / (F.max("nb") * 1000000000.0), 6
            ).alias("mean_winsor"),
            F.sum("kept").alias("n_trimmed"),
            F.round(
                F.sum(F.when(F.col("kept") == 1, F.col("v_nano")).otherwise(0))
                / (F.sum("kept") * 1000000000.0),
                6,
            ).alias("mean_trimmed"),
        )
        .select(
            "event_type",
            F.col("n_").cast("long").alias("n"),
            "p05", "p95", "mean_raw", "mean_winsor",
            F.col("n_trimmed").cast("long").alias("n_trimmed"),
            "mean_trimmed",
        )
        .orderBy("event_type")
    )
