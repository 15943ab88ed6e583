"""Engine-side eq_hist — the tf.shade(how="eq_hist") analogue as
registry operators (SURVEY.md §2 W; q_eq_hist, q_eq_hist_interp),
applied to the *binned* table, not raw rows ([R]
shade_ms/data_plots.py::create_plot shading ≈L200-300).

The plot path does not run these: the renderer collects the
canvas-bounded binned table once and shades it on the driver
(render.shade_values), with ``eq_hist`` here as the reference its
tests compare against.  Every pass is WINDOW-FREE (VERDICT r7 #5):
global min/max ride a 1-row broadcast aggregate, CDFs ride the
broadcast triangle join (profile.triangle_cumsum, the q_lorenz
pattern), so no single-partition WindowExec exists in either operator
and driver gate tails stay free of 'No Partition Defined' WARNs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _minmax(binned: DataFrame, expr):
    """The whole-frame min/max (``__lo``, ``__hi``) as a 1-row broadcast
    crossJoin — the window-free replacement for min/max OVER ()."""
    return F.broadcast(binned.agg(F.min(expr).alias("__lo"), F.max(expr).alias("__hi")))


def eq_hist(binned: DataFrame, val: str = "val", out: str = "shade") -> DataFrame:
    """W1: histogram equalization — each non-empty pixel mapped to its
    empirical CDF rank (datashader's default for counts).  Ties get
    identical shade, matching the empirical-CDF definition over
    non-empty pixels (cume_dist semantics: count(<= v) / N, the same
    two longs divided, so values are bit-identical to the window
    form).  Plan: distinct-value counts -> broadcast triangle cumsum
    -> broadcast join back on the value; no WindowExec."""
    from shadems_spark.operators.profile import triangle_cumsum

    # "__cnt"/"__tot", never "__n"/"__N": Spark's resolver is
    # case-insensitive, so those two names COLLIDE after the crossJoin
    d = binned.groupBy(F.col(val).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    cum = triangle_cumsum(d, ["__v"], {"__cum": "__cnt"})
    tot = d.agg(F.sum("__cnt").cast("long").alias("__tot"))
    cdf = cum.crossJoin(F.broadcast(tot)).select(
        "__v", (F.col("__cum") / F.col("__tot").cast("double")).alias(out)
    )
    return binned.join(F.broadcast(cdf), F.col(val) == F.col("__v")).drop("__v")


def eq_hist_interp(
    binned: DataFrame, val: str = "val", out: str = "shade", n_bins: int = 64
) -> DataFrame:
    """W1 interpolation variant: datashader's ACTUAL eq_hist for
    non-integer data — an n_bins histogram over [lo, hi], the CDF
    evaluated at bin centers, and each pixel shaded by PIECEWISE-
    LINEAR interpolation between the two neighboring center points
    (np.interp semantics, clamped at both ends).  Distinct from
    ``eq_hist`` above (exact empirical CDF): ties get identical shade
    in both, but values BETWEEN histogram centers grade smoothly here
    instead of stepping — the subtlety that separates the two on
    float-valued aggregates (mean/std rasters).

    Deterministic, engine-replayable arithmetic throughout (bin
    index, cumsum over a DENSE generated bin axis, one clamp) — so
    unlike a sketch this interpolation carries an exact SQL oracle.
    Scale: the histogram is an n_bins-row aggregate of the (already
    bounded) raster; the CDF is a triangle cumsum over the dense bin
    axis; the shade pass is one broadcast join against the segment
    table.  Window-free end to end."""
    from shadems_spark.operators.profile import triangle_cumsum

    v = F.col(val).cast("double")
    withbin = binned.crossJoin(_minmax(binned, v))
    lo, hi = F.col("__lo"), F.col("__hi")
    step = (hi - lo) / F.lit(float(n_bins))
    k = F.least(
        F.greatest(F.floor((v - lo) / step), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    withbin = withbin.withColumn(
        "__k", F.when(hi == lo, F.lit(0)).otherwise(k)
    )
    hist = withbin.groupBy("__k").agg(F.count(F.lit(1)).alias("h"))
    dense = (
        binned.sparkSession.range(n_bins)
        .select(F.col("id").cast("int").alias("__k"))
        .join(hist, "__k", "left")
        .select("__k", F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("h"))
    )
    tot = dense.agg(F.sum("h").cast("long").alias("__N"))
    cdf = (
        triangle_cumsum(dense, ["__k"], {"__cum": "h"})
        .crossJoin(F.broadcast(tot))
        .select(
            "__k", (F.col("__cum") / F.col("__N").cast("double")).alias("cdf")
        )
    )
    # lead(cdf) over the dense axis == the k+1 row's cdf: a shifted
    # self-join (left -> null at the last bin, exactly lead's default)
    nxt = cdf.select(
        (F.col("__k") - 1).cast("int").alias("__k"),
        F.col("cdf").alias("cdf_next"),
    )
    seg = cdf.select(F.col("__k"), F.col("cdf").alias("cdf_k")).join(
        nxt, "__k", "left"
    )
    # interp segment j = clamp(floor((v - c_0)/step), 0, n_bins-2);
    # t clamped to [0,1] gives np.interp's end behavior for free
    c0 = lo + (hi - lo) * F.lit(0.5 / n_bins)
    stp = (hi - lo) / F.lit(float(n_bins))
    j = F.least(
        F.greatest(F.floor((v - c0) / stp), F.lit(0)), F.lit(n_bins - 2)
    ).cast("int")
    t = F.least(
        F.greatest((v - (c0 + j.cast("double") * stp)) / stp, F.lit(0.0)),
        F.lit(1.0),
    )
    shaded = (
        withbin.withColumn("__j", F.when(hi == lo, F.lit(0)).otherwise(j))
        .join(F.broadcast(seg.withColumnRenamed("__k", "__j")), "__j")
        .withColumn(
            out,
            F.when(hi == lo, F.lit(1.0)).otherwise(
                F.col("cdf_k")
                + t * (F.coalesce(F.col("cdf_next"), F.col("cdf_k")) - F.col("cdf_k"))
            ),
        )
    )
    return shaded.drop("__lo", "__hi", "__k", "__j", "cdf_k", "cdf_next")
