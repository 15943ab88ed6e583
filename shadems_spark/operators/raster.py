"""2-D binned aggregation — the datashader-canvas analogue.

The reference's physical aggregation engine is datashader's
``Canvas(W, H, x_range, y_range).points(ddf, x, y, agg=...)``:
per-partition numba-compiled binned partial aggregates, tree-combined
([R] shade_ms/data_plots.py::create_plot ≈L60-260; SURVEY.md §3.3).
That is exactly Spark's partial/final hash aggregate, so the whole
raster layer is groupBy over computed bin keys — no UDFs, no custom
partitioning.  The shuffle is inherently tiny: ≤ W·H·ncat keys
regardless of input size, which is why this plan scales to 100 TB by
construction (SURVEY.md §4).

Bin semantics (must match the oracle SQL exactly — SURVEY.md §7
risks): half-open bins, out-of-range rows dropped, the max value
clamped into the last bin:

    bx = least(W-1, floor((x - lo) / (hi - lo) * W))   for lo<=x<=hi

:func:`bin_axis` is that formula's one Spark spelling
(:func:`bin_axis_sql` its DuckDB twin), and :func:`grid_raster` the one
binning plan: the CLI's grids, the registry's :func:`raster` and
``ShadePlot``'s plots and facet writes are all grid sample tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shadems_spark.operators.selection import drop_nonfinite

#: reduction name -> aggregate builder over a value column (G2-G5).
#: datashader's std is population std -> stddev_pop.
REDUCTIONS = {
    "count": lambda v: F.count(F.lit(1)),
    "sum": lambda v: F.sum(v),
    "mean": lambda v: F.avg(v),
    "min": lambda v: F.min(v),
    "max": lambda v: F.max(v),
    "std": lambda v: F.stddev_pop(v),
    # r4: the rest of datashader's order-free reduction set ([R]
    # ds.reductions; shadeMS --ared).  var is population variance like
    # std; any marks pixel occupancy (1 where any non-null sample
    # landed).  first/last/mode are deliberately absent: they depend
    # on row order, which a distributed scan does not define.
    "var": lambda v: F.var_pop(v),
    "any": lambda v: F.max(F.when(v.isNotNull(), 1).otherwise(0)),
}


def bin_axis(col: Column, lo: float | Column, hi: float | Column, n: int) -> Column:
    """G1: pixel index of ``col`` on an n-bin axis over [lo, hi] — the
    one bin expression of every Spark raster.  Bounds are literals or
    Columns (:func:`grid_raster`'s per-plot ranges).  A zero-width axis
    (a constant column, hi <= lo) divides by 1, so its rows, clipped to
    [lo, hi] first, all bin to 0."""
    lo, hi = F.lit(lo), F.lit(hi)
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    return F.least(F.lit(n - 1).cast("long"), F.floor((col - lo) / span * n))


def bin_axis_sql(expr: str, lo: float, hi: float, n: int) -> str:
    """The formula-identical DuckDB fragment for :func:`bin_axis`."""
    if hi <= lo:
        return "CAST(0 AS BIGINT)"
    return (
        f"least(CAST({n - 1} AS BIGINT), "
        f"CAST(FLOOR(({expr} - {lo!r}) / ({hi!r} - {lo!r}) * {n}) AS BIGINT))"
    )


def clip(df: DataFrame, col: Column, lo: float, hi: float) -> DataFrame:
    """F7 range clipping: rows outside [lo, hi] fall off the canvas."""
    return df.filter(col.between(F.lit(lo), F.lit(hi)))


def minmax(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """G6: the batched bounds pre-pass ([R] data_plots.py::
    compute_bounds) — ONE job computing every unknown limit.  A
    grouped ``df`` (``df.groupBy(key)``) gives one row per group."""
    aggs = []
    for name, c in cols.items():
        aggs.append(F.min(c).alias(f"{name}_min"))
        aggs.append(F.max(c).alias(f"{name}_max"))
    return df.agg(*aggs)


def robust_bounds(
    df: DataFrame, cols: dict[str, Column], q: float = 0.02
) -> DataFrame:
    """Robust-limits mode (SURVEY.md §4 optional extension): axis
    bounds from the [q, 1-q] quantiles instead of min/max, so a single
    cosmic-ray sample can't stretch the canvas to uselessness.

    Same single-job batched shape as :func:`minmax` —
    percentile_approx is a mergeable sketch (partial/final aggregate),
    so the pass stays one scan + O(sketch) shuffle at any input size;
    exact percentile would need a full sort per axis."""
    aggs = []
    for name, c in cols.items():
        aggs.append(F.percentile_approx(c, q, 10000).alias(f"{name}_min"))
        aggs.append(F.percentile_approx(c, 1.0 - q, 10000).alias(f"{name}_max"))
    return df.agg(*aggs)


def raster(
    df: DataFrame,
    x: Column,
    y: Column,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    width: int,
    height: int,
    aggs: dict[str, Column] | None = None,
    category: Column | None = None,
) -> DataFrame:
    """G1-G5: the canvas aggregation of one plot with fixed ranges —
    the registry's raster operator, binned as a one-plot
    :func:`grid_raster`, so it shares the CLI's plan.  ``aggs``
    ({name: aggregate}, default ``{"val": count}``) are over the
    columns of ``df``, which ride along with every sample.

    Returns the binned table (by, bx[, cat], *aggs), unordered; ``by``
    and ``bx`` are int, as :func:`grid_raster` gives them.
    """
    cols = {c: df[c] for c in df.columns}
    keys = ("cat",) if category is not None else ()
    if category is not None:
        cols["cat"] = category
    samples = grid_samples(df, [(x, y, False)], cols)
    return grid_raster(
        samples, {0: (x_range, y_range)}, width, height, aggs=aggs, keys=keys,
    ).select("by", "bx", *keys, *(aggs or ("val",)))


def grid_samples(
    df: DataFrame,
    combos: list[tuple[Column, Column, bool]],
    cols: dict[str, Column] | None = None,
) -> DataFrame:
    """The sample table of a grid of N plots ([R] main.py axis-list
    loop, SURVEY.md §4 axis-dedup): each row explodes into one
    (p, xv, yv) sample per plot p, so N plots read ONE scan.

    Each combo is (x Column, y Column, mirror) — ``mirror=True`` adds
    the conjugate (-x, -y) sample per row (the u/v symmetry fill), as
    an extra array element rather than a union, so the mirror costs no
    second scan either.  ``cols`` ({name: Column}) ride along with
    every sample of their row; non-finite samples are dropped (F8).
    """
    elems = []
    for i, (x, y, mirror) in enumerate(combos):
        xd, yd = x.cast("double"), y.cast("double")
        elems.append(
            F.struct(F.lit(i).alias("p"), xd.alias("xv"), yd.alias("yv"))
        )
        if mirror:
            elems.append(
                F.struct(
                    F.lit(i).alias("p"),
                    (-xd).alias("xv"), (-yd).alias("yv"),
                )
            )
    cols = cols or {}
    pts = df.select(F.explode(F.array(*elems)).alias("e"), *(c.alias(n) for n, c in cols.items()))
    return drop_nonfinite(pts.select("e.*", *cols), F.col("xv"), F.col("yv"))


def grid_raster(
    samples: DataFrame,
    ranges: dict[int, tuple[tuple[float, float], tuple[float, float]]],
    width: int,
    height: int,
    aggs: dict[str, Column] | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The canvas aggregation of every plot of a :func:`grid_samples`
    table as ONE groupBy: each sample bins against its plot's
    ``ranges[p] = ((xlo, xhi), (ylo, yhi))``, indexed out of literal
    arrays, so the plan scans the source once whatever the grid size
    and the shuffle stays ≤ N·W·H·|keys| rows.  ``ranges`` holds
    every plot that has a sample (``ShadePlot.bounds``); a plot without
    one needs no range.  ``aggs`` ({name: aggregate over the sample
    columns}, default ``{"val": count}``, see :data:`REDUCTIONS`) are
    the per-pixel columns.

    Returns the binned table (p, *keys, by, bx, *aggs), unordered: its
    consumer splits it by plot on the driver.  ``p``, ``by`` and ``bx``
    are int (a pixel index of any canvas fits), so a fetched row costs
    20 bytes of Arrow (with a long count ``val``), not 28.
    """
    aggs = aggs or {"val": REDUCTIONS["count"](None)}
    n = max(ranges, default=-1) + 1

    def lits(axis: int, end: int) -> Column:
        return F.element_at(
            F.array(*[
                F.lit(float(ranges[i][axis][end]) if i in ranges else 0.0)
                for i in range(n)
            ]),
            F.col("p") + 1,
        )

    (xlo, xhi), (ylo, yhi) = (lits(0, 0), lits(0, 1)), (lits(1, 0), lits(1, 1))
    # the groupBy keys on one long pixel id, (p*H + by)*W + bx, decoded
    # after the aggregate: one hashed key instead of three
    pix = (
        F.col("p").cast("long") * height + bin_axis(F.col("yv"), ylo, yhi, height)
    ) * width + bin_axis(F.col("xv"), xlo, xhi, width)
    binned = (
        samples.filter(
            F.col("xv").between(xlo, xhi) & F.col("yv").between(ylo, yhi)
        )
        .groupBy(pix.alias("pix"), *keys)
        .agg(*(a.alias(name) for name, a in aggs.items()))
    )
    return binned.select(
        F.expr(f"cast(pix div {width * height} as int)").alias("p"), *keys,
        F.expr(f"cast(pix div {width} % {height} as int)").alias("by"),
        F.expr(f"cast(pix % {width} as int)").alias("bx"), *aggs,
    )
