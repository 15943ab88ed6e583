"""The shadeMS plot lifecycle as a two-job Spark plan.

Mirrors [R] shade_ms/main.py + data_plots.py (SURVEY.md §3.1): axis
registration -> selection -> (job 1) batched min/max bounds pass when
limits are unset ([R] compute_bounds) -> (job 2) binned canvas
aggregation ([R] create_plot).  :meth:`ShadePlot.run` and
:meth:`ShadePlot.run_faceted` bin with the registry operator
``raster.raster``; the CLI uses :meth:`ShadePlot.bounds` alone, over a
grid sample table that ``raster.grid_raster`` then bins.  The binned
result (≤ W·H·ncat rows) is what a renderer consumes; collecting it
to the driver is the PNG-sink analogue and is cheap by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shadems_spark.operators import raster as R


@dataclass
class ShadePlot:
    """One plot spec = one logical query (axes, ranges, reduction).

    ``x``/``y`` are arbitrary Column expressions (the DataMapper
    output, SURVEY.md §2 B); ``category`` is the --colour-by axis;
    ``reduction``/``value`` the --ared/--aaxis pair.
    """

    x: Column
    y: Column
    width: int = 256
    height: int = 256
    #: (lo, hi); a None end (or range) comes from the bounds job
    x_range: tuple[float | None, float | None] | None = None
    y_range: tuple[float | None, float | None] | None = None
    reduction: str = "count"
    value: Column | None = None
    category: Column | None = None
    #: robust=True: bounds from 2%/98% quantile sketches instead of
    #: min/max — outlier samples can't stretch the canvas (§4 ext).
    robust: bool = False
    _bounds: dict = field(default_factory=dict, repr=False)

    def bounds(self, df: DataFrame, plots: int | None = None):
        """Job 1 — only runs if a limit is unset; every unset limit is
        batched into one aggregate ([R] compute_bounds batches all
        unknown limits into a single dask compute).  Returns
        ((xlo, xhi), (ylo, yhi)).

        With ``plots``, ``df`` is a grid sample table of that many
        plots (``raster.grid_samples``) and the one job groups by its
        plot column: returns {p: ranges} for every plot with a sample,
        or for every plot when every limit is given and no job runs."""
        lim = (*(self.x_range or (None, None)), *(self.y_range or (None, None)))
        if None not in lim:
            ranges = (lim[:2], lim[2:])
            return ranges if plots is None else dict.fromkeys(range(plots), ranges)

        def resolve(row):
            got = [row[f"{a}_{end}"] for a in "xy" for end in ("min", "max")]
            xlo, xhi, ylo, yhi = (float(g) if v is None else v for v, g in zip(lim, got))
            return (xlo, xhi), (ylo, yhi)

        pass_fn = R.robust_bounds if self.robust else R.minmax
        cols = {"x": self.x, "y": self.y}
        if plots is None:
            return resolve(pass_fn(df, cols).first())
        return {r["p"]: resolve(r) for r in pass_fn(df.groupBy("p"), cols).collect()}

    def run(self, df: DataFrame) -> DataFrame:
        """Job 2 — the canvas aggregation; returns the binned table."""
        xr, yr = self.bounds(df)
        return R.raster(
            df,
            self.x,
            self.y,
            xr,
            yr,
            self.width,
            self.height,
            reduction=self.reduction,
            value=self.value,
            category=self.category,
        )

    def run_faceted(self, df: DataFrame, facet_keys: list[str], out_path: str) -> None:
        """A7/iteration (--iter-field/--iter-scan...): ONE plan whose
        groupBy includes the facet keys, written partitioned — the
        one-PNG-per-group loop without per-group jobs (scales to any
        number of facets in a single shuffle)."""
        xr, yr = self.bounds(df)
        binned = (
            R.clip(R.clip(df, self.x, *xr), self.y, *yr)
            .withColumn("bx", R.bin_axis(self.x, xr[0], xr[1], self.width))
            .withColumn("by", R.bin_axis(self.y, yr[0], yr[1], self.height))
            .groupBy(*facet_keys, "by", "bx")
            .agg(R.REDUCTIONS[self.reduction](self.value).alias("val"))
        )
        binned.write.mode("overwrite").partitionBy(*facet_keys).parquet(out_path)
