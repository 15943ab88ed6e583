"""The shadeMS plot lifecycle as a two-job Spark plan.

Mirrors [R] shade_ms/main.py + data_plots.py (SURVEY.md §3.1): axis
registration -> selection -> (job 1) batched min/max bounds pass when
limits are unset ([R] compute_bounds) -> (job 2) binned canvas
aggregation ([R] create_plot).  Every plot is a grid sample table
(``raster.grid_samples``) that :meth:`ShadePlot.bounds` bounds and
``raster.grid_raster`` bins: :meth:`ShadePlot.run` and
:meth:`ShadePlot.run_faceted` as a one-plot grid, the CLI as a grid of
its combos.  The binned result (≤ W·H·ncat rows) is what a renderer
consumes; fetching it to the driver is the PNG-sink analogue and is
cheap by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shadems_spark.operators import raster as R


@dataclass
class ShadePlot:
    """One plot spec = one logical query (axes, ranges, canvas).

    ``x``/``y`` are arbitrary Column expressions over the source rows
    (the DataMapper output, SURVEY.md §2 B), sampled by :meth:`run`;
    :meth:`bounds` alone reads a sample table and needs neither.
    """

    x: Column | None = None
    y: Column | None = None
    width: int = 256
    height: int = 256
    #: (lo, hi); a None end (or range) comes from the bounds job
    x_range: tuple[float | None, float | None] | None = None
    y_range: tuple[float | None, float | None] | None = None
    #: robust=True: bounds from 2%/98% quantile sketches instead of
    #: min/max — outlier samples can't stretch the canvas (§4 ext).
    robust: bool = False

    def bounds(self, df: DataFrame, plots: int, collect=DataFrame.collect):
        """Job 1 — only runs if a limit is unset; every unset limit of
        every plot is batched into one aggregate ([R] compute_bounds
        batches all unknown limits into a single dask compute), grouped
        by the plot column of ``df``, a grid sample table of ``plots``
        plots (``raster.grid_samples``).  ``collect`` runs the job
        (the CLI's serves a kept result, see ``exprcache.memo_result``).

        Returns {p: ((xlo, xhi), (ylo, yhi))} for every plot with a
        sample, or for every plot when every limit is given and no job
        runs."""
        lim = (*(self.x_range or (None, None)), *(self.y_range or (None, None)))
        if None not in lim:
            return dict.fromkeys(range(plots), (lim[:2], lim[2:]))

        def resolve(row):
            got = [row[f"{a}_{end}"] for a in "xy" for end in ("min", "max")]
            xlo, xhi, ylo, yhi = (float(g) if v is None else v for v, g in zip(lim, got))
            return (xlo, xhi), (ylo, yhi)

        pass_fn = R.robust_bounds if self.robust else R.minmax
        cols = {"x": F.col("xv"), "y": F.col("yv")}
        return {r["p"]: resolve(r) for r in collect(pass_fn(df.groupBy("p"), cols))}

    def run(self, df: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
        """Job 2 — the count raster of (x, y) as a one-plot grid, with
        the columns ``keys`` of ``df`` in its groupBy; returns the
        binned table (*keys, by, bx, val), unordered."""
        samples = R.grid_samples(df, [(self.x, self.y, False)], {k: F.col(k) for k in keys})
        ranges = self.bounds(samples, plots=1)
        return R.grid_raster(samples, ranges, self.width, self.height, keys=keys).drop("p")

    def run_faceted(self, df: DataFrame, facet_keys: list[str], out_path: str) -> None:
        """A7/iteration (--iter-field/--iter-scan...): ONE plan whose
        groupBy includes the facet keys, written partitioned — the
        one-PNG-per-group loop without per-group jobs (scales to any
        number of facets in a single shuffle)."""
        self.run(df, tuple(facet_keys)).write.mode("overwrite").partitionBy(*facet_keys).parquet(out_path)
