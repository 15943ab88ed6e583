"""Core slice: scans + bounds + binning + count raster (SURVEY.md §7
step 1: A1, A2, G1, G2, G6, O1) — the minimum end-to-end shadeMS
pipeline on the driver fixtures.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shadems_spark.catalog import load_table
from shadems_spark.functions.complexops import c_amp
from shadems_spark.operators import raster as R
from shadems_spark.plans.shadeplot import ShadePlot
from shadems_spark.queries import register
from shadems_spark.vis import vis_sql_from, vis_view

# Fixed canvas domains for oracle-checked rasters (constants on both
# sides; auto-bounds is exercised by entry()/tests instead so the
# oracle SQL stays closed-form).  Data domain per FIXTURES.md:
# shipdate 1995-01-02..2001-11-04 -> day index 1..2500;
# l_extendedprice ~ [900, 110000].
TIME_RANGE = (0.0, 2500.0)
PRICE_RANGE = (0.0, 120000.0)

_VIS = vis_sql_from("lineitem")


@register(
    "q_scan",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity < 10
    """,
)
def q_scan(spark, sf_dir):
    """A1: pruned columnar scan — filter + projection push into the
    parquet reader ([R] data_plots.py::get_plot_data columns=...).

    Routed through the MS-source seam (sources/ms_adapter.py): the
    fixture dir opens as a ParquetStandinMS whose table() is
    plan-identical to a direct catalog load, so the same query runs
    unchanged against any future MSSource backend."""
    from shadems_spark.sources.ms_adapter import open_ms

    return (
        open_ms(spark, sf_dir)
        .table("lineitem")
        .filter(F.col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "q_ms_main",
    sql="""
    SELECT datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
               * 86400.0 AS "TIME",
           l_suppkey AS "ANTENNA1",
           l_partkey AS "ANTENNA2",
           CAST(floor(datediff('day', DATE '1995-01-01',
                CAST(l_shipdate AS DATE)) / 90.0) AS BIGINT) AS "SCAN_NUMBER",
           l_orderkey % 4 AS "DATA_DESC_ID",
           l_orderkey % 97 = 0 AS "FLAG_ROW",
           l_extendedprice - 30000.0 AS u0
    FROM lineitem WHERE l_partkey % 10 = 0
    """,
)
def q_ms_main(spark, sf_dir):
    """A1 via the MS-named MAIN surface (SURVEY §1.1 column contract):
    TIME seconds, ANTENNA1/2, SCAN_NUMBER, DATA_DESC_ID, FLAG_ROW and
    the first UVW coordinate, all through MSSource.main() — the oracle
    applies the same stand-in formulas, proving the adapter projection
    is exact, not just shaped right.  The subset filter is an
    antenna selection (ANTENNA2 % 10), expressed on the MS surface."""
    from shadems_spark.sources.ms_adapter import open_ms

    ms = open_ms(spark, sf_dir).main()
    return ms.filter(F.col("ANTENNA2") % 10 == 0).select(
        "TIME", "ANTENNA1", "ANTENNA2", "SCAN_NUMBER", "DATA_DESC_ID",
        "FLAG_ROW", F.element_at("UVW", 1).alias("u0"),
    )


@register(
    "q_dim_scan",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_dim_scan(spark, sf_dir):
    """A2: eager small metadata-table scan ([R] ms_info.py::MSInfo)."""
    return load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "q_minmax",
    sql=f"""
    SELECT CAST(min(time_day) AS BIGINT) AS x_min,
           CAST(max(time_day) AS BIGINT) AS x_max,
           round(min(sqrt(re*re + im*im)), 6) AS y_min,
           round(max(sqrt(re*re + im*im)), 6) AS y_max
    FROM {_VIS} v
    """,
)
def q_minmax(spark, sf_dir):
    """G6: the batched bounds pre-pass ([R] compute_bounds) — one
    aggregate job for all unset axis limits."""
    v = vis_view(load_table(spark, sf_dir, "lineitem"))
    amp = c_amp(F.col("vis"))
    return (
        R.minmax(v, {"x": F.col("time_day"), "y": amp})
        .select(
            F.col("x_min").cast("long").alias("x_min"),
            F.col("x_max").cast("long").alias("x_max"),
            F.round("y_min", 6).alias("y_min"),
            F.round("y_max", 6).alias("y_max"),
        )
    )


@register(
    "q_bin2d",
    sql=f"""
    SELECT row_key, line_no,
           {R.bin_axis_sql('time_day', *TIME_RANGE, 256)} AS bx,
           {R.bin_axis_sql('re', *PRICE_RANGE, 256)} AS by
    FROM {_VIS} v
    WHERE row_key % 50 = 0
      AND time_day BETWEEN {TIME_RANGE[0]!r} AND {TIME_RANGE[1]!r}
      AND re BETWEEN {PRICE_RANGE[0]!r} AND {PRICE_RANGE[1]!r}
    """,
)
def q_bin2d(spark, sf_dir):
    """G1: per-sample pixel assignment (datashader bin formula —
    half-open bins, max clamped into last)."""
    v = vis_view(load_table(spark, sf_dir, "lineitem")).filter(F.col("row_key") % 50 == 0)
    x, y = F.col("time_day").cast("double"), F.col("vis.re")
    v = R.clip(R.clip(v, x, *TIME_RANGE), y, *PRICE_RANGE)
    return v.select(
        "row_key",
        "line_no",
        R.bin_axis(x, *TIME_RANGE, 256).alias("bx"),
        R.bin_axis(y, *PRICE_RANGE, 256).alias("by"),
    )


@register(
    "q_raster_count",
    sql=f"""
    SELECT {R.bin_axis_sql('re', *PRICE_RANGE, 128)} AS by,
           {R.bin_axis_sql('time_day', *TIME_RANGE, 128)} AS bx,
           count(*) AS val
    FROM {_VIS} v
    WHERE time_day BETWEEN {TIME_RANGE[0]!r} AND {TIME_RANGE[1]!r}
      AND re BETWEEN {PRICE_RANGE[0]!r} AND {PRICE_RANGE[1]!r}
    GROUP BY 1, 2
    """,
)
def q_raster_count(spark, sf_dir):
    """G2: the default count raster — partial/final hash aggregate
    over ≤ W·H pixel keys (scale-invariant shuffle)."""
    v = vis_view(load_table(spark, sf_dir, "lineitem"))
    return R.raster(
        v,
        F.col("time_day").cast("double"),
        F.col("vis.re"),
        TIME_RANGE,
        PRICE_RANGE,
        128,
        128,
    )


def flagship(spark, sf_dir):
    """The SURVEY.md §7 flagship: auto-bounds 256x256 count raster of
    (time, amp) — scan -> derive -> bounds job -> raster job."""
    v = vis_view(load_table(spark, sf_dir, "lineitem"))
    plot = ShadePlot(x=F.col("time_day").cast("double"), y=c_amp(F.col("vis")), width=256, height=256)
    return plot.run(v)


def _zkey_sql(bx: str, by: str, bits: int = 4) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({by} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "q_zorder",
    sql=f"""
    WITH b AS (
      SELECT {R.bin_axis_sql('time_day', *TIME_RANGE, 16)} AS bx,
             {R.bin_axis_sql('re', *PRICE_RANGE, 16)} AS by,
             count(*) AS val
      FROM {_VIS} v
      WHERE time_day BETWEEN {TIME_RANGE[0]!r} AND {TIME_RANGE[1]!r}
        AND re BETWEEN {PRICE_RANGE[0]!r} AND {PRICE_RANGE[1]!r}
      GROUP BY 1, 2)
    SELECT bx, by, val,
           CAST({_zkey_sql('bx', 'by')} AS BIGINT) AS zkey
    FROM b ORDER BY zkey
    """,
)
def q_zorder(spark, sf_dir):
    """Z-order (Morton) clustering key over the binned raster — the
    multi-dimensional data-layout technique (Delta/Iceberg
    OPTIMIZE ZORDER): interleave the bin bits so 2D neighbors land
    near each other in ONE sort order, making range predicates on
    EITHER axis prune contiguous file runs after a sort-write.  Pure
    integer bit arithmetic (shift/and/or Column expressions), exact
    on both engines; locality superiority over row-major order is
    pinned in tests.  Writing `sortWithinPartitions(zkey)` before a
    compacted write is the deployment shape (sources/io.py)."""
    v = vis_view(load_table(spark, sf_dir, "lineitem"))
    b = R.raster(v, F.col("time_day").cast("double"), F.col("vis.re"), TIME_RANGE, PRICE_RANGE, 16, 16)
    zkey = None
    for i in range(4):
        for c, off in (("bx", 0), ("by", 1)):
            term = F.shiftleft(
                F.shiftright(F.col(c), i).bitwiseAND(F.lit(1)), 2 * i + off
            )
            zkey = term if zkey is None else zkey.bitwiseOR(term)
    return b.select(
        "bx", "by", "val", zkey.cast("long").alias("zkey")
    ).orderBy("zkey")
