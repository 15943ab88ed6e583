"""Aggregation queries (SURVEY.md §2 E/G, O, U): the full raster
reduction surface, category discovery/discretization, cube/rollup,
distincts, top-k, set ops.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shadems_spark.catalog import load_table
from shadems_spark.functions.complexops import c_amp
from shadems_spark.operators import raster as R
from shadems_spark.queries import register
from shadems_spark.queries.core import PRICE_RANGE, TIME_RANGE
from shadems_spark.vis import vis_sql_from, vis_view

_VIS = vis_sql_from("lineitem")

_BX = R.bin_axis_sql("time_day", *TIME_RANGE, 64)
_BY = R.bin_axis_sql("re", *PRICE_RANGE, 64)
_CLIP = (
    f"time_day BETWEEN {TIME_RANGE[0]!r} AND {TIME_RANGE[1]!r} "
    f"AND re BETWEEN {PRICE_RANGE[0]!r} AND {PRICE_RANGE[1]!r}"
)
_AMP = "sqrt(re*re + im*im)"


def _vis(spark, sf_dir):
    return vis_view(load_table(spark, sf_dir, "lineitem"))


def _raster(spark, sf_dir, aggs=None, category=None):
    return R.raster(
        _vis(spark, sf_dir),
        F.col("time_day").cast("double"),
        F.col("vis.re"),
        TIME_RANGE,
        PRICE_RANGE,
        64,
        64,
        aggs=aggs,
        category=category,
    )


def _amp_raster(spark, sf_dir, reduction):
    """The raster of one reduction over the visibility amplitude."""
    return _raster(spark, sf_dir, {"val": R.REDUCTIONS[reduction](c_amp(F.col("vis")))})


@register(
    "q_raster_count_cat",
    sql=f"""
    SELECT {_BY} AS by, {_BX} AS bx, corr_label AS cat, count(*) AS val
    FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2, 3
    """,
)
def q_raster_count_cat(spark, sf_dir):
    """G3: count-by-category (--colour-by) — datashader count_cat as
    groupBy(bx, by, cat); the category key multiplies the shuffle by
    ncat only."""
    return _raster(spark, sf_dir, category=F.col("corr_label"))


@register(
    "q_raster_mean",
    sql=f"""
    SELECT by, bx, round(val, 2) AS val FROM (
        SELECT {_BY} AS by, {_BX} AS bx, avg({_AMP}) AS val
        FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    )
    """,
)
def q_raster_mean(spark, sf_dir):
    """G4: mean raster (--aaxis amp --ared mean)."""
    return _amp_raster(spark, sf_dir, "mean").withColumn("val", F.round("val", 2))


@register(
    "q_raster_sum",
    sql=f"""
    SELECT by, bx, round(val, 2) AS val FROM (
        SELECT {_BY} AS by, {_BX} AS bx, sum({_AMP}) AS val
        FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    )
    """,
)
def q_raster_sum(spark, sf_dir):
    """G5: sum raster."""
    return _amp_raster(spark, sf_dir, "sum").withColumn("val", F.round("val", 2))


@register(
    "q_raster_min",
    sql=f"""
    SELECT {_BY} AS by, {_BX} AS bx, min({_AMP}) AS val
    FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    """,
)
def q_raster_min(spark, sf_dir):
    """G5: min raster (exact — min/max of identical IEEE values)."""
    return _amp_raster(spark, sf_dir, "min")


@register(
    "q_raster_max",
    sql=f"""
    SELECT {_BY} AS by, {_BX} AS bx, max({_AMP}) AS val
    FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    """,
)
def q_raster_max(spark, sf_dir):
    """G5: max raster."""
    return _amp_raster(spark, sf_dir, "max")


@register(
    "q_raster_std",
    sql=f"""
    SELECT by, bx, n, round(val, 2) AS val FROM (
        SELECT {_BY} AS by, {_BX} AS bx, count(*) AS n, stddev_pop({_AMP}) AS val
        FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    )
    """,
)
def q_raster_std(spark, sf_dir):
    """G5: std raster — datashader std is population std."""
    amp = c_amp(F.col("vis"))
    return _raster(spark, sf_dir, {
        "n": R.REDUCTIONS["count"](None),
        "val": F.round(R.REDUCTIONS["std"](amp), 2),
    })


@register(
    "q_raster_var",
    sql=f"""
    SELECT by, bx, n, round(val, 2) AS val, anyv FROM (
        SELECT {_BY} AS by, {_BX} AS bx, count(*) AS n,
               var_pop({_AMP}) AS val,
               max(CASE WHEN {_AMP} IS NOT NULL THEN 1 ELSE 0 END) AS anyv
        FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    )
    """,
)
def q_raster_var(spark, sf_dir):
    """G5 (r4): var + any rasters — completes datashader's order-free
    reduction set (first/last/mode are order-dependent and therefore
    undefined over a distributed scan; excluded by design)."""
    amp = c_amp(F.col("vis"))
    return _raster(spark, sf_dir, {
        "n": R.REDUCTIONS["count"](None),
        "val": F.round(R.REDUCTIONS["var"](amp), 2),
        "anyv": R.REDUCTIONS["any"](amp).cast("int"),
    })


@register(
    "q_cat_discover",
    sql="""
    SELECT cat, CASE WHEN r > 2 THEN 'other' ELSE cat END AS legend, n
    FROM (
        SELECT l_returnflag AS cat, count(*) AS n,
               dense_rank() OVER (ORDER BY count(*) DESC, l_returnflag) AS r
        FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def q_cat_discover(spark, sf_dir):
    """G7: distinct category discovery with --cnum capping — overflow
    categories collapse into 'other' ([R] data_mappers.py
    discretized_labels)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_returnflag").alias("cat")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # top-cap as TakeOrderedAndProject + broadcast anti-membership —
    # only the CAP rows ever rank, so a million-category column at
    # 100 TB never lands on one partition (the ranking window this
    # replaces ran over the whole category table; r6 sweep of
    # unbounded global windows).  dense_rank == row_number here: the
    # (n desc, cat) order is total.
    keep = (
        counts.orderBy(F.col("n").desc(), "cat")
        .limit(2)
        .select(F.col("cat").alias("__keep"))
    )
    return (
        counts.join(
            F.broadcast(keep), counts["cat"] == keep["__keep"], "left"
        )
        .select(
            "cat",
            F.when(F.col("__keep").isNull(), F.lit("other"))
            .otherwise(F.col("cat")).alias("legend"),
            "n",
        )
    )


@register(
    "q_discretize",
    sql=f"""
    SELECT least(CAST(15 AS BIGINT),
                 CAST(FLOOR(({_AMP} - 0.0) / (120000.0 - 0.0) * 16) AS BIGINT)) AS bucket,
           count(*) AS n
    FROM {_VIS} v
    WHERE {_AMP} BETWEEN 0.0 AND 120000.0
    GROUP BY 1
    """,
)
def q_discretize(spark, sf_dir):
    """G8: continuous colour axis bucketed into cnum equal bins then
    treated as categories."""
    v = _vis(spark, sf_dir)
    amp = c_amp(F.col("vis"))
    v = R.clip(v, amp, 0.0, 120000.0)
    return v.groupBy(R.bin_axis(amp, 0.0, 120000.0, 16).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_counts",
    sql=f"""
    SELECT count(*) AS n_total,
           count(*) FILTER (WHERE flag OR flag_row) AS n_flagged,
           count(*) FILTER (WHERE NOT (flag OR flag_row)) AS n_plotted
    FROM {_VIS} v
    """,
)
def q_counts(spark, sf_dir):
    """G9: logged totals — points plotted vs flagged ([R]
    get_plot_data/main.py logging)."""
    v = _vis(spark, sf_dir)
    flagged = F.col("flag") | F.col("flag_row")
    return v.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(flagged).alias("n_flagged"),
        F.count_if(~flagged).alias("n_plotted"),
    )


@register(
    "q_cube",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """G10: cube over the categorical axes (facet summary tables)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "sum_qty",
            "n",
        )
    )


@register(
    "q_rollup",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """G10: rollup variant (hierarchical facet totals)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
        )
    )


@register(
    "q_grouping_sets",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls2,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """G10: explicit GROUPING SETS (disjoint facet margins in one
    pass) via the SQL surface — the DataFrame plan and SQL plan are
    the same Catalyst Aggregate(Expand) node."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls2,
               round(sum(l_extendedprice), 2) AS revenue
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q_distinct",
    sql="""
    SELECT count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part,
           count(DISTINCT l_returnflag) AS n_rf
    FROM lineitem
    """,
)
def q_distinct(spark, sf_dir):
    """G11: exact distinct counts (approx_count_distinct is bench-only
    — sketch results can't hash-match an exact oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.countDistinct("l_returnflag").alias("n_rf"),
    )


@register(
    "q_sort",
    sql="""
    SELECT cat, row_number() OVER (ORDER BY cat) AS ord
    FROM (SELECT DISTINCT l_returnflag AS cat FROM lineitem)
    """,
)
def q_sort(spark, sf_dir):
    """O1: stable legend/category ordering ([R] create_plot legend).
    Ranked via the two-phase range-partitioned numbering
    (operators/profile.global_index) — the distinct-category table
    can be arbitrarily large at corpus scale and never lands on one
    partition (r6 sweep of unbounded global windows)."""
    from shadems_spark.operators.profile import global_index

    li = load_table(spark, sf_dir, "lineitem")
    cats = li.select(F.col("l_returnflag").alias("cat")).distinct()
    return global_index(cats, ["cat"], out="ord")


@register(
    "q_topk",
    sql=f"""
    SELECT by, bx, val FROM (
        SELECT {_BY} AS by, {_BX} AS bx, count(*) AS val
        FROM {_VIS} v WHERE {_CLIP} GROUP BY 1, 2
    ) ORDER BY val DESC, by, bx LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    """O3: top-k brightest pixels — orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heaps, no full sort)."""
    return _raster(spark, sf_dir).orderBy(F.col("val").desc(), "by", "bx").limit(10)


@register(
    "q_conj_union",
    sql=f"""
    SELECT row_key, line_no, u, v FROM {_VIS} v WHERE row_key % 50 = 0
    UNION ALL
    SELECT row_key, line_no, -u AS u, -v AS v FROM {_VIS} v WHERE row_key % 50 = 0
    """,
)
def q_conj_union(spark, sf_dir):
    """U2: conjugate mirror — uv-coverage symmetry: dataset ∪ negated
    copy unless --noconj ([R] conjugate=True mapper handling).  Lazy
    unionAll of a projected negation; nothing materialized twice."""
    v = _vis(spark, sf_dir).filter(F.col("row_key") % 50 == 0)
    pos = v.select("row_key", "line_no", "u", "v")
    neg = v.select("row_key", "line_no", (-F.col("u")).alias("u"), (-F.col("v")).alias("v"))
    return pos.unionByName(neg)


@register(
    "q_intersect",
    sql="""
    SELECT DISTINCT l_suppkey AS suppkey FROM lineitem
    INTERSECT
    SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 5000
    """,
)
def q_intersect(spark, sf_dir):
    """U3: set intersection."""
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("suppkey")).distinct()
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000).select(
        F.col("s_suppkey").alias("suppkey")
    )
    return li.intersect(sup)


@register(
    "q_except",
    sql="""
    SELECT s_suppkey AS suppkey FROM supplier
    EXCEPT
    SELECT l_suppkey AS suppkey FROM lineitem WHERE l_quantity > 45
    """,
)
def q_except(spark, sf_dir):
    """U3: set difference."""
    sup = load_table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("suppkey"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45).select(
        F.col("l_suppkey").alias("suppkey")
    )
    return sup.subtract(li)  # EXCEPT (distinct) semantics


@register(
    "q_bitmap_distinct",
    sql="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_bitmap_distinct(spark, sf_dir):
    """G11 scale path: EXACT distinct counting via mergeable bitmaps
    (Spark 4 bitmap_construct_agg) — the two-level form: per
    (group, 2^15-value bucket) bitmaps built map-side, bit counts
    summed per group.  Unlike count(DISTINCT) the partial state is a
    fixed 4 KiB bitmap per bucket, merges associatively across
    partitions/days, and can be persisted for incremental refresh —
    the pattern for repeated exact-distinct dashboards over 100 TB.
    The oracle is the plain COUNT(DISTINCT) it must equal exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    buckets = (
        li.groupBy(
            "l_returnflag",
            F.bitmap_bucket_number(F.col("l_partkey")).alias("bkt"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col("l_partkey"))
            ).alias("bm")
        )
    )
    return buckets.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).alias("n_parts")
    )


@register("q_hll_distinct", sql=None)  # sketch estimate: engine-specific
def q_hll_distinct(spark, sf_dir):
    """G11 sketch path: Apache DataSketches HLL distinct estimates
    (hll_sketch_agg / hll_sketch_estimate) — unlike
    approx_count_distinct the SKETCH ITSELF is a column: persistable,
    re-mergeable across runs (hll_union_agg), the incremental-rollup
    distinct pattern.  Rows-only (estimates are library-specific);
    tests pin the estimate within 5% of exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.hll_sketch_agg(F.col("l_partkey")).alias("sk"))
        .select(
            "l_returnflag",
            F.hll_sketch_estimate(F.col("sk")).cast("long").alias("est_parts"),
        )
    )
