"""The ``shadems`` CLI surface, Spark-backed (SURVEY.md §3.1).

Mirrors the reference's argparse surface ([R] shade_ms/main.py::main
≈L60-400: axes, column arithmetic, selections, aggregation,
normalization, canvas, iteration, PNG templating) against the driver
fixtures: the positional ``ms`` argument is a directory of parquet
tables whose ``lineitem`` plays the MS MAIN table (vis.py mapping).

Lifecycle (two Spark jobs, [R] data_plots.py): selection + derived
axes as one declarative plan -> batched bounds job when limits are
unset -> binned canvas aggregation, collected once by the renderer ->
driver-side spread, shading and colouring of the canvas-bounded table
-> PNG(s) via the stdlib writer.  A multi-plot grid and ``--iter``
facets ride that one raster job too: the plot group is a column of
the binned table, split on the driver — never a per-plot job.

    python -m shadems_spark /root/testdata/sf0.001 \
        -x time -y DATA:amp --field O --norm eq_hist --png out.png
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F

from shadems_spark.catalog import load_table
from shadems_spark.operators import mappers as M
from shadems_spark.operators import raster as R
from shadems_spark.operators import selection as S
from shadems_spark.plans.shadeplot import ShadePlot
from shadems_spark.render import _CMAPS, parse_color, render_figure, render_png
from shadems_spark.session import get_spark
from shadems_spark.vis import vis_view

#: mapper names that consume the --col complex column (vs standalone
#: axes like time/uvdist/u/v/w/baseline).
_COL_FUNCS = {"amp", "phase", "real", "imag", "_"}

#: --iter facet axes ([R] main.py --iter-field/-scan/-antenna/-baseline
#: /-spw): name -> grouping Column over the vis view.
_FACET_COLS = {
    "field": lambda: F.col("field_label"),
    "corr": lambda: F.col("corr_label"),
    "ant": lambda: F.col("a1"),
    "scan": lambda: F.col("scan_no"),
    "spw": lambda: F.col("spw_id"),
    "baseline": lambda: M.baseline_index(F.col("a1"), F.col("a2")),
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="shadems-spark",
        description="Rasterized scatter plots of visibility-shaped data, on Spark.",
    )
    p.add_argument("ms", help="dataset directory (parquet tables; lineitem = MAIN)")
    ax = p.add_argument_group("axes")
    ax.add_argument("-x", "--xaxis", default="time", help="x axis spec ([COL[op COL2]:]func)")
    ax.add_argument("-y", "--yaxis", default="amp", help="y axis spec")
    ax.add_argument("--col", default="DATA", help="complex column for amp/phase/real/imag axes")
    ax.add_argument("-a", "--aaxis", default=None, help="aggregation axis (--ared input)")
    ax.add_argument("--ared", default=None, choices=sorted(R.REDUCTIONS), help="reduction over --aaxis")
    ax.add_argument("-C", "--colour-by", dest="colour_by", default=None, help="categorical colour axis (column name)")
    sel = p.add_argument_group("selection")
    sel.add_argument("--field", action="append", default=None, help="field selection (repeatable)")
    sel.add_argument("--corr", default=None, help="comma-separated correlation labels")
    sel.add_argument("--ant", action="append", type=int, default=None, help="antenna selection (repeatable)")
    sel.add_argument("--baseline", action="append", default=None, help='baseline pairs "a1-a2" (repeatable)')
    sel.add_argument("--chan", default=None, help="channel slice start:stop[:step]")
    sel.add_argument("--nchan", type=int, default=64, help="channel count of the synthetic spectral window")
    sel.add_argument("--noflags", action="store_true", help="plot flagged data too")
    sel.add_argument("--noconj", action="store_true", help="no conjugate mirroring for u/v axes")
    lim = p.add_argument_group("limits")
    for name in ("xmin", "xmax", "ymin", "ymax", "amin", "amax"):
        lim.add_argument(f"--{name}", type=float, default=None)
    canvas = p.add_argument_group("canvas / shading")
    canvas.add_argument("--xcanvas", type=int, default=1280)
    canvas.add_argument("--ycanvas", type=int, default=900)
    canvas.add_argument("--norm", default="eq_hist", choices=["eq_hist", "log", "cbrt", "linear"])
    canvas.add_argument("--cmap", default="viridis", choices=sorted(_CMAPS))
    canvas.add_argument("--cnum", type=int, default=16, help="max categories before 'other'")
    canvas.add_argument("--spread", type=int, default=0, help="paint each pixel's N-px neighbourhood (tf.spread)")
    canvas.add_argument("--dynspread", action="store_true", help="auto-spread sparse plots (tf.dynspread, threshold 0.5)")
    canvas.add_argument("--bgcol", default="white", help="background colour (name, #rrggbb, or 'none' for transparent; reference default white)")
    canvas.add_argument("--robust", action="store_true", help="quantile-sketch axis bounds (outlier-proof)")
    out = p.add_argument_group("output")
    out.add_argument("--png", default="{ms}_{xname}_{yname}{field}.png", help="output name template")
    out.add_argument("--figure", action="store_true", help="compose a labeled figure (axes, ticks, colorbar/legend) around the raster instead of writing the bare canvas")
    out.add_argument("--dir", default=".", help="output directory")
    out.add_argument("--iter-field", action="store_true", help="one PNG per field")
    out.add_argument(
        "--iter", choices=sorted(_FACET_COLS), default=None,
        help="facet axis: one PNG per group of the chosen key",
    )
    run = p.add_argument_group("execution")
    run.add_argument("-z", "--row-chunk-size", type=int, default=0, help="repartition hint (0 = leave to Spark)")
    run.add_argument("-j", "--num-parallel", type=int, default=1, help="accepted for parity; Spark schedules jobs itself")
    return p


def _axis(spec: str, default_col: str):
    """CLI axis spec -> (Column, name). Bare amp/phase/real/imag pick
    up --col, matching the reference's -x amp + --col DATA pairing."""
    name = spec.replace(":", "_").replace("/", "over").replace("-", "minus")
    func = spec.rsplit(":", 1)[-1].lower()
    if ":" not in spec and func in _COL_FUNCS:
        spec = f"{default_col}:{func}"
    elif ":" in spec:
        col_part, _, f = spec.rpartition(":")
        spec = f"{col_part}:{f.lower()}"
    else:
        spec = spec.lower()
    return M.parse_axis(spec), name


def _chunk_partitions(n_rows: int, rows_per_chunk: int) -> int:
    """-z semantics: ceil(rows / rows_per_chunk) partitions, min 1."""
    return max(1, -(-n_rows // rows_per_chunk))


def _template(tpl: str, **tokens: str) -> str:
    class _Default(dict):
        def __missing__(self, k):
            return ""

    return tpl.format_map(_Default(**tokens))


def _uses_col(spec: str) -> bool:
    """True when the axis spec picks up --col (bare amp/phase/...)."""
    return ":" not in spec and spec.rsplit(":", 1)[-1].lower() in _COL_FUNCS


def _expand_combos(args) -> list[tuple[str, str, str]]:
    """[R] main.py multi-plot loop: -x/-y/--col accept comma lists and
    every combination renders in one invocation.  Combos whose axes
    never read --col collapse across the col list (axis-dedup)."""
    out: list[tuple[str, str, str]] = []
    seen: set[tuple[str, str, str]] = set()
    for c in args.col.split(","):
        for xs in args.xaxis.split(","):
            for ys in args.yaxis.split(","):
                key = (xs, ys, c if (_uses_col(xs) or _uses_col(ys)) else "")
                if key not in seen:
                    seen.add(key)
                    out.append((xs, ys, c))
    return out


def _prepare(args, spark, specs: list[str]):
    """Shared extract: load + selection + flags (+ the channel
    dimension when any axis in ``specs`` needs it)."""
    df = vis_view(load_table(spark, args.ms, "lineitem"))
    if args.row_chunk_size:
        # -z is rows PER CHUNK (reference parity), not a partition
        # count — derive partitions from the table size (ADVICE r01).
        df = df.repartition(_chunk_partitions(df.count(), args.row_chunk_size))

    # --- selection (F1/F2/F3/F4/F6), conjunctive like the reference
    if args.field:
        df = S.select_groups(df, "field_label", args.field)
    if args.corr:
        df = S.select_groups(df, "corr_label", args.corr.split(","))
    if args.ant:
        df = S.select_antennas(df, args.ant)
    if args.baseline:
        pairs = [tuple(int(v) for v in b.split("-", 1)) for b in args.baseline]
        df = S.select_baselines(df, pairs)
    df = S.apply_flags(df, noflags=args.noflags)

    # --- channel dimension (P7/P9): attach via broadcast cross join
    # only when an axis needs it (row × chan outer product, F5 slicing)
    needs_chan = any(s.rsplit(":", 1)[-1].lower() in M.CHAN_FUNCS for s in specs)
    if needs_chan:
        df = df.crossJoin(F.broadcast(M.chan_freqs(spark, n_chan=args.nchan)))
        if args.chan:
            parts = [int(v) if v else None for v in args.chan.split(":")]
            start, stop = parts[0] or 0, parts[1] if len(parts) > 1 else args.nchan
            step = parts[2] if len(parts) > 2 and parts[2] else 1
            df = S.chan_slice(df, "chan", start, stop if stop is not None else args.nchan, step)
    return df


def _run_grid(args, combos: list[tuple[str, str, str]], spark) -> list[str]:
    """Multi-plot grid through ONE extract (operators/raster.
    grid_raster): every (x, y, col) combo binned from a single scan;
    the conjugate u/v mirror rides as an extra exploded sample, never
    a second pass."""
    specs = [s for xs, ys, _ in combos for s in (xs, ys)]
    if args.aaxis:
        specs.append(args.aaxis)
    df = _prepare(args, spark, specs)
    value = None
    if args.aaxis:
        df = df.withColumn("__aval", M.parse_axis(args.aaxis).cast("double"))
        value = F.col("__aval")
        if args.amin is not None and args.amax is not None:
            df = R.clip(df, value, args.amin, args.amax)
    plots = []
    names = []
    for xs, ys, c in combos:
        x, xname = _axis(xs, c)
        y, yname = _axis(ys, c)
        mirror = {xs.lower(), ys.lower()} == {"u", "v"} and not args.noconj
        plots.append((x, y, mirror))
        names.append((xname, yname))
    fixed = {
        k: getattr(args, k)
        for k in ("xmin", "xmax", "ymin", "ymax")
        if getattr(args, k) is not None
    }
    binned, ranges = R.grid_raster(
        df, plots, args.xcanvas, args.ycanvas,
        reduction=args.ared or "count", value=value,
        robust=args.robust, fixed=fixed,
    )
    ms_name = os.path.basename(os.path.normpath(args.ms))
    paths = {
        i: os.path.join(args.dir, _template(args.png, ms=ms_name, xname=xname, yname=yname, field=""))
        for i, (xname, yname) in enumerate(names)
        if i in ranges  # a combo with no finite samples draws nothing
    }
    return _render(
        args, binned, paths,
        x_range=lambda i: ranges[i][:2], y_range=lambda i: ranges[i][2:],
        title=ms_name, xlabel=lambda i: names[i][0], ylabel=lambda i: names[i][1],
    )


def _render(args, binned, path, x_range, y_range, title, xlabel, ylabel, categories=None) -> list[str]:
    """The one render call: every plot of ``binned`` (a per-plot
    argument may be a dict or function of the plot group, see
    render._at) as a bare canvas or, with --figure, a labeled figure."""
    os.makedirs(args.dir, exist_ok=True)
    kw = dict(
        how=args.norm, cmap=args.cmap, categories=categories, spread_px=args.spread,
        dynspread_threshold=0.5 if args.dynspread else None,
        bgcol=None if args.bgcol == "none" else parse_color(args.bgcol),
    )
    if args.figure:
        return render_figure(
            binned, path, args.xcanvas, args.ycanvas, x_range, y_range,
            title=title, xlabel=xlabel, ylabel=ylabel, **kw,
        )
    return render_png(binned, path, args.xcanvas, args.ycanvas, **kw)


def run(argv: list[str] | None = None, spark=None) -> list[str]:
    """Parse, plan, execute; returns the list of PNG paths written."""
    args = build_parser().parse_args(argv)
    spark = spark or get_spark("shadems-cli")
    combos = _expand_combos(args)
    if len(combos) > 1 and not (args.colour_by or args.iter or args.iter_field):
        return _run_grid(args, combos, spark)
    written: list[str] = []
    for xs, ys, c in combos:
        written += _run_single(args, xs, ys, c, spark)
    return written


def _run_single(args, xaxis: str, yaxis: str, col: str, spark) -> list[str]:
    """One (x, y, col) plot through the full single-plot pipeline
    (colour axis, faceting, conjugate union) — the fallback when a
    multi-axis grid combines with --colour-by/--iter, looped per
    combo."""
    df = _prepare(
        args, spark,
        [xaxis, yaxis] + ([args.aaxis] if args.aaxis else []),
    )

    # --- axes (B mappers) + hygiene (F8)
    x, xname = _axis(xaxis, col)
    y, yname = _axis(yaxis, col)
    df = S.drop_nonfinite(df, x.cast("double"), y.cast("double"))

    reduction = args.ared or "count"
    value = None
    if args.aaxis:
        # materialized as a column so the conjugate-mirror union below
        # can carry it alongside u/v (ADVICE r01: the mirror used to
        # drop every non-uv column, breaking --ared/--colour-by/--iter)
        df = df.withColumn("__aval", M.parse_axis(args.aaxis).cast("double"))
        value = F.col("__aval")
    if value is not None and args.amin is not None and args.amax is not None:
        df = R.clip(df, value, args.amin, args.amax)
    facet = args.iter or ("field" if args.iter_field else None)
    if facet:
        df = df.withColumn("__facet", _FACET_COLS[facet]().cast("string"))
    category = None
    categories = None
    if args.colour_by:
        # G7: discover + cap categories, overflow -> 'other'
        cat_col = F.col(args.colour_by).cast("string")
        top = [
            r[0]
            for r in df.groupBy(cat_col.alias("c"))
            .count()
            .orderBy(F.desc("count"), "c")
            .limit(args.cnum)
            .collect()
        ]
        category = F.when(cat_col.isin(top), cat_col).otherwise(F.lit("other"))
        categories = sorted(top) + (["other"] if len(top) >= args.cnum else [])

    # --- conjugate mirror (U2): uv-coverage symmetry unless --noconj.
    # Applied after the value/facet columns are materialized so the
    # union keeps every column later stages reference.
    if {xaxis.lower(), yaxis.lower()} == {"u", "v"} and not args.noconj:
        keep = []
        if value is not None:
            keep.append("__aval")
        if args.colour_by:
            keep.append(args.colour_by)
        if facet:
            keep.append("__facet")
        keep = list(dict.fromkeys(keep))
        fwd = [F.col("u"), F.col("v"), *[F.col(c) for c in keep]]
        mir = [(-F.col("u")).alias("u"), (-F.col("v")).alias("v"), *[F.col(c) for c in keep]]
        df = df.select(*fwd).unionAll(df.select(*mir))
        x, y = F.col("u"), F.col("v")

    plot = ShadePlot(
        x=x.cast("double"),
        y=y.cast("double"),
        width=args.xcanvas,
        height=args.ycanvas,
        x_range=(args.xmin, args.xmax) if args.xmin is not None and args.xmax is not None else None,
        y_range=(args.ymin, args.ymax) if args.ymin is not None and args.ymax is not None else None,
        reduction=reduction,
        value=value,
        category=category,
        robust=args.robust,
    )

    ms_name = os.path.basename(os.path.normpath(args.ms))
    xr, yr = plot.bounds(df)
    if not facet:
        binned = plot.run_with_ranges(df, xr, yr)
        path = os.path.join(args.dir, _template(args.png, ms=ms_name, xname=xname, yname=yname, field=""))
        return _render(args, binned, path, xr, yr, ms_name, xname, yname, categories)
    # one plan: the facet key (materialized above) rides the raster
    # groupBy as the plot group; the renderer splits the collected table
    binned = R.raster(
        df, plot.x, plot.y, xr, yr, plot.width, plot.height,
        reduction=reduction, value=value, category=F.col("__facet"),
    ).withColumnRenamed("cat", "p")

    def path(grp):
        name = _template(args.png, ms=ms_name, xname=xname, yname=yname, field=f"_{grp}", group=f"_{grp}")
        return os.path.join(args.dir, name)

    return _render(args, binned, path, xr, yr, lambda grp: f"{ms_name} {grp}", xname, yname)
