"""The ``shadems`` CLI surface, Spark-backed (SURVEY.md §3.1).

Mirrors the reference's argparse surface ([R] shade_ms/main.py::main
≈L60-400: axes, column arithmetic, selections, aggregation,
normalization, canvas, iteration, PNG templating) against the driver
fixtures: the positional ``ms`` argument is a directory of parquet
tables whose ``lineitem`` plays the MS MAIN table (vis.py mapping).

Lifecycle (at most two Spark jobs, [R] data_plots.py): selection +
derived axes as one declarative plan -> batched bounds job when limits
are unset -> binned canvas aggregation, fetched once as Arrow columns
-> driver-side spread, shading and colouring of the canvas-bounded
table (render.py) -> PNG(s) via the stdlib writer.  Every request
takes this one path: a single plot is a grid of one (x, y, col) combo,
every combo is an element of one sample table, and
``--colour-by``/``--iter`` keys join the raster groupBy.  The plot
group is a column of the binned table, split on the driver — never a
per-plot job.

Aggregate once, shade many: the driver-side results of the request's
Spark actions (the ``-z`` row count, the colour categories, the bounds
and the binned table) are kept for the live session, keyed on the
plan, the action and the stamp of the input files
(``exprcache.memo_result``).  A request that only changes
``--norm``, ``--cmap``, ``--figure``, ``--spread``, ``--bgcol`` or the
output names of an earlier one over unchanged files runs no Spark job.

    python -m shadems_spark /root/testdata/sf0.001 \
        -x time -y DATA:amp --field O --norm eq_hist --png out.png
"""

from __future__ import annotations

import argparse
import functools
import math
import operator
import os

from pyspark.sql import functions as F

from shadems_spark.catalog import load_table, table_stamp
from shadems_spark.operators import mappers as M
from shadems_spark.operators import raster as R
from shadems_spark.operators import selection as S
from shadems_spark.operators.exprcache import memo_result
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


def _axis_spec(spec: str, default_col: str) -> str:
    """CLI axis spec -> the mapper spec it stands for.  Bare
    amp/phase/real/imag pick up --col, matching the reference's
    -x amp + --col DATA pairing."""
    func = spec.rsplit(":", 1)[-1].lower()
    if ":" not in spec and func in _COL_FUNCS:
        return f"{default_col}:{func}"
    if ":" in spec:
        col_part, _, f = spec.rpartition(":")
        return f"{col_part}:{f.lower()}"
    return spec.lower()


def _axis(spec: str, default_col: str):
    """CLI axis spec -> (Column, name)."""
    name = spec.replace(":", "_").replace("/", "over").replace("-", "minus")
    return M.parse_axis(_axis_spec(spec, default_col)), name


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


def _fetch(df, action: str, stamp):
    """``df.<action>()``, or its result kept from an earlier request
    over the same plan and input files ``stamp``."""
    return memo_result(df, action, stamp, getattr(df, action))


def _baselines(specs: list[str] | None) -> list[tuple[int, int]]:
    """--baseline "a1-a2" strings -> antenna pairs."""
    pairs = []
    for b in specs or ():
        a1, _, a2 = b.partition("-")
        try:
            pairs.append((int(a1), int(a2)))
        except ValueError:
            raise ValueError(f'--baseline takes "a1-a2" antenna pairs, got {b!r}') from None
    return pairs


def _chan_slice(chan: str, nchan: int) -> tuple[int, int, int]:
    """--chan "start:stop[:step]" -> (start, stop, step) over ``nchan``
    channels: an empty start is 0, an empty or missing stop is
    ``nchan``, an empty or 0 step is 1.  A slice that selects no
    channel of [0, nchan) is refused."""
    try:
        parts = [int(v) if v else None for v in chan.split(":")]
    except ValueError:
        parts = []
    if not 1 <= len(parts) <= 3:
        raise ValueError(f"--chan takes start:stop[:step] integers, got {chan!r}")
    start, stop, step = parts + [None] * (3 - len(parts))
    start, stop, step = start or 0, nchan if stop is None else stop, step or 1
    # the first channel at or after both 0 and start on start's step
    lo = max(start, 0)
    first = lo + (start - lo) % abs(step)
    if first >= min(stop, nchan):
        raise ValueError(f"--chan {chan} selects no channel of --nchan {nchan}")
    return start, stop, step


def _prepare(args, spark, specs: list[str], stamp):
    """Shared extract: load + selection + flags (+ the channel
    dimension when any axis in ``specs`` needs it)."""
    df = vis_view(load_table(spark, args.ms, "lineitem"))
    # the view's columns are known without a job
    if args.colour_by and args.colour_by.lower() not in {c.lower() for c in df.columns}:
        raise ValueError(f"-C/--colour-by: no column {args.colour_by!r} in {', '.join(df.columns)}")
    if args.row_chunk_size:
        # -z is rows PER CHUNK (reference parity), not a partition
        # count — derive partitions from the table size (ADVICE r01).
        df = df.repartition(_chunk_partitions(_fetch(df, "count", stamp), args.row_chunk_size))

    # --- selection (F1/F2/F3/F4/F6), conjunctive like the reference
    if args.field:
        df = S.select_groups(df, "field_label", args.field)
    if args.corr:
        df = S.select_groups(df, "corr_label", args.corr.split(","))
    if args.ant:
        df = S.select_antennas(df, args.ant)
    if args.baseline:
        df = S.select_baselines(df, _baselines(args.baseline))
    df = S.apply_flags(df, noflags=args.noflags)

    # --- channel dimension (P7/P9): attach via broadcast cross join
    # only when an axis needs it (row × chan outer product, F5 slicing)
    needs_chan = any(s.rsplit(":", 1)[-1].lower() in M.CHAN_FUNCS for s in specs)
    if needs_chan:
        df = df.crossJoin(F.broadcast(M.chan_freqs(spark, n_chan=args.nchan)))
        if args.chan:
            df = S.chan_slice(df, "chan", *_chan_slice(args.chan, args.nchan))
    return df


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


def _categories(df, cat, plots, cnum: int, stamp):
    """G7: the ``cnum`` most frequent values of ``cat`` among the rows
    some plot draws (finite x and y), the rest as 'other'.  Returns the
    category Column and the legend's category list."""
    drawn = functools.reduce(operator.or_, [S.finite(x) & S.finite(y) for x, y, _ in plots])
    counts = df.filter(drawn).groupBy(cat.alias("c")).count()
    top = [r[0] for r in _fetch(counts.orderBy(F.desc("count"), "c").limit(cnum), "collect", stamp)]
    column = F.when(cat.isin(top), cat).otherwise(F.lit("other"))
    return column, sorted(top) + (["other"] if len(top) >= cnum else [])


def _check(args) -> None:
    """Reject requests no canvas can draw, and axis specs and
    selections that do not parse or select nothing, naming the flag,
    before any Spark job runs."""
    for flag in ("xcanvas", "ycanvas", "cnum", "nchan"):
        if getattr(args, flag) < 1:
            raise ValueError(f"--{flag} must be at least 1, got {getattr(args, flag)}")
    for flag, dest in (("--spread", "spread"), ("-z/--row-chunk-size", "row_chunk_size")):
        if getattr(args, dest) < 0:
            raise ValueError(f"{flag} must not be negative, got {getattr(args, dest)}")
    # equal ends are allowed: a zero-width axis bins to 0
    for axis in "xya":
        lo, hi = getattr(args, f"{axis}min"), getattr(args, f"{axis}max")
        if lo is not None and hi is not None and lo > hi:
            raise ValueError(f"--{axis}min/--{axis}max are inverted: {lo} > {hi}")
    if args.ared not in (None, "count") and not args.aaxis:
        raise ValueError(f"--ared {args.ared} needs an aggregation axis (-a/--aaxis)")
    # the renderer holds at least one W x H RGBA canvas
    need, mem = args.xcanvas * args.ycanvas * 4, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if need > mem:
        raise ValueError(
            f"--xcanvas/--ycanvas {args.xcanvas}x{args.ycanvas} needs {need / 2**30:.1f} GiB "
            f"for one RGBA canvas, more than the {mem / 2**30:.1f} GiB of memory here"
        )
    _baselines(args.baseline)
    if args.chan:
        _chan_slice(args.chan, args.nchan)
    specs = []
    for xs, ys, c in _expand_combos(args):
        specs += [("-x/--xaxis", _axis_spec(xs, c)), ("-y/--yaxis", _axis_spec(ys, c))]
    if args.aaxis:
        specs.append(("-a/--aaxis", args.aaxis))
    for flag, spec in specs:
        try:
            M.parse_axis(spec, build=False)
        except ValueError as e:
            raise ValueError(f"{flag}: {e}") from None


def run(argv: list[str] | None = None, spark=None) -> list[str]:
    """Parse, plan, execute; returns the list of PNG paths written.

    Every request is a grid of one or more (x, y, col) plots: one
    extract, one sample table (raster.grid_samples), one bounds job
    and one raster job for all of them, each skipped when an earlier
    request over the same input files kept its result."""
    args = build_parser().parse_args(argv)
    _check(args)
    spark = spark or get_spark("shadems-cli")
    stamp = table_stamp(args.ms, "lineitem")
    combos = _expand_combos(args)
    specs = [s for xs, ys, _ in combos for s in (xs, ys)] + ([args.aaxis] if args.aaxis else [])
    df = _prepare(args, spark, specs, stamp)

    cols = {}  # per-row columns every sample of the row carries
    if args.aaxis:
        cols["av"] = M.parse_axis(args.aaxis).cast("double")
        # each given end clips on its own, like the axis limits
        if args.amin is not None or args.amax is not None:
            lo = -math.inf if args.amin is None else args.amin
            df = R.clip(df, cols["av"], lo, math.inf if args.amax is None else args.amax)
    facet = args.iter or ("field" if args.iter_field else None)
    if facet:
        cols["f"] = _FACET_COLS[facet]().cast("string")
    plots, names = [], []
    for xs, ys, c in combos:
        (x, xname), (y, yname) = _axis(xs, c), _axis(ys, c)
        mirror = {xs.lower(), ys.lower()} == {"u", "v"} and not args.noconj
        plots.append((x.cast("double"), y.cast("double"), mirror))
        names.append((xname, yname))
    categories = None
    if args.colour_by:
        cols["cat"], categories = _categories(df, F.col(args.colour_by).cast("string"), plots, args.cnum, stamp)

    samples = R.grid_samples(df, plots, cols)
    plot = ShadePlot(x_range=(args.xmin, args.xmax), y_range=(args.ymin, args.ymax), robust=args.robust)
    ranges = plot.bounds(samples, plots=len(plots), collect=lambda d: _fetch(d, "collect", stamp))
    if not ranges:
        raise ValueError("no sample survived the selection")
    binned = R.grid_raster(
        samples, ranges, args.xcanvas, args.ycanvas,
        aggs={"val": R.REDUCTIONS[args.ared or "count"](F.col("av") if args.aaxis else None)},
        keys=tuple(k for k in ("f", "cat") if k in cols),
    )

    ms_name = os.path.basename(os.path.normpath(args.ms))
    if facet:
        # the plot group of a facet is "p:key", split back on the driver
        binned = binned.withColumn("p", F.concat_ws(":", F.col("p").cast("string"), "f")).drop("f")

    def split(g) -> tuple[int, str]:
        """Plot group -> (plot, facet key)."""
        if not facet:
            return g, ""
        p, _, key = g.partition(":")
        return int(p), key

    def path(g) -> str:
        p, key = split(g)
        xname, yname = names[p]
        tag = f"_{key}" if facet else ""
        return os.path.join(args.dir, _template(args.png, ms=ms_name, xname=xname, yname=yname, field=tag, group=tag))

    return _render(
        # a grid draws every plot with a range, also one with no pixel;
        # facets draw each group present
        args, _fetch(binned, "toArrow", stamp), path if facet else {p: path(p) for p in sorted(ranges)},
        x_range=lambda g: ranges[split(g)[0]][0], y_range=lambda g: ranges[split(g)[0]][1],
        title=(lambda g: f"{ms_name} {split(g)[1]}") if facet else ms_name,
        xlabel=lambda g: names[split(g)[0]][0], ylabel=lambda g: names[split(g)[0]][1],
        categories=categories,
    )
