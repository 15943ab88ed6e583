"""PNG sink — the driver-side renderer (SURVEY.md §2 A4).

The engine's raster result is the *binned table* (≤ W·H·ncat rows by
construction); shadeMS hands the equivalent xarray raster to
``datashader.transfer_functions.shade`` + matplotlib ([R]
shade_ms/data_plots.py::create_plot tail ≈L300-420).  Here the
renderer takes the binned table as fetched once by the caller as
Arrow columns (``DataFrame.toArrow``: one numpy array per column, no
per-row objects; ``cli`` keeps the fetched table for re-styling
requests) and does everything after binning on the driver in numpy:
the split into plots, spread and dynspread, shading (eq_hist / log /
cbrt / linear) and colouring.  It writes PNGs with the stdlib
(zlib/struct) — no matplotlib or datashader dependency, so the sink
works in any executor-less driver environment.

Scale note: fetching the table to the driver is safe at any input
scale because the binned table's size is bounded by the canvas, not
the data.

Memory: the fetched table arrives narrow (int ``p``/``by``/``bx``) and
each plot's data is held once between the fetch and the PNG.  The
numpy columns are views of the Arrow buffers where the types allow
(``by``/``bx`` are widened to int64, ``val`` to float64); a table
without a null value is not filtered, a table of one plot is not
split, and the plots of a grid or facet table are gathered one at a
time.  A continuous raster is coloured a block of pixels at a time,
and the PNG rows stream through one compressor, so no raw copy of the
image is built.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: colormap name -> anchor colors (linear-interpolated, 256-entry LUT).
#: Names follow the colorcet/matplotlib/cmasher families shadeMS
#: exposes via --cmap; anchors are coarse public approximations (a few
#: well-known waypoint colors each), not copied palette tables.
_CMAPS: dict[str, list[tuple[int, int, int]]] = {
    "grey": [(0, 0, 0), (255, 255, 255)],
    "fire": [(0, 0, 0), (120, 0, 0), (230, 110, 0), (255, 235, 160), (255, 255, 255)],
    "bgy": [(0, 0, 90), (0, 110, 160), (60, 200, 110), (250, 250, 80)],
    "viridis": [(68, 1, 84), (59, 82, 139), (33, 145, 140), (94, 201, 98), (253, 231, 37)],
    "inferno": [(0, 0, 4), (87, 16, 110), (188, 55, 84), (249, 142, 9), (252, 255, 164)],
    "magma": [(0, 0, 4), (81, 18, 124), (183, 55, 121), (254, 136, 97), (252, 253, 191)],
    "plasma": [(13, 8, 135), (126, 3, 168), (204, 71, 120), (248, 149, 64), (240, 249, 33)],
    "cividis": [(0, 32, 77), (87, 92, 109), (149, 152, 122), (222, 218, 110), (255, 234, 70)],
    "coolwarm": [(59, 76, 192), (144, 178, 254), (221, 221, 221), (245, 156, 125), (180, 4, 38)],
    "rainbow": [(110, 64, 170), (52, 133, 231), (56, 209, 145), (175, 240, 91), (255, 94, 58)],
    "kbc": [(0, 10, 60), (20, 60, 150), (40, 120, 220), (120, 190, 250), (210, 240, 255)],
    "bmy": [(0, 0, 60), (120, 20, 130), (230, 60, 120), (255, 160, 70), (255, 255, 120)],
    # r4: longer tail of the --cmap families (VERDICT r03 missing #5) —
    # coarse public waypoint approximations, same anchor scheme.
    "jet": [(0, 0, 128), (0, 0, 255), (0, 255, 255), (255, 255, 0), (255, 0, 0), (128, 0, 0)],
    "turbo": [(48, 18, 59), (62, 156, 254), (53, 234, 141), (249, 211, 42), (239, 90, 17), (122, 4, 3)],
    "cubehelix": [(0, 0, 0), (22, 55, 62), (100, 83, 57), (181, 113, 117), (202, 175, 213), (255, 255, 255)],
    "gist_heat": [(0, 0, 0), (120, 0, 0), (220, 70, 0), (255, 170, 60), (255, 255, 255)],
    "hot": [(10, 0, 0), (230, 0, 0), (255, 210, 0), (255, 255, 255)],
    "twilight": [(226, 217, 226), (99, 144, 206), (44, 23, 70), (145, 46, 75), (226, 217, 226)],
    "seismic": [(0, 0, 76), (0, 0, 255), (255, 255, 255), (255, 0, 0), (128, 0, 0)],
    "rdbu": [(103, 0, 31), (214, 96, 77), (247, 247, 247), (67, 147, 195), (5, 48, 97)],
    "puor": [(127, 59, 8), (224, 130, 20), (247, 247, 247), (128, 115, 172), (45, 0, 75)],
    "brbg": [(84, 48, 5), (191, 129, 45), (245, 245, 245), (53, 151, 143), (0, 60, 48)],
    "isolum": [(65, 130, 145), (120, 125, 120), (190, 110, 110), (230, 110, 150)],
    "colorwheel": [(230, 60, 60), (230, 200, 60), (80, 200, 80), (60, 120, 230), (180, 70, 200), (230, 60, 60)],
    # r5: remaining single-hue / linear colorcet families (--cmap tail,
    # VERDICT r4 missing #4) — same coarse-waypoint scheme.
    "kgy": [(0, 0, 0), (0, 90, 20), (20, 160, 30), (160, 230, 50), (230, 255, 120)],
    "kb": [(0, 0, 0), (20, 40, 110), (60, 90, 180), (130, 160, 230), (210, 225, 255)],
    "kg": [(0, 0, 0), (0, 70, 25), (0, 130, 50), (60, 190, 100), (160, 245, 170)],
    "kr": [(0, 0, 0), (110, 10, 10), (190, 40, 30), (240, 120, 90), (255, 210, 180)],
    "dimgray": [(20, 20, 20), (105, 105, 105), (230, 230, 230)],
    "cwr": [(0, 80, 255), (140, 200, 255), (255, 255, 255), (255, 150, 130), (255, 0, 0)],
    "gwv": [(0, 130, 60), (150, 210, 160), (255, 255, 255), (190, 160, 220), (90, 20, 150)],
    "bky": [(0, 30, 170), (30, 30, 80), (0, 0, 0), (110, 90, 20), (230, 210, 50)],
    "bjy": [(0, 40, 170), (110, 120, 150), (160, 150, 130), (230, 200, 60)],
}

#: categorical palette (--colour-by): distinct hues, cycled.
PALETTE = [
    (31, 119, 180), (255, 127, 14), (44, 160, 44), (214, 39, 40),
    (148, 103, 189), (140, 86, 75), (227, 119, 194), (127, 127, 127),
    (188, 189, 34), (23, 190, 207), (174, 199, 232), (255, 187, 120),
    (152, 223, 138), (255, 152, 150), (197, 176, 213), (196, 156, 148),
]


def lut(cmap: str) -> np.ndarray:
    """256x3 uint8 LUT from the anchor list.  A trailing ``_r``
    selects the reversed palette (the matplotlib/colorcet naming every
    --cmap consumer expects, e.g. ``viridis_r``)."""
    if cmap.endswith("_r") and cmap not in _CMAPS:
        anchors = np.array(_CMAPS[cmap[:-2]][::-1], dtype=np.float64)
    else:
        anchors = np.array(_CMAPS[cmap], dtype=np.float64)
    pos = np.linspace(0.0, 1.0, len(anchors))
    xs = np.linspace(0.0, 1.0, 256)
    chans = [np.interp(xs, pos, anchors[:, i]) for i in range(3)]
    return np.stack(chans, axis=1).round().astype(np.uint8)


def shade_values(val: np.ndarray, how: str = "eq_hist") -> np.ndarray:
    """tf.shade(how=...) normalization of the occupied pixels' values to
    [0, 1].  eq_hist is the empirical CDF over those pixels, count(<= v)
    / N (ties shade alike; ``normalize.eq_hist`` is the engine-side
    reference); log/cbrt/linear rescale by the plot's min/max, and a
    plot whose values are all equal shades 1.0, as eq_hist does."""
    if how == "eq_hist":
        return np.searchsorted(np.sort(val), val, side="right") / float(len(val))
    t = {"log": lambda v: np.log(1.0 + v), "cbrt": np.cbrt, "linear": lambda v: v}[how](val)
    if not len(t):
        return t
    lo, hi = t.min(), t.max()
    if hi == lo:
        return np.ones_like(t)
    return (t - lo) / (hi - lo)


def _box(a: np.ndarray, px: int, op) -> np.ndarray:
    """``op``-reduce each cell's (2px+1)² neighbourhood of a canvas
    array, clipped at the edges (separable: along rows, then columns)."""
    for _ in range(2):
        src, a = a, a.copy()
        for s in range(1, px + 1):
            op(a[s:], src[:-s], out=a[s:])
            op(a[:-s], src[s:], out=a[:-s])
        a = a.T
    return a


def spread(pix: dict, px: int, width: int, height: int) -> dict:
    """tf.spread on one plot's binned pixels ([R] data_plots.py::
    create_plot applies datashader spreading to the shaded image):
    each occupied pixel paints its (2px+1)² neighbourhood, clipped to
    the canvas; overlaps keep the max value, so counts are not
    inflated.  Each colour category spreads on its own canvas."""
    if px <= 0:
        return pix
    cat = pix.get("cat")
    if cat is None:
        codes = np.zeros(len(pix["val"]), dtype=np.int64)
    else:
        codes = np.unique(cat, return_inverse=True)[1]
    out: dict[str, list] = {k: [] for k in pix}
    for code in np.unique(codes):
        sel = codes == code
        by, bx = pix["by"][sel], pix["bx"][sel]
        occ = np.zeros((height, width), dtype=bool)
        occ[by, bx] = True
        val = np.full((height, width), -np.inf)
        val[by, bx] = pix["val"][sel]
        by, bx = np.nonzero(_box(occ, px, np.maximum))
        out["by"].append(by)
        out["bx"].append(bx)
        out["val"].append(_box(val, px, np.maximum)[by, bx])
        if cat is not None:
            out["cat"].append(np.repeat(cat[sel][:1], len(by)))
    return {k: np.concatenate(v) if v else pix[k] for k, v in out.items()}


def dynspread(
    pix: dict, width: int, height: int, max_px: int = 3, threshold: float = 0.5,
) -> dict:
    """tf.dynspread semantics: spread sparse plots, leave dense ones
    alone — grow px from 0 until the fraction of occupied pixels that
    have an occupied neighbour reaches ``threshold`` (datashader's
    definition), capped at ``max_px``."""
    for px in range(max_px + 1):
        out = spread(pix, px, width, height)
        occ = np.zeros((height, width), dtype=np.int32)
        occ[out["by"], out["bx"]] = 1
        # occupied cells within Chebyshev distance 1, the cell itself excluded
        has = (_box(occ, 1, np.add) - occ)[out["by"], out["bx"]] > 0
        if not has.size or has.mean() >= threshold:
            break
    return out


#: background colour names ([R] shade_ms --bgcol); hex also accepted.
_COLORS = {
    "white": (255, 255, 255),
    "black": (0, 0, 0),
    "grey": (128, 128, 128),
    "gray": (128, 128, 128),
    "navy": (0, 0, 64),
}


def parse_color(name: str) -> tuple[int, int, int]:
    if name.startswith("#") and len(name) == 7:
        return tuple(int(name[i : i + 2], 16) for i in (1, 3, 5))
    return _COLORS[name.lower()]


#: pixels coloured at a time by :func:`raster_to_rgba`
_BLOCK = 1 << 16


def raster_to_rgba(
    pix, width: int, height: int, cmap: str = "viridis", categories: list | None = None,
    bgcol: tuple[int, int, int] | None = None,
) -> np.ndarray:
    """One plot's shaded pixels -> H×W×4 RGBA (row 0 = top scanline).

    ``pix`` maps column names to equal-length arrays: bx, by, shade,
    plus val and cat for a categorical raster.  Continuous rasters map
    shade through the LUT; categorical rasters mix the palette colors
    of each pixel's categories weighted by their counts (the
    datashader count_cat color-mixing idea) with alpha from the
    largest shade among them.
    """
    img = np.zeros((height, width, 4), dtype=np.uint8)
    if bgcol is not None:
        # compose on an opaque background ([R] tf.set_background /
        # shadeMS --bgcol, default white): unoccupied pixels get the
        # background instead of transparency.
        img[:, :, :3] = bgcol
        img[:, :, 3] = 255
    by, col = np.asarray(pix["by"]), np.asarray(pix["bx"])
    shade = np.asarray(pix["shade"], dtype=np.float64)
    if not len(shade):
        return img
    if categories is None:
        # by indexes the flipped view; LUT indices are made a block of
        # pixels at a time, so no temporary spans the table
        top, colors = img[::-1], lut(cmap)
        for i in range(0, len(shade), _BLOCK):
            b = slice(i, i + _BLOCK)
            top[by[b], col[b], :3] = colors[np.minimum(255, (shade[b] * 255.0).astype(np.int64))]
            top[by[b], col[b], 3] = 255
        return img
    row = height - 1 - by
    cats, inv = np.unique(pix["cat"], return_inverse=True)
    palette = np.array(PALETTE, dtype=np.float64)
    color = palette[[categories.index(c) % len(PALETTE) for c in cats]][inv]
    n = np.asarray(pix["val"], dtype=np.float64)
    # bincount adds in row order, like a per-row loop would
    flat, size = row * width + col, height * width
    acc = np.stack([np.bincount(flat, color[:, i] * n, size) for i in range(3)], axis=1)
    wsum = np.bincount(flat, n, size)
    alpha = np.zeros(size)
    np.maximum.at(alpha, flat, shade)
    mask = wsum > 0
    out = img.reshape(size, 4)
    out[mask, :3] = (acc[mask] / wsum[mask, None]).round().astype(np.uint8)
    out[mask, 3] = (alpha[mask] * 255.0).round().astype(np.uint8)
    return img


def write_png(path: str, rgba: np.ndarray) -> None:
    """Minimal RGBA PNG encoder (stdlib zlib; filter type 0 rows).  The
    rows stream through one compressor, so no raw copy of the image is
    built; the IDAT bytes equal ``zlib.compress`` of the whole raw
    buffer at level 6."""
    h, w = rgba.shape[:2]
    z = zlib.compressobj(6)
    idat = b"".join(z.compress(b"\x00" + row.tobytes()) for row in rgba) + z.flush()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    with open(path, "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\n")
        for tag, data in ((b"IHDR", ihdr), (b"IDAT", idat), (b"IEND", b"")):
            f.write(struct.pack(">I", len(data)) + tag)
            f.write(data)
            f.write(struct.pack(">I", zlib.crc32(data, zlib.crc32(tag)) & 0xFFFFFFFF))


def _columns(table: pa.Table) -> dict[str, np.ndarray]:
    """The fetched binned table -> one numpy array per column, in the
    table's row order.  Rows whose value is null (a reduction over null
    samples only) have nothing to shade and are dropped; a table without
    one is not copied for it.  String columns (a facet group ``p``, the
    colour ``cat``) become numpy str arrays, ``val`` float64, and the
    int pixel indices ``by``/``bx`` int64, so ``row * width + col`` cannot
    wrap on a canvas of more than 2**31 pixels."""
    if table["val"].null_count:
        table = table.filter(pc.is_valid(table["val"]))
    cols = {}
    for name, col in zip(table.column_names, table.columns):
        a = col.to_numpy()
        cols[name] = a.astype(str) if pa.types.is_string(col.type) else a
    cols["val"] = cols["val"].astype(np.float64, copy=False)
    for name in ("by", "bx"):
        cols[name] = cols[name].astype(np.int64, copy=False)
    return cols


def _split(cols: dict[str, np.ndarray], path) -> Iterator[tuple]:
    """(group, columns) per plot of a table with a plot group column
    ``p``: each key of a {group: path} dict, also one with no pixels,
    or each group present.  A table of one group yields its columns as
    they are; with several, a group's rows are gathered when its turn
    comes, so one group's copy is alive at a time.  Rows keep their
    table order within a group."""
    p = cols.pop("p", np.zeros(0))
    keys = np.unique(p)
    if len(keys) == 1:
        rows = {keys[0]: slice(None)}
    else:
        order = np.argsort(p, kind="stable")
        starts = np.searchsorted(p, keys, sorter=order)
        rows = {k: order[a:b] for k, a, b in zip(keys, starts, [*starts[1:], len(p)])}
    del p
    for g in path if isinstance(path, dict) else keys:
        idx = rows.get(g, slice(0, 0))
        yield g, {n: v[idx] for n, v in cols.items()}


def _at(arg, group):
    """A per-plot argument: a {group: value} dict, a function of the
    group, or one value for every plot."""
    if isinstance(arg, dict):
        return arg[group]
    return arg(group) if callable(arg) else arg


def _rasters(table, path, width, height, how, cmap, categories, spread_px, dynspread_threshold, bgcol):
    """The body both renderers share: the fetched binned table split
    into plots, each spread, shaded and coloured.  Yields (group,
    output path, shaded pixels, RGBA raster) per plot.

    ``path`` is a str for a table of one plot.  A table with a plot
    group column ``p`` (the grid combo or the facet key) takes a
    {group: path} dict, which draws every key, also one with no pixels,
    or a function of the group, which draws each group present."""
    cols = _columns(table)
    plots = [(None, cols)] if isinstance(path, str) else _split(cols, path)
    for g, pix in plots:
        if dynspread_threshold is not None:
            pix = dynspread(pix, width, height, threshold=dynspread_threshold)
        elif spread_px:
            pix = spread(pix, spread_px, width, height)
        pix = {**pix, "shade": shade_values(pix["val"], how)}
        img = raster_to_rgba(pix, width, height, cmap=cmap, categories=categories, bgcol=bgcol)
        yield g, _at(path, g), pix, img


def render_png(
    binned: pa.Table,
    path,
    width: int,
    height: int,
    how: str = "eq_hist",
    cmap: str = "viridis",
    categories: list | None = None,
    spread_px: int = 0,
    dynspread_threshold: float | None = None,
    bgcol: tuple[int, int, int] | None = None,
) -> list[str]:
    """Binned table, fetched as Arrow columns -> (spread) -> one shaded
    PNG per plot (``path`` as in :func:`_rasters`); returns the paths
    written."""
    written = []
    for _g, out, _pix, img in _rasters(
        binned, path, width, height, how, cmap, categories,
        spread_px, dynspread_threshold, bgcol,
    ):
        write_png(out, img)
        written.append(out)
    return written


def render_figure(
    binned: pa.Table,
    path,
    width: int,
    height: int,
    x_range,
    y_range,
    how: str = "eq_hist",
    cmap: str = "viridis",
    categories: list | None = None,
    title="",
    xlabel="",
    ylabel="",
    spread_px: int = 0,
    dynspread_threshold: float | None = None,
    bgcol: tuple[int, int, int] | None = None,
) -> list[str]:
    """Binned table -> one labeled FIGURE png per plot: the raster
    composed with axes, tick labels, title and a colorbar (continuous)
    or category legend ([R] data_plots.py::create_plot tail; VERDICT
    r03 #3).  Same Arrow table and shared body as render_png, plus the
    deterministic composition in shadems_spark.figure.  ``x_range``,
    ``y_range``, ``title``, ``xlabel`` and ``ylabel`` may vary per plot like
    ``path`` (see :func:`_at`); returns the paths written."""
    from shadems_spark.figure import compose_figure

    written = []
    for g, out, pix, raster in _rasters(
        binned, path, width, height, how, cmap, categories,
        spread_px, dynspread_threshold, None,
    ):
        val = pix["val"]
        fig = compose_figure(
            raster,
            x_range=_at(x_range, g),
            y_range=_at(y_range, g),
            title=_at(title, g),
            xlabel=_at(xlabel, g),
            ylabel=_at(ylabel, g),
            cmap=None if categories is not None else cmap,
            shade_range=(float(val.min()), float(val.max())) if len(val) else (0.0, 0.0),
            categories=categories,
            bgcol=bgcol if bgcol is not None else (255, 255, 255),
        )
        write_png(out, fig)
        written.append(out)
    return written
