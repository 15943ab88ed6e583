"""Figure composition around the shaded raster (SURVEY.md §2 A4 tail;
VERDICT r03 next-round #3).

shadeMS wraps its datashader raster in a matplotlib figure — axes,
tick labels, title, colorbar, category legend ([R] shade_ms/
data_plots.py::create_plot tail ≈L300-420).  No matplotlib exists in
this container, so this module composes the same elements procedurally
into the RGBA array render.py already produces: a hand-defined 5×7
bitmap font (original glyphs, drawn here — not copied from any font
file), nice-number tick placement, a LUT colorbar strip, and palette
swatch legend.  Everything is deterministic: same inputs → identical
bytes, which the golden-layout test pins.

Driver-side and canvas-bounded like render.py: composition cost
depends on figure size only, never on data size.  Beside the figure
itself it allocates nothing canvas-sized: the raster is alpha-blended
into the panel ``BLEND_ROWS`` rows at a time.
"""

from __future__ import annotations

import math

import numpy as np

# ------------------------------------------------------------------ font

#: 5×7 glyphs, row strings, 'X' = on.  Original hand-drawn shapes.
_GLYPHS: dict[str, tuple[str, ...]] = {
    "0": (" XXX ", "X   X", "X  XX", "X X X", "XX  X", "X   X", " XXX "),
    "1": ("  X  ", " XX  ", "  X  ", "  X  ", "  X  ", "  X  ", " XXX "),
    "2": (" XXX ", "X   X", "    X", "   X ", "  X  ", " X   ", "XXXXX"),
    "3": (" XXX ", "X   X", "    X", "  XX ", "    X", "X   X", " XXX "),
    "4": ("   X ", "  XX ", " X X ", "X  X ", "XXXXX", "   X ", "   X "),
    "5": ("XXXXX", "X    ", "XXXX ", "    X", "    X", "X   X", " XXX "),
    "6": (" XXX ", "X    ", "X    ", "XXXX ", "X   X", "X   X", " XXX "),
    "7": ("XXXXX", "    X", "   X ", "  X  ", "  X  ", "  X  ", "  X  "),
    "8": (" XXX ", "X   X", "X   X", " XXX ", "X   X", "X   X", " XXX "),
    "9": (" XXX ", "X   X", "X   X", " XXXX", "    X", "    X", " XXX "),
    "A": (" XXX ", "X   X", "X   X", "XXXXX", "X   X", "X   X", "X   X"),
    "B": ("XXXX ", "X   X", "X   X", "XXXX ", "X   X", "X   X", "XXXX "),
    "C": (" XXX ", "X   X", "X    ", "X    ", "X    ", "X   X", " XXX "),
    "D": ("XXXX ", "X   X", "X   X", "X   X", "X   X", "X   X", "XXXX "),
    "E": ("XXXXX", "X    ", "X    ", "XXXX ", "X    ", "X    ", "XXXXX"),
    "F": ("XXXXX", "X    ", "X    ", "XXXX ", "X    ", "X    ", "X    "),
    "G": (" XXX ", "X   X", "X    ", "X XXX", "X   X", "X   X", " XXX "),
    "H": ("X   X", "X   X", "X   X", "XXXXX", "X   X", "X   X", "X   X"),
    "I": (" XXX ", "  X  ", "  X  ", "  X  ", "  X  ", "  X  ", " XXX "),
    "J": ("    X", "    X", "    X", "    X", "X   X", "X   X", " XXX "),
    "K": ("X   X", "X  X ", "X X  ", "XX   ", "X X  ", "X  X ", "X   X"),
    "L": ("X    ", "X    ", "X    ", "X    ", "X    ", "X    ", "XXXXX"),
    "M": ("X   X", "XX XX", "X X X", "X X X", "X   X", "X   X", "X   X"),
    "N": ("X   X", "XX  X", "X X X", "X  XX", "X   X", "X   X", "X   X"),
    "O": (" XXX ", "X   X", "X   X", "X   X", "X   X", "X   X", " XXX "),
    "P": ("XXXX ", "X   X", "X   X", "XXXX ", "X    ", "X    ", "X    "),
    "Q": (" XXX ", "X   X", "X   X", "X   X", "X X X", "X  X ", " XX X"),
    "R": ("XXXX ", "X   X", "X   X", "XXXX ", "X X  ", "X  X ", "X   X"),
    "S": (" XXXX", "X    ", "X    ", " XXX ", "    X", "    X", "XXXX "),
    "T": ("XXXXX", "  X  ", "  X  ", "  X  ", "  X  ", "  X  ", "  X  "),
    "U": ("X   X", "X   X", "X   X", "X   X", "X   X", "X   X", " XXX "),
    "V": ("X   X", "X   X", "X   X", "X   X", "X   X", " X X ", "  X  "),
    "W": ("X   X", "X   X", "X   X", "X X X", "X X X", "XX XX", "X   X"),
    "X": ("X   X", "X   X", " X X ", "  X  ", " X X ", "X   X", "X   X"),
    "Y": ("X   X", "X   X", " X X ", "  X  ", "  X  ", "  X  ", "  X  "),
    "Z": ("XXXXX", "    X", "   X ", "  X  ", " X   ", "X    ", "XXXXX"),
    ".": ("     ", "     ", "     ", "     ", "     ", "  XX ", "  XX "),
    ",": ("     ", "     ", "     ", "     ", "  XX ", "  XX ", " X   "),
    "-": ("     ", "     ", "     ", " XXX ", "     ", "     ", "     "),
    "+": ("     ", "  X  ", "  X  ", "XXXXX", "  X  ", "  X  ", "     "),
    ":": ("     ", "  XX ", "  XX ", "     ", "  XX ", "  XX ", "     "),
    "/": ("    X", "    X", "   X ", "  X  ", " X   ", "X    ", "X    "),
    "(": ("   X ", "  X  ", " X   ", " X   ", " X   ", "  X  ", "   X "),
    ")": (" X   ", "  X  ", "   X ", "   X ", "   X ", "  X  ", " X   "),
    "%": ("XX  X", "XX  X", "   X ", "  X  ", " X   ", "X  XX", "X  XX"),
    "=": ("     ", "     ", "XXXXX", "     ", "XXXXX", "     ", "     "),
    "_": ("     ", "     ", "     ", "     ", "     ", "     ", "XXXXX"),
    " ": ("     ", "     ", "     ", "     ", "     ", "     ", "     "),
}

GLYPH_W, GLYPH_H = 5, 7
#: per-character advance (1px gap)
CHAR_ADV = GLYPH_W + 1


def _glyph(ch: str) -> tuple[str, ...]:
    return _GLYPHS.get(ch.upper(), _GLYPHS[" "])


def text_width(s: str, scale: int = 1) -> int:
    return (len(s) * CHAR_ADV - 1) * scale if s else 0


def draw_text(
    img: np.ndarray, x: int, y: int, s: str,
    color: tuple[int, int, int] = (0, 0, 0), scale: int = 1,
) -> None:
    """Blit ``s`` with its top-left at (x, y); clips at image edges.
    Lowercase renders as uppercase (single-case font)."""
    h, w = img.shape[:2]
    for ci, ch in enumerate(s):
        gx = x + ci * CHAR_ADV * scale
        for ry, row in enumerate(_glyph(ch)):
            for rx, bit in enumerate(row):
                if bit != "X":
                    continue
                for sy in range(scale):
                    for sx in range(scale):
                        px, py = gx + rx * scale + sx, y + ry * scale + sy
                        if 0 <= px < w and 0 <= py < h:
                            img[py, px, :3] = color
                            img[py, px, 3] = 255


def draw_text_vertical(
    img: np.ndarray, x: int, y: int, s: str,
    color: tuple[int, int, int] = (0, 0, 0), scale: int = 1,
) -> None:
    """Bottom-to-top vertical text (y-axis label): each glyph rotated
    90° counter-clockwise."""
    h, w = img.shape[:2]
    for ci, ch in enumerate(s):
        gy = y - ci * CHAR_ADV * scale
        rows = _glyph(ch)
        for ry, row in enumerate(rows):
            for rx, bit in enumerate(row):
                if bit != "X":
                    continue
                # rotate (rx, ry) CCW: x' = ry, y' = -rx
                for sy in range(scale):
                    for sx in range(scale):
                        px = x + ry * scale + sx
                        py = gy - rx * scale - sy
                        if 0 <= px < w and 0 <= py < h:
                            img[py, px, :3] = color
                            img[py, px, 3] = 255


# ------------------------------------------------------------------ ticks

def nice_ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    """matplotlib-MaxNLocator-style ticks: steps from {1,2,2.5,5,10}
    × 10^k covering [lo, hi] with about ``n`` intervals."""
    if not math.isfinite(lo) or not math.isfinite(hi) or hi <= lo:
        return [lo]
    span = hi - lo
    raw = span / max(1, n)
    mag = 10.0 ** math.floor(math.log10(raw))
    for mult in (1.0, 2.0, 2.5, 5.0, 10.0):
        step = mult * mag
        if span / step <= n:
            break
    first = math.ceil(lo / step) * step
    ticks = []
    t = first
    while t <= hi + step * 1e-9:
        ticks.append(0.0 if abs(t) < step * 1e-9 else t)
        t += step
    return ticks


def fmt_tick(v: float) -> str:
    """Compact deterministic tick label (%g-style, ≤6 significant)."""
    s = f"{v:.6g}"
    return s.replace("e+0", "e").replace("e-0", "e-")


# ------------------------------------------------------------------ layout

#: fixed margins (px) — deterministic layout, pinned by the golden test.
M_LEFT, M_RIGHT, M_TOP, M_BOTTOM = 64, 84, 24, 36
TICK_LEN = 4
#: rows of the raster alpha-blended into the panel at a time
BLEND_ROWS = 64

_BLACK = (0, 0, 0)
_GREY = (128, 128, 128)


def compose_figure(
    raster: np.ndarray,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    title: str = "",
    xlabel: str = "",
    ylabel: str = "",
    cmap: str | None = None,
    shade_range: tuple[float, float] | None = None,
    categories: list | None = None,
    bgcol: tuple[int, int, int] = (255, 255, 255),
) -> np.ndarray:
    """Compose axes + ticks + labels (+ colorbar | legend) around a
    shaded raster -> a larger RGBA figure.

    ``cmap`` draws a continuous colorbar (labeled with ``shade_range``,
    default 0..1); ``categories`` draws palette swatches instead —
    exactly one of the two sidebars renders, matching create_plot's
    colorbar-or-legend behavior."""
    from shadems_spark.render import PALETTE, lut

    rh, rw = raster.shape[:2]
    W, H = M_LEFT + rw + M_RIGHT, M_TOP + rh + M_BOTTOM
    fig = np.zeros((H, W, 4), dtype=np.uint8)
    fig[:, :, :3] = bgcol
    fig[:, :, 3] = 255

    # raster panel (alpha-over the background), a block of rows at a
    # time: the uint16 temporaries stay BLEND_ROWS tall on any canvas
    panel = fig[M_TOP : M_TOP + rh, M_LEFT : M_LEFT + rw]
    for r in range(0, rh, BLEND_ROWS):
        src, dst = raster[r : r + BLEND_ROWS], panel[r : r + BLEND_ROWS]
        a = src[:, :, 3:4].astype(np.uint16)
        dst[:, :, :3] = (
            (src[:, :, :3].astype(np.uint16) * a + dst[:, :, :3] * (255 - a)) // 255
        ).astype(np.uint8)

    # axes box
    x0, y0, x1, y1 = M_LEFT - 1, M_TOP - 1, M_LEFT + rw, M_TOP + rh
    fig[y0, x0 : x1 + 1, :3] = _BLACK
    fig[y1, x0 : x1 + 1, :3] = _BLACK
    fig[y0 : y1 + 1, x0, :3] = _BLACK
    fig[y0 : y1 + 1, x1, :3] = _BLACK

    # x ticks (data → pixel: linear over the range)
    xlo, xhi = x_range
    for t in nice_ticks(xlo, xhi):
        if xhi == xlo:
            continue
        px = M_LEFT + int(round((t - xlo) / (xhi - xlo) * (rw - 1)))
        fig[y1 + 1 : y1 + 1 + TICK_LEN, px, :3] = _BLACK
        lbl = fmt_tick(t)
        draw_text(fig, px - text_width(lbl) // 2, y1 + TICK_LEN + 3, lbl)
    # y ticks (row 0 = top = yhi)
    ylo, yhi = y_range
    for t in nice_ticks(ylo, yhi):
        if yhi == ylo:
            continue
        py = M_TOP + int(round((yhi - t) / (yhi - ylo) * (rh - 1)))
        fig[py, x0 - TICK_LEN : x0, :3] = _BLACK
        lbl = fmt_tick(t)
        draw_text(fig, x0 - TICK_LEN - 2 - text_width(lbl), py - GLYPH_H // 2, lbl)

    # title + axis labels
    if title:
        draw_text(fig, M_LEFT + (rw - text_width(title)) // 2, 8, title)
    if xlabel:
        draw_text(fig, M_LEFT + (rw - text_width(xlabel)) // 2, H - GLYPH_H - 3, xlabel)
    if ylabel:
        draw_text_vertical(fig, 4, M_TOP + (rh + text_width(ylabel)) // 2, ylabel)

    # right sidebar: colorbar OR category legend
    sx = M_LEFT + rw + 14
    if categories is not None:
        sw = 10
        for i, cat in enumerate(categories):
            cy = M_TOP + i * (GLYPH_H + 6)
            if cy + sw > M_TOP + rh:
                draw_text(fig, sx, cy, "...")
                break
            fig[cy : cy + sw, sx : sx + sw, :3] = PALETTE[i % len(PALETTE)]
            fig[cy : cy + sw, sx : sx + sw, 3] = 255
            draw_text(fig, sx + sw + 4, cy + 1, str(cat)[:9])
    elif cmap is not None:
        table = lut(cmap)
        bar_w, bar_h = 12, rh
        ys = np.arange(bar_h)
        idx = ((bar_h - 1 - ys) * 255) // max(1, bar_h - 1)
        fig[M_TOP : M_TOP + bar_h, sx : sx + bar_w, :3] = table[idx][:, None, :]
        fig[M_TOP : M_TOP + bar_h, sx : sx + bar_w, 3] = 255
        for edge in (M_TOP - 1, M_TOP + bar_h):
            fig[edge, sx - 1 : sx + bar_w + 1, :3] = _GREY
        fig[M_TOP - 1 : M_TOP + bar_h + 1, sx - 1, :3] = _GREY
        fig[M_TOP - 1 : M_TOP + bar_h + 1, sx + bar_w, :3] = _GREY
        slo, shi = shade_range if shade_range is not None else (0.0, 1.0)
        draw_text(fig, sx + bar_w + 4, M_TOP - GLYPH_H // 2, fmt_tick(shi))
        draw_text(fig, sx + bar_w + 4, M_TOP + bar_h - GLYPH_H // 2, fmt_tick(slo))
        mid = (slo + shi) / 2.0
        draw_text(fig, sx + bar_w + 4, M_TOP + bar_h // 2 - GLYPH_H // 2, fmt_tick(mid))
    return fig
