"""Selection layer (SURVEY.md §2 C: F1-F8) — the CLI's --field/--spw/
--scan/--ant/--baseline/--corr/--chan/flag surface.

All reference selections compose conjunctively and are applied as
masks before derived-column compute ([R] shade_ms/main.py selection
parsing ≈L300-420 -> data_plots.py::get_plot_data masks ≈L120-220).
Here each is a plain Catalyst predicate so pushdown/pruning order the
work; on partitioned layouts the group-key selections become partition
pruning for free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_groups(df: DataFrame, key: str, values: Sequence) -> DataFrame:
    """F1: --field/--spw/--scan group-key selection (isin -> partition
    pruning when the layout is partitioned by the key)."""
    return df.filter(F.col(key).isin(list(values)))


def select_antennas(df: DataFrame, ants: Sequence, a1: str = "a1", a2: str = "a2") -> DataFrame:
    """F2: rows where either antenna of the baseline is selected."""
    ants = list(ants)
    return df.filter(F.col(a1).isin(ants) | F.col(a2).isin(ants))


def select_baselines(
    df: DataFrame, pairs: Sequence[tuple], a1: str = "a1", a2: str = "a2"
) -> DataFrame:
    """F3: --baseline "m000-m012" style unordered pair selection."""
    pred = None
    for x, y in pairs:
        lo, hi = min(x, y), max(x, y)
        p = (F.least(F.col(a1), F.col(a2)) == lo) & (F.greatest(F.col(a1), F.col(a2)) == hi)
        pred = p if pred is None else (pred | p)
    return df.filter(pred) if pred is not None else df


def chan_slice(df: DataFrame, pos: str, start: int, stop: int, step: int = 1) -> DataFrame:
    """F5: python-slice [start:stop:step] over a positional axis
    ([R] DataAxis.get_column_slice)."""
    cond = (F.col(pos) >= start) & (F.col(pos) < stop)
    if step != 1:
        cond = cond & ((F.col(pos) - start) % step == 0)
    return df.filter(cond)


def apply_flags(
    df: DataFrame, flag: str = "flag", flag_row: str = "flag_row", noflags: bool = False
) -> DataFrame:
    """F6: drop samples where FLAG | FLAG_ROW unless --noflags."""
    if noflags:
        return df
    return df.filter(~(F.col(flag) | F.col(flag_row)))


def finite(c: Column) -> Column:
    """True where ``c`` is neither null nor NaN."""
    return c.isNotNull() & ~F.isnan(c)


def drop_nonfinite(df: DataFrame, *cols: Column) -> DataFrame:
    """F8: NaN/null hygiene — non-finite derived values never reach
    the raster (datashader skips them)."""
    out = df
    for c in cols:
        out = out.filter(finite(c))
    return out
