"""Derived-quantity mappers + axis-spec parsing (SURVEY.md §2 B).

The reference defines every plottable quantity in a registry of
DataMapper lambdas and parses axis specs like ``DATA:amp`` /
``DATA-MODEL_DATA:phase`` / ``CORRECTED_DATA/MODEL_DATA:real``
([R] shade_ms/data_mappers.py::data_mappers ≈L30-120 and ::DataAxis
≈L150-260).  Here each mapper is a pure Column-expression builder over
the engine's visibility view (vis.py), so every axis stays inside
whole-stage codegen.

``parse_axis("DATA-MODEL:amp")`` -> Column: column arithmetic first
(complex +,-,*,/ over struct<re,im>), then the scalar mapper.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from shadems_spark.functions import complexops as C
from shadems_spark.vis import LIGHTSPEED

#: 180/pi as the exact double constant — used instead of F.degrees()
#: so the oracle SQL can multiply by the same literal (Java's
#: toDegrees computes x*180/pi which can differ by 1 ulp from
#: x*(180/pi)).
DEG_PER_RAD = 57.29577951308232

#: complex-valued columns of the visibility view (the --col surface).
VIS_COLUMNS = {"DATA": "vis", "MODEL_DATA": "model", "D": "vis", "M": "model"}

_ARITH = {"-": C.c_sub, "+": C.c_add, "*": C.c_mul, "/": C.c_div}


def phase_deg(c: Column) -> Column:
    return F.atan2(C.c_im(c), C.c_re(c)) * F.lit(DEG_PER_RAD)


#: mapper name -> builder(complex_col | None) -> Column
#: (the data_mappers registry; '_' is raw passthrough P1).
MAPPERS: dict[str, Callable[..., Column]] = {
    "_": lambda c: c,
    "amp": C.c_amp,
    "phase": phase_deg,
    "real": C.c_re,
    "imag": C.c_im,
    "uvdist": lambda: F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v")),
    "u": lambda: F.col("u"),
    "v": lambda: F.col("v"),
    "w": lambda: F.col("w"),
    "time": lambda: F.col("time_day").cast("double"),
    "baseline": lambda: baseline_index(F.col("a1"), F.col("a2")),
    # channel-shaped axes: valid after the broadcast chan_freqs join
    # (P7/P9/P10 — cli.run attaches the channel dim on demand)
    "chan": lambda: F.col("chan").cast("double"),
    "freq": lambda: F.col("freq"),
    "wavel": lambda: F.col("wavel"),
    "uvwave": lambda: F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v"))
    * F.col("freq") / F.lit(LIGHTSPEED),
}

#: axis funcs that need the channel dimension attached first.
CHAN_FUNCS = {"chan", "freq", "wavel", "uvwave"}


def baseline_index(a1: Column, a2: Column, n_ant: int = 2048) -> Column:
    """P11: unique triangular index per unordered antenna pair
    ([R] shade_ms/ms_info.py baseline numbering).  p*(p+1) is even and
    < 2^53, so the /2 is exact in either integer or double math."""
    p, q = F.least(a1, a2), F.greatest(a1, a2)
    tri = ((p * (p + F.lit(1))) / F.lit(2)).cast("long")
    return (p * F.lit(n_ant) - tri + q).cast("long")


def baseline_index_sql(n_ant: int = 2048) -> str:
    return (
        f"CAST(least(a1,a2) * {n_ant}"
        " - (least(a1,a2) * (least(a1,a2) + 1)) // 2"
        " + greatest(a1,a2) AS BIGINT)"
    )


def parse_axis(spec: str, build: bool = True) -> Column | None:
    """Axis-spec grammar: ``[COL[<op>COL2]:]func`` (P2 + B mappers).

    Examples: ``amp`` (defaults to DATA), ``DATA:phase``,
    ``DATA-MODEL_DATA:amp``, ``D/M:real``, ``uvdist``, ``time``.
    ``build=False`` only checks the spec, raising the same ValueError
    and building no Column, so it needs no live SparkContext.
    """
    col_part, _, func = spec.rpartition(":")
    func = func or "_"
    if func in MAPPERS and not col_part and func not in VIS_COLUMNS:
        fn = MAPPERS[func]
        if fn.__code__.co_argcount == 0:
            return fn() if build else None
        col_part = "DATA"
    base = _parse_col(col_part or "DATA", build)
    fn = MAPPERS.get(func)
    if fn is None:
        raise ValueError(f"unknown mapper {func!r} in axis spec {spec!r}")
    if not build:
        return None
    return fn(base) if fn.__code__.co_argcount else fn()


def _parse_col(col_part: str, build: bool = True) -> Column | None:
    for op, cfn in _ARITH.items():
        if op in col_part:
            lhs, rhs = col_part.split(op, 1)
            lhs, rhs = _parse_col(lhs.strip(), build), _parse_col(rhs.strip(), build)
            return cfn(lhs, rhs) if build else None
    name = col_part.strip()
    if name not in VIS_COLUMNS:
        raise ValueError(f"unknown visibility column {name!r}")
    return F.col(VIS_COLUMNS[name]) if build else None


def chan_freqs(spark, n_chan: int = 64, f0: float = 1.0e9, df: float = 1.0e6):
    """P9/J3: the per-spw CHAN_FREQ dimension table ([R]
    ms_info.py SPECTRAL_WINDOW read).  Tiny — always broadcast."""
    return spark.range(n_chan).select(
        F.col("id").alias("chan"),
        (F.lit(f0) + F.col("id") * F.lit(df)).alias("freq"),
        (F.lit(LIGHTSPEED) / (F.lit(f0) + F.col("id") * F.lit(df))).alias("wavel"),
    )


def chan_freqs_sql(n_chan: int = 64, f0: float = 1.0e9, df: float = 1.0e6) -> str:
    return (
        f"(SELECT i AS chan, {f0!r} + i * {df!r} AS freq, "
        f"{LIGHTSPEED!r} / ({f0!r} + i * {df!r}) AS wavel "
        f"FROM generate_series(0, {n_chan - 1}) t(i))"
    )
