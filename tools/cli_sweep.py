"""PNG identity sweep: run a fixed list of CLI cases and print one
``relative-path sha256`` line per PNG written, sorted, so the output
of two checkouts can be compared with ``diff``.

The cases cover every norm, single plots and grids, the u/v conjugate
mirror and --noconj, colour axes, every facet flavour, figures,
spread/dynspread, aggregation axes and their limits, robust bounds and
fixed limits.  Cases draw a 128x96 canvas unless they give their own
--xcanvas/--ycanvas.

Every case runs twice in the one session: the second pass re-uses the
results the first one kept (cli's action memo) and must write the
same bytes.  The tool exits 1 if any PNG of the second pass differs;
it prints the first pass's lines only.

Usage:
    python tools/cli_sweep.py FIXTURE_DIR OUT_DIR > sweep.txt

The tool imports ``shadems_spark`` from PYTHONPATH before its own
checkout, so one copy of it sweeps another checkout:
    PYTHONPATH=/path/to/other/checkout python tools/cli_sweep.py ...
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: case name -> CLI arguments after the fixture directory
CASES = {
    **{f"norm_{n}": ["-x", "time", "-y", "amp", "--norm", n] for n in ("eq_hist", "log", "cbrt", "linear")},
    "single": ["-x", "uvdist", "-y", "phase"],
    "grid": ["-x", "time,uvdist", "-y", "amp,real", "--png", "{xname}_{yname}.png"],
    "mirror": ["-x", "u", "-y", "v"],
    "noconj": ["-x", "u", "-y", "v", "--noconj"],
    "colour": ["-x", "time", "-y", "amp", "-C", "corr_label"],
    # more binned rows than one Arrow batch: batch order and colour mixing
    "colour_large": ["-x", "time", "-y", "amp", "-C", "corr_label", "--xcanvas", "1280", "--ycanvas", "900"],
    **{
        f"iter_{k}": ["-x", "time", "-y", "amp", "--iter", k, "--png", "{xname}_{yname}{group}.png"]
        for k in ("corr", "field", "ant")
    },
    "iter_field_flag": ["-x", "time", "-y", "amp", "--iter-field", "--png", "{xname}_{yname}{field}.png"],
    "figure": ["-x", "time", "-y", "amp", "--figure"],
    "figure_colour": ["-x", "time", "-y", "amp", "-C", "corr_label", "--figure"],
    # partial alphas blended across many of compose_figure's row blocks
    "figure_colour_large": [
        "-x", "time", "-y", "amp", "-C", "corr_label", "--figure", "--xcanvas", "1280", "--ycanvas", "900",
    ],
    "spread": ["-x", "uvdist", "-y", "amp", "--spread", "1"],
    "dynspread": ["-x", "u", "-y", "v", "--dynspread"],
    **{f"ared_{r}": ["-x", "time", "-y", "amp", "--ared", r, "-a", "DATA:real"] for r in ("mean", "std")},
    "ared_clip": ["-x", "time", "-y", "amp", "--ared", "max", "-a", "DATA:real", "--amin", "0", "--amax", "50000"],
    "robust": ["-x", "uvdist", "-y", "amp", "--robust"],
    "limits": ["-x", "time", "-y", "amp", "--xmin", "2000", "--xmax", "2400", "--ymin", "0", "--ymax", "50000"],
    "grid_colour": ["-x", "time,uvdist", "-y", "amp", "-C", "corr_label", "--png", "{xname}_{yname}.png"],
    "grid_iter": ["-x", "time,uvdist", "-y", "amp", "--iter", "corr", "--png", "{xname}_{yname}{group}.png"],
}


def sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    fixture, out = argv
    from shadems_spark import cli
    from shadems_spark.session import get_spark

    spark = get_spark("cli-sweep")
    passes = []
    for _ in range(2):
        lines = []
        for name, case in CASES.items():
            d = os.path.join(out, name)
            # a case's own --xcanvas/--ycanvas come later, so they win
            argv = [fixture, "--xcanvas", "128", "--ycanvas", "96", *case, "--dir", d]
            for p in cli.run(argv, spark=spark):
                lines.append(f"{os.path.relpath(p, out)} {sha256(p)}")
        passes.append(sorted(lines))
    spark.stop()
    print("\n".join(passes[0]))
    for line in sorted(set(passes[0]) ^ set(passes[1])):
        print(f"second pass differs: {line}", file=sys.stderr)
    return int(passes[0] != passes[1])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
