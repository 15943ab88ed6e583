"""The order of ``load_registry()``.

The driver checks a prefix of this order against DuckDB, so the order
decides which queries it checks.  It is registration order: the family
modules in ``_MODULES`` order, each in definition order, which puts
the plot path's raster queries among the first 50.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

#: the plot path's binning and raster queries
RASTER = [
    "q_minmax", "q_bin2d", "q_raster_count", "q_zorder",
    "q_raster_count_cat", "q_raster_mean", "q_raster_sum", "q_raster_min",
    "q_raster_max", "q_raster_std", "q_raster_var",
]


def _fresh_order() -> list[tuple[str, int]]:
    """(name, family module index) in ``load_registry()`` order, from a
    new interpreter: a test that imported one family module earlier
    would have registered its queries first in this one."""
    code = (
        "import json\n"
        "from shadems_spark.queries import _MODULES, load_registry\n"
        "def fam(m):\n"
        "    return next(i for i, x in enumerate(_MODULES)"
        " if m == x or m.startswith(x + '.'))\n"
        "print(json.dumps([(n, fam(f.__module__))"
        " for n, (f, _) in load_registry().items()]))\n"
    )
    env = {**os.environ, "PYTHONPATH": ROOT}
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env=env, check=True,
    )
    return [tuple(x) for x in json.loads(p.stdout.splitlines()[-1])]


def test_registry_order_is_module_order():
    order = _fresh_order()
    names = [n for n, _ in order]
    assert len(names) == len(set(names)) == 357
    first = set(names[:50])
    assert [q for q in RASTER if q not in first] == []
    fams = [i for _, i in order]
    assert fams == sorted(fams), "a query registered before an earlier family's"
