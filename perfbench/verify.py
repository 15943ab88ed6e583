"""Output checks, run after the timed phase once per distinct request.

- plots: every PNG decodes to the requested size; for bare-canvas
  count plots the number of occupied pixels equals DuckDB's count of
  distinct ``(bx, by)`` bins over the same parquet, built from
  ``vis.VIS_SQL_COLS`` and ``raster.bin_axis_sql``;
- curation: the reported document and split counts equal a DuckDB
  recount of the written parquet;
- queries: the Spark result equals the registry's oracle SQL, compared
  as ``tools/check_oracle.py`` compares them.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np


def sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def decode_png(path: str) -> np.ndarray:
    """8-bit RGBA/RGB PNG -> H x W x C uint8.  The renderer writes
    filter-0 rows only; the other four row filters are decoded too, so
    a faster or smaller encoder still passes the check."""
    with open(path, "rb") as fh:
        data = fh.read()
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, hdr = 8, [], None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])[0]:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        pos += 12 + length
    w, h, depth, ctype, _c, _f, interlace = hdr
    if depth != 8 or ctype not in (2, 6) or interlace:
        raise ValueError(f"unsupported PNG format {hdr}")
    ch = 4 if ctype == 6 else 3
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated image data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1).astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        else:
            cur = _unfilter_seq(ftype, line, prev, ch)
        out[y] = cur
        prev = cur
    return out.reshape(h, w, ch)


def _unfilter_seq(ftype: int, line, prev, bpp: int):
    cur = np.zeros_like(line)
    for i in range(len(line)):
        a = cur[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            pred = a
        elif ftype == 3:
            pred = (a + b) // 2
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        else:
            raise ValueError(f"bad filter {ftype}")
        cur[i] = (line[i] + pred) & 0xFF
    return cur


def occupied(img: np.ndarray, bg=(255, 255, 255, 255)) -> int:
    """Pixels that differ from the background colour."""
    return int(np.any(img != np.array(bg[: img.shape[2]], np.uint8), axis=2).sum())


# -- DuckDB side of the plot check ------------------------------------

#: axis func -> DuckDB expression over the visibility view, formula-
#: identical to operators.mappers (complexops uses sqrt(re²+im²) and
#: the exact DEG_PER_RAD literal for the same reason)
def axis_sql(spec: str, col: str) -> str:
    from shadems_spark.operators.mappers import DEG_PER_RAD
    from shadems_spark.vis import LIGHTSPEED

    if ":" in spec:
        col, _, func = spec.rpartition(":")
    else:
        func = spec
    func = func.lower()
    re, im = {"DATA": ("re", "im"), "MODEL_DATA": ("mre", "mim")}[col]
    return {
        "amp": f"sqrt({re} * {re} + {im} * {im})",
        "phase": f"atan2({im}, {re}) * {_Double(DEG_PER_RAD)!r}",
        "real": re,
        "imag": im,
        "uvdist": "sqrt(u * u + v * v)",
        "u": "u",
        "v": "v",
        "w": "w",
        "time": "CAST(time_day AS DOUBLE)",
        "chan": "CAST(chan AS DOUBLE)",
        "freq": "freq",
        "uvwave": f"sqrt(u * u + v * v) * freq / {_Double(LIGHTSPEED)!r}",
    }[func]


def plot_source_sql(lineitem: str, req) -> str:
    """The selected, flag-filtered visibility rows a plot request reads
    (``cli._prepare`` semantics), as a DuckDB FROM fragment."""
    from shadems_spark.operators.mappers import CHAN_FUNCS, chan_freqs_sql
    from shadems_spark.vis import vis_sql_from

    src = vis_sql_from(f"read_parquet('{lineitem}')")
    where = ["NOT (flag OR flag_row)"]
    if req.get("field"):
        where.append("field_label IN (" + ", ".join(f"'{f}'" for f in req["field"]) + ")")
    if req.get("corr"):
        where.append("corr_label IN (" + ", ".join(f"'{c}'" for c in req["corr"].split(",")) + ")")
    if req.get("ant"):
        ants = ", ".join(str(a) for a in req["ant"])
        where.append(f"(a1 IN ({ants}) OR a2 IN ({ants}))")
    funcs = {s.rsplit(":", 1)[-1].lower() for s in req["x"].split(",") + req["y"].split(",")}
    frm = f"{src} v"
    if funcs & CHAN_FUNCS:
        frm += f" CROSS JOIN {chan_freqs_sql(n_chan=req.get('nchan', 64))} c"
        if req.get("chan"):
            start, stop, *rest = (req["chan"].split(":") + [""])[:3]
            start, stop = int(start or 0), int(stop) if stop else req.get("nchan", 64)
            step = int(rest[0]) if rest and rest[0] else 1
            where.append(f"chan >= {start} AND chan < {stop} AND (chan - {start}) % {step} = 0")
    return f"(SELECT * FROM {frm} WHERE {' AND '.join(where)})"


class _Double(float):
    """A float whose repr is an exact DuckDB DOUBLE literal.  A bare
    decimal literal parses as DECIMAL there, and DECIMAL -> DOUBLE can
    land one ulp off the double Spark binds; casting the shortest repr
    string is exact."""

    def __repr__(self) -> str:
        return f"CAST('{float.__repr__(self)}' AS DOUBLE)"


def expected_pixels(con, lineitem: str, req, x: str, y: str, col: str,
                    mirror: bool, width: int, height: int, facet: str | None = None) -> int:
    """Distinct (bx, by) over the request's rows with min/max bounds,
    the same binning as ``operators.raster``."""
    from shadems_spark.operators.raster import bin_axis_sql

    src = plot_source_sql(lineitem, req)
    xs, ys = axis_sql(x, col), axis_sql(y, col)
    pts = f"SELECT {xs} AS xv, {ys} AS yv{', ' + facet + ' AS fk' if facet else ''} FROM {src} s"
    if mirror:
        pts += f" UNION ALL SELECT -({xs}), -({ys}){', ' + facet if facet else ''} FROM {src} s"
    fin = f"SELECT * FROM ({pts}) p WHERE xv IS NOT NULL AND yv IS NOT NULL AND NOT isnan(xv) AND NOT isnan(yv)"
    lo_x, hi_x, lo_y, hi_y = con.execute(f"SELECT min(xv), max(xv), min(yv), max(yv) FROM ({fin}) f").fetchone()
    if lo_x is None:
        return 0
    bx = bin_axis_sql("xv", _Double(lo_x), _Double(hi_x), width) if hi_x > lo_x else "0"
    by = bin_axis_sql("yv", _Double(lo_y), _Double(hi_y), height) if hi_y > lo_y else "0"
    if facet:
        q = (
            f"SELECT fk, count(*) FROM (SELECT DISTINCT {bx} AS bx, {by} AS by, fk"
            f" FROM ({fin}) f) t GROUP BY fk"
        )
        return {str(k): int(n) for k, n in con.execute(q).fetchall()}
    q = f"SELECT count(*) FROM (SELECT DISTINCT {bx} AS bx, {by} AS by FROM ({fin}) f) t"
    return int(con.execute(q).fetchone()[0])


# -- curation -----------------------------------------------------------

def check_curation(con, report: dict, docs_parquet: str) -> list[str]:
    out, problems = report["out"], []
    n_docs = con.execute(f"SELECT count(*) FROM read_parquet('{docs_parquet}')").fetchone()[0]
    if report["input_docs"] != n_docs:
        problems.append(f"input_docs {report['input_docs']} != {n_docs}")
    rows = con.execute(
        f"SELECT split, count(*), CAST(sum(n_words) AS BIGINT) FROM "
        f"read_parquet('{out}/**/*.parquet', hive_partitioning = true) GROUP BY split"
    ).fetchall()
    recount = {s: {"docs": int(n), "tokens": int(t)} for s, n, t in rows}
    if report["splits"] != dict(sorted(recount.items())):
        problems.append(f"splits {report['splits']} != recount {recount}")
    total = sum(v["docs"] for v in recount.values())
    if report["curated_docs"] != total:
        problems.append(f"curated_docs {report['curated_docs']} != recount {total}")
    if "train_sequences" in report and not 0 < report["train_sequences"] <= recount.get("train", {}).get("docs", 0):
        problems.append(f"train_sequences {report['train_sequences']} out of range")
    return problems
