"""CLI + PNG-sink tests (SURVEY.md §2 A4/A5, §3.1 lifecycle): the
shadems-equivalent surface must go axis-spec -> selection -> two-job
raster -> shaded PNG, deterministically."""

from __future__ import annotations

import itertools
import struct
import zlib

import numpy as np
import pytest

from shadems_spark import cli
from shadems_spark.operators import exprcache
from shadems_spark.render import lut, raster_to_rgba, render_png, write_png


def _png_size(path):
    with open(path, "rb") as f:
        data = f.read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert data[12:16] == b"IHDR"
    w, h = struct.unpack(">II", data[16:24])
    return w, h, data


def _decode_png(data: bytes) -> np.ndarray:
    """Decode our own filter-0 RGBA PNGs back to an array."""
    w, h = struct.unpack(">II", data[16:24])
    idat_len = struct.unpack(">I", data[33:37])[0]
    raw = zlib.decompress(data[41 : 41 + idat_len])
    stride = 1 + 4 * w
    rows = [raw[y * stride + 1 : (y + 1) * stride] for y in range(h)]
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w, 4)


def test_write_png_roundtrip(tmp_path):
    rgba = np.zeros((4, 3, 4), dtype=np.uint8)
    rgba[1, 2] = (10, 20, 30, 255)
    p = str(tmp_path / "t.png")
    write_png(p, rgba)
    w, h, data = _png_size(p)
    assert (w, h) == (3, 4)
    # decode IDAT and undo the filter-0 scanlines
    idat_len = struct.unpack(">I", data[33:37])[0]
    raw = zlib.decompress(data[41 : 41 + idat_len])
    rows = [raw[y * (1 + 3 * 4) + 1 : (y + 1) * (1 + 3 * 4)] for y in range(4)]
    decoded = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(4, 3, 4)
    assert (decoded == rgba).all()


def test_lut_endpoints():
    t = lut("grey")
    assert t.shape == (256, 3)
    assert (t[0] == [0, 0, 0]).all() and (t[255] == [255, 255, 255]).all()


def test_raster_orientation():
    """by=0 must land on the BOTTOM scanline (y axis points up)."""
    pix = {"bx": [0], "by": [0], "shade": [1.0]}
    img = raster_to_rgba(pix, width=2, height=3, cmap="grey")
    assert img[2, 0, 3] == 255 and img[0, 0, 3] == 0


def test_cli_end_to_end(tmp_path, spark, sf_dir):
    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "DATA:amp",
            "--xcanvas", "64", "--ycanvas", "48",
            "--dir", str(tmp_path), "--png", "{ms}_{xname}_{yname}.png",
        ],
        spark=spark,
    )
    assert len(paths) == 1 and paths[0].endswith("sf0.001_time_DATA_amp.png")
    w, h, _ = _png_size(paths[0])
    assert (w, h) == (64, 48)


def test_cli_deterministic(tmp_path, spark, sf_dir):
    argv = [
        sf_dir, "-x", "time", "-y", "amp",
        "--xcanvas", "32", "--ycanvas", "32", "--norm", "log",
        "--dir", str(tmp_path),
    ]
    p1 = cli.run(argv + ["--png", "a.png"], spark=spark)[0]
    exprcache.clear_results()  # the second run runs its jobs again
    p2 = cli.run(argv + ["--png", "b.png"], spark=spark)[0]
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_cli_facets(tmp_path, spark, sf_dir):
    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "DATA:phase", "--iter-field",
            "--xcanvas", "32", "--ycanvas", "32",
            "--dir", str(tmp_path), "--png", "f{field}.png",
        ],
        spark=spark,
    )
    assert len(paths) >= 2  # one PNG per field_label present at this sf
    for p in paths:
        assert _png_size(p)[:2] == (32, 32)


def test_cli_chan_axis(tmp_path, spark, sf_dir):
    """Channel-shaped axes attach the broadcast spectral-window dim;
    --chan slices it (row x chan outer product, F5)."""
    paths = cli.run(
        [
            sf_dir, "-x", "uvwave", "-y", "amp",
            "--nchan", "8", "--chan", "0:8:2",
            "--xcanvas", "32", "--ycanvas", "32",
            "--dir", str(tmp_path), "--png", "chan.png",
        ],
        spark=spark,
    )
    assert _png_size(paths[0])[:2] == (32, 32)


def test_cli_agg_axis_clip(tmp_path, spark, sf_dir):
    """--ared mean over --aaxis with --amin/--amax clipping (F7)."""
    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "amp",
            "--ared", "mean", "-a", "DATA:real",
            "--amin", "0", "--amax", "50000",
            "--xcanvas", "32", "--ycanvas", "32",
            "--dir", str(tmp_path), "--png", "agg.png",
        ],
        spark=spark,
    )
    assert _png_size(paths[0])[:2] == (32, 32)


def test_cli_iter_corr(tmp_path, spark, sf_dir):
    """--iter corr facets on the correlation label (A/N/R)."""
    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "amp", "--iter", "corr",
            "--xcanvas", "16", "--ycanvas", "16",
            "--dir", str(tmp_path), "--png", "c{group}.png",
        ],
        spark=spark,
    )
    assert len(paths) >= 2
    assert all("c_" in p for p in paths)


def test_cli_uv_mirror_with_colour_and_agg(tmp_path, spark, sf_dir):
    """'-x u -y v' conjugate-mirrors the coverage; the union must keep
    the --colour-by and --ared/--aaxis columns (ADVICE r01: the mirror
    used to drop them -> AnalysisException)."""
    paths = cli.run(
        [
            sf_dir, "-x", "u", "-y", "v", "-C", "corr_label",
            "--ared", "mean", "-a", "DATA:amp",
            "--xcanvas", "24", "--ycanvas", "24",
            "--dir", str(tmp_path), "--png", "uv.png",
        ],
        spark=spark,
    )
    assert _png_size(paths[0])[:2] == (24, 24)


def test_cli_uv_mirror_faceted(tmp_path, spark, sf_dir):
    """The mirror must also carry the --iter facet key."""
    paths = cli.run(
        [
            sf_dir, "-x", "u", "-y", "v", "--iter", "field",
            "--xcanvas", "16", "--ycanvas", "16",
            "--dir", str(tmp_path), "--png", "uvf{group}.png",
        ],
        spark=spark,
    )
    assert len(paths) >= 2


def test_cli_iter_scan_spw_baseline(tmp_path, spark, sf_dir):
    """[R] main.py --iter-scan/-spw/-baseline parity: each facet axis
    yields one PNG per group from ONE raster plan."""
    for facet, at_least in (("scan", 2), ("spw", 2), ("baseline", 2)):
        paths = cli.run(
            [
                sf_dir, "-x", "time", "-y", "amp", "--iter", facet,
                "--xcanvas", "8", "--ycanvas", "8",
                "--dir", str(tmp_path), "--png", facet + "{group}.png",
            ],
            spark=spark,
        )
        assert len(paths) >= at_least, facet


def test_cli_row_chunk_size_is_rows_per_chunk(tmp_path, spark, sf_dir):
    """-z means rows PER CHUNK: a huge -z on a tiny table must yield
    ONE partition, not -z partitions (ADVICE r01)."""
    assert cli._chunk_partitions(6000, 100000) == 1
    assert cli._chunk_partitions(6000, 1000) == 6
    assert cli._chunk_partitions(6001, 1000) == 7
    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "amp", "-z", "100000",
            "--xcanvas", "8", "--ycanvas", "8",
            "--dir", str(tmp_path), "--png", "z.png",
        ],
        spark=spark,
    )
    assert _png_size(paths[0])[:2] == (8, 8)


def test_spread_neighborhood_max():
    """tf.spread semantics on one plot's binned pixels: one occupied
    pixel paints its (2px+1)² neighbourhood, clipped to the canvas, max
    on overlap."""
    from shadems_spark.render import dynspread, spread

    def pix(cells):
        bx, by, val = (np.array(c) for c in zip(*cells))
        return {"bx": bx, "by": by, "val": val.astype(np.float64)}

    def as_dict(p):
        return {(int(x), int(y)): v for x, y, v in zip(p["bx"], p["by"], p["val"])}

    binned = pix([(0, 0, 9), (5, 5, 4)])
    out = as_dict(spread(binned, 1, 8, 8))
    # corner pixel clips to 4 cells; interior paints 9
    assert len(out) == 4 + 9
    assert out[(0, 0)] == 9 and out[(1, 1)] == 9
    assert out[(4, 4)] == 4 and out[(6, 6)] == 4
    assert (7, 7) not in out
    # dynspread: two isolated points -> spreads; a dense block -> no-op
    dyn = set(as_dict(dynspread(binned, 8, 8, max_px=2)))
    assert len(dyn) > 2
    dense = pix([(x, y, 1) for x in range(4) for y in range(4)])
    assert len(dynspread(dense, 8, 8)["val"]) == 16


def test_cli_spread_golden_pixels(tmp_path, spark, sf_dir):
    """--spread 1 must strictly grow the set of painted pixels of the
    same plot, and identical argv stays deterministic."""
    base_argv = [
        sf_dir, "-x", "time", "-y", "amp",
        "--xcanvas", "48", "--ycanvas", "48", "--norm", "linear",
        "--bgcol", "none",  # alpha marks occupancy for this test
        "--dir", str(tmp_path),
    ]
    p0 = cli.run(base_argv + ["--png", "nospread.png"], spark=spark)[0]
    p1 = cli.run(base_argv + ["--spread", "1", "--png", "spread.png"], spark=spark)[0]

    def painted(path):
        _, _, data = _png_size(path)
        idat_len = struct.unpack(">I", data[33:37])[0]
        raw = zlib.decompress(data[41 : 41 + idat_len])
        px = np.frombuffer(
            b"".join(
                raw[y * (1 + 48 * 4) + 1 : (y + 1) * (1 + 48 * 4)] for y in range(48)
            ),
            dtype=np.uint8,
        ).reshape(48, 48, 4)
        return {(x, y) for y in range(48) for x in range(48) if px[y, x, 3] > 0}

    a, b = painted(p0), painted(p1)
    assert a and a < b  # strict superset: neighbourhoods painted
    p2 = cli.run(base_argv + ["--spread", "1", "--png", "spread2.png"], spark=spark)[0]
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_cli_dynspread_and_cmaps(tmp_path, spark, sf_dir):
    """--dynspread end-to-end plus a couple of the new LUT names."""
    for cmap in ("inferno", "coolwarm"):
        paths = cli.run(
            [
                sf_dir, "-x", "u", "-y", "v", "--dynspread", "--cmap", cmap,
                "--xcanvas", "24", "--ycanvas", "24",
                "--dir", str(tmp_path), "--png", f"d_{cmap}.png",
            ],
            spark=spark,
        )
        assert _png_size(paths[0])[:2] == (24, 24)


def test_cli_categorical(tmp_path, spark, sf_dir):
    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "amp", "-C", "corr_label",
            "--xcanvas", "32", "--ycanvas", "32",
            "--dir", str(tmp_path), "--png", "cat.png",
        ],
        spark=spark,
    )
    w, h, _ = _png_size(paths[0])
    assert (w, h) == (32, 32)


def test_cli_bgcol_composes_background(tmp_path, spark, sf_dir):
    """--bgcol paints unoccupied pixels opaque ([R] --bgcol, default
    white): with a black background every pixel is opaque, and both
    occupied and background pixels exist."""
    import zlib

    import numpy as np

    path = cli.run(
        [
            sf_dir, "-x", "time", "-y", "amp", "--bgcol", "black",
            "--cmap", "viridis", "--xcanvas", "24", "--ycanvas", "24",
            "--dir", str(tmp_path), "--png", "bg.png",
        ],
        spark=spark,
    )[0]
    raw = open(path, "rb").read()
    idat = raw[raw.index(b"IDAT") + 4 : raw.rindex(b"IEND") - 4]
    px = zlib.decompress(idat)
    rows = [px[y * (24 * 4 + 1) + 1 : (y + 1) * (24 * 4 + 1)] for y in range(24)]
    img = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(24, 24, 4)
    assert (img[:, :, 3] == 255).all()  # fully opaque canvas
    black = (img[:, :, :3] == 0).all(axis=2)
    assert black.any() and (~black).any()  # background + data pixels


def test_figure_compose_layout():
    """compose_figure: deterministic geometry — margins around the
    raster, axes box drawn, ticks on both axes, colorbar strip on the
    right.  Pure-numpy, no Spark."""
    import numpy as np

    from shadems_spark import figure as FIG

    raster = np.zeros((40, 60, 4), dtype=np.uint8)
    raster[10:20, 10:30] = (255, 0, 0, 255)
    fig = FIG.compose_figure(
        raster, (0.0, 120.0), (-5.0, 5.0),
        title="TEST", xlabel="time", ylabel="amp", cmap="viridis",
    )
    H = FIG.M_TOP + 40 + FIG.M_BOTTOM
    W = FIG.M_LEFT + 60 + FIG.M_RIGHT
    assert fig.shape == (H, W, 4)
    # axes box edges are black
    assert (fig[FIG.M_TOP - 1, FIG.M_LEFT - 1 : FIG.M_LEFT + 61, :3] == 0).all()
    # raster panel composited in place
    assert tuple(fig[FIG.M_TOP + 15, FIG.M_LEFT + 15, :3]) == (255, 0, 0)
    # colorbar strip present (non-background column right of panel)
    bar = fig[FIG.M_TOP : FIG.M_TOP + 40, FIG.M_LEFT + 60 + 14, :3]
    assert len({tuple(c) for c in bar}) > 10  # gradient, not flat


def test_figure_ticks_and_text():
    """nice_ticks covers the range at sane steps; glyph rendering
    marks pixels for every supported character class."""
    import numpy as np

    from shadems_spark import figure as FIG

    ts = FIG.nice_ticks(0.0, 120.0)
    assert ts[0] >= 0.0 and ts[-1] <= 120.0 and 3 <= len(ts) <= 7
    ts2 = FIG.nice_ticks(-0.037, 0.051)
    assert all(-0.037 <= t <= 0.051 for t in ts2) and len(ts2) >= 3

    img = np.zeros((20, 400, 4), dtype=np.uint8)
    s = "AMP 0.5e-3 (42%) time_day:XY/Z"
    FIG.draw_text(img, 1, 1, s)
    assert int((img[:, :, 3] == 255).sum()) > 12 * len(s.replace(" ", ""))


def test_cli_figure_golden_layout(tmp_path, spark, sf_dir):
    """--figure: labeled figure output — canvas + margins sized, and
    byte-identical across runs (golden determinism, VERDICT r03 #3)."""
    from shadems_spark import figure as FIG

    argv = [
        sf_dir, "-x", "time", "-y", "amp",
        "--xcanvas", "64", "--ycanvas", "48", "--figure",
        "--dir", str(tmp_path),
    ]
    p1 = cli.run(argv + ["--png", "fa.png"], spark=spark)[0]
    p2 = cli.run(argv + ["--png", "fb.png"], spark=spark)[0]
    w, h, _ = _png_size(p1)
    assert (w, h) == (64 + FIG.M_LEFT + FIG.M_RIGHT, 48 + FIG.M_TOP + FIG.M_BOTTOM)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_cli_figure_legend_categorical(tmp_path, spark, sf_dir):
    """--figure with --colour-by renders the category legend sidebar
    (palette swatch pixels present right of the panel)."""
    import numpy as np

    from shadems_spark import figure as FIG
    from shadems_spark.render import PALETTE

    paths = cli.run(
        [
            sf_dir, "-x", "time", "-y", "amp", "-C", "corr_label",
            "--xcanvas", "48", "--ycanvas", "48", "--figure",
            "--dir", str(tmp_path), "--png", "leg.png",
        ],
        spark=spark,
    )
    data = open(paths[0], "rb").read()
    img = _decode_png(data)
    sx = FIG.M_LEFT + 48 + 14
    swatch = tuple(img[FIG.M_TOP + 2, sx + 2, :3])
    assert swatch in {tuple(c) for c in PALETTE}


def test_pipeline_cli_end_to_end(spark, sf_dir, tmp_path):
    """The curation-pipeline CLI: curated parquet partitioned by
    split + a JSON-able report; semantic dedup route exercises the
    semdedup join."""
    import os

    from shadems_spark.pipeline import run

    out = str(tmp_path / "curated")
    rep = run([sf_dir, out, "--dedup", "exact", "--pack", "512"])
    assert rep["curated_docs"] <= rep["input_docs"]
    assert set(rep["splits"]) == {"train", "val", "test"}
    assert rep["train_sequences"] > 0
    assert sorted(d for d in os.listdir(out) if d.startswith("split=")) == [
        "split=test", "split=train", "split=val"
    ]
    rep2 = run([sf_dir, str(tmp_path / "c2"), "--dedup", "semantic"])
    assert rep2["curated_docs"] < rep["input_docs"]  # semdedup prunes


def test_pipeline_audit_mode(spark, tmp_path):
    """--audit reports rule-by-rule rejection counts and writes
    nothing: a planted symbol-soup doc trips the symbol and alpha
    rules."""
    import os

    from pyspark.sql import Row

    from shadems_spark.pipeline import run

    d = str(tmp_path)
    rows = [
        Row(doc_id=0, text="a perfectly ordinary document with enough words here",
            lang="en", source="s", n_chars=52),
        Row(doc_id=1, text="$$$ %%% ^^^ &&& *** $$$ %%% ^^^",
            lang="en", source="s", n_chars=31),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet")
    out = str(tmp_path / "never_written")
    rep = run([d, out, "--audit"])["audit"]
    assert rep["n_docs"] == 2
    assert rep["rejected_any"] == 1 and rep["alpha"] == 1
    assert not os.path.exists(out)


def test_lut_reversed_variants_and_r5_tail():
    """Every palette must expose its matplotlib-style _r reversed
    twin, and the r5 colorcet tail must resolve."""
    import numpy as np

    from shadems_spark.render import _CMAPS

    t = lut("viridis")
    tr = lut("viridis_r")
    assert (tr == t[::-1]).all()
    for name in ("kgy", "kb", "kg", "kr", "dimgray", "cwr", "gwv", "bky", "bjy"):
        assert lut(name).shape == (256, 3)
        assert lut(name + "_r").shape == (256, 3)
    assert len(_CMAPS) >= 33


def test_cli_multiplot_grid_one_scan(tmp_path, spark, sf_dir):
    """[R] main.py multi-plot loop (VERDICT r5 #5): comma-separated
    -x/-y specs render every combination in ONE run, and the grid's
    raster plan scans the parquet source exactly once."""
    from pyspark.sql import functions as F

    from shadems_spark.catalog import load_table
    from shadems_spark.operators import mappers as M
    from shadems_spark.operators import raster as R
    from shadems_spark.operators import selection as S
    from shadems_spark.plans.shadeplot import ShadePlot
    from shadems_spark.vis import vis_view

    paths = cli.run(
        [
            sf_dir, "-x", "time,uvdist", "-y", "amp,phase",
            "--xcanvas", "16", "--ycanvas", "16",
            "--dir", str(tmp_path), "--png", "{xname}_{yname}.png",
        ],
        spark=spark,
    )
    assert len(paths) == 4
    names = {p.rsplit("/", 1)[-1] for p in paths}
    assert names == {
        "time_amp.png", "time_phase.png",
        "uvdist_amp.png", "uvdist_phase.png",
    }
    for p in paths:
        assert _png_size(p)[:2] == (16, 16)

    # single-scan pin on the grid raster plan itself
    df = S.apply_flags(vis_view(load_table(spark, sf_dir, "lineitem")))
    combos = [
        (M.parse_axis("time"), M.parse_axis("DATA:amp"), False),
        (M.parse_axis("time"), M.parse_axis("DATA:phase"), False),
        (M.parse_axis("uvdist"), M.parse_axis("DATA:amp"), False),
        (M.parse_axis("uvdist"), M.parse_axis("DATA:phase"), False),
    ]
    samples = R.grid_samples(df, combos)
    ranges = ShadePlot().bounds(samples, plots=4)
    binned = R.grid_raster(samples, ranges, 16, 16)
    assert len(ranges) == 4
    plan = binned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_cli_multiplot_col_list_dedup(tmp_path, spark, sf_dir):
    """--col lists multiply only the combos whose axes read the
    column; col-independent axis pairs collapse (axis-dedup)."""
    args = cli.build_parser().parse_args(
        [sf_dir, "-x", "time", "-y", "amp,uvdist", "--col", "DATA,MODEL_DATA"]
    )
    combos = cli._expand_combos(args)
    # (time, amp) x 2 cols + (time, uvdist) collapsed once
    assert len(combos) == 3


def test_cli_multiplot_with_colour_falls_back_per_combo(
    tmp_path, spark, sf_dir
):
    """A grid with --colour-by writes one categorical PNG per
    combination."""
    paths = cli.run(
        [
            sf_dir, "-x", "time,uvdist", "-y", "amp",
            "-C", "corr_label",
            "--xcanvas", "8", "--ycanvas", "8",
            "--dir", str(tmp_path), "--png", "{xname}_{yname}.png",
        ],
        spark=spark,
    )
    assert {p.rsplit("/", 1)[-1] for p in paths} == {"time_amp.png", "uvdist_amp.png"}


def test_cli_constant_raster_norms(tmp_path, spark, sf_dir):
    """A raster whose occupied pixels all hold the same value (--ared
    any) shades them all 1.0 under log and linear, as eq_hist does,
    instead of dividing by a zero value range."""
    top = tuple(lut("viridis")[255])
    for norm in ("linear", "log"):
        path = cli.run(
            [
                sf_dir, "-x", "time", "-y", "amp", "--ared", "any", "-a", "DATA:amp",
                "--norm", norm, "--bgcol", "none", "--xcanvas", "16", "--ycanvas", "16",
                "--dir", str(tmp_path), "--png", f"const_{norm}.png",
            ],
            spark=spark,
        )[0]
        img = _decode_png(_png_size(path)[2])
        occupied = img[:, :, 3] > 0
        assert occupied.any()
        assert {tuple(c) for c in img[occupied, :3]} == {top}


def test_cli_constant_axis_single_plot(tmp_path, spark, sf_dir):
    """A single plot whose x axis is constant (one channel) bins every
    sample into the first column, as the multi-plot grid does."""
    path = cli.run(
        [
            sf_dir, "-x", "chan", "-y", "amp", "--nchan", "1", "--bgcol", "none",
            "--xcanvas", "16", "--ycanvas", "16",
            "--dir", str(tmp_path), "--png", "chan1.png",
        ],
        spark=spark,
    )[0]
    occupied = _decode_png(_png_size(path)[2])[:, :, 3] > 0
    assert occupied[:, 0].any() and not occupied[:, 1:].any()


def test_cli_spark_jobs_per_run(tmp_path, spark, sf_dir):
    """Facets, dynspread and a multi-plot grid are split, spread and
    shaded on the driver from the one collected raster: none of them
    starts more Spark jobs than the same single plot, also when a grid
    adds a colour axis or facets.  With every limit given, no bounds
    job runs.  Each measurement starts with no kept action result, so
    it counts a first run's jobs."""
    sc = spark.sparkContext
    base = [sf_dir, "-y", "amp", "--xcanvas", "16", "--ycanvas", "16", "--dir", str(tmp_path)]
    ids = itertools.count()

    def jobs(*argv):
        group = f"jobs-per-run-{next(ids)}"
        exprcache.clear_results()
        sc.setJobGroup(group, group)
        try:
            cli.run(base + list(argv), spark=spark)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("-x", "time")  # a session's first plot also reads the parquet schema
    single = jobs("-x", "time")
    assert single > 0
    assert jobs("-x", "time", "--iter", "corr") <= single
    assert jobs("-x", "time", "--dynspread") <= single
    assert jobs("-x", "time,uvdist") <= single
    assert jobs("-x", "time,uvdist", "-C", "corr_label") <= jobs("-x", "time", "-C", "corr_label")
    assert jobs("-x", "time,uvdist", "--iter", "corr") <= jobs("-x", "time", "--iter", "corr")
    limits = ["--xmin", "2000", "--xmax", "2400", "--ymin", "0", "--ymax", "50000"]
    assert jobs("-x", "time", *limits) < single


def test_cli_single_plot_raster_plan(tmp_path, spark, sf_dir, monkeypatch):
    """A single u/v plot bins its conjugate mirror from ONE scan of the
    source, and its raster plan has no sort: plain, with a colour axis
    and with facets."""
    import re

    from shadems_spark.operators import raster as R

    grid_raster = R.grid_raster
    plans = []

    def capture(*a, **k):
        # the plan as returned, before the renderer's fetch runs it
        binned = grid_raster(*a, **k)
        plans.append(binned._jdf.queryExecution().executedPlan().toString())
        return binned

    monkeypatch.setattr(R, "grid_raster", capture)
    for extra in ([], ["-C", "corr_label"], ["--iter", "field"]):
        cli.run(
            [sf_dir, "-x", "u", "-y", "v", *extra, "--xcanvas", "16", "--ycanvas", "16",
             "--dir", str(tmp_path), "--png", "uv{group}.png"],
            spark=spark,
        )
        plan = plans.pop()
        assert plan.count("Scan parquet") == 1, extra
        assert not re.search(r"\bSort\b", plan), extra


def test_cli_empty_selection(tmp_path, spark, sf_dir):
    """A request none of whose plots has a sample raises ValueError,
    for a single plot as for a grid, and writes nothing."""
    for x in ("time", "time,uvdist"):
        with pytest.raises(ValueError, match="no sample survived the selection"):
            cli.run(
                [sf_dir, "-x", x, "-y", "amp", "--field", "NOPE", "--dir", str(tmp_path)],
                spark=spark,
            )
    assert not list(tmp_path.iterdir())


def test_cli_lone_limit(tmp_path, spark, sf_dir):
    """One limit on its own (--xmin) applies to a single plot as it
    does to the same plot of a grid: the PNGs are byte-identical."""
    argv = [sf_dir, "-y", "amp", "--xmin", "2000", "--xcanvas", "16", "--ycanvas", "16", "--dir", str(tmp_path)]
    [single] = cli.run(argv + ["-x", "time", "--png", "single.png"], spark=spark)
    grid = cli.run(argv + ["-x", "time,uvdist", "--png", "{xname}_{yname}.png"], spark=spark)
    [time_amp] = [p for p in grid if p.endswith("/time_amp.png")]
    assert open(single, "rb").read() == open(time_amp, "rb").read()


def test_cli_lone_agg_limit(tmp_path, spark, sf_dir):
    """--amin and --amax each clip the aggregation axis on their own: a
    lone end draws what that end with an open other end draws, and a
    lone --amin above every value leaves no sample."""
    argv = [
        sf_dir, "-x", "time", "-y", "amp", "--ared", "max", "-a", "DATA:real",
        "--xcanvas", "16", "--ycanvas", "16", "--dir", str(tmp_path),
    ]

    def png(name, *limits):
        [p] = cli.run(argv + ["--png", name, *limits], spark=spark)
        return open(p, "rb").read()

    lone_lo = png("lo.png", "--amin", "50000")
    assert lone_lo == png("lo_open.png", "--amin", "50000", "--amax", "1e300")
    assert lone_lo != png("all.png")
    assert png("hi.png", "--amax", "50000") == png("hi_open.png", "--amin=-1e300", "--amax", "50000")
    with pytest.raises(ValueError, match="no sample survived the selection"):
        cli.run(argv + ["--amin", "1e9"], spark=spark)


@pytest.mark.parametrize(
    "argv, flag",
    [
        (["--ared", "mean"], "--ared"),
        (["-C", "corr_label", "--cnum", "0"], "--cnum"),
        (["--xcanvas", "0"], "--xcanvas"),
        (["--xcanvas", "-4"], "--xcanvas"),
        (["--ycanvas", "0"], "--ycanvas"),
        (["--xmin", "5", "--xmax", "1"], "--xmin"),
        (["--ymin", "5", "--ymax", "1"], "--ymin"),
        (["--ared", "max", "-a", "DATA:real", "--amin", "5", "--amax", "1"], "--amin"),
        (["--spread", "-1"], "--spread"),
        (["-z", "-5"], "-z"),
        (["-x", "uvwave", "--chan", "a:b"], "--chan"),
        (["-x", "uvwave", "--chan", "5:2"], "--chan"),
        (["-x", "uvwave", "--nchan", "0"], "--nchan"),
        (["--baseline", "1x2"], "--baseline"),
        (["--baseline", "1-"], "--baseline"),
        (["-C", "no_such_column"], "--colour-by"),
        # 3.6 TiB of RGBA, more than any machine: refused, not allocated
        (["--xcanvas", "1000000", "--ycanvas", "1000000"], "--xcanvas"),
        (["-x", "bogus"], "-x"),
        (["-y", "DATA:bogus"], "-y"),
        (["-a", "bogus"], "-a"),
    ],
)
def test_cli_bad_input_names_flag(tmp_path, spark, sf_dir, argv, flag):
    """Input no canvas can draw raises a ValueError naming the flag,
    before any Spark job runs and before anything is written."""
    from shadems_spark.catalog import load_table

    load_table(spark, sf_dir, "lineitem")  # a first scan reads the schema
    sc = spark.sparkContext
    group = f"bad-input-{flag}-{'_'.join(argv)}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=flag):
            cli.run([sf_dir, "-x", "time", "-y", "amp", "--dir", str(tmp_path), *argv], spark=spark)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert not list(tmp_path.iterdir())


def test_grid_bounds_skip_plots_without_samples(spark):
    """ShadePlot.bounds over a grid sample table: one range per plot
    that has a finite sample, each limit given on its own overriding
    only its end; the plot without a sample bins nothing."""
    from pyspark.sql import functions as F

    from shadems_spark.operators import raster as R
    from shadems_spark.plans.shadeplot import ShadePlot

    df = spark.createDataFrame([(1.0, 10.0), (3.0, 30.0)], "a double, b double")
    combos = [(F.col("a"), F.col("b"), False), (F.col("a"), F.lit(float("nan")), False)]
    samples = R.grid_samples(df, combos)
    ranges = ShadePlot(x_range=(0.0, None)).bounds(samples, plots=2)
    assert ranges == {0: ((0.0, 3.0), (10.0, 30.0))}
    binned = R.grid_raster(samples, ranges, 4, 4).collect()
    assert sorted((r["p"], r["bx"], r["by"], r["val"]) for r in binned) == [(0, 1, 0, 1), (0, 3, 3, 1)]


def test_cli_check_allows_equal_limits_and_zero():
    """Equal limit ends (a zero-width axis bins to 0), --spread 0 and
    -z 0 ("leave to Spark") pass the up-front check."""
    for argv in (
        ["--xmin", "1", "--xmax", "1", "--ymin", "2", "--ymax", "2"],
        ["-a", "DATA:real", "--amin", "3", "--amax", "3"],
        ["--spread", "0", "-z", "0"],
    ):
        cli._check(cli.build_parser().parse_args(["ms", *argv]))


def test_render_drops_null_values(tmp_path, spark):
    """A binned row whose value is null draws nothing: the table renders
    byte-identical to the same table without that row."""
    schema = "by int, bx int, val double"
    rows = [(0, 0, 1.0), (1, 2, 3.0), (2, 1, None), (3, 3, 2.0)]
    with_null = render_png(spark.createDataFrame(rows, schema).toArrow(), str(tmp_path / "a.png"), 4, 4)
    without = render_png(
        spark.createDataFrame([r for r in rows if r[2] is not None], schema).toArrow(), str(tmp_path / "b.png"), 4, 4,
    )
    assert open(with_null[0], "rb").read() == open(without[0], "rb").read()


def test_render_empty_table_draws_background(tmp_path, spark):
    """An empty binned table keeps its schema: a {0: path} dict still
    draws plot 0, background only."""
    path = str(tmp_path / "empty.png")
    empty = spark.createDataFrame([], "p int, by int, bx int, val long").toArrow()
    assert render_png(empty, {0: path}, 5, 3, bgcol=(255, 255, 255)) == [path]
    want = str(tmp_path / "want.png")
    write_png(want, np.full((3, 5, 4), 255, dtype=np.uint8))
    assert open(path, "rb").read() == open(want, "rb").read()


def test_render_string_groups_sorted(tmp_path, spark):
    """String plot groups (facet keys "p:key") reach the path function
    as str, in sorted order, whatever the table's row order."""
    seen = []

    def path(g):
        seen.append(g)
        return str(tmp_path / f"{g.replace(':', '_')}.png")

    rows = [("0:B", 0, 0, 2), ("0:A", 1, 1, 1), ("0:B", 1, 0, 1)]
    binned = spark.createDataFrame(rows, "p string, by int, bx int, val long").toArrow()
    written = render_png(binned, path, 2, 2)
    assert seen == ["0:A", "0:B"] and all(isinstance(g, str) for g in seen)
    assert written == [str(tmp_path / "0_A.png"), str(tmp_path / "0_B.png")]


def test_render_allocation_bound(tmp_path, spark):
    """The renderer holds a plot's fetched columns once: a ~300k-pixel
    1280x900 table (one row per pixel) renders in ~15 MB of Python
    allocation as a bare canvas and ~20 MB as a figure, where a filter
    copy of the table, canvas-sized index and blend temporaries and the
    raw PNG buffer took ~18 MB and ~32 MB."""
    import tracemalloc

    from shadems_spark.render import render_figure

    binned = spark.range(300_000).selectExpr(
        "cast(id div 1280 as int) as by", "cast(id % 1280 as int) as bx", "id % 97 + 1 as val",
    ).toArrow()
    out = str(tmp_path / "dense.png")
    for render, bound_mb in (
        (lambda: render_png(binned, out, 1280, 900), 16),
        (lambda: render_figure(binned, out, 1280, 900, (0.0, 1.0), (0.0, 1.0)), 25),
    ):
        tracemalloc.start()
        try:
            render()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < bound_mb * 2**20, (bound_mb, peak)


def test_write_png_streams_one_shot_idat(tmp_path):
    """write_png streams its rows through one compressor: the IDAT is
    byte-identical to compressing the whole filter-0 buffer at once."""
    rgba = np.random.default_rng(0).integers(0, 256, (97, 131, 4), dtype=np.uint8)
    rgba[20:60, 30:90] = (1, 2, 3, 255)  # a run the encoder matches across rows
    p = str(tmp_path / "r.png")
    write_png(p, rgba)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(rgba.shape[0]))
    data = open(p, "rb").read()
    idat_len = struct.unpack(">I", data[33:37])[0]
    assert data[37:41] == b"IDAT"
    assert data[41 : 41 + idat_len] == zlib.compress(raw, 6)
    assert data[41 + idat_len + 4 :] == b"\x00\x00\x00\x00IEND\xaeB`\x82"


def test_columns_widen_int_pixel_indices():
    """The binned table's int by/bx become int64 arrays, so a flat
    pixel index row * width + col cannot wrap in int32."""
    import pyarrow as pa

    from shadems_spark.render import _columns

    table = pa.table({
        "by": pa.array([0, 50_000], pa.int32()), "bx": pa.array([1, 2], pa.int32()),
        "val": pa.array([1, 2], pa.int64()),
    })
    cols = _columns(table)
    assert cols["by"].dtype == np.int64 and cols["bx"].dtype == np.int64
    assert cols["val"].dtype == np.float64
    # a 50001-wide canvas: the second index is past 2**31
    assert (cols["by"] * 50_001 + cols["bx"]).tolist() == [1, 50_000 * 50_001 + 2]


def _jobs_of(spark, group, fn):
    """Run ``fn()`` under a job group; returns (result, jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cli_restyle_runs_no_job(tmp_path, spark, sf_dir):
    """A request that only changes --norm, --cmap, --figure or --spread
    of an earlier one re-uses its bounds and binned table: it starts no
    Spark job and writes the PNG a run with nothing kept writes."""
    base = [sf_dir, "-x", "time,uvdist", "-y", "amp", "-C", "corr_label",
            "--xcanvas", "24", "--ycanvas", "16", "--dir", str(tmp_path)]
    _, first = _jobs_of(spark, "restyle-first", lambda: cli.run(base + ["--png", "a_{xname}.png"], spark=spark))
    assert first > 0
    for i, extra in enumerate((["--norm", "log"], ["--cmap", "fire"], ["--figure"], ["--spread", "1"])):
        argv = base + extra + ["--png", f"r{i}_{{xname}}.png"]
        kept, n = _jobs_of(spark, f"restyle-{i}", lambda: cli.run(argv, spark=spark))
        assert n == 0, extra
        exprcache.clear_results()
        fresh, n = _jobs_of(spark, f"restyle-fresh-{i}", lambda: cli.run(argv[:-1] + [f"f{i}_{{xname}}.png"], spark=spark))
        assert n > 0, extra
        assert [open(p, "rb").read() for p in kept] == [open(p, "rb").read() for p in fresh], extra


def test_cli_input_rewritten_in_place_reruns(tmp_path, spark, sf_dir):
    """Rewriting the input parquet in place makes the next identical
    request run its jobs again and draw the new rows."""
    import pyarrow.parquet as pq

    ms = tmp_path / "ms"
    ms.mkdir()
    table = pq.read_table(f"{sf_dir}/lineitem.parquet")
    pq.write_table(table, ms / "lineitem.parquet")
    argv = [str(ms), "-x", "time", "-y", "amp", "--xcanvas", "24", "--ycanvas", "16", "--dir", str(tmp_path / "out")]

    def png(name):
        [p] = cli.run(argv + ["--png", name], spark=spark)
        return open(p, "rb").read()

    old = png("old.png")
    pq.write_table(table.slice(0, table.num_rows // 3), ms / "lineitem.parquet")
    new, n = _jobs_of(spark, "rewritten-input", lambda: png("new.png"))
    assert n > 0
    exprcache.clear_results()
    assert new == png("fresh.png") != old


def test_cli_memo_after_session_restart(sf_dir):
    """After a session restart the same request runs all its jobs again
    (nothing kept under the stopped session is served).  Runs in a
    subprocess so the shared test session is left alone."""
    import os
    import subprocess
    import sys
    import tempfile

    code = f"""
from shadems_spark import cli
from shadems_spark.session import get_spark

def jobs():
    spark = get_spark("memo-restart")
    sc = spark.sparkContext
    sc.setJobGroup("g", "g")
    cli.run([{sf_dir!r}, "-x", "time", "-y", "amp", "--xcanvas", "8", "--ycanvas", "8", "--dir", {tempfile.mkdtemp()!r}], spark=spark)
    n = len(sc.statusTracker().getJobIdsForGroup("g"))
    spark.stop()
    return n

first, again = jobs(), jobs()
assert first > 0 and again == first, (first, again)
print("ok")
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(cli.__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": root}
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=300, env=env)
    assert p.returncode == 0 and p.stdout.strip().endswith("ok"), p.stderr[-2000:]


def test_memo_result_keys_and_budget(spark, monkeypatch):
    """memo_result serves a kept result only to the same plan (also one
    built again), action and input stamp; keeps nothing of a failed
    action; and past its byte budget drops the least recently used."""

    class Sized:  # a result of a given Arrow size
        def __init__(self, nbytes):
            self.nbytes = nbytes

    def fail():
        raise RuntimeError("job failed")

    monkeypatch.setattr(exprcache, "_RESULT_BYTES", 100)
    exprcache.clear_results()
    a, b, c = (spark.range(n) for n in (1, 2, 3))
    kept_a = exprcache.memo_result(a, "toArrow", "s", lambda: Sized(60))
    assert exprcache.memo_result(spark.range(1), "toArrow", "s", fail) is kept_a
    assert exprcache.memo_result(a, "toArrow", "s2", lambda: Sized(1)) is not kept_a
    assert exprcache.memo_result(a, "count", "s", lambda: Sized(1)) is not kept_a
    with pytest.raises(RuntimeError):
        exprcache.memo_result(b, "toArrow", "s", fail)
    exprcache.memo_result(b, "toArrow", "s", lambda: Sized(30))
    exprcache.memo_result(a, "toArrow", "s", fail)  # a is now the most recently used
    exprcache.memo_result(c, "toArrow", "s", lambda: Sized(30))  # 122 bytes: drops s2, count, b
    assert exprcache.memo_result(a, "toArrow", "s", fail) is kept_a
    assert exprcache.memo_result(b, "toArrow", "s", lambda: "again") == "again"
    exprcache.clear_results()
