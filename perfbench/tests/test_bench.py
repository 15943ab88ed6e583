"""Unit tests of the benchmark's own logic (no Spark session)."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pytest

import gen
import run
import stats
from spans import Span, Tracer, self_times
from workloads import WORKLOADS, key

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f == "manifest.json":
                continue  # records the directory, which differs
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("kind,writer,arg", [
    ("catalog", gen.write_catalog, 0.002),
    ("scan", gen.write_scan, 2),
    ("corpus", gen.write_corpus, 2),
])
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind, writer, arg):
    a = gen.ensure(str(tmp_path / "a"), kind, 7, writer, arg)
    b = gen.ensure(str(tmp_path / "b"), kind, 7, writer, arg)
    c = gen.ensure(str(tmp_path / "c"), kind, 8, writer, arg)
    assert a["sha256"] == b["sha256"] != c["sha256"]
    assert a["rows"] == b["rows"] and a["bytes"] == b["bytes"]
    assert _files(a["dir"]) == _files(b["dir"])
    # a second call with the same seed reuses the cached files
    assert gen.ensure(str(tmp_path / "a"), kind, 7, writer, arg) == a


def test_catalog_matches_fixture_schema(tmp_path):
    import pyarrow.parquet as pq

    m = gen.ensure(str(tmp_path), "catalog", 1, gen.write_catalog, 0.01)
    li = pq.read_table(os.path.join(m["dir"], "lineitem.parquet"))
    assert li.num_rows == 60_000
    assert [f.name for f in li.schema] == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ]
    assert set(m["rows"]) == {"region", "nation", "customer", "supplier", "part", "orders",
                              "lineitem", "events", "documents", "embeddings"}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_request_sequence_is_seeded(tmp_path, name):
    wl = WORKLOADS[name]
    a = wl(str(tmp_path), 5).requests(40)
    assert a == wl(str(tmp_path), 5).requests(40)
    assert a != wl(str(tmp_path), 6).requests(40)
    # the canonical first request does not depend on the seed
    assert a[0] == (0, wl(str(tmp_path), 6).first())
    assert [b for b, _ in a] == sorted(b for b, _ in a)


def test_plot_dense_blocks_have_fixed_mix(tmp_path):
    reqs = WORKLOADS["plot_dense"](str(tmp_path), 3).requests(41)[1:]
    for i in range(0, 40, 4):
        assert len({b for b, _ in reqs[i:i + 4]}) == 1
        block = [r for _, r in reqs[i:i + 4]]
        assert sorted(r["norm"] for r in block) == ["cbrt", "eq_hist", "linear", "log"]
        assert sum(bool(r.get("figure")) for r in block) == 1


def test_plot_scan_blocks_fold_in_curation_and_a_query(tmp_path):
    wl = WORKLOADS["plot_scan"](str(tmp_path), 3)
    reqs = wl.requests(13)[1:]
    for i in range(0, 12, 6):
        block = [r for _, r in reqs[i:i + 6]]
        assert sum("x" in r for r in block) == 4
        assert [r["dedup"] for r in block if "dedup" in r][0] in ("minhash", "semantic")
        assert sum("query" in r for r in block) == 1
        assert [wl.scans_base(r) for r in block] == ["x" in r for r in block]


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(np.random.default_rng(0).permutation(50) + 1.0)
    t = stats.tail(xs)
    assert t == {"value": 40.0, "percentile": 80, "samples": 50, "beyond_samples": 10, "qualified": True}
    assert sum(x > t["value"] for x in xs) == 10
    t = stats.tail([float(i) for i in range(11)])
    assert (t["value"], t["percentile"], t["beyond_samples"]) == (0.0, 9, 10)
    t = stats.tail([3.0, 1.0, 2.0])
    assert (t["value"], t["percentile"], t["qualified"], t["samples"]) == (3.0, 100, False, 3)
    with pytest.raises(ValueError):
        stats.tail([])


class _FakeWorkload:
    def __init__(self, bad_check=()):
        self.bad_check = set(bad_check)

    def check(self, spark, req, result):
        if req["n"] in self.bad_check:
            raise RuntimeError("check blew up")
        return []


def _requests(n_blocks=3, per_block=4):
    out = [(0, {"n": 0})]
    for b in range(1, n_blocks + 1):
        out += [(b, {"n": b * 10 + i}) for i in range(per_block)]
    return out


def test_raising_request_counts_as_failed_and_run_goes_on():
    def run_one(rec, req):
        if req["n"] == 11:
            rec["wall"] = 0.1
            raise ValueError("boom")
        rec["result"], rec["wall"] = req["n"], 0.5 + req["n"] / 100

    execs, elapsed = run.run_requests(_requests(), 0.0, run_one)
    # seconds=0: the canonical request plus one whole block
    assert [r["id"] for r in execs] == [0, 1, 2, 3, 4]
    assert execs[2]["error"] == "ValueError: boom"
    problems = run.check_outputs(_FakeWorkload(bad_check={12}), None, execs)
    assert list(problems) == [key({"n": 12})]
    failed = [r for r in execs if r["error"] or r["key"] in problems]
    metrics, tail = run.end_to_end(execs, failed, elapsed, 1.0, 100.0, 40.0)
    assert metrics["failed_frac"] == pytest.approx(2 / 5)
    assert metrics["first_request_s"] == 0.5
    # request 3 returned but failed its check and request 2 raised:
    # both count as failed, and both latencies still count
    assert metrics["latency_p50_s"] == pytest.approx(statistics.median([0.6, 0.1, 0.62, 0.63]))
    assert tail["samples"] == 4
    assert metrics["requests_per_min"] == pytest.approx(4 / elapsed * 60.0)


def test_loop_stops_only_at_block_boundaries():
    def run_one(rec, req):
        rec["result"] = req["n"]

    execs, _ = run.run_requests(_requests(n_blocks=5), 0.0, run_one)
    assert len(execs) == 5
    assert all(r["wall"] >= 0.0 for r in execs)  # timed by the loop
    execs, _ = run.run_requests(_requests(n_blocks=5, per_block=1), 0.0, run_one)
    assert len(execs) == 2


def test_repeated_results_must_agree():
    execs = [
        {"id": 0, "key": "{}", "error": None, "result": {"a.png": "x"}},
        {"id": 1, "key": '{"n": 1}', "error": None, "result": {"b.png": "y"}},
        {"id": 2, "key": '{"n": 1}', "error": None, "result": {"b.png": "z"}},
    ]

    class Ok:
        def check(self, spark, req, result):
            return []

    assert run.check_outputs(Ok(), None, execs) == {'{"n": 1}': ["repeated executions gave different results"]}


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "req", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 3.0, 0, 1),
        Span(2, "b", 2.0, 5.0, 0, 1),  # overlaps a: covered [1, 5]
        Span(3, "c", 7.0, 8.0, 0, 1),
        Span(4, "d", 7.5, 7.8, 3, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0 - 0.3)
    assert st[4] == pytest.approx(0.3)


def test_layer_groups_of_collects_and_job_overlap():
    assert run.group_of("driver.collect", "cli.run", "driver_other") == "bounds_binning"
    assert run.group_of("driver.collect", "pipeline.run", "curation") == "curation"
    assert run.group_of("driver.collect", None, None) == "driver_other"
    assert run.group_of("render.collect", "render.render_png", "render") == "render"
    # overlapping jobs count once, clipped to the span
    assert run.overlap(1.0, 5.0, [(0.0, 2.0), (1.5, 3.0), (4.5, 9.0)]) == pytest.approx(2.5)
    assert run.overlap(1.0, 5.0, [(6.0, 7.0)]) == 0.0


def test_tracer_totals_and_nesting():
    t = Tracer()
    t.active = True
    t.request = 1
    f = t.traced("f", lambda n: [g(n - 1) for _ in range(1)] if n else None)
    g = f
    f(2)  # f nests inside itself: counted once
    assert [s.name for s in t.spans] == ["f", "f", "f"]
    assert t.totals({1})["f"] == pytest.approx(t.spans[0].end - t.spans[0].start)


def test_patch_rebinds_every_name_and_restores():
    from shadems_spark import catalog, cli

    orig = catalog.load_table
    t = Tracer()
    t.patch(catalog, "load_table", "catalog.load_table")
    try:
        assert cli.load_table is catalog.load_table is not orig
        assert cli.load_table.__wrapped_by_tracer__
    finally:
        t.restore()
    assert cli.load_table is orig and catalog.load_table is orig


def test_png_decoder_reads_the_program_png_writer(tmp_path):
    from shadems_spark.render import write_png

    import verify

    img = np.random.default_rng(1).integers(0, 256, (7, 5, 4), dtype=np.uint8)
    p = str(tmp_path / "x.png")
    write_png(p, img)
    assert (verify.decode_png(p) == img).all()
    assert verify.occupied(img, bg=(255, 255, 255, 255)) == 35


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(PERFBENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "plot_dense", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
