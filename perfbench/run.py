"""The repository benchmark: one command, four workloads, end-to-end
metrics with tracing off and per-layer metrics in a separate traced
run.  ``BENCHMARK.json`` lists ``plot_dense`` and ``plot_scan``, whose
blocks also carry curation and registry-query requests; ``curate`` and
``query_mix`` run the same kinds of request on their own.

    python3 perfbench/run.py --workload plot_dense --seed 1 --seconds 10 --trace 0

Run it from the repository root.  One Python process, one client
thread, Spark on ``local[N]`` with N = the CPU count.  Requests are
closed loop: the next is sent when the previous one returns.  The
timed phase runs the workload's canonical first request, then whole
blocks of requests (each block a fixed mix of request kinds, see
``workloads.py``) until ``--seconds`` have passed, so it ends at the
first block boundary after that.  Inputs are generated from ``--seed``
into ``perfbench/.work/inputs`` (cached per seed, outside
``setup_s``); PNGs, curated parquet, Spark scratch space and trace
files go under ``perfbench/.work`` too.

Outputs are checked after the timed phase, once per distinct request
(see ``verify.py``).  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the metrics
``BENCHMARK.json`` lists: ``end_to_end`` with ``--trace 0``,
``per_layer`` with ``--trace 1``); the lines above it print every
metric by name with its unit, including ``latency_tail_s``,
``failed_frac`` and ``peak_rss_mb``, which ``BENCHMARK.json`` does not
gate on: a run has too few warm requests for a tail percentile with
ten samples beyond it, ``failed_frac`` is 0 when the program is
healthy, and the JVM's share of ``peak_rss_mb`` follows when its
collector runs, so ``peak_rss_driver_mb`` (the Python process alone)
is gated instead.  They also list the failed requests and each PNG's
sha256.

The traced run turns the Spark UI on (for its REST stage data), wraps
the public functions of each layer (``spans.py``) and runs every
request twice, once traced and once not, alternating which goes
first; the per-layer numbers come from the traced executions, and the
mean wall difference of the pairs is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["plot_dense", "plot_scan", "curate", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(trace: bool) -> None:
    """Everything the program and Spark see, fixed by the benchmark.
    Must run before the JVM starts."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # Spark's Python workers import shadems_spark from the repo
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
    })
    sys.path.insert(0, ROOT)


def redirect_warehouse() -> None:
    """``session.get_spark`` puts the bucketed-table warehouse under
    /tmp; keep it inside the checkout."""
    from pyspark.sql import SparkSession

    orig = SparkSession.Builder.config
    wh = os.path.join(WORK, "warehouse")

    def config(self, key=None, value=None, *a, **k):
        if key == "spark.sql.warehouse.dir":
            value = wh
        return orig(self, key, value, *a, **k)

    SparkSession.Builder.config = config


# -- per-layer tracing -------------------------------------------------

#: layer group of each span name, for the share-of-wall report
GROUPS = {
    "catalog.load_table": "scan_plan", "vis.vis_view": "scan_plan",
    "operators.mappers.parse_axis": "scan_plan", "operators.selection": "scan_plan",
    "queries.build": "scan_plan",
    "plans.shadeplot.bounds": "bounds_binning", "operators.raster.grid_raster": "bounds_binning",
    "render.render_png": "render", "render.render_figure": "render", "render.collect": "render",
    "render.raster_to_rgba": "render", "render.write_png": "render", "render.dynspread": "render",
    "figure.compose_figure": "render",
    "operators.curation.gopher_rules": "curation", "operators.curation.pack_sequences": "curation",
    "operators.dedup.minhash_dedup": "curation", "operators.similarity.semdedup": "curation",
    "operators.retrieval.stratified_split": "curation",
    "sources.write": "sources_write",
    "queries.execute": "query_execute",
    "pipeline.run": "curation",
}
SHARES = ["scan_plan", "bounds_binning", "raster_job", "render", "curation", "sources_write",
          "query_execute", "driver_other"]

SPAN_METRICS = [
    "catalog.load_table", "vis.vis_view", "operators.mappers.parse_axis", "operators.selection",
    "queries.build", "plans.shadeplot.bounds", "operators.raster.grid_raster",
    "render.collect", "render.raster_to_rgba", "render.write_png", "render.dynspread",
    "figure.compose_figure", "pipeline.run", "operators.curation.gopher_rules",
    "operators.curation.pack_sequences", "operators.dedup.minhash_dedup",
    "operators.similarity.semdedup", "operators.retrieval.stratified_split",
    "sources.write", "queries.execute",
]
COUNT_METRICS = {
    "catalog.load_table_calls": "count", "driver.py4j_calls": "count",
    "render.collected_rows": "count", "render.png_bytes": "bytes",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
}
ENGINE_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.job_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.input_records": "count",
    "spark.shuffle_write_bytes": "bytes",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {"session.get_spark_s": "s", "driver.think_s": "s", "spark.scan_passes": "ratio",
             "trace.overhead_s": "s", "trace.overhead_frac": "ratio", "request.traced_wall_s": "s"}
    units.update({f"{n}_s": "s" for n in SPAN_METRICS})
    units.update(COUNT_METRICS)
    units.update(ENGINE_METRICS)
    units.update({f"share.{g}": "ratio" for g in SHARES})
    return units


def install_tracer(tracer) -> None:
    """Wrap the public functions of every layer (see spans.py)."""
    from py4j.clientserver import ClientServerConnection

    from shadems_spark import catalog, cli, figure, pipeline, render, session, vis
    from shadems_spark.operators import curation, dedup, mappers, raster, retrieval, selection, similarity
    from shadems_spark.plans import shadeplot

    def after_load(_r, _a, _k):
        tracer.count("catalog.load_table_calls")

    def after_png(_r, args, _k):
        tracer.count("render.png_bytes", os.path.getsize(args[0]))

    tracer.patch(session, "get_spark", "session.get_spark")
    tracer.patch(cli, "run", "cli.run")
    tracer.patch(catalog, "load_table", "catalog.load_table", after_load)
    tracer.patch(vis, "vis_view", "vis.vis_view")
    tracer.patch(mappers, "parse_axis", "operators.mappers.parse_axis")
    for fn in ("select_groups", "select_antennas", "select_baselines", "chan_slice",
               "apply_flags", "drop_nonfinite"):
        tracer.patch(selection, fn, "operators.selection")
    tracer.patch_method(shadeplot.ShadePlot, "bounds", "plans.shadeplot.bounds")
    tracer.patch(raster, "grid_raster", "operators.raster.grid_raster")
    tracer.patch(render, "render_png", "render.render_png")
    tracer.patch(render, "render_figure", "render.render_figure")
    tracer.patch(render, "raster_to_rgba", "render.raster_to_rgba")
    tracer.patch(render, "write_png", "render.write_png", after_png)
    tracer.patch(render, "dynspread", "render.dynspread")
    tracer.patch(figure, "compose_figure", "figure.compose_figure")
    tracer.patch(pipeline, "run", "pipeline.run")
    tracer.patch(curation, "gopher_rules", "operators.curation.gopher_rules")
    tracer.patch(curation, "pack_sequences", "operators.curation.pack_sequences")
    tracer.patch(dedup, "minhash_dedup", "operators.dedup.minhash_dedup")
    tracer.patch(similarity, "semdedup", "operators.similarity.semdedup")
    tracer.patch(retrieval, "stratified_split", "operators.retrieval.stratified_split")

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    def collect_factory(orig):
        def collect(self):
            render_side = tracer.active and tracer.inside("render.render_png", "render.render_figure")
            with tracer.span("render.collect" if render_side else "driver.collect"):
                rows = orig(self)
            if render_side:
                tracer.count("render.collected_rows", len(rows))
            return rows
        return collect

    def after_write(_r, args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["path"]
        n, size = 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
        tracer.count("sources.files_written", n)
        tracer.count("sources.bytes_written", size)

    def send_factory(orig):
        def send_command(self, *a, **k):
            tracer.count("driver.py4j_calls")
            return orig(self, *a, **k)
        return send_command

    tracer.patch_call(DataFrame, "collect", collect_factory)
    tracer.patch_method(DataFrameWriter, "parquet", "sources.write", after_write)
    tracer.patch_call(ClientServerConnection, "send_command", send_factory)


def group_of(name: str, parent_name: str | None, parent_group: str | None) -> str:
    """Layer group of a span.  A collect that ``cli.run`` issues itself
    (the grid's raster job, facet and colour-category discovery) is a
    pass over the input before rendering, so it is bounds and binning;
    any other collect outside the renderer belongs to the span that
    issued it."""
    if name == "driver.collect":
        return "bounds_binning" if parent_name == "cli.run" else parent_group or "driver_other"
    return GROUPS.get(name, "driver_other")


def overlap(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by ``intervals`` (which may overlap)."""
    from engine import union_length

    return union_length(sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)))


def layer_metrics(tracer, wl, traced: list[dict], setup_get_spark_s: float) -> dict:
    """Per-request means over the traced executions."""
    ids = {t["id"] for t in traced}
    n = max(1, len(traced))
    walls = [t["wall"] for t in traced]
    totals = tracer.totals(ids)
    m = {"session.get_spark_s": setup_get_spark_s}
    for name in SPAN_METRICS:
        m[f"{name}_s"] = totals.get(name, 0.0) / n
    for name in COUNT_METRICS:
        m[name] = sum(tracer.counts[i].get(name, 0.0) for i in ids) / n
    for name in ENGINE_METRICS:
        m[name] = sum(t["engine"].get(name, 0.0) for t in traced) / n
    m["driver.think_s"] = sum(t["wall"] - t["engine"].get("spark.job_s", 0.0) for t in traced) / n
    scans = [t for t in traced if wl.scans_base(json.loads(t["key"]))]
    records = sum(t["engine"].get("spark.input_records", 0.0) for t in scans)
    m["spark.scan_passes"] = records / (len(scans) * wl.base_rows) if scans and wl.base_rows else 0.0
    wall_sum = sum(walls) or 1.0
    share = dict.fromkeys(SHARES, 0.0)
    for group, s in tracer.self_totals(ids, group_of).items():
        share[group] += s
    # the Spark jobs a renderer's collect waits for (the raster binning
    # and normalize of a single or facet plot, normalize alone for a
    # grid plot) are a group of their own; the rest of the collect is
    # shipping pixels into the driver
    jobs = {t["id"]: t["jobs"] for t in traced}
    in_jobs = sum(overlap(s.start, s.end, jobs[s.request])
                  for s in tracer.spans if s.name == "render.collect" and s.request in ids)
    share["render"] -= in_jobs
    share["raster_job"] += in_jobs
    for g in SHARES:
        m[f"share.{g}"] = share[g] / wall_sum
    # the canonical request's first execution also pays the session's
    # cold start, so it is left out; the rest alternate which of the
    # pair runs first, and the mean lets that order effect cancel
    pairs = [t for t in traced if t["id"] > 0]
    diffs = [t["wall"] - t["plain_wall"] for t in pairs]
    m["trace.overhead_s"] = statistics.mean(diffs) if diffs else 0.0
    plain = statistics.mean([t["plain_wall"] for t in pairs]) if pairs else 0.0
    m["trace.overhead_frac"] = m["trace.overhead_s"] / plain if plain else 0.0
    m["request.traced_wall_s"] = statistics.median(walls) if walls else 0.0
    return m


# -- the run -----------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "shadems_spark", "cli.py")):
        print(f"perfbench: no shadems_spark package under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    from engine import process_start_time

    t_proc = process_start_time()
    trace = bool(args.trace)
    pin_environment(trace)
    from workloads import WORKLOADS

    # --- inputs (excluded from setup_s); outputs of earlier runs go
    t_gen = time.time()
    wl = WORKLOADS[args.workload](WORK, args.seed)
    shutil.rmtree(wl.out, ignore_errors=True)
    manifest = wl.inputs(os.path.join(WORK, "inputs"))
    gen_s = time.time() - t_gen

    # --- setup: session + warm-up
    redirect_warehouse()
    from shadems_spark import session

    tracer = wl.tracer
    if trace:
        install_tracer(tracer)
        tracer.active = True
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    tracer.active = False
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = time.time() - t_proc - gen_s
        out, execs, failed = _measure(args, wl, spark, tracer)
    finally:
        wl.close()
        _stop(spark)

    out["inputs"] = {"rows": manifest["rows"], "bytes": manifest["bytes"],
                     "sha256": manifest["sha256"], "generate_s": gen_s}
    if trace:
        metrics = layer_metrics(tracer, wl, [r for r in execs if not r["error"]], get_spark_s)
        units = per_layer_units()
        out["trace_note"] = (
            "per-layer values are means per traced request (session.get_spark_s: once, in set-up). "
            "operators.normalize runs lazily inside render.collect_s; splitting it out needs "
            "spans inside the program. Span times around lazy builders are plan building only. "
            "share.raster_job is the Spark-job time inside render.collect (raster binning plus "
            "normalize; normalize alone for grid plots), share.render the rest of rendering; "
            "share.bounds_binning holds the bounds jobs and the passes cli.run collects itself "
            "(the grid raster job, facet and colour-category discovery). "
            "trace.overhead_s = mean over warm requests of traced wall minus untraced wall, "
            "both in this UI-on session, so the UI's own cost is not in it."
        )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.to_json(), "counts": {str(k): v for k, v in tracer.counts.items()},
                       "requests": [{k: v for k, v in r.items() if k != "result"} for r in execs]}, fh)
    else:
        metrics, out["latency_tail"] = end_to_end(execs, failed, out["timed_phase_s"], setup_s,
                                                  out["peak_rss_mb"], out["peak_rss_driver_mb"])
        units = E2E_UNITS
    out["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}-{int(trace)}.json"), "w") as fh:
        json.dump(out, fh, indent=1, default=str)
    _print_report(out)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        gated = [m["name"] for m in json.load(fh)["per_layer" if trace else "end_to_end"]]
    print(json.dumps({
        "correct": not failed,
        "attempted": len(execs),
        "failed": len(failed),
        "metrics": {k: out["metrics"][k] for k in gated},
    }))
    return 0


def _measure(args, wl, spark, tracer):
    """The timed phase, then the output checks outside it."""
    import engine

    sc = spark.sparkContext
    pids = [os.getpid()] + [p for p in [engine.jvm_pid(sc)] if p]
    engine.reset_peak_rss(pids)
    ticks = engine.cpu_ticks()
    if args.trace:
        def run_one(rec, req):
            _traced_pair(wl, spark, sc, tracer, req, rec, engine)
    else:
        def run_one(rec, req):
            rec["result"] = wl.execute(spark, req)
    execs, elapsed = run_requests(wl.requests(2000), args.seconds, run_one)
    peak = engine.peak_rss_mb(pids)
    peak_driver = engine.peak_rss_mb(pids[:1])
    steal = engine.steal_frac(ticks, engine.cpu_ticks())
    tracer.restore()

    problems = check_outputs(wl, spark, execs)
    failed = [r for r in execs if r["error"] or r["key"] in problems]
    results = {r["key"]: r["result"] for r in execs if not r["error"]}
    out = {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
        "timed_phase_s": elapsed, "peak_rss_mb": peak, "peak_rss_driver_mb": peak_driver,
        # other guests' share of this machine's CPUs: times vary with it
        "host_steal_frac": steal,
        "requests": {k: wl.summary(json.loads(k), v) for k, v in results.items()},
        "walls": [[r["id"], r["block"], r.get("wall"), r["key"]] for r in execs],
        "failed_requests": [{"id": r["id"], "request": r["key"],
                             "why": r["error"] or problems[r["key"]]} for r in failed],
    }
    return out, execs, failed


def run_requests(requests, seconds: float, run_one) -> tuple[list[dict], float]:
    """Closed loop over ``requests`` ((block, request) pairs): the
    canonical request, then whole blocks until ``seconds`` have passed.
    ``run_one`` fills the record; its wall time is recorded unless
    ``run_one`` sets its own.  A request that raises is recorded with
    its error and its time until it raised, and the loop goes on.
    Returns the execution records and the elapsed time."""
    from workloads import key

    execs: list[dict] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    i = 0
    while i < 2 or requests[i][0] == requests[i - 1][0] or time.perf_counter() < deadline:
        block, req = requests[i]
        rec = {"id": i, "block": block, "key": key(req), "error": None}
        t = time.perf_counter()
        try:
            run_one(rec, req)
        except Exception as e:  # a request boundary: count it and carry on
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            traceback.print_exc(file=sys.stderr)
        rec.setdefault("wall", time.perf_counter() - t)
        execs.append(rec)
        i += 1
    return execs, time.perf_counter() - t_start


def check_outputs(wl, spark, execs: list[dict]) -> dict[str, list[str]]:
    """Check each distinct request's output once; also flag a request
    whose repeated executions returned different results (PNG hashes,
    curation reports, row counts)."""
    by_key: dict[str, list] = {}
    for r in execs:
        if not r["error"]:
            by_key.setdefault(r["key"], []).append(r["result"])
    problems = {}
    for k, results in by_key.items():
        try:
            p = wl.check(spark, json.loads(k), results[-1])
        except Exception as e:  # a failed check is a failed request, never dropped
            traceback.print_exc(file=sys.stderr)
            p = [f"check raised {type(e).__name__}: {e}"]
        if any(res != results[0] for res in results[1:]):
            p.append("repeated executions gave different results")
        if p:
            problems[k] = p
    return problems


E2E_UNITS = {"setup_s": "s", "first_request_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
             "requests_per_min": "1/min", "failed_frac": "ratio", "peak_rss_mb": "MB",
             "peak_rss_driver_mb": "MB"}


def end_to_end(execs, failed, elapsed: float, setup_s: float, peak_mb: float, peak_driver_mb: float):
    """The end-to-end metrics of an untraced run.  Latencies are over
    every warm request (all but the canonical first), a failed one with
    its time until it raised; requests_per_min counts the requests that
    returned; failures show in ``failed_frac``.  peak_rss_mb is the
    driver Python process plus its JVM; peak_rss_driver_mb the Python
    process alone, whose peak does not depend on when the JVM's
    collector runs."""
    import stats

    warm = [r["wall"] for r in execs[1:]]
    tl = stats.tail(warm)
    return {
        "setup_s": setup_s,
        "first_request_s": execs[0]["wall"],
        "latency_p50_s": stats.median(warm),
        "latency_tail_s": tl["value"],
        "requests_per_min": sum(not r["error"] for r in execs) / elapsed * 60.0,
        "failed_frac": len(failed) / len(execs),
        "peak_rss_mb": peak_mb,
        "peak_rss_driver_mb": peak_driver_mb,
    }, tl


def _traced_pair(wl, spark, sc, tracer, req, rec, engine) -> None:
    """Run ``req`` untraced and traced, alternating which goes first."""
    for traced_turn in ((False, True) if rec["id"] % 2 == 0 else (True, False)):
        if traced_turn:
            group = f"req-{rec['id']}"
            sc.setJobGroup(group, rec["key"][:200])
            tracer.request = rec["id"]
            tracer.active = True
            t = time.perf_counter()
            try:
                with tracer.span("request"):
                    rec["result"] = wl.execute(spark, req)
            finally:
                rec["wall"] = time.perf_counter() - t
                tracer.active = False
                sc.setJobGroup("", "")
            rec["engine"], epoch_jobs = engine.job_stats(sc, group)
            # job times onto the spans' clock
            shift = time.time() - time.perf_counter()
            rec["jobs"] = [(a - shift, b - shift) for a, b in epoch_jobs]
        else:
            t = time.perf_counter()
            wl.execute(spark, req)
            rec["plain_wall"] = time.perf_counter() - t


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _print_report(out: dict) -> None:
    print(f"workload {out['workload']}  seed {out['seed']}  trace {int(out['trace'])}")
    inp = out["inputs"]
    print(f"inputs: rows {json.dumps(inp['rows'])}  bytes {inp['bytes']}  sha256 {inp['sha256'][:16]}"
          f"  generated in {inp['generate_s']:.2f} s")
    for k, v in out["metrics"].items():
        print(f"  {k:40s} {v['value']:.6g} {v['unit']}")
    if out.get("latency_tail"):
        t = out["latency_tail"]
        print(f"  latency_tail_s is p{t['percentile']} of {t['samples']} warm samples"
              f" ({t['beyond_samples']} beyond it{'' if t['qualified'] else '; fewer than 11 samples, so the maximum'})")
    print(f"host: {100 * out['host_steal_frac']:.1f}% of CPU time stolen by other guests in the timed phase")
    if out.get("trace_note"):
        print("note: " + out["trace_note"])
    for k, s in out["requests"].items():
        for name, h in s.get("png_sha256", {}).items():
            print(f"png {name} sha256 {h}")
    verdict = "correct" if not out["failed_requests"] else f"{len(out['failed_requests'])} failed"
    print(f"verification: {verdict}")
    for f in out["failed_requests"]:
        print(f"  failed request {f['id']}: {f['request']} -> {f['why']}")


if __name__ == "__main__":
    sys.exit(main())
