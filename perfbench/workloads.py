"""The four workloads: inputs, seeded request sequences, execution
through the public entry points, and output checks.

Every sequence starts with the workload's canonical request, so
``first_request_s`` times the same work on every seed; the seed picks
the order and parameters of the rest and generates the inputs.  The
rest come in blocks with a fixed mix of request kinds, so a run of a
few blocks sees the same mix whatever the seed.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os

import numpy as np

import gen
import verify
from spans import Tracer

#: lineitem copies in the plot_scan table (1.2M rows)
SCAN_COPIES = 2
#: documents copies in the curate corpus, before planted duplicates (11,000 docs)
CORPUS_COPIES = 2
#: scale factor of the catalog plot_dense and query_mix read
CATALOG_SF = 0.1
#: colour maps without white in their range, so an occupied pixel never
#: matches the white background
CMAPS = ["viridis", "plasma", "inferno", "magma", "cividis"]


def key(req: dict) -> str:
    return json.dumps(req, sort_keys=True)


def key_id(req: dict) -> str:
    return hashlib.sha1(key(req).encode()).hexdigest()[:10]


class Workload:
    name = ""
    #: traced span names this workload must record (benchmark tests)
    layers: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.out = os.path.join(work, "out", self.name)
        #: rows of the table ``spark.scan_passes`` divides by (set by
        #: ``inputs``)
        self.base_rows = 0
        #: the run's span recorder (active only in the traced run);
        #: workloads that call into the program from their own code
        #: open their spans on it
        self.tracer = Tracer()

    def inputs(self, cache: str) -> dict:
        """Generate (or reuse) the seed's inputs; returns their
        manifest (rows per table, bytes, sha256)."""
        raise NotImplementedError

    def scans_base(self, req: dict) -> bool:
        """Whether ``req`` reads the table of ``base_rows`` (the
        requests ``spark.scan_passes`` is taken over)."""
        return True

    def first(self) -> dict:
        """The canonical request every run starts with."""
        raise NotImplementedError

    def block(self, rng, b: int) -> list[dict]:
        """Block ``b`` (1-based): a fixed mix of request kinds with
        seeded order and parameters."""
        raise NotImplementedError

    def requests(self, n: int) -> list[tuple[int, dict]]:
        """(block, request) pairs: the canonical request as block 0,
        then blocks 1, 2, ..., all drawn from the seed."""
        rng = np.random.default_rng([self.seed, sum(map(ord, self.name))])
        out, b = [(0, self.first())], 1
        while len(out) < n:
            out += [(b, r) for r in self.block(rng, b)]
            b += 1
        return out[:n]

    def execute(self, spark, req: dict):
        raise NotImplementedError

    def check(self, spark, req: dict, result) -> list[str]:
        """Problems with one distinct request's output ([] = correct)."""
        raise NotImplementedError

    def summary(self, req: dict, result) -> dict:
        """What the run output records about one distinct request."""
        return {}

    def close(self) -> None:
        pass


# -- plots ------------------------------------------------------------

class _Plot(Workload):
    table_dir = ""

    def argv(self, req: dict) -> list[str]:
        a = [self.table_dir, "-x", req["x"], "-y", req["y"], "--col", req.get("col", "DATA"),
             "--xcanvas", str(req["w"]), "--ycanvas", str(req["h"]),
             "--norm", req.get("norm", "eq_hist"), "--cmap", req.get("cmap", "viridis"),
             "--dir", os.path.join(self.out, key_id(req))]
        for flag in ("figure", "robust", "dynspread"):
            if req.get(flag):
                a.append(f"--{flag}")
        for opt in ("nchan", "chan", "corr", "iter"):
            if opt in req:
                a += [f"--{opt}", str(req[opt])]
        if "colour_by" in req:
            a += ["--colour-by", req["colour_by"]]
        for f in req.get("field", []):
            a += ["--field", f]
        for ant in req.get("ant", []):
            a += ["--ant", str(ant)]
        return a

    def execute(self, spark, req: dict):
        from shadems_spark import cli

        paths = cli.run(self.argv(req), spark=spark)
        if not paths:
            raise RuntimeError("no PNG written")
        return {p: verify.sha256(p) for p in paths}

    def summary(self, req, result) -> dict:
        return {"png_sha256": {os.path.relpath(p, self.out): h for p, h in result.items()}}

    def _con(self):
        if not hasattr(self, "_duck"):
            import duckdb

            self._duck = duckdb.connect()
        return self._duck

    def close(self) -> None:
        if hasattr(self, "_duck"):
            self._duck.close()

    def check(self, spark, req, result) -> list[str]:
        problems = []
        combos = [(x, y) for x in req["x"].split(",") for y in req["y"].split(",")]
        for path in result:
            img = verify.decode_png(path)
            h, w = img.shape[:2]
            if req.get("figure"):
                if w <= req["w"] or h <= req["h"]:
                    problems.append(f"{os.path.basename(path)}: figure {w}x{h} smaller than canvas")
            elif (w, h) != (req["w"], req["h"]):
                problems.append(f"{os.path.basename(path)}: {w}x{h}, asked {req['w']}x{req['h']}")
        if req.get("figure") or req.get("robust") or req.get("dynspread"):
            return problems  # size check only: no exact pixel oracle
        lineitem = os.path.join(self.table_dir, "lineitem.parquet")
        if os.path.isdir(lineitem):
            lineitem += "/*.parquet"
        con = self._con()
        col = req.get("col", "DATA")
        facet_sql = {"corr": "corr_label", "field": "field_label"}.get(req.get("iter"))
        for path in sorted(result):
            name = os.path.basename(path)
            x, y = next(
                ((x, y) for x, y in combos
                 if name.startswith(f"{os.path.basename(self.table_dir)}_{_axis_name(x)}_{_axis_name(y)}")),
                (None, None),
            )
            mirror = {x.lower(), y.lower()} == {"u", "v"}
            want = verify.expected_pixels(con, lineitem, req, x, y, col, mirror, req["w"], req["h"], facet_sql)
            if facet_sql:
                grp = name.rsplit("_", 1)[-1].removesuffix(".png")
                want = want.get(grp, 0)
            got = verify.occupied(verify.decode_png(path))
            if got != want:
                problems.append(f"{name}: {got} occupied pixels, DuckDB bins {want}")
        return problems


def _axis_name(spec: str) -> str:
    return spec.replace(":", "_").replace("/", "over").replace("-", "minus")


class PlotDense(_Plot):
    """1280x900 plots of dense axes on the sf 0.1 catalog: ~300k
    occupied pixels each, so collect, normalize and render dominate."""

    name = "plot_dense"
    layers = (
        "cli.run", "catalog.load_table", "vis.vis_view", "operators.mappers.parse_axis",
        "operators.selection", "plans.shadeplot.bounds", "render.collect",
        "render.raster_to_rgba", "render.write_png", "figure.compose_figure",
    )
    #: y mappers that fill the 1280x900 canvas against time: 290k-334k
    #: occupied pixels on the sf 0.1 catalog.  The other combinations
    #: are far sparser (MODEL_DATA 60k-180k, phase and every uvdist
    #: plot 8k-16k, since uvdist tracks the price that also sets amp,
    #: real and imag), so they ride in plot_scan instead.
    DENSE_Y = ["amp", "real", "imag"]
    #: the (norm, figure) classes of one block: every norm once, a
    #: quarter of the requests with ``--figure``
    CLASSES = [("eq_hist", False), ("log", True), ("cbrt", False), ("linear", False)]

    def inputs(self, cache):
        m = gen.ensure(cache, "catalog", self.seed, gen.write_catalog, CATALOG_SF)
        self.table_dir = m["dir"]
        self.base_rows = m["rows"]["lineitem"]
        return m

    def first(self):
        return {"w": 1280, "h": 900, "x": "time", "y": "amp", "col": "DATA", "norm": "eq_hist",
                "cmap": "viridis"}

    def block(self, rng, b):
        """One request per class in seeded order; the seed picks each
        request's dense y mapper and colour map."""
        out = []
        for i in rng.permutation(len(self.CLASSES)):
            norm, figure = self.CLASSES[i]
            req = {"w": 1280, "h": 900, "x": "time", "y": str(rng.choice(self.DENSE_Y)), "col": "DATA",
                   "norm": norm, "cmap": CMAPS[int(rng.integers(0, len(CMAPS)))]}
            if figure:
                req["figure"] = True
            out.append(req)
        return out


class PlotScan(_Plot):
    """256x256 plots over the xN lineitem copy, using the features
    whose cost is the scan: channel outer product, multi-axis grids,
    u/v with the conjugate mirror, facets, colour axes, selections,
    robust bounds and dynspread.  Every block also carries one
    ``pipeline.run`` (minhash or semantic dedup, packing sequences) and
    one registry query, so that the curation, parquet-write and query
    layers are measured in the same runs: the benchmark's run budget
    has no room for the ``curate`` and ``query_mix`` workloads as
    workloads of their own."""

    name = "plot_scan"
    #: (the dedup operator, minhash_dedup or semdedup, is the seed's pick)
    layers = (
        "cli.run", "catalog.load_table", "vis.vis_view", "operators.mappers.parse_axis",
        "operators.selection", "plans.shadeplot.bounds", "operators.raster.grid_raster",
        "render.collect", "render.raster_to_rgba", "render.write_png", "render.dynspread",
        "pipeline.run", "operators.curation.gopher_rules", "operators.retrieval.stratified_split",
        "sources.write", "operators.curation.pack_sequences", "queries.build", "queries.execute",
    )

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.curate = Curate(work, seed)
        self.query = QueryMix(work, seed)
        self.curate.out = os.path.join(self.out, "curate")
        for w in (self.curate, self.query):
            w.tracer = self.tracer

    def inputs(self, cache):
        m = gen.ensure(cache, "scan", self.seed, gen.write_scan, SCAN_COPIES)
        self.table_dir = m["dir"]
        self.base_rows = m["rows"]["lineitem"]
        parts = {"scan": m, "corpus": self.curate.inputs(cache), "catalog": self.query.inputs(cache)}
        return {
            "rows": {f"{kind}.{t}": n for kind, p in parts.items() for t, n in p["rows"].items()},
            "bytes": sum(p["bytes"] for p in parts.values()),
            "sha256": hashlib.sha256("".join(p["sha256"] for p in parts.values()).encode()).hexdigest(),
        }

    def scans_base(self, req):
        return self._other(req) is None

    def first(self):
        return {"w": 256, "h": 256, "x": "time", "y": "amp"}

    def block(self, rng, b):
        """Six requests in seeded order.  Four plots that together use
        every scan-heavy feature: the channel outer product with
        correlation, field and channel selections; a two-plot grid
        whose u/v plot adds the conjugate mirror; a colour axis over
        seeded antennas with robust bounds and dynspread; facets.  Then
        a curation run (seeded dedup mode and settings) that packs
        sequences, and one seeded registry query."""
        ants = sorted(int(a) for a in rng.choice(1000, size=3, replace=False))
        kinds = [
            {"x": "chan", "y": str(rng.choice(["amp", "phase", "real"])), "nchan": 6,
             "chan": f"{int(rng.integers(0, 2))}:6", "corr": str(rng.choice(["A", "N"])),
             "field": [str(rng.choice(["F", "O"]))]},
            {"x": "u,time", "y": "v"},
            {"x": "uvdist", "y": str(rng.choice(["amp", "imag"])), "colour_by": "corr_label",
             "ant": ants, "robust": True, "dynspread": True},
            {"x": "time", "y": str(rng.choice(["amp", "real"])), "iter": "corr"},
        ]
        col = str(rng.choice(["DATA", "MODEL_DATA"]))
        reqs = [{"w": 256, "h": 256, "col": col, **k} for k in kinds]
        reqs.append({"dedup": str(rng.choice(["minhash", "semantic"])), "pack": int(rng.choice([256, 512])),
                     "min_words": int(rng.integers(3, 8)), "train_pct": int(rng.choice([70, 80, 90]))})
        reqs.append({"query": str(rng.choice([q for f in QueryMix.FAMILIES for q in f]))})
        return [reqs[i] for i in rng.permutation(len(reqs))]

    def _other(self, req):
        """The workload that runs a folded-in curation or query request."""
        return self.curate if "dedup" in req else self.query if "query" in req else None

    def execute(self, spark, req):
        w = self._other(req)
        return w.execute(spark, req) if w else super().execute(spark, req)

    def check(self, spark, req, result):
        w = self._other(req)
        return w.check(spark, req, result) if w else super().check(spark, req, result)

    def summary(self, req, result):
        w = self._other(req)
        return w.summary(req, result) if w else super().summary(req, result)

    def close(self):
        super().close()
        self.curate.close()
        self.query.close()


# -- curation ---------------------------------------------------------

class Curate(Workload):
    """``pipeline.run`` over the xN corpus: exact, minhash and semantic
    dedup in turn, some requests packing sequences; every request
    writes partitioned parquet and reads it back."""

    name = "curate"
    layers = (
        "pipeline.run", "operators.curation.gopher_rules", "operators.retrieval.stratified_split",
        "sources.write", "operators.dedup.minhash_dedup", "operators.similarity.semdedup",
        "operators.curation.pack_sequences",
    )
    MODES = ["exact", "minhash", "semantic"]

    def inputs(self, cache):
        m = gen.ensure(cache, "corpus", self.seed, gen.write_corpus, CORPUS_COPIES)
        self.corpus = m["dir"]
        self.base_rows = m["rows"]["documents"]
        return m

    def first(self):
        return {"dedup": "exact"}

    def block(self, rng, b):
        """The three dedup modes in seeded order, exact dedup also
        packing sequences, with a seeded min-words / split setting."""
        extra = {"min_words": int(rng.integers(3, 8)), "train_pct": int(rng.choice([70, 80, 90]))}
        out = []
        for j in rng.permutation(3):
            req = {"dedup": self.MODES[j], **extra}
            if self.MODES[j] == "exact":
                req["pack"] = int(rng.choice([256, 512]))
            out.append(req)
        return out

    def execute(self, spark, req):
        from shadems_spark import pipeline

        argv = [self.corpus, os.path.join(self.out, key_id(req)), "--dedup", req["dedup"]]
        for opt in ("min_words", "train_pct", "pack"):
            if opt in req:
                argv += [f"--{opt.replace('_', '-')}", str(req[opt])]
        return pipeline.run(argv)

    def summary(self, req, result):
        return {"report": {k: v for k, v in result.items() if k != "out"}}

    def check(self, spark, req, result):
        import duckdb

        with duckdb.connect() as con:
            return verify.check_curation(con, result, os.path.join(self.corpus, "documents.parquet"))


# -- registry queries -------------------------------------------------

class QueryMix(Workload):
    """A seeded order of registry queries from the families the plot
    and curation workloads never reach, each built and executed with
    ``count()`` with ``bench.py``'s isolation between queries."""

    name = "query_mix"
    layers = ("queries.build", "queries.execute", "catalog.load_table")
    FAMILIES = [
        ["q_join_fact", "q_bucketed_join", "q_salted_join", "q_skew_split"],
        ["q_tumbling", "q_session", "q_sessionize", "q_stream_join"],
        ["q_cosine_topk", "q_ann_ivf", "q_quantize_topk", "q_mmr"],
        ["q_ks_test", "q_rfm", "q_lorenz", "q_skyline", "q_stl_decompose"],
        ["q_als", "q_lr_train", "q_grid_dbscan"],
    ]

    def inputs(self, cache):
        m = gen.ensure(cache, "catalog", self.seed, gen.write_catalog, CATALOG_SF)
        self.sf_dir = m["dir"]
        self.base_rows = sum(m["rows"].values())
        return m

    @functools.cached_property
    def registry(self):
        """Loaded by the first query, whose latency includes it."""
        from shadems_spark.queries import load_registry

        return load_registry()

    def first(self):
        return {"query": "q_join_fact"}

    def block(self, rng, b):
        """One query of each family (joins and skew, streaming windows,
        similarity, statistics and series, ML and graph) in seeded
        order; each family walks a seeded permutation of its queries,
        so a few blocks cover all twenty."""
        if b == 1:
            self._orders = [list(rng.permutation(f)) for f in self.FAMILIES]
        picks = [str(o[(b - 1) % len(o)]) for o in self._orders]
        return [{"query": picks[i]} for i in rng.permutation(len(picks))]

    def build(self, spark, req):
        return self.registry[req["query"]][0](spark, self.sf_dir)

    def execute(self, spark, req):
        with self.tracer.span("queries.build"):
            df = self.build(spark, req)
        with self.tracer.span("queries.execute"):
            n = df.count()
        isolate(spark)
        return n

    def summary(self, req, result):
        return {"rows": result}

    def check(self, spark, req, result):
        import sys

        tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        from check_oracle import compare, duck_con

        fn, sql = self.registry[req["query"]]
        got = fn(spark, self.sf_dir).toPandas()
        isolate(spark)
        if len(got) != result:
            return [f"toPandas rows {len(got)} != count() {result}"]
        if sql is None:
            return []
        con = duck_con(self.sf_dir)
        try:
            return compare(req["query"], got, con.execute(sql).df())
        finally:
            con.close()


def isolate(spark) -> None:
    """bench.py's query-boundary isolation: release tracked persists,
    clear the cache and unpersist surviving RDD blocks."""
    from shadems_spark.operators.dedup import release_persist

    release_persist()
    spark.catalog.clearCache()
    for _rid, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        jrdd.unpersist()


WORKLOADS = {w.name: w for w in (PlotDense, PlotScan, Curate, QueryMix)}
