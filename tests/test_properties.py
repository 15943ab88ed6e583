"""Property-based invariants (SURVEY.md §5.2.3, hypothesis):
conservation and algebraic laws that must hold for ANY input, not
just the fixtures.  Each property evaluates one Spark job per example;
max_examples is kept small since the point is edge-case discovery
(zeros, negatives, bin edges), not volume."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from shadems_spark.functions import complexops as C
from shadems_spark.operators import raster as R
from shadems_spark.operators.mappers import baseline_index
from shadems_spark.operators.normalize import eq_hist
from shadems_spark.operators.text import ngram_hashes, word_ngrams, words
from shadems_spark.render import shade_values

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
points = st.lists(st.tuples(finite, finite), min_size=1, max_size=40)


@given(pts=points)
@settings(**SETTINGS)
def test_raster_conserves_count(spark, pts):
    """Sum of per-pixel counts == number of in-range input rows."""
    df = spark.createDataFrame(pts, "x double, y double")
    xr, yr = (-1e6, 1e6), (-1e6, 1e6)
    binned = R.raster(df, F.col("x"), F.col("y"), xr, yr, 16, 16)
    assert binned.agg(F.sum("val")).first()[0] == len(pts)


@given(pts=points)
@settings(**SETTINGS)
def test_bin_in_bounds(spark, pts):
    """Every in-range sample's bin index lands in [0, n)."""
    df = spark.createDataFrame(pts, "x double, y double").withColumn("lo", F.lit(-1e6)).withColumn("hi", F.lit(1e6))
    for lo, hi in ((-1e6, 1e6), (F.col("lo"), F.col("hi"))):
        b = df.select(R.bin_axis(F.col("x"), lo, hi, 7).alias("b"))
        mn, mx = b.agg(F.min("b"), F.max("b")).first()
        assert 0 <= mn and mx <= 6


@given(pairs=st.lists(st.tuples(finite, finite), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_amp_dominates_components(spark, pairs):
    """amp >= |re| and amp >= |im|, within 1 ulp of sqrt rounding and
    the square's underflow floor (re^2 flushes to 0 below ~1e-154)."""
    df = spark.createDataFrame(pairs, "re double, im double")
    v = df.select(C.c_amp(C.cpx(F.col("re"), F.col("im"))).alias("amp"), "re", "im")
    bad = v.filter(
        (F.col("amp") < F.abs(F.col("re")) * (1 - 1e-12) - 1e-150)
        | (F.col("amp") < F.abs(F.col("im")) * (1 - 1e-12) - 1e-150)
    )
    assert bad.count() == 0


@given(pairs=st.lists(st.tuples(finite, finite), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_complex_mul_div_inverse(spark, pairs):
    """c_div(c_mul(a, b), b) ~= a for non-tiny b."""
    df = spark.createDataFrame(pairs, "re double, im double")
    a = C.cpx(F.col("re"), F.col("im"))
    b = C.cpx(F.lit(3.5), F.lit(-1.25))
    back = C.c_div(C.c_mul(a, b), b)
    bad = df.select(
        (F.abs(C.c_re(back) - F.col("re")) > 1e-6 * (F.abs(F.col("re")) + 1)).alias("r"),
        (F.abs(C.c_im(back) - F.col("im")) > 1e-6 * (F.abs(F.col("im")) + 1)).alias("i"),
    ).filter(F.col("r") | F.col("i"))
    assert bad.count() == 0


@given(us=st.lists(st.tuples(finite, finite), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_conjugate_mirror_doubles(spark, us):
    """U2: dataset ∪ negated copy has exactly 2x the rows and is
    symmetric under (u,v) -> (-u,-v)."""
    df = spark.createDataFrame(us, "u double, v double")
    mirrored = df.unionAll(df.select((-F.col("u")).alias("u"), (-F.col("v")).alias("v")))
    assert mirrored.count() == 2 * len(us)
    neg = mirrored.select((-F.col("u")).alias("u"), (-F.col("v")).alias("v"))
    assert mirrored.exceptAll(neg).count() == 0


@given(vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_eq_hist_range_and_monotone(spark, vals):
    """W1: shades lie in (0, 1]; larger values never shade lower."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, val int")
    rows = eq_hist(df).collect()
    assert all(0 < r["shade"] <= 1.0 for r in rows)
    by_val = sorted(rows, key=lambda r: r["val"])
    for a, b in zip(by_val, by_val[1:]):
        assert a["shade"] <= b["shade"]
        if a["val"] == b["val"]:
            assert a["shade"] == b["shade"]  # ties shade identically
    # the renderer's driver-side shading equals this engine-side
    # reference bit for bit on the same binned table
    val = np.array([r["val"] for r in rows], dtype=np.float64)
    assert shade_values(val, "eq_hist").tolist() == [r["shade"] for r in rows]


@given(
    a1=st.integers(min_value=0, max_value=500),
    a2=st.integers(min_value=0, max_value=500),
    b1=st.integers(min_value=0, max_value=500),
    b2=st.integers(min_value=0, max_value=500),
)
@settings(**SETTINGS)
def test_baseline_index_injective_unordered(spark, a1, a2, b1, b2):
    """P11: index collides iff the unordered antenna pairs coincide."""
    df = spark.createDataFrame([(a1, a2, b1, b2)], "a1 int, a2 int, b1 int, b2 int")
    r = df.select(
        baseline_index(F.col("a1"), F.col("a2")).alias("x"),
        baseline_index(F.col("b1"), F.col("b2")).alias("y"),
    ).first()
    same_pair = {a1, a2} == {b1, b2}
    assert (r["x"] == r["y"]) == same_pair


@given(
    text=st.text(
        alphabet=st.sampled_from("ab dx"), min_size=0, max_size=60
    ).map(lambda s: " ".join(s.split()) or "a")
)
@settings(**SETTINGS)
def test_ngram_counts(spark, text):
    """n-gram count (pre-distinct) == max(0, n_words - 2); the hashed
    and string shingle paths agree on set size."""
    df = spark.createDataFrame([(text,)], "text string")
    r = df.select(
        F.size(words("text")).alias("nw"),
        F.size(word_ngrams(words("text"), 3, distinct=False)).alias("ng"),
        F.size(word_ngrams(words("text"), 3)).alias("d_str"),
        F.size(ngram_hashes(words("text"), 3)).alias("d_hash"),
    ).first()
    assert r["ng"] == max(0, r["nw"] - 2)
    assert r["d_str"] == r["d_hash"]


@given(
    lo=st.floats(min_value=-100, max_value=99, allow_nan=False),
    width=st.floats(min_value=0.5, max_value=200, allow_nan=False),
    frac=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@settings(**SETTINGS)
def test_bin_edges(spark, lo, width, frac):
    """G1 edge ownership: lo maps to bin 0, hi clamps into bin n-1."""
    hi = lo + width
    x = lo + frac * width
    df = spark.createDataFrame([(float(x), float(lo), float(hi))], "x double, lo double, hi double")
    for bounds in ((lo, hi), (F.col("lo"), F.col("hi"))):
        b = df.select(R.bin_axis(F.col("x"), *bounds, 8).alias("b")).first()["b"]
        assert 0 <= b <= 7
        if frac == 0.0:
            assert b == 0
        if frac == 1.0:
            assert b == 7


sessions_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user_id
        st.integers(min_value=0, max_value=10**7),  # ts_us
    ),
    min_size=1,
    max_size=40,
)


@given(evs=sessions_events)
@settings(**SETTINGS)
def test_sessionize_partition_and_gap_law(spark, evs):
    """Gaps-and-islands sessionization: every event lands in exactly
    one session; consecutive events in one session are <= gap apart;
    consecutive sessions of a user are > gap apart at the boundary."""
    from pyspark.sql import Window

    gap = 1000
    rows = [(u, i, t) for i, (u, t) in enumerate(evs)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_us long")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gcol = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(gcol.isNull() | (gcol > gap), 1).otherwise(0)
    out = df.withColumn(
        "session_no",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).collect()
    assert len(out) == len(rows)  # no event lost or duplicated
    by_user: dict = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["ts_us"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            if b["session_no"] == a["session_no"]:
                assert b["ts_us"] - a["ts_us"] <= gap
            else:
                assert b["session_no"] == a["session_no"] + 1
                assert b["ts_us"] - a["ts_us"] > gap


token_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),  # doc_id
        st.integers(min_value=1, max_value=400),    # tokens
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(docs=token_docs)
@settings(**SETTINGS)
def test_token_budget_cut_law(spark, docs):
    """Budget-quota fill: kept prefix's cumulative tokens never exceed
    the budget, and the FIRST dropped doc (in hash order) would have
    pushed it over — i.e. the cut is tight, not arbitrary."""
    from pyspark.sql import Window

    budget = 1000
    df = spark.createDataFrame(docs, "doc_id long, tokens long")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1 << 32)
    w = Window.orderBy(F.asc("h"), "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = df.withColumn("h", h).withColumn("cum", F.sum("tokens").over(w))
    rows = sorted(c.collect(), key=lambda r: (r["h"], r["doc_id"]))
    kept = [r for r in rows if r["cum"] <= budget]
    if kept:
        assert kept[-1]["cum"] <= budget
    dropped = [r for r in rows if r["cum"] > budget]
    if dropped and kept:
        first_dropped = dropped[0]
        assert kept[-1]["cum"] + first_dropped["tokens"] > budget


vecs = st.lists(
    st.lists(finite, min_size=8, max_size=8),
    min_size=3,
    max_size=16,
)


@given(vs=vecs)
@settings(**SETTINGS)
def test_pq_codes_in_range(spark, vs):
    """PQ encode: every code indexes a real centroid (0 <= c < k) and
    the code array is exactly m long, for arbitrary vectors."""
    from shadems_spark.operators.similarity import pq_encode, pq_train

    rows = [(i, v) for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m, k = 4, min(4, len(vs))
    cb = pq_train(df, m=m, k=k)
    for r in pq_encode(df, cb).collect():
        assert len(r["codes"]) == m
        assert all(0 <= c < k for c in r["codes"])


unit_angle = st.floats(min_value=0.0, max_value=math.pi, allow_nan=False)


@given(vecs=st.lists(st.tuples(finite, finite), min_size=3, max_size=15))
@settings(**SETTINGS)
def test_semdedup_partition_law(spark, vecs):
    """kept ∪ dropped == input, disjoint; the lowest id of every
    cluster always survives (nothing precedes it)."""
    from shadems_spark.operators.similarity import semdedup

    rows = [
        (i, [float(a), float(b), 1.0])
        for i, (a, b) in enumerate(vecs)
        if (a, b) != (0.0, 0.0)
    ]
    if len(rows) < 2:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semdedup(df, n_clusters=2, threshold=0.999999)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    all_ids = {r[0] for r in rows}
    assert kept_ids <= all_ids
    # lowest id per cluster survives: cluster of id0 keeps id0 etc.
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in semdedup(df, n_clusters=2, threshold=2.0).collect()
    }  # threshold>1: nothing dropped -> full assignment visible
    assert set(clusters) == all_ids
    for cid in set(clusters.values()):
        members = [v for v, c in clusters.items() if c == cid]
        assert min(members) in kept_ids


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=20
    )
)
@settings(**SETTINGS)
def test_pagerank_mass_and_positivity_law(spark, edges):
    """For ANY symmetric graph: every rank positive, total mass within
    integer-truncation loss of SCALE, output covers every node."""
    from shadems_spark.operators.graph import (
        SCALE,
        pagerank_fixed,
        symmetric_edges,
    )

    e = [(a, b) for a, b in edges if a != b]
    if not e:
        return
    df = spark.createDataFrame(e, "src long, dst long")
    sym = symmetric_edges(df)
    n = sym.select("src").distinct().count()
    out = pagerank_fixed(sym, n, iters=3).collect()
    assert len(out) == n
    total = sum(r["r"] for r in out)
    assert all(r["r"] > 0 for r in out)
    assert SCALE - n * 4 * 100 <= total <= SCALE


hh_words = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1, max_size=60,
)


@given(ws=hh_words, m=st.sampled_from([2, 3, 5, 10]))
@settings(**SETTINGS)
def test_heavy_hitters_matches_counter_law(spark, ws, m):
    """For ANY input and threshold, the two-phase operator returns
    exactly {w : count(w)*m > N} with exact counts — the Counter
    reference — regardless of partitioning."""
    from collections import Counter

    from shadems_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame([(w,) for w in ws], "w string").repartition(3)
    got = sorted(
        (r["w"], r["n"]) for r in heavy_hitters(df, "w", m=m).collect()
    )
    c = Counter(ws)
    want = sorted((w, n) for w, n in c.items() if n * m > len(ws))
    assert got == want


@given(
    shared=st.lists(st.sampled_from("abcdef"), min_size=6, max_size=10),
    pre=st.lists(st.sampled_from("uvwxyz"), min_size=0, max_size=5),
    post=st.lists(st.sampled_from("nopqrs"), min_size=0, max_size=5),
)
@settings(**SETTINGS)
def test_winnow_guarantee_law(spark, shared, pre, post):
    """Winnowing detection law (k=3, w=4): any two docs sharing a
    word run of length >= w+k-1 = 6 share at least one fingerprint,
    wherever the run sits in either document."""
    from shadems_spark.operators.text import winnow_fingerprints

    d0 = " ".join(pre + shared)
    d1 = " ".join(shared + post)
    df = spark.createDataFrame(
        [(0, d0), (1, d1)], "doc_id long, text string"
    ).select(
        "doc_id", winnow_fingerprints(words("text"), k=3, w=4).alias("fps")
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in df.collect()}
    assert fps[0] & fps[1]


_int_series = st.lists(
    st.integers(min_value=0, max_value=1000), min_size=1, max_size=12
)


@given(a=_int_series, b=_int_series)
@settings(**SETTINGS)
def test_dtw_fold_metric_laws(spark, a, b):
    """DTW laws on arbitrary integer series: dtw(a, a) == 0;
    symmetry dtw(a, b) == dtw(b, a); lower bound |a_end - b_end|
    (the final step always pays that cost); equal-length upper bound
    sum |a_i - b_i| (the diagonal alignment)."""
    from shadems_spark.operators.series import dtw_fold

    df = spark.createDataFrame(
        [(a, b)], "va array<long>, vb array<long>"
    )
    r = df.select(
        dtw_fold("va", "vb").alias("ab"),
        dtw_fold("vb", "va").alias("ba"),
        dtw_fold("va", "va").alias("aa"),
    ).first()
    assert r["aa"] == 0
    assert r["ab"] == r["ba"]
    assert r["ab"] >= abs(a[-1] - b[-1])
    if len(a) == len(b):
        assert r["ab"] <= sum(abs(x - y) for x, y in zip(a, b))


@given(
    vals=st.lists(
        st.integers(min_value=-5, max_value=5),  # tiny domain: heavy dups
        min_size=1,
        max_size=60,
    ),
    n_parts=st.sampled_from([1, 2, 3, 8]),
)
@settings(**SETTINGS)
def test_two_phase_scan_family_matches_window(spark, vals, n_parts):
    """The entire two-phase value-cut scan family (global_index /
    global_cumsum / global_ntile / global_cummax) equals its
    single-partition-window definition on ADVERSARIAL inputs: tiny
    value domains (every value heavily duplicated — the skew case the
    distinct-value cut sampler exists for) at every bucket count,
    with a unique tiebreaker column making the order total."""
    from pyspark.sql import Window

    from shadems_spark.operators.profile import (
        global_cummax,
        global_cumsum,
        global_index,
        global_ntile,
    )

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, i long")
    order = ["v", "i"]
    w = Window.partitionBy(F.lit(0)).orderBy("v", "i")

    got_idx = {
        (r["v"], r["i"]): r["gid"]
        for r in global_index(df, order, n_parts=n_parts).collect()
    }
    got_cs = {
        (r["v"], r["i"]): r["cs"]
        for r in global_cumsum(df, order, {"cs": "v"}, n_parts=n_parts).collect()
    }
    got_nt = {
        (r["v"], r["i"]): r["t"]
        for r in global_ntile(df, 4, order, "t", n_parts=n_parts).collect()
    }
    got_cm = {
        (r["v"], r["i"]): r["m"]
        for r in global_cummax(df, order, "v", "m", n_parts=n_parts).collect()
    }
    want = df.select(
        "v", "i",
        F.row_number().over(w).alias("rn"),
        F.sum("v").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cs"),
        F.ntile(4).over(w).alias("t"),
        F.max("v").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("cm"),
    ).collect()
    for r in want:
        k = (r["v"], r["i"])
        assert got_idx[k] == r["rn"]
        assert got_cs[k] == r["cs"]
        assert got_nt[k] == r["t"]
        assert got_cm[k] == r["cm"]


@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=30), min_size=1, max_size=12
    ),
    m=st.sampled_from([2, 4, 10]),
    partitions=st.sampled_from([1, 3, 8]),
)
@settings(**SETTINGS)
def test_heavy_hitters_fuzz_exact(spark, weights, m, partitions):
    """Two-phase exact heavy hitters on random frequency shapes at
    random layouts must equal the textbook GROUP BY ... HAVING
    n*m > N set — including boundary counts (n*m == N excluded) and
    the no-hitters case (max weight too small)."""
    from shadems_spark.operators.profile import heavy_hitters

    vals = [f"k{i}" for i, w in enumerate(weights) for _ in range(w)]
    n_total = len(vals)
    df = spark.createDataFrame([(v,) for v in vals], "w string").repartition(
        partitions
    )
    got = sorted(
        (r["w"], r["n"], r["n_total"])
        for r in heavy_hitters(df, "w", m=m).collect()
    )
    want = sorted(
        (f"k{i}", w, n_total)
        for i, w in enumerate(weights)
        if w * m > n_total
    )
    assert got == want


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),   # day index
            st.integers(min_value=1, max_value=200),  # events that day
        ),
        min_size=1,
        max_size=50,
    ),
    cut=st.integers(min_value=0, max_value=49),
)
@settings(**SETTINGS)
def test_monitor_folds_batching_invariant(counts, cut):
    """The streaming monitors' replay-idempotence claim, fuzzed: the
    shared folds (cusum_fold / page_hinkley_fold / sprt_fold) are
    pure functions of the MERGED daily-count state, so folding the
    additive merge of any two batch prefixes equals folding the whole
    — late rows and arbitrary micro-batch boundaries cannot change
    an emission."""
    from shadems_spark.streaming.stateful import (
        cusum_fold,
        page_hinkley_fold,
        sprt_fold,
    )

    cut = min(cut, len(counts))
    whole: dict = {}
    for d, n in counts:
        whole[d] = whole.get(d, 0) + n
    merged: dict = {}
    for d, n in counts[:cut]:
        merged[d] = merged.get(d, 0) + n
    for d, n in counts[cut:]:  # second micro-batch merges additively
        merged[d] = merged.get(d, 0) + n
    assert cusum_fold(merged) == cusum_fold(whole)
    assert page_hinkley_fold(merged) == page_hinkley_fold(whole)
    dt_whole = {(d, "t"): n for d, n in whole.items()}
    dt_merged = {(d, "t"): n for d, n in merged.items()}
    assert sprt_fold(dt_merged) == sprt_fold(dt_whole)


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),   # day index
            st.integers(min_value=1, max_value=200),  # events that day
        ),
        min_size=1,
        max_size=50,
    ),
    cut=st.integers(min_value=0, max_value=49),
)
@settings(**SETTINGS)
def test_ewma_control_fold_batching_invariant(counts, cut):
    """The r8 monitor joins the fuzzed replay-idempotence family:
    ewma_control_fold is a pure function of the MERGED daily-count
    state (center/sigma are retrospective, the EWMA recursion refolds
    from day one), so arbitrary micro-batch boundaries and late rows
    cannot change an emission."""
    from shadems_spark.streaming.stateful import ewma_control_fold

    cut = min(cut, len(counts))
    whole: dict = {}
    for d, n in counts:
        whole[d] = whole.get(d, 0) + n
    merged: dict = {}
    for d, n in counts[:cut]:
        merged[d] = merged.get(d, 0) + n
    for d, n in counts[cut:]:
        merged[d] = merged.get(d, 0) + n
    assert ewma_control_fold(merged) == ewma_control_fold(whole)
