"""Curation operators: decontamination overlap, repetition metrics,
PII scrubbing, deterministic stratified sampling, sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from shadems_spark.operators.curation import (
    decontaminate,
    pack_sequences,
    repetition_stats,
    scrub_pii,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_overlap_fraction(spark):
    # doc 1 shares exactly its first 3-gram with the benchmark doc.
    bench = _docs(spark, [(0, "a b c x y z")])
    docs = _docs(spark, [(1, "a b c d e"), (2, "p q r s t")])
    got = {r["doc_id"]: r for r in decontaminate(docs, bench).collect()}
    # "a b c d e" -> grams {abc, bcd, cde}: 1 of 3 matched.
    assert got[1]["matched"] == 1 and got[1]["total"] == 3
    assert abs(got[1]["overlap"] - 1 / 3) < 1e-6
    assert 2 not in got  # no shared grams -> no row


def test_decontaminate_broadcasts_benchmark(spark):
    bench = _docs(spark, [(0, "a b c")])
    docs = _docs(spark, [(1, "a b c d")])
    plan = (
        decontaminate(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_repetition_stats(spark):
    df = _docs(spark, [(1, "a a a b"), (2, "a b c d")])
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_words"] == 4 and got[1]["n_uniq"] == 2
    assert abs(got[1]["top_frac"] - 0.75) < 1e-6
    assert abs(got[1]["dup_frac"] - 0.5) < 1e-6
    assert got[2]["dup_frac"] == 0.0


def test_scrub_pii_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@x.org ip 10.0.0.1 tel +1-555-123-4567 end")],
        "id long, t string",
    )
    row = scrub_pii(df, "t").collect()[0]
    assert row["n_redacted"] == 3
    assert row["clean"] == "mail [EMAIL] ip [IPV4] tel [PHONE] end"


def test_stratified_sample_deterministic_rates(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(1000)],
        "doc_id long, lang string",
    )
    rates = spark.createDataFrame([("en", 0.5), ("zh", 0.0)], "lang string, rate double")
    kept = stratified_sample(df, rates, "doc_id", "lang").collect()
    # en: even ids with id % 1000 < 500 -> 250 rows; zh: rate 0 -> none.
    assert len(kept) == 250
    assert all(r["lang"] == "en" and r["doc_id"] % 1000 < 500 for r in kept)
    again = stratified_sample(df, rates, "doc_id", "lang").collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in kept)


def test_pack_sequences_concat_then_chunk(spark):
    df = spark.createDataFrame(
        [(i, "s", 300) for i in range(1, 5)],
        "doc_id long, lang string, tokens long",
    )
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(df, budget=512, stream_col="lang").collect()
    }
    # starting offsets 0, 300, 600, 900 -> packs 0, 0, 1, 1.
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


_LR_ROWS = [
    # "english-looking" (y=1) docs share vocabulary; others diverge
    (1, "en", "the cat sat on the mat and the dog ran"),
    (2, "en", "the dog sat on the rug and the cat ran"),
    (3, "en", "a cat and a dog sat on the mat"),
    (4, "de", "der hund sitzt auf der matte und rennt weg"),
    (5, "de", "die katze sitzt auf dem teppich und rennt"),
    (6, "fr", "le chien est assis sur le tapis et court"),
]


def _lr_docs(spark):
    return spark.createDataFrame(_LR_ROWS, "doc_id long, lang string, text string")


def test_train_quality_lr_separates_classes(spark):
    """Two full-batch iterations must already rank the positive-class
    docs above the negative-class docs under the trained linear score
    (shared vocabulary => shared hash buckets => positive weights)."""
    from shadems_spark.operators.curation import train_quality_lr
    from shadems_spark.operators.text import word_buckets

    docs = _lr_docs(spark)
    w = train_quality_lr(docs, F.col("lang") == "en", d=16, iters=2)
    assert len(w) == 17 and any(v != 0 for v in w)

    warr = F.array(*[F.lit(int(v)) for v in w[:16]])
    nw = F.size(F.filter(F.split("text", " "), lambda t: F.length(t) > 0))
    zsum = F.aggregate(
        F.transform(
            word_buckets("text", 16),
            lambda b: F.element_at(warr, (b + 1).cast("int")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = docs.select(
        "lang",
        (
            zsum / (F.lit(1e9) * (F.lit(1) + nw)) + F.lit(int(w[16])) / F.lit(1e9)
        ).alias("z"),
    ).collect()
    z_pos = [r["z"] for r in scored if r["lang"] == "en"]
    z_neg = [r["z"] for r in scored if r["lang"] != "en"]
    assert min(z_pos) > max(z_neg)


def test_train_quality_lr_partition_invariant(spark):
    """The nano-int gradient protocol makes the trained weights exact
    under ANY partition layout — the property that lets the same
    training run land identical models on 1 or 1000 executors."""
    from shadems_spark.operators.curation import train_quality_lr

    docs = _lr_docs(spark)
    w1 = train_quality_lr(docs.coalesce(1), F.col("lang") == "en")
    w2 = train_quality_lr(docs.repartition(13), F.col("lang") == "en")
    assert w1 == w2


def test_dsir_prefers_target_like_docs(spark):
    """A pool doc sharing the target's vocabulary must outweigh a pool
    doc with disjoint vocabulary."""
    from shadems_spark.operators.curation import dsir_logweights

    docs = spark.createDataFrame(
        [
            (1, "t", "alpha beta gamma delta alpha beta"),
            (2, "t", "alpha gamma epsilon beta delta"),
            (3, "p", "alpha beta gamma delta epsilon"),   # target-like
            (4, "p", "uno dos tres cuatro cinco seis"),   # alien
        ],
        "doc_id long, grp string, text string",
    )
    got = {
        r["doc_id"]: r["logw_micro"]
        for r in dsir_logweights(docs, F.col("grp") == "t").collect()
    }
    assert set(got) == {3, 4} and got[3] > got[4]


def _nb_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_naive_bayes_learns_separable_classes(spark):
    """Two vocab-disjoint classes: every held-out doc (doc_id % 5 == 0)
    must be predicted correctly, and each gets exactly one row."""
    from shadems_spark.operators.curation import naive_bayes_lang

    rows = []
    for i in range(20):
        rows.append((2 * i, "aa bb aa cc", "en"))
        rows.append((2 * i + 1, "xx yy xx zz", "de"))
    out = naive_bayes_lang(_nb_docs(spark, rows)).collect()
    test_ids = {r[0] for r in rows if r[0] % 5 == 0}
    assert {r["doc_id"] for r in out} == test_ids
    assert all(r["correct"] == 1 for r in out)
    assert all(r["pred"] == r["actual"] for r in out)


def test_naive_bayes_unseen_word_falls_back_not_crashes(spark):
    """A test doc made entirely of words absent from training must
    still score via the per-class Laplace floor, not crash or drop.
    Textbook multinomial-NB subtlety pinned here: the floor is
    ln(1/(tok_c+V)), so the SMALLER class (de: 6 train tokens vs
    en: 26) is less surprised by unseen words — that outweighs en's
    larger prior (ln(13/16) vs ln(3/16)): score_de = ln(3/16) +
    3*ln(1/10) = -8.58 > score_en = ln(13/16) + 3*ln(1/30) =
    -10.41."""
    from shadems_spark.operators.curation import naive_bayes_lang

    rows = [(i, "aa bb", "en") for i in range(1, 17) if i % 5 != 0]
    rows += [(i, "xx yy", "de") for i in (17, 18, 19)]
    rows += [(0, "qq ww ee", "en")]  # test doc, all-unseen words
    out = naive_bayes_lang(_nb_docs(spark, rows)).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 0
    assert out[0]["pred"] == "de" and out[0]["correct"] == 0


def test_naive_bayes_layout_independent(spark):
    """Nano-int scores are exact integer sums, so predictions and
    scores must be identical under different partition layouts."""
    from shadems_spark.operators.curation import naive_bayes_lang

    rows = [
        (i, f"w{i % 7} w{(i + 1) % 7} w{i % 3}", "en" if i % 2 else "de")
        for i in range(40)
    ]
    df = _nb_docs(spark, rows)
    a = sorted(map(tuple, naive_bayes_lang(df.repartition(1)).collect()))
    b = sorted(map(tuple, naive_bayes_lang(df.repartition(13)).collect()))
    assert a == b


def test_ccnet_terciles_balanced_and_ordered(spark, sf_dir):
    """Per language: tercile sizes differ by at most 1 (ntile
    contract) and mean NLL is monotone head <= middle <= tail (CCNet's
    fluency ordering)."""
    from shadems_spark.queries import load_registry

    reg = load_registry()
    rows = reg["q_ccnet_buckets"][0](spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], []).append(
            r["avg_nll"]
        )
    assert len(by_lang) >= 2
    for lang, buckets in by_lang.items():
        sizes = [len(buckets.get(b, [])) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        mean = lambda xs: sum(xs) / len(xs)
        assert (
            mean(buckets["head"]) <= mean(buckets["middle"])
            <= mean(buckets["tail"])
        ), lang


def test_bloom_bits_shape_and_determinism(spark):
    """k positions, each in [0, m); identical strings get identical
    position arrays (pure integer arithmetic, no rng)."""
    from shadems_spark.operators.profile import bloom_bits

    df = spark.createDataFrame(
        [("a b c",), ("a b c",), ("x y z",)], "ng string"
    ).select(bloom_bits("ng", 4096, 3).alias("bits"))
    rows = [r["bits"] for r in df.collect()]
    assert rows[0] == rows[1] and rows[0] != rows[2]
    for bits in rows:
        assert len(bits) == 3 and all(0 <= b < 4096 for b in bits)


def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """The Bloom guarantee: every true benchmark gram is a bloom hit,
    so per doc exact_hits <= bloom_hits, and the summed exact_hits
    must equal an independently-computed exact gram-overlap count."""
    from shadems_spark.operators.text import _sliding, words
    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    reg = load_registry()
    rows = reg["q_bloom_decontaminate"][0](spark, sf_dir).collect()
    assert rows and all(r["exact_hits"] <= r["bloom_hits"] for r in rows)
    assert sum(r["false_pos"] for r in rows) >= 0

    docs = load_table(spark, sf_dir, "documents")
    g3 = F.array_distinct(
        _sliding(words("text"), 3, lambda a, x: F.concat(a, F.lit(" "), x))
    )
    g = docs.select("doc_id", F.explode(g3).alias("ng"))
    bench = g.filter(F.col("doc_id") % 97 == 0).select("ng").distinct()
    exact = (
        g.filter(F.col("doc_id") % 97 != 0).join(bench, "ng").count()
    )
    assert sum(r["exact_hits"] for r in rows) == exact


def test_winnow_detection_guarantee(spark):
    """The winnowing contract (k=3, w=4): two docs sharing a word run
    of length >= w+k-1 = 6 MUST share a fingerprint; docs with no
    shared 3-gram at all share none."""
    from shadems_spark.operators.text import winnow_fingerprints, words

    shared_run = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"one two {shared_run} three four"),
        (1, f"five six seven {shared_run} eight"),
        (2, "p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", winnow_fingerprints(words("text"), k=3, w=4).alias("fps")
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in df.collect()}
    assert fps[0] & fps[1], "shared 6-word run must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_winnow_density_near_theory(spark, sf_dir):
    """Selected-fingerprint density should sit near the 2/(w+1) = 0.4
    expectation for w=4 (value-dedup pulls it below; window overlap
    keeps it well above 1/w)."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_winnow"][0](spark, sf_dir).collect()
    densities = [r["density"] for r in rows]
    med = sorted(densities)[len(densities) // 2]
    assert 0.2 <= med <= 0.5, med


def test_kl_drift_information_inequalities(spark, sf_dir):
    """Gibbs' inequality: every per-source KL >= 0; entropy bounded by
    ln(vocab); and a source identical to the corpus mix would have
    KL ~ 0 — the fixture's sources are near-uniform slices of one
    generator, so KL must be SMALL relative to entropy."""
    import math

    from shadems_spark.queries import load_registry

    rows = load_registry()["q_kl_drift"][0](spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        # nano-rounding can push an exactly-zero term a hair negative
        assert r["kl"] >= -1e-6, (r["source"], r["kl"])
        assert 0.0 < r["entropy"] <= math.log(r["vocab"]) + 1e-9
        assert r["kl"] < 0.5 * r["entropy"], (r["source"], r["kl"], r["entropy"])


def test_backoff_lm_nonvacuous_and_sane(spark, sf_dir):
    """Held-out stupid backoff must actually back off (the reason it
    exists — self-scored LMs never exercise the unseen branches), and
    NLLs must be positive with the nano-int sum consistent with the
    rounded average."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_backoff_lm"][0](spark, sf_dir).collect()
    assert rows
    assert sum(r["bo_bigram"] + r["bo_unigram"] for r in rows) > 0
    for r in rows:
        assert r["doc_id"] % 5 == 0
        assert r["nll_nano"] > 0 and r["avg_nll"] > 0
        assert abs(
            r["avg_nll"] - r["nll_nano"] / (r["n_trigrams"] * 1e9)
        ) < 1e-6
        assert r["bo_bigram"] + r["bo_unigram"] <= r["n_trigrams"]


def test_ccnet_approx_agrees_with_exact(spark, sf_dir):
    """The approx-quantile production cut must agree with the exact
    ntile terciles on >= 90% of docs per language (sketch boundary
    wobble moves only docs AT a cut), and must produce all three
    buckets for every language."""
    from shadems_spark.queries import load_registry

    reg = load_registry()
    exact = {
        r["doc_id"]: r["bucket"]
        for r in reg["q_ccnet_buckets"][0](spark, sf_dir).collect()
    }
    approx = reg["q_ccnet_buckets_approx"][0](spark, sf_dir).collect()
    assert set(exact) == {r["doc_id"] for r in approx}
    by_lang: dict = {}
    for r in approx:
        st = by_lang.setdefault(r["lang"], {"n": 0, "ok": 0, "buckets": set()})
        st["n"] += 1
        st["ok"] += int(exact[r["doc_id"]] == r["bucket"])
        st["buckets"].add(r["bucket"])
    for lang, st in by_lang.items():
        assert st["buckets"] == {"head", "middle", "tail"}, lang
        assert st["ok"] / st["n"] >= 0.9, (lang, st["ok"] / st["n"])


def test_doremi_weights_are_a_distribution_ordered_by_loss(spark, sf_dir):
    """EG invariants: weights sum to 1 (within rounding), every weight
    >= eps/K (the uniform smoothing floor), and weight order follows
    loss order (harder domains get more weight)."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_doremi"][0](spark, sf_dir).collect()
    k = len(rows)
    assert k >= 2
    total = sum(r["weight"] for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    floor = 0.1 / k
    for r in rows:
        assert r["weight"] >= floor - 1e-9
        assert r["excess"] >= 0.0
    by_loss = sorted(rows, key=lambda r: r["loss"])
    ws = [r["weight"] for r in by_loss]
    assert all(a <= b + 1e-9 for a, b in zip(ws, ws[1:]))


def test_curriculum_interleave_laws(spark, sf_dir):
    """Positions are a permutation of 1..N; within each source,
    position strictly increases as quality decreases (rank order);
    and the first K positions contain exactly one doc per source
    (round-robin interleave)."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_curriculum"][0](spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r["position"] for r in rows) == list(range(1, n + 1))
    srcs = {r["source"] for r in rows}
    k = len(srcs)
    head = sorted(rows, key=lambda r: r["position"])[:k]
    assert {r["source"] for r in head} == srcs
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["position"], r["quality"]))
    for src, ps in by_src.items():
        ps.sort()
        qs = [q for _, q in ps]
        assert all(a >= b for a, b in zip(qs, qs[1:])), src
    assert {r["stage"] for r in rows} == {1, 2, 3, 4}


def test_dedup_keep_best_policy_laws(spark, sf_dir):
    """Exactly one keeper per dup group; the keeper has max quality in
    its group (tie: smallest doc_id); singletons never appear."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_dedup_keep_best"][0](spark, sf_dir).collect()
    assert rows
    assert all(r["n_dups"] >= 2 for r in rows)
    kept = sum(r["keep"] for r in rows)
    groups = sum(1 / r["n_dups"] for r in rows)  # each group sums to 1
    assert abs(groups - kept) < 1e-9
    best_q = max(r["quality"] for r in rows)
    assert any(r["keep"] == 1 and r["quality"] == best_q for r in rows)


def test_group_folds_never_split_a_dup_group(spark, sf_dir):
    """The law q_split_leakage can only audit, this assignment
    guarantees: every member of a prefix-dup group lands in the SAME
    fold; folds are reasonably balanced (each within 2x of uniform)."""
    from collections import Counter

    from shadems_spark.queries import load_registry

    rows = load_registry()["q_group_folds"][0](spark, sf_dir).collect()
    by_rep: dict = {}
    for r in rows:
        by_rep.setdefault(r["rep"], set()).add(r["fold"])
    assert all(len(folds) == 1 for folds in by_rep.values())
    assert any(
        sum(1 for r in rows if r["rep"] == rep) > 1 for rep in by_rep
    )  # non-vacuous: at least one multi-member group exists
    sizes = Counter(r["fold"] for r in rows)
    assert set(sizes) == {0, 1, 2, 3, 4}
    uniform = len(rows) / 5
    for f, n in sizes.items():
        assert uniform / 2 <= n <= uniform * 2, (f, n)


def test_edit_verify_metric_laws(spark, sf_dir):
    """Levenshtein verify invariants: distance 0 iff identical texts
    would pair (ratio in [0,1]); the verdict threshold is the exact
    integer rule dist*5 <= max_len; and the candidate relation is
    non-vacuous with at least one verified dup at this SF."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_edit_verify"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["edit_ratio"] <= 1
        assert r["is_dup"] == (1 if r["edit_dist"] * 5 <= r["max_len"] else 0)
    assert any(r["is_dup"] == 1 for r in rows)


def test_memorization_risk_winnow_guarantee(spark, sf_dir):
    """Every flagged held-out doc shares >= one fingerprint with
    train (in_train >= 1 by the output filter) and overlap is a valid
    fraction; the audit is non-vacuous at this SF (the fixture's
    planted near-dups straddle the 80/20 split)."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_memorization_risk"][0](spark, sf_dir).collect()
    assert rows  # non-vacuous
    for r in rows:
        assert 1 <= r["in_train"] <= r["n_fp"]
        assert 0.0 < r["overlap"] <= 1.0


def test_gini_bounds_and_degenerate_cases(spark):
    """Gini laws on synthetic frames: uniform counts -> ~0; extreme
    concentration -> approaches (k-1)/k; always in [0, 1)."""
    from pyspark.sql import Window

    def gini(rows):
        df = spark.createDataFrame(rows, "source string, u string, n long")
        win = Window.partitionBy("source").orderBy("n", "u")
        pw = Window.partitionBy("source")
        r = df.select(
            "source", "n",
            F.row_number().over(win).alias("i"),
            F.count(F.lit(1)).over(pw).alias("k"),
            F.sum("n").over(pw).alias("tot"),
        )
        out = (
            r.groupBy("source", "k", "tot")
            .agg(F.sum(F.col("i") * F.col("n")).alias("ixn"))
            .select(
                (
                    F.lit(2.0) * F.col("ixn")
                    / (F.col("k") * F.col("tot").cast("double"))
                    - (F.col("k") + 1.0) / F.col("k")
                ).alias("g")
            )
            .collect()[0]["g"]
        )
        return out

    uniform = [("s", f"w{i}", 10) for i in range(20)]
    assert abs(gini(uniform)) < 1e-9
    skewed = [("s", "big", 10_000)] + [(f"s", f"w{i}", 1) for i in range(19)]
    assert 0.9 < gini(skewed) < 1.0


def test_topic_words_top5_and_distinctiveness(spark, sf_dir):
    """Exactly 5 words per source, strictly ordered; a source's top
    word has above-global-average relative frequency in that source
    (the log-odds estimator's defining property)."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_topic_words"][0](spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["lor_nano"])
    for src, lors in by_src.items():
        assert len(lors) == 5
        assert lors == sorted(lors, reverse=True)
        assert lors[0] > 0  # the top word IS overrepresented


def test_distinct_n_monotone_in_n(spark, sf_dir):
    """Diversity law: distinct-n is nondecreasing in n (longer grams
    repeat less), and all ratios live in (0, 1]."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_distinct_n"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["distinct_1"] <= r["distinct_2"] <= r["distinct_3"] <= 1.0


def test_jsd_bounds_self_zero_and_metric(spark, sf_dir):
    """JSD laws: every pair lands in [0, ln 2]; a distribution against
    ITSELF scores 0 (replay the half-term identity with p == q); and
    sqrt(JSD) obeys the triangle inequality on every source triple
    (Endres-Schindelin: sqrt(JSD) is a true metric) — the law that
    would have caught a dropped 1/2 factor."""
    import itertools
    import math

    from shadems_spark.queries import load_registry

    rows = load_registry()["q_jsd_matrix"][0](spark, sf_dir).collect()
    ln2 = math.log(2)
    d = {}
    for r in rows:
        assert 0.0 <= r["jsd"] <= ln2 + 1e-9, r
        d[(r["source_a"], r["source_b"])] = math.sqrt(max(r["jsd"], 0.0))

    # self-JSD via the same folded identity with q = p
    probs = [0.5, 0.25, 0.125, 0.125]
    inner = sum(
        0.5 * p * math.log(p / (2 * p)) + 0.5 * p * math.log(p / (2 * p))
        for p in probs
    )
    assert abs(ln2 + inner) < 1e-12

    srcs = sorted({s for pair in d for s in pair})

    def dist(x, y):
        return 0.0 if x == y else d[(min(x, y), max(x, y))]

    for x, y, z in itertools.combinations(srcs[:8], 3):
        assert dist(x, y) <= dist(x, z) + dist(z, y) + 1e-6


def test_readability_hand_computed_and_laws(spark, sf_dir):
    """Readability laws: syllables >= words (every word counts at
    least 1), sentences >= 1 per doc, and a hand-computed Flesch on a
    known sentence matches the engine formula."""
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_readability"][0](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["syllables_total"] >= r["words_total"]
        assert r["sentences_total"] >= r["n_docs"]

    # hand check: "the cat sat. it was happy." -> words=6, sents=2,
    # syllables: the=1 cat=1 sat=1 it=1 was=1 happy=2 -> 7
    w, s, sy = 6, 2, 7
    flesch = 206.835 - 1.015 * (w / s) - 84.6 * (sy / w)
    df = spark.createDataFrame(
        [(0, "the cat sat. it was happy.", "en", "srcX", 26)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import shadems_spark.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda sp, d, t: df
        import shadems_spark.queries.curation as cur

        orig2 = cur.load_table
        cur.load_table = lambda sp, d, t: df
        try:
            r = load_registry()["q_readability"][0](spark, "ignored").collect()[0]
        finally:
            cur.load_table = orig2
    finally:
        cat.load_table = orig
    assert r["words_total"] == w and r["sentences_total"] == s
    assert r["syllables_total"] == sy
    assert abs(r["flesch_avg"] - flesch) < 1e-6


def test_mi_categorical_laws_and_independent_zero(spark, sf_dir):
    """MI laws: mi >= 0, V in [0,1], mi <= min(H(lang), H(source)),
    and a perfectly INDEPENDENT synthetic table scores mi == chi2 ==
    v == 0 (the null calibration)."""
    import math

    from shadems_spark.queries import load_registry

    fn = load_registry()["q_mi_categorical"][0]
    r = fn(spark, sf_dir).collect()[0]
    assert r["mi"] >= 0.0
    assert 0.0 <= r["cramers_v"] <= 1.0

    from shadems_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    def entropy(col):
        counts = [x["count"] for x in docs.groupBy(col).count().collect()]
        n = sum(counts)
        return -sum(c / n * math.log(c / n) for c in counts)

    assert r["mi"] <= min(entropy("lang"), entropy("source")) + 1e-6

    # independent 2x2: every (lang, source) combo equally frequent
    rows = [
        (i, "t", lang, src, 1)
        for i, (lang, src) in enumerate(
            [(l, s) for l in ("aa", "bb") for s in ("s1", "s2")] * 5
        )
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import shadems_spark.queries.curation as cur

    orig = cur.load_table
    cur.load_table = lambda sp, d, t: df
    try:
        ri = fn(spark, "ignored").collect()[0]
    finally:
        cur.load_table = orig
    assert ri["mi"] == 0.0 and ri["chi2"] == 0.0 and ri["cramers_v"] == 0.0


def test_dp_count_mechanism_laws(spark, sf_dir):
    """DP geometric-mechanism laws: the CDF mass table is an exact
    partition of the modulus with the geometric halving shape; every
    emitted noise is in [-10, 10]; dp_count = n_docs + noise; the
    release gate is dp_count >= 5; and a pure-Python inverse-CDF
    replay of the poly-hash u reproduces every noise draw."""
    from shadems_spark.queries import load_registry
    from shadems_spark.queries.curation import _DP_K, _DP_M, _dp_cums

    cums = _dp_cums()
    assert cums[-1][1] == _DP_M
    masses = {}
    prev = 0
    for n, c in cums:
        masses[n] = c - prev
        prev = c
    assert masses[0] == 2**20
    for k in range(1, _DP_K):
        assert masses[k] == masses[-k] == 2 ** (20 - k)
    assert masses[_DP_K] == masses[-_DP_K]

    rows = load_registry()["q_dp_count"][0](spark, sf_dir).collect()
    assert rows
    mod = 1_000_000_007
    for r in rows:
        assert -_DP_K <= r["noise"] <= _DP_K
        assert r["dp_count"] == r["n_docs"] + r["noise"]
        assert r["released"] == (r["dp_count"] >= 5)
        h = 0
        for ch in f"{r['source']}|{r['lang']}":
            h = (h * 31 + ord(ch)) % mod
        u = h % _DP_M
        want = next((n for n, c in cums if u < c), _DP_K)
        assert r["noise"] == want, (r["source"], r["lang"])


def test_ldiversity_laws(spark, sf_dir):
    """l-diversity laws: classes partition the corpus (sum k == total
    docs); 1 <= l_distinct <= min(k, #langs); max_share >= 1/l_distinct;
    entropy in [0, ln l_distinct] with zero iff one lang; at_risk
    exactly when l_distinct < 3; entropy-diverse classes
    (H >= ln 3) are never at_risk."""
    import math

    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_ldiversity"][0](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    n_langs = docs.select("lang").distinct().count()
    assert sum(r["k"] for r in rows) == total
    for r in rows:
        assert 1 <= r["l_distinct"] <= min(r["k"], n_langs)
        assert r["max_share"] >= 1.0 / r["l_distinct"] - 1e-6
        assert -1e-6 <= r["lang_entropy"] <= math.log(r["l_distinct"]) + 1e-6
        if r["l_distinct"] == 1:
            assert abs(r["lang_entropy"]) < 1e-6
        assert r["at_risk"] == (1 if r["l_distinct"] < 3 else 0)
        if r["lang_entropy"] >= math.log(3):
            assert r["at_risk"] == 0


def test_als_numpy_replay(spark, sf_dir):
    """Full replay of the 2-sweep micro-int ALS in numpy/python from
    the raw pair counts: per-entity 2x2 ridge solves with the
    identical expression order and micro re-rounding must reproduce
    the engine's factor table and per-type RMSE exactly (1e-6)."""
    import math

    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_als"][0](spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events").groupBy(
        "user_id", "event_type"
    ).count().collect()
    pairs = [(r["user_id"], r["event_type"], r["count"]) for r in ev]
    types = sorted({t for _, t, _ in pairs})
    Y = {t: (1_000_000, 100_000 * (i + 1)) for i, t in enumerate(types)}

    def rnd(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    def solve(by_key, fixed):
        out = {}
        for k, prs in by_key.items():
            a11 = sum(fixed[o][0] * fixed[o][0] for o, _ in prs)
            a12 = sum(fixed[o][0] * fixed[o][1] for o, _ in prs)
            a22 = sum(fixed[o][1] * fixed[o][1] for o, _ in prs)
            b1 = sum(r * fixed[o][0] for o, r in prs)
            b2 = sum(r * fixed[o][1] for o, r in prs)
            A11 = a11 / 1e12 + 0.1
            A12 = a12 / 1e12
            A22 = a22 / 1e12 + 0.1
            B1 = b1 / 1e6
            B2 = b2 / 1e6
            det = A11 * A22 - A12 * A12
            out[k] = (
                rnd((A22 * B1 - A12 * B2) / det * 1e6),
                rnd((A11 * B2 - A12 * B1) / det * 1e6),
            )
        return out

    by_u = {}
    by_t = {}
    for u, t, r in pairs:
        by_u.setdefault(u, []).append((t, r))
        by_t.setdefault(t, []).append((u, r))
    X = solve(by_u, Y)
    Y = solve(by_t, X)
    X = solve(by_u, Y)
    Y = solve(by_t, X)
    se = {}
    n = {}
    for u, t, r in pairs:
        pred = (X[u][0] * Y[t][0] + X[u][1] * Y[t][1]) / 1e12
        se[t] = se.get(t, 0) + rnd((r - pred) * (r - pred) * 1e6)
        n[t] = n.get(t, 0) + 1
    got = {r["event_type"]: r for r in rows}
    assert set(got) == set(types)
    for t in types:
        assert abs(got[t]["y1"] - Y[t][0] / 1e6) < 1e-6
        assert abs(got[t]["y2"] - Y[t][1] / 1e6) < 1e-6
        assert got[t]["n_users"] == n[t]
        assert abs(got[t]["rmse"] - math.sqrt(se[t] / (n[t] * 1e6))) < 1e-6


def test_slice_finder_replay_and_plan(spark, sf_dir):
    """Slice-finder laws: a Python replay of every 1-D/2-D slice from
    the per-doc milli word lengths reproduces each reported slice's n,
    mean and z; ranks order by |z| desc; and the plan is ONE
    Aggregate over an Expand node (grouping sets), not six scans."""
    import math
    from collections import defaultdict

    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_slice_finder"][0](spark, sf_dir).collect()
    assert len(rows) == 10
    zs = [abs(r["z"]) for r in sorted(rows, key=lambda r: r["rk"])]
    assert all(a >= b - 1e-9 for a, b in zip(zs, zs[1:]))

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", "text"
    ).collect()
    base = []
    for d in docs:
        ws = d["text"].split(" ")
        mw = round(sum(len(w) for w in ws) / len(ws), 4)
        wl_m = int(math.floor(mw * 1000 + 0.5))
        base.append((d["source"], d["lang"], d["n_chars"] // 100, wl_m))
    gn = len(base)
    gs = sum(b[3] for b in base)
    gq = sum(b[3] * b[3] for b in base)
    var_g = (gq - gs * (gs / gn)) / (gn - 1)
    slices = defaultdict(lambda: [0, 0])
    for s, l, b, wl in base:
        for key in [(s, "*", "*"), ("*", l, "*"), ("*", "*", str(b)),
                    (s, l, "*"), (s, "*", str(b)), ("*", l, str(b))]:
            slices[key][0] += 1
            slices[key][1] += wl
    for r in rows:
        n, sm = slices[(r["src"], r["lng"], r["bucket"])]
        assert n == r["n"] and n >= 20
        assert abs(float(r["mean_wl"]) - sm / (n * 1000)) < 1e-6
        z = (sm / n - gs / gn) / math.sqrt(var_g / n)
        assert abs(r["z"] - z) < 1e-5

    plan = (
        load_registry()["q_slice_finder"][0](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in plan
    # the slice table is persisted: both consumers (slices + totals)
    # read the InMemoryRelation; the FileScan text appearing inside
    # the cached subtree's description does not re-execute.
    assert "InMemoryTableScan" in plan


def test_tcloseness_brute_force_tv(spark, sf_dir):
    """t-closeness laws: TV in [0,1]; replayed brute-force in Python
    over the literal class/global lang distributions (including
    absent-language mass); a class whose distribution equals the
    global one would score 0."""
    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_tcloseness"][0](spark, sf_dir).collect()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("source", (F.col("n_chars") / 100).cast("long").alias("lb"),
                "lang")
        .collect()
    )
    from collections import Counter

    glob = Counter(d["lang"] for d in docs)
    n = len(docs)
    cls: dict = {}
    for d in docs:
        cls.setdefault((d["source"], d["lb"]), Counter())[d["lang"]] += 1
    for r in rows:
        c = cls[(r["source"], r["len_bucket"])]
        nc = sum(c.values())
        tv = 0.5 * sum(
            abs(c.get(l, 0) / nc - glob[l] / n) for l in glob
        )
        assert abs(r["tv_distance"] - tv) < 1e-5
        assert 0.0 <= r["tv_distance"] <= 1.0
        assert r["n_c"] == nc
        assert r["t_violation"] == int(tv > 0.35)


def test_fd_discovery_ground_truth(spark, sf_dir):
    """FD ground truth on the star schema: the nation and orders
    primary-key FDs must hold; the deliberately-false candidates must
    report violations consistently (viol_groups > 0 iff holds = 0,
    extra_rows >= 0, max_rhs >= 1)."""
    from shadems_spark.queries import load_registry

    rows = {
        r["fd"]: r
        for r in load_registry()["q_fd_discovery"][0](spark, sf_dir).collect()
    }
    assert rows["nation.n_nationkey->n_regionkey"]["holds"] == 1
    assert rows["orders.o_orderkey->o_custkey"]["holds"] == 1
    for r in rows.values():
        assert (r["viol_groups"] > 0) == (r["holds"] == 0)
        assert r["max_rhs"] >= 1 and r["extra_rows"] >= 0


def test_kn_lm_probability_laws(spark, sf_dir):
    """Kneser-Ney laws: for the most frequent context w1, the KN
    conditional distribution over observed continuations plus the
    reserved backoff mass for unseen ones sums to exactly 1 (the
    discount bookkeeping identity); every p_kn in (0, 1]; and the
    discounted term never exceeds MLE."""
    from collections import Counter

    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_kn_lm"][0](spark, sf_dir).collect()
    assert all(0.0 < r["p_kn"] <= 1.0 for r in rows)
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    bg = Counter()
    for d in docs:
        ws = d["text"].split(" ")
        for i in range(len(ws) - 1):
            bg[(ws[i], ws[i + 1])] += 1
    ctx_tot = Counter()
    ctx_types = Counter()
    right_types = Counter()
    for (w1, w2), c in bg.items():
        ctx_tot[w1] += c
        ctx_types[w1] += 1
        right_types[w2] += 1
    n_bg = len(bg)
    D = 0.75
    w1 = rows[0]["w1"]
    s = 0.0
    for (a, b), c in bg.items():
        if a != w1:
            continue
        s += max(c - D, 0) / ctx_tot[w1] + D * ctx_types[w1] / ctx_tot[
            w1
        ] * right_types[b] / n_bg
    # observed mass + backoff mass routed to UNSEEN continuations:
    # sum_unseen pcont = 1 - sum_seen pcont
    seen_pcont = sum(
        right_types[b] / n_bg for (a, b) in bg if a == w1
    )
    unseen = D * ctx_types[w1] / ctx_tot[w1] * (1 - seen_pcont)
    assert abs((s + unseen) - 1.0) < 1e-9
    for r in rows:
        assert r["p_kn"] <= r["p_mle"] + 0.25  # discount keeps KN near MLE
        assert r["nb"] <= r["c_w1"]


def test_adaboost_weak_learning_and_python_replay(spark, sf_dir):
    """AdaBoost laws: per-round weighted error < 0.5 (the polarity
    flip guarantees it), alpha > 0 and monotone with err, and a full
    Python replay of the 3-round loop (nano-int weights, HALF-UP
    rounding) reproduces every chosen stump and alpha."""
    import math

    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry

    rows = load_registry()["q_adaboost_stumps"][0](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["err"] < 0.5 and r["alpha"] > 0

    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", "lang", "text"
    ).collect()
    feats = []
    for d in docs:
        nw = len([w for w in d["text"].split(" ") if w])
        feats.append(
            (
                1 if d["lang"] == "en" else -1,
                [
                    min(d["n_chars"] // 200, 9),
                    min(nw // 20, 9),
                    min(d["n_chars"] // (nw + 1), 9),
                ],
            )
        )
    wn = [10**9] * len(feats)
    for r in rows:
        best = None
        tot = sum(wn)
        for fi in range(3):
            for t in range(1, 10):
                we = sum(
                    w
                    for w, (y, fv) in zip(wn, feats)
                    if (1 if fv[fi] >= t else -1) != y
                )
                key = (min(we, tot - we), fi, t)
                if best is None or key < best[0]:
                    best = (key, we)
        (ew, fi, t), we = best
        pol = 1 if we * 2 <= tot else -1
        alpha = 0.5 * math.log((tot - ew) / ew)
        assert (r["feature_idx"], r["threshold"], r["polarity"]) == (
            fi, t, pol,
        )
        assert abs(r["alpha"] - alpha) < 1e-6
        assert abs(r["err"] - ew / tot) < 1e-6
        up = math.sqrt(ew / (tot - ew))
        dn = math.sqrt((tot - ew) / ew)
        wn = [
            math.floor(
                w * (up if pol * (1 if fv[fi] >= t else -1) == y else dn)
                + 0.5
            )
            for w, (y, fv) in zip(wn, feats)
        ]


def test_dp_mean_mechanism_replay_and_utility(spark, sf_dir):
    """DP-mean laws: the python replay of the hash-CDF geometric
    draws reproduces dp_n/dp_sum exactly; noise_n in [-10, 10] and
    noise_s a multiple of the clamp bound; the released mean is
    within (10*clamp + 10*true_mean)/n of the clamped truth (the
    worst-case noise bound)."""
    from shadems_spark.catalog import load_table
    from shadems_spark.queries import load_registry
    from shadems_spark.queries.curation import (
        _DP_M, _DPM_CLAMP, _dp_cums,
    )

    rows = load_registry()["q_dp_mean"][0](spark, sf_dir).collect()
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("source", "n_chars")
        .toPandas()
    )

    def poly(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h % _DP_M

    def draw(salt, src):
        u = poly(f"{salt}|{src}")
        for n, c in _dp_cums()[:-1]:
            if u < c:
                return n
        return 10

    for r in rows:
        g = docs[docs.source == r["source"]]
        n = len(g)
        csum = int(g.n_chars.clip(upper=_DPM_CLAMP).sum())
        nn = draw("c", r["source"])
        ns = draw("s", r["source"]) * _DPM_CLAMP
        assert r["dp_n"] == n + nn
        assert r["dp_sum"] == csum + ns
        assert abs(nn) <= 10 and ns % _DPM_CLAMP == 0
        if r["dp_mean"] is not None and n > 10:
            worst = (10 * _DPM_CLAMP + 10 * csum / n) / (n - 10)
            assert abs(r["dp_mean"] - csum / n) <= worst + 1e-6


def test_pipeline_minhash_write_reads_cached_grams(spark, sf_dir, tmp_path, monkeypatch):
    """The minhash curation run keeps its gram table cached until its
    last action: the split write reads the grams from the cache instead
    of re-deriving the shingle explode from the documents scan for each
    consumer, and the cache is released when the run returns."""
    from pyspark.sql.readwriter import DataFrameWriter

    from shadems_spark.operators import dedup
    from shadems_spark.pipeline import run

    plans = []
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    run([sf_dir, str(tmp_path / "out"), "--dedup", "minhash"])
    [plan] = plans
    assert "InMemoryTableScan" in plan, plan
    assert "minhash_grams" not in dedup._live
