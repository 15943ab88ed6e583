"""Deduplication operators (SURVEY.md §2 M1/M2 + north-star dedup
suite): exact, MinHash+LSH banding, SimHash block-bucketed, exact
n-gram Jaccard verification, and embedding-cosine near-dup.

Scale design (per the distributed set-similarity-join literature in
PAPERS.md): candidate generation NEVER compares all pairs — LSH bands
/ signature blocks / label buckets bound each join key's bucket, and
verification runs only on candidates.  All hashing is Spark's
xxhash64 (fixed seed, deterministic across runs/executors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shadems_spark.operators.text import ngram_hashes, words


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """M1: exact dedup — group identical texts (hash-groupBy), keep
    the lowest id as canonical.  sha2 pre-hash keeps the shuffle key
    narrow at 100 TB (no full-text shuffle)."""
    return (
        df.withColumn("__h", F.sha2(F.col(text), 256))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__h")
    )


def xe_minhash_affine(
    n_hashes: int = 32, salt: int = 0
) -> list[tuple[int, int]]:
    """The cross-engine minhash family's (a_j, b_j) literals:
    h_j(g) = (a_j*g + b_j) mod FP_MOD — Carter-Wegman universal
    hashing over the poly-gram domain (the classic Broder minwise
    construction), constants derived from SplitMix64 so both the
    Spark expressions and the generated DuckDB oracle embed the SAME
    numbers.  Products stay < 2^60: exact BIGINT on both engines."""
    from shadems_spark.operators.similarity import _splitmix64
    from shadems_spark.operators.text import FP_MOD

    return [
        (
            _splitmix64(salt + j) % (FP_MOD - 1) + 1,
            _splitmix64(salt + j + 777) % FP_MOD,
        )
        for j in range(n_hashes)
    ]


def xe_band_seeds(bands: int = 8) -> list[int]:
    """Per-band fold seeds for the cross-engine band-bucket hash
    (acc = seed; acc = (acc*131 + sig_r) mod FP_MOD per band row)."""
    from shadems_spark.operators.similarity import _splitmix64
    from shadems_spark.operators.text import FP_MOD

    return [_splitmix64(5000 + b) % FP_MOD for b in range(bands)]


def doc_grams(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", ngram: int = 3,
    family: str = "xx",
) -> DataFrame:
    """One row per (doc, distinct gram hash) — the exploded shingle
    table every MinHash stage reads.  Fixed width (two longs):
    nothing downstream ever shuffles a variable-length payload.
    ``family``: "xx" = xxhash64 64-bit grams (native, default);
    "xe" = cross-engine poly grams (text.ngram_hashes_xe) so a DuckDB
    oracle can replay gram identity."""
    from shadems_spark.operators.text import doc_grams_fused

    if family == "xe":
        # fused form (r12, VERDICT r11 #5): the explode happens inside
        # the Arrow batch body — one fewer Generate per consumer.
        return doc_grams_fused(df, id_col, text, ngram, "xe")
    return df.select(
        id_col, F.explode(ngram_hashes(words(text), ngram)).alias("s")
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text: str = "text",
    n_hashes: int = 32, ngram: int = 3,
) -> DataFrame:
    """MinHash signature per document, exploded-aggregate form: one
    row per (doc, shingle), each shingle hashed n_hashes times ONCE,
    then a partial/final hash aggregate of per-hash minima.

    This is the distributed-minhash shape that scales: the inline
    per-row alternative (array_min over transform, repeated per hash)
    re-evaluates the shingle array n_hashes times per row — measured
    ~20x slower at sf0.1.  Map-side combine reduces each partition to
    one partial signature per doc before the shuffle; the signature
    row is (id, n_hashes longs) — fixed width (the round-1 form also
    carried each doc's full shingle set via collect_list, an
    O(tokens/doc) payload per row at corpus scale; VERDICT r01 #4).

    Shingles are 64-bit gram hashes (text.ngram_hashes), so the
    n_hashes min-hash family is xxhash64(h, j) over two longs — far
    cheaper than re-hashing the gram string per hash function."""
    return minhash_signatures_from_grams(
        doc_grams(df, id_col, text, ngram), id_col, n_hashes
    )


def minhash_signatures_from_grams(
    grams: DataFrame, id_col: str = "doc_id", n_hashes: int = 32,
    family: str = "xx",
) -> DataFrame:
    """Signature aggregate over a pre-built (doc, gram-hash) table —
    split out so ``minhash_dedup`` can share one persisted gram table
    between the signature and verify stages.  The "xe" family swaps
    xxhash64(s, j) for the affine (a_j*s + b_j) mod FP_MOD literals
    (:func:`xe_minhash_affine`) — pure arithmetic, replayable in the
    DuckDB oracle."""
    from shadems_spark.operators.exprcache import memo

    def _build_mins():
        if family == "xe":
            from shadems_spark.operators.text import FP_MOD

            ab = xe_minhash_affine(n_hashes)
            return [
                F.min(
                    (F.lit(a) * F.col("s") + F.lit(b)) % F.lit(FP_MOD)
                ).alias(f"h{j}")
                for j, (a, b) in enumerate(ab)
            ]
        return [
            F.min(F.xxhash64(F.col("s"), F.lit(j))).alias(f"h{j}")
            for j in range(n_hashes)
        ]

    mins = memo(("mh_mins", n_hashes, family), _build_mins)
    agg = grams.groupBy(id_col).agg(*mins)
    return agg.select(
        id_col,
        memo(
            ("mh_sig", n_hashes),
            lambda: F.array(
                *[F.col(f"h{j}") for j in range(n_hashes)]
            ).alias("sig"),
        ),
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 8, rows: int = 4,
    family: str = "xx",
) -> DataFrame:
    """M2 banding: hash each band of the signature; docs sharing any
    (band, band_hash) bucket are candidates.  The join key is the
    bucket — skew-bounded by band width, never all-pairs.  The "xe"
    family folds each band with seeded (acc*131 + s) mod FP_MOD
    arithmetic (:func:`xe_band_seeds`) for oracle replay."""
    from shadems_spark.operators.exprcache import memo

    def _build_banded():
        if family == "xe":
            from shadems_spark.operators.text import FP_MOD, XE_MULT

            seeds = xe_band_seeds(bands)

            def band_hash(b: int):
                acc = F.lit(seeds[b]).cast("long")
                for r in range(rows):
                    acc = (
                        acc * F.lit(XE_MULT)
                        + F.element_at("sig", b * rows + r + 1)
                    ) % F.lit(FP_MOD)
                return acc

            buckets = [band_hash(b) for b in range(bands)]
        else:
            buckets = [
                F.xxhash64(
                    *[
                        F.element_at("sig", b * rows + r + 1)
                        for r in range(rows)
                    ]
                )
                for b in range(bands)
            ]
        return F.posexplode(F.array(*buckets)).alias("band", "bucket")

    banded = sigs.select(
        id_col,
        memo(("lsh_banded", bands, rows, family), _build_banded),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, grams: DataFrame, id_col: str = "doc_id", threshold: float = 0.2
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only, via a gram-level
    co-count join: explode is already done (``grams`` is the
    (doc, gram-hash) table), candidates pull in doc1's grams, the
    (id2, gram) equi-join keeps only shared grams, and a count per
    pair against the stored set sizes gives |∩| and |∪|.

    Every shuffled row here is fixed width (3 longs) — the round-1
    form joined whole shingle ARRAYS onto both sides of the pair
    table, an O(tokens/doc) payload per candidate at corpus scale
    (VERDICT r01 #4).  Pairs sharing zero grams drop out at the
    co-count stage, which is correct: their Jaccard is 0, below any
    useful threshold."""
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    g1 = grams.select(F.col(id_col).alias("id1"), "s")
    g2 = grams.select(F.col(id_col).alias("id2"), "s")
    inter = (
        pairs.join(g1, "id1")
        .join(g2, ["id2", "s"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col(id_col).alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col(id_col).alias("id2"), F.col("sz").alias("sz2"))
    jac = F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .filter(jac >= threshold)
        .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
    )


#: keyed cache of tables persisted by dedup/ANN-family calls.
#: History: repeated invocations in one session used to accumulate
#: cached partitions indefinitely (ADVICE r01) → one-slot release
#: (r2) → VERDICT r03 #4 flagged the single slot as a footgun: two
#: operators persisting concurrently in one pipeline would silently
#: evict each other and recompute.  Now each operator persists under
#: its own key and only releases ITS OWN stale predecessor; persisted
#: lifetimes stay caller-owned (the cache backs lazily-evaluated
#: results), bounded at one live table per operator family.
_live: dict[str, DataFrame] = {}


def tracked_persist(df: DataFrame, key: str = "grams") -> DataFrame:
    """persist(MEMORY_AND_DISK) under ``key``, releasing only the
    previous occupant of the same key — spills instead of evicting at
    corpus scale, and concurrent operators (distinct keys) never
    evict each other."""
    from pyspark import StorageLevel

    prior = _live.pop(key, None)
    if prior is not None:
        # BLOCKING: an async unpersist races the re-persist when the
        # new frame's plan equals the old one (same builder rebuilt) —
        # the CacheManager sees "already cached", no-ops, then the
        # async removal lands and the new frame is silently UNcached.
        # Plan text (InMemoryRelation presence) then varies run-to-run
        # — the plan-snapshot flake mechanism.
        prior.unpersist(blocking=True)
    _live[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def release_persist(key: str | None = None) -> None:
    """Explicitly release one key's (or every) tracked persist — for
    callers that fully materialize their result and want the cache
    gone before the next pipeline stage."""
    for k in [key] if key is not None else list(_live):
        df = _live.pop(k, None)
        if df is not None:
            df.unpersist(blocking=True)


def minhash_dedup(
    df: DataFrame, id_col: str = "doc_id", text: str = "text",
    threshold: float = 0.2, family: str = "xx",
) -> DataFrame:
    """M2 end-to-end: shingle -> minhash -> band -> bucket-join ->
    gram-co-count exact-Jaccard verify.

    The gram table feeds three operators (the signature aggregate and
    both sides of the verify join); persisting it trades one
    materialization (two longs per (doc, gram)) for recomputing the
    shingle scan three times.  ``family="xe"`` runs the whole pipeline
    on the cross-engine hash protocol so the DuckDB oracle replays the
    exact candidate set (band recall included), graduating the query
    from rows-only to hash-exact."""
    grams = tracked_persist(
        doc_grams(df, id_col, text, family=family), key="minhash_grams"
    )
    # the banding self-join consumes sigs twice without a persist:
    # ReuseExchange dedups the identical signature aggregate across
    # the join sides (see the rule in q_tfidf).
    sigs = minhash_signatures_from_grams(grams, id_col, family=family)
    cands = lsh_candidate_pairs(sigs, id_col, family=family)
    return jaccard_verify(cands, grams, id_col, threshold)


def connected_components(
    pairs: DataFrame, id1: str = "id1", id2: str = "id2", max_iter: int = 20
) -> DataFrame:
    """Near-dup pair graph -> cluster labels: every doc gets the MIN
    doc id reachable through dup edges (the canonical representative a
    dedup pipeline keeps).  Returns (doc_id, cluster_id) for every doc
    appearing in ``pairs``.

    Min-label propagation: each iteration takes, per node, the min of
    its own label and its neighbours' labels — one equi-join + one
    groupBy over fixed-width (long, long) rows, converging in
    O(graph diameter) iterations with an early-stop change check.
    Near-dup graphs are quasi-cliques (diameter 2-3), so this settles
    in a few rounds; for adversarially long path graphs the
    alternating large-star/small-star rewrite (Kiveris et al.,
    "Connected Components in MapReduce") halves diameter per round —
    documented as the upgrade path, not needed for dedup workloads."""
    e = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    labels = (
        edges.select(F.col("src").alias("v")).distinct().withColumn("lbl", F.col("v"))
    ).persist()
    try:
        for it in range(max_iter):
            nbr_min = (
                edges.join(labels, edges.dst == labels.v)
                .groupBy("src")
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            new_labels = (
                labels.join(nbr_min, labels.v == nbr_min.src, "left")
                .select(
                    labels.v,
                    F.least(
                        labels.lbl, F.coalesce(F.col("nbr_lbl"), labels.lbl)
                    ).alias("lbl"),
                )
                .persist()
            )
            # full count (not limit-1) so the change check materializes
            # new_labels' cache completely for the next iteration
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "v")
                .filter(F.col("n.lbl") != F.col("o.lbl"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
            # persist caches data but the logical plan still nests one
            # level per round; truncate lineage periodically so long
            # propagations never accumulate an analysis-time blowup.
            # Unpersist the PERSISTED frame after checkpointing —
            # Dataset.unpersist on the checkpoint frame itself is a
            # CacheManager no-op (different logical plan), so the old
            # `labels = labels.localCheckpoint(...)` reassignment
            # leaked one new_labels cache per %5 truncation.
            if (it + 1) % 5 == 0:
                cp = labels.localCheckpoint(eager=True)
                labels.unpersist()
                labels = cp
        # truncate the converged lineage before returning (VERDICT r9
        # #6): the builder is already eager (the convergence counts
        # executed every round), so this checkpoint writes straight
        # from the final round's cache — and the returned plan becomes
        # a deterministic RDD scan instead of O(iterations) of nested
        # AQE-FINAL join/agg subtrees whose runtime-adaptive exchange
        # topology varied run-to-run (768 vs 810 shuffles in the plan
        # text — the one PLAN_SNAPSHOT exclusion).  Downstream
        # consumers also stop re-analyzing the whole propagation tree.
        # SNAPSHOT SEMANTICS: the returned frame is a MATERIALIZED
        # checkpoint — like the ALS/AdaBoost builders it reflects the
        # input at build time, and its blocks are not recomputable if
        # externally unpersisted (getPersistentRDDs sweeps); rebuild
        # via this function when the input moves or blocks are freed.
        out = labels.localCheckpoint(eager=True)
        labels.unpersist()  # no-op if labels is already a checkpoint
        return out.select(
            F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
        )
    finally:
        edges.unpersist()


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", bits: int = 64,
    family: str = "xx",
) -> DataFrame:
    """SimHash: sign-sum of word-hash bits.  Explode words, one
    conditional sum per bit (JVM codegen), reassemble the signature
    and its 4 x 16-bit blocks for bucketed candidate search.

    The "xe" family derives bit i as the PARITY of the affine hash
    (a_i*h + b_i) mod FP_MOD over the cross-engine poly word hash —
    Carter-Wegman pairwise-independent bits, pure BIGINT arithmetic on
    both engines, so a DuckDB oracle replays the signature exactly
    (xxhash64 bit extraction stays the non-oracled default)."""
    from shadems_spark.operators.exprcache import memo

    text_key = text if isinstance(text, str) else None

    def _build_sums():
        if family == "xe":
            from shadems_spark.operators.text import FP_MOD

            bit_is_one = [
                ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(FP_MOD)) % 2 == 1
                for a, b in xe_minhash_affine(bits, salt=424242)
            ]
        else:
            bit_is_one = [
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1
                for i in range(bits)
            ]
        return [
            F.sum(F.when(cond, 1).otherwise(-1)).alias(f"b{i}")
            for i, cond in enumerate(bit_is_one)
        ]

    if family == "xe":
        from shadems_spark.operators.text import poly_word_hashes

        def _build_toks():
            ws = F.filter(words(text), lambda w: F.length(w) > 0)
            return F.explode(poly_word_hashes(ws)).alias("h")

        toks = df.select(
            id_col,
            memo(("sh_toks_xe", text_key, bits), _build_toks)
            if text_key is not None
            else _build_toks(),
        )
    else:
        toks = df.select(id_col, F.explode(words(text)).alias("w")).withColumn(
            "h", F.xxhash64("w")
        ).select(id_col, "h")
    bit_sums = toks.groupBy(id_col).agg(
        *memo(("sh_sums", bits, family), _build_sums)
    )

    def _build_sig():
        sig = None
        for i in range(bits):
            bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = F.shiftleft(bit, i)  # bit 63 wraps to the sign bit
            sig = term if sig is None else sig.bitwiseOR(term)
        return sig.alias("simhash")

    return bit_sums.select(id_col, memo(("sh_sig", bits), _build_sig))


def simhash_candidates(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates: docs sharing any 16-bit block of the
    signature (guarantees recall for hamming distance <= 3)."""
    blocks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF)) for b in range(4)])
        ).alias("blk", "blk_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    return pairs.withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))


def bottomk_sketch(
    df: DataFrame, id_col: str = "doc_id", text: str = "text",
    k: int = 64, ngram: int = 3, family: str = "xx",
) -> DataFrame:
    """Bottom-k minwise sketch per document: the k smallest 64-bit
    gram hashes — one array_sort + slice per row, no explode, no
    shuffle.  Unlike carrying the full shingle set, the sketch row is
    bounded at k longs regardless of document length; the price is
    that downstream Jaccard becomes an ESTIMATE with error
    O(1/sqrt(k)) instead of exact (Broder's minwise framework /
    Cohen's bottom-k summaries — public results)."""
    from shadems_spark.operators.text import xe_gram_hashes_arrow

    gram_arr = (
        xe_gram_hashes_arrow(text, ngram)
        if family == "xe"
        else ngram_hashes(words(text), ngram)
    )
    return df.select(
        id_col,
        F.slice(F.array_sort(gram_arr), 1, k).alias("sk"),
    )


def bottomk_jaccard(
    pairs: DataFrame, sketches: DataFrame, id_col: str = "doc_id",
    k: int = 64, threshold: float = 0.2,
) -> DataFrame:
    """Bottom-k Jaccard estimate on candidate pairs: with S the
    bottom-k of A∪B (computable from the two sketches alone),
    Ĵ = |S ∩ A_k ∩ B_k| / |S| — the unbiased minwise estimator.
    Exact whenever a document has ≤ k grams (the sketch IS the set,
    pinned in tests); otherwise within O(1/√k).  Join payloads are
    bounded at k longs per side by construction."""
    s1 = sketches.select(F.col(id_col).alias("id1"), F.col("sk").alias("sk1"))
    s2 = sketches.select(F.col(id_col).alias("id2"), F.col("sk").alias("sk2"))
    union_bk = F.slice(F.array_sort(F.array_union("sk1", "sk2")), 1, k)
    inter = F.size(F.array_intersect(F.array_intersect(union_bk, F.col("sk1")), F.col("sk2")))
    est = F.round(inter.cast("double") / F.size(union_bk), 6)
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id1", "id2", "jaccard_est")
    )


def prefix_filter_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    t_num: int = 3,
    t_den: int = 5,
    ngram: int = 3,
) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered set-similarity self-join
    (Bayardo et al. WWW'07; Xiao et al. WWW'08): ALL pairs of
    documents whose distinct word-``ngram``-shingle-set Jaccard >= t
    (= t_num/t_den), found without comparing all pairs.  Shingles,
    not raw words, are the token universe by default: word SETS on a
    shared-vocabulary corpus put most pairs over any useful
    threshold (measured: 71k of 125k possible pairs at t=0.6 on the
    sf0.01 fixture), while 3-gram sets are discriminative.

    The filter stack, every layer LOSSLESS for the threshold:
    - **Global ordering**: each doc's word set sorts by ascending
      document frequency (rarest first; ties by word) — any fixed
      total order preserves correctness, df-ascending makes the
      candidate join key on the RAREST tokens, which both minimizes
      candidates and kills join skew by construction (a stopword can
      never be a prefix token of a long document).
    - **Prefix filter**: two sets with |A∩B| >= ceil(t·max(|A|,|B|))
      must share a token within their first |s| - ceil(t·|s|) + 1
      tokens, so joining PREFIXES only loses nothing (the theorem the
      oracle's brute-force definition verifies end-to-end).
    - **Length filter**: Jaccard >= t forces t·|A| <= |B| <= |A|/t —
      rides the join as a pure integer predicate.
    - **Exact verify**: array_intersect on the full ordered sets;
      final test 5·inter >= 3·union in integers (no float compare).

    Threshold arithmetic is exact rationals: ceil(t·n) =
    (t_num·n + t_den - 1) div t_den.  Scale shape: one vocab
    aggregate (df), one per-doc sort, a prefix-token equi-join whose
    keys are rare by construction, then verification on candidates
    only — the canonical exact set-similarity join for corpus-scale
    dedup where LSH's recall loss is unacceptable.

    The candidate join keys on the 8-byte xxhash64 of the shingle,
    not the string: at 100x corpus the exploded prefix tables are
    the biggest relation in the plan, and 40-byte shingle keys made
    the x100 probe's sort-merge join spill the disk dry where 8-byte
    keys fit (measured r7).  Hash collisions can only MERGE gram
    buckets — a candidate-set superset — and the exact array verify
    removes any spurious pair, so the OUTPUT (and the brute-force
    oracle match) is unchanged."""
    from shadems_spark.operators.text import _sliding

    ws = words(text)
    base = ws if ngram == 1 else _sliding(
        ws, ngram, lambda a, x: F.concat(a, F.lit(" "), x)
    )
    tok = df.select(id_col, F.explode(F.array_distinct(base)).alias("w"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ceil_tn = lambda n: F.floor(
        (F.lit(t_num) * n + F.lit(t_den - 1)) / F.lit(t_den)
    ).cast("int")
    ordered = tracked_persist(
        tok.join(dfreq, "w")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "w"))),
                lambda x: x["w"],
            ).alias("ws")
        )
        .withColumn("n", F.size("ws"))
        .withColumn("p", F.col("n") - ceil_tn(F.col("n")) + F.lit(1)),
        key="ppjoin_ordered",
    )
    pre = ordered.select(
        id_col, "n", F.explode(F.slice("ws", 1, F.col("p"))).alias("w")
    ).select(id_col, "n", F.xxhash64("w").alias("hw"))
    a = pre.select(
        F.col(id_col).alias("doc_a"), F.col("n").alias("na"), "hw"
    )
    b = pre.select(
        F.col(id_col).alias("doc_b"), F.col("n").alias("nb"), "hw"
    )
    cand = (
        a.join(b, "hw")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(t_den) * F.col("nb") >= F.lit(t_num) * F.col("na"))
            & (F.lit(t_den) * F.col("na") >= F.lit(t_num) * F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = ordered.select(
        F.col(id_col).alias("doc_a"), F.col("ws").alias("wsa"),
        F.col("n").alias("na"),
    )
    sb = ordered.select(
        F.col(id_col).alias("doc_b"), F.col("ws").alias("wsb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("wsa", "wsb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", inter)
        .withColumn("un", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * F.col("un"))
        .select(
            "doc_a", "doc_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("un").cast("long").alias("un"),
            F.round(
                F.col("inter") / F.col("un").cast("double"), 6
            ).alias("jaccard"),
        )
    )
