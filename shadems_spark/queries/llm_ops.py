"""LLM-training-data pipeline queries (SURVEY.md §2 M + north-star
suite): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search (brute-force + LSH-bucketed),
text analysis (stats / tokens / quality / fingerprint / lang), and
the multimodal binary + pandas-UDF surface.

Hash-dependent pipelines (xxhash64 banding, LSH planes, lang-ID
profiles) have no DuckDB equivalent -> rows-only checks; everything
else carries an exact oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from shadems_spark.catalog import load_table
from shadems_spark.operators import dedup as D
from shadems_spark.operators import multimodal as MM
from shadems_spark.operators import similarity as SIM
from shadems_spark.operators import text as T
from shadems_spark.queries import register

# ---------------------------------------------------------------- dedup

@register(
    "q_dedup_exact",
    sql="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q_dedup_exact(spark, sf_dir):
    """M1: exact dedup via content-hash groupBy."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def _minhash_xe_sql(
    threshold: float = 0.2, n_hashes: int = 32, bands: int = 8,
    rows: int = 4, ngram: int = 3,
) -> str:
    """DuckDB replay of the ENTIRE cross-engine minhash pipeline —
    poly grams, affine signature family, seeded band buckets,
    bucket-join candidates, exact-Jaccard verify — with the same
    SplitMix64-derived literals the Spark expressions embed
    (operators/dedup.xe_minhash_affine / xe_band_seeds).  Every hash
    is BIGINT arithmetic mod FP_MOD, exact on both engines, so the
    oracle checks the exact candidate set (band recall included), not
    just the verify stage."""
    from shadems_spark.operators.dedup import xe_band_seeds, xe_minhash_affine
    from shadems_spark.operators.text import FP_MOD, XE_MULT

    return f"""
    WITH {_xe_gram_ctes(ngram)},
    {_xe_cand_ctes(n_hashes, bands, rows)},
    sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
    inter AS (SELECT c.id1, c.id2, count(*) AS c
              FROM cand c JOIN g g1 ON g1.doc_id = c.id1
                          JOIN g g2 ON g2.doc_id = c.id2 AND g2.s = g1.s
              GROUP BY 1, 2)
    SELECT i.id1, i.id2,
           round(i.c / CAST(s1.sz + s2.sz - i.c AS DOUBLE), 6) AS jaccard
    FROM inter i JOIN sz s1 ON s1.doc_id = i.id1
                 JOIN sz s2 ON s2.doc_id = i.id2
    WHERE i.c / CAST(s1.sz + s2.sz - i.c AS DOUBLE) >= {threshold}
    ORDER BY id1, id2
    """


_XE_WORDHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(w, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    "(a, c) -> (a * 31 + c) % {M})"
)


def _xe_gram_ctes(ngram: int = 3) -> str:
    """Shared DuckDB CTEs (w0/wh/g0/g) replaying the cross-engine
    gram identity (text.ngram_hashes_xe): filtered words -> poly word
    hashes -> left-fold n-gram combine -> distinct grams -> exploded
    (doc, gram) rows."""
    from shadems_spark.operators.text import FP_MOD, XE_MULT

    M, K = FP_MOD, XE_MULT
    gram = "hs[i]"
    for t in range(1, ngram):
        gram = f"({gram} * {K} + hs[i+{t}]) % {M}"
    return f"""w0 AS (SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   x -> len(x) > 0) AS ws
                FROM documents),
    wh AS (SELECT doc_id, list_transform(ws, w -> {_XE_WORDHASH.format(M=M)}) AS hs
           FROM w0),
    g0 AS (SELECT doc_id,
                  list_distinct(list_transform(
                      range(1, len(hs) - {ngram - 2}), i -> {gram})) AS gs
           FROM wh WHERE len(hs) >= {ngram}),
    g AS (SELECT doc_id, unnest(gs) AS s FROM g0)"""


def _xe_cand_ctes(n_hashes: int = 32, bands: int = 8, rows: int = 4) -> str:
    """Shared DuckDB CTEs (sig/band/cand) replaying the cross-engine
    minhash signature family and the seeded band buckets over the
    ``g`` gram rows from :func:`_xe_gram_ctes`."""
    from shadems_spark.operators.dedup import xe_band_seeds, xe_minhash_affine
    from shadems_spark.operators.text import FP_MOD, XE_MULT

    M, K = FP_MOD, XE_MULT
    ab = xe_minhash_affine(n_hashes)
    seeds = xe_band_seeds(bands)
    mins = ",\n           ".join(
        f"min(({a} * s + {b}) % {M}) AS h{j}"
        for j, (a, b) in enumerate(ab)
    )

    def band_expr(b: int) -> str:
        acc = f"CAST({seeds[b]} AS BIGINT)"
        for r in range(rows):
            acc = f"({acc} * {K} + h{b * rows + r}) % {M}"
        return acc

    bands_sql = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {band_expr(b)} AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""sig AS (SELECT doc_id,
           {mins}
            FROM g GROUP BY doc_id),
    band AS ({bands_sql}),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM band a JOIN band b
               ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id)"""


@register("q_dedup_minhash", sql=_minhash_xe_sql())
def q_dedup_minhash(spark, sf_dir):
    """M2: MinHash+LSH fuzzy dedup (shingle -> minhash -> band ->
    bucket-join -> exact-Jaccard verify).  Candidate generation is
    bucket-bounded — never all-pairs.  Runs the cross-engine hash
    family (poly grams + affine minhash + seeded band folds, all
    BIGINT-mod arithmetic), so the DuckDB oracle replays the EXACT
    pipeline including which pairs the bands surface — graduated from
    rows-only to hash-exact in r6 (VERDICT r5 #6).  The xxhash64
    family stays the default for non-oracled consumers
    (q_dedup_clusters, streaming admission, the pipeline CLI)."""
    return D.minhash_dedup(
        load_table(spark, sf_dir, "documents"), threshold=0.2, family="xe"
    )


def _simhash_xe_sql(bits: int = 64, max_hamming: int = 6) -> str:
    """DuckDB replay of the cross-engine SimHash: poly word hashes,
    bit i = parity of the affine (a_i*h + b_i) mod FP_MOD (salt
    424242 — a family disjoint from the minhash one), sign-sum bits,
    4 x 16-bit block buckets, per-block bit_count(xor) hamming.  The
    hamming is summed over BLOCKS so no 64-bit signature assembly
    (and no sign-bit shift semantics) is ever needed in SQL."""
    from shadems_spark.operators.dedup import xe_minhash_affine
    from shadems_spark.operators.text import FP_MOD

    M = FP_MOD
    ab = xe_minhash_affine(bits, salt=424242)
    sums = ",\n           ".join(
        f"sum(CASE WHEN (({a} * h + {b}) % {M}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i, (a, b) in enumerate(ab)
    )
    blks = ",\n           ".join(
        "("
        + " + ".join(
            f"CASE WHEN s{16 * j + i} > 0 THEN {1 << i} ELSE 0 END"
            for i in range(16)
        )
        + f") AS blk{j}"
        for j in range(bits // 16)
    )
    blk_tables = "\n      UNION ALL ".join(
        f"SELECT doc_id, {j} AS blk, blk{j} AS blk_val FROM blk"
        for j in range(bits // 16)
    )
    ham = " + ".join(
        f"bit_count(xor(a.blk{j}, b.blk{j}))" for j in range(bits // 16)
    )
    return f"""
    WITH w0 AS (SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   x -> len(x) > 0) AS ws
                FROM documents),
    toks AS (SELECT doc_id,
                    unnest(list_transform(ws, w -> {_XE_WORDHASH.format(M=M)}))
                        AS h
             FROM w0),
    bits AS (SELECT doc_id,
           {sums}
             FROM toks GROUP BY doc_id),
    blk AS (SELECT doc_id,
           {blks}
            FROM bits),
    bt AS ({blk_tables}),
    cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
             FROM bt x JOIN bt y
               ON x.blk = y.blk AND x.blk_val = y.blk_val
              AND x.doc_id < y.doc_id)
    SELECT c.id1, c.id2, CAST({ham} AS BIGINT) AS hamming
    FROM cand c JOIN blk a ON a.doc_id = c.id1
                JOIN blk b ON b.doc_id = c.id2
    WHERE {ham} <= {max_hamming}
    ORDER BY id1, id2
    """


@register("q_dedup_simhash", sql=_simhash_xe_sql())
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 64-bit sign-sum signatures, 16-bit-block
    bucketed candidates, hamming distance <= 6 kept.  The block
    self-join's shared signature aggregate is deduped by
    ReuseExchange (persist A/B: wash — see BASELINE.md).  Runs the
    cross-engine bit family (parity of affine hashes over poly word
    hashes), so the DuckDB oracle replays signatures, buckets and
    hamming exactly — graduated from rows-only to hash-exact in r6
    (VERDICT r5 #6)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.simhash_signatures(docs, family="xe")
    return D.simhash_candidates(sigs).filter(F.col("hamming") <= 6).select(
        "id1", "id2", F.col("hamming").cast("long").alias("hamming")
    )


#: stop-gram document-frequency cap for q_ngram_jaccard.  ONE constant
#: by design: the two-phase prune's soundness (hash-df >= string-df,
#: so phase 1 can never miss a hot string) requires phase-1 cap <=
#: phase-2 cap, and the oracle must replay the phase-2 value exactly —
#: three call sites that silently diverging literals would break.
NGRAM_STOP_DF = 1000


@register(
    "q_ngram_jaccard",
    sql=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    g0 AS (SELECT doc_id,
                 unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                       for i in range(len(ws) - 2)])) AS ng
          FROM w),
    dfq AS (SELECT ng, count(*) AS df FROM g0 GROUP BY 1),
    g AS (SELECT g0.doc_id, g0.ng FROM g0 JOIN dfq USING (ng)
          WHERE dfq.df <= {{stop_df}}),
    s AS (SELECT doc_id, count(*) sz FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) c
              FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id1, id2,
           round(c / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM inter
    JOIN s sa ON id1 = sa.doc_id
    JOIN s sb ON id2 = sb.doc_id
    WHERE c / (sa.sz + sb.sz - c) >= 0.2
    """.format(stop_df=NGRAM_STOP_DF),
)
def q_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard similarity join at threshold 0.2 over the
    STOP-GRAM-PRUNED shingle universe: grams with document frequency
    > 1000 are excluded from both the intersection and the set sizes
    (the prune is part of the metric's definition and the oracle
    replays it — hash-exact even where it binds).

    Why count-based and not the PPJoin prefix route (VERDICT r6 #3
    explored BOTH; measured r7): at t = 0.2 the prefix is 80% of
    each doc, so candidates ~= all gram-sharing pairs (76.6M at x100
    vs 25.6k qualifying) and the array-verify materializes ~2.6 KB
    per CANDIDATE — 200 GB of spill at x100, where the count verify
    pays one narrow row per shared-gram OCCURRENCE (~qualifying
    pairs x shared grams, output-driven, 36 MB at sf0.1).  Prefix
    filtering wins at high thresholds (q_ppjoin, t = 0.6); counting
    wins at low ones.

    The hot-gram hazard ("the"-class shingle making one join bucket
    quadratic at 100 TB) is closed by the df-cap instead: every join
    bucket is <= cap rows by construction, so no gram can contribute
    more than cap^2 pairs — and a df > 1000 shingle is pure stop-
    phrase noise for near-dup detection anyway.  The cap binds on no
    fixture (max df 25 at x100), so results match the unpruned
    definition everywhere the driver checks.

    Gram IDENTITY — df counting and the stop prune — is the string
    gram itself, exactly what the oracle counts (ADVICE r7: an
    xxhash64-side df would let a hash collision merge counts and push
    a legitimate gram over the cap, changing OUTPUT rows while DuckDB
    disagrees).  Only the candidate join keys on xxhash64(ng) — an
    8-byte key instead of the variable-width string — where a
    collision can merge intersection counts only; identical counts
    absent collisions, which the oracle run confirms."""
    docs = load_table(spark, sf_dir, "documents")
    # The raw gram table persists FIRST so the expensive split +
    # 3-gram scan of documents runs once — both the df aggregate
    # (stop-tail discovery) and the anti-join probe side read the
    # cache, not the parquet.  The gram rows are fused (r12, VERDICT
    # r11 #5): MapInArrow emits (doc_id, ng) directly — no Generate
    # node and no per-row gram ARRAY ever materializes; row-identical
    # to explode_outer(word_ngrams_arrow) + isNotNull (null/empty docs
    # emit nothing).
    raw = T.doc_grams_fused(docs, "doc_id", "text", 3, "word")
    grams = D.tracked_persist(raw, key="ngram_grams_raw")
    # The STOP-GRAM set (df > 1000) is bounded at total_occurrences /
    # 1000 rows by construction (pigeonhole) — broadcastable at any
    # corpus size (~30 MB of short strings per 10^9 occurrences) — so
    # the prune is a broadcast ANTI-join applied map-side instead of a
    # second full shuffle of the gram table against the (distinct-
    # gram-sized) df relation.
    #
    # Stop-gram DISCOVERY is two-phase so the one full-universe df
    # shuffle carries 8-byte hashes, not variable-width strings,
    # WITHOUT giving up the string-identity contract (ADVICE r7):
    # hash-df >= string-df pointwise (a collision can only merge
    # counts upward), so every gram with string df > 1000 has a hot
    # hash and reaches phase 2, where its TRUE string df is recounted
    # exactly over just the hot-hash occurrences (map-side broadcast
    # semi-join on the raw cache; the phase-2 aggregate's partial
    # combine sees only total/1000-bounded distinct grams).  Grams
    # outside the hot set have df <= hash-df <= 1000 — correctly
    # kept.  Measured at sf0.1: 3.6 -> 2.6 s warm vs the single
    # string-keyed aggregate; identical 256 output rows.
    hot_h = (
        grams.groupBy(F.xxhash64("ng").alias("hh"))
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_STOP_DF).select("hh")
    )
    stop = (
        grams.join(
            F.broadcast(hot_h), F.xxhash64("ng") == F.col("hh"), "left_semi"
        )
        .groupBy("ng").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_STOP_DF).select("ng")
    )
    # the pruned cache carries the 8-byte join key, not the string —
    # nothing downstream shuffles a variable-width payload
    pruned = D.tracked_persist(
        grams.join(F.broadcast(stop), "ng", "left_anti")
        .select("doc_id", F.xxhash64("ng").alias("h")),
        key="ngram_grams",
    )
    # Builders stay LAZY (ADVICE r7): no eager count/release here —
    # plan-only consumers (plan_report/EXPLAIN) must not trigger a
    # full split+hash+shuffle job at build time.  Both caches stay
    # tracked: the raw one keeps the single-scan property (the stop
    # aggregate's job populates it; the anti-join probe side and any
    # evicted pruned partition recompute through it, never through a
    # second parquet split), at the cost of ~2x residency of a narrow
    # (doc_id, gram) table — MEMORY_AND_DISK spills
    # rather than evicts at corpus scale, and pipeline callers that
    # fully materialize can release_persist("ngram_grams_raw")
    # themselves.
    sizes = pruned.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = pruned.alias("a"), pruned.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    jac = F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        inter.join(F.broadcast(s1), "id1")
        .join(F.broadcast(s2), "id2")
        .filter(jac >= 0.2)
        .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q_dedup_embedding",
    sql=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    h AS (SELECT vec_id, label, v,
                 {SIM.hyperplane_bucket_sql("v", 2, 64)} AS hp
          FROM e)
    SELECT a.label AS bkt, a.vec_id AS id1, b.vec_id AS id2,
           round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                 / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                    * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) AS cos
    FROM h a JOIN h b ON a.label = b.label AND a.hp = b.hp AND a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                   * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) >= 0.4
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup within (label, hyperplane sub-bucket)
    blocks — label blocking alone is O(bucket²) on a hot label; the
    2-plane sub-bucket bounds candidates at a documented recall trade
    (operators/similarity.py::embedding_near_dup).  The oracle applies
    the identical plane literals, so results hash-match exactly."""
    return SIM.embedding_near_dup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, sub_planes=2
    )


@register(
    "q_semdedup",
    sql="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
    a0 AS (
      SELECT e.vec_id, e.v, c.c_id,
             round(list_sum(list_transform(list_zip(e.v, c.cv), z -> z[1] * z[2]))
                   / (sqrt(list_sum(list_transform(e.v, x -> x*x)))
                      * sqrt(list_sum(list_transform(c.cv, x -> x*x)))), 6) AS cos
      FROM e CROSS JOIN c),
    a AS (SELECT vec_id, v, c_id, cos,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, c_id) rn
          FROM a0)
    SELECT x.vec_id, x.c_id AS cluster_id, x.cos AS c_cos
    FROM a x
    WHERE x.rn = 1 AND NOT EXISTS (
        SELECT 1 FROM a y
        WHERE y.rn = 1 AND y.c_id = x.c_id AND y.vec_id < x.vec_id
          AND round(list_sum(list_transform(list_zip(x.v, y.v), z -> z[1]*z[2]))
                    / (sqrt(list_sum(list_transform(x.v, t -> t*t)))
                       * sqrt(list_sum(list_transform(y.v, t -> t*t)))), 6)
              >= 0.35)
    ORDER BY x.vec_id
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (cluster embeddings, drop within-cluster
    cosine near-dups; arXiv:2303.09540) in closed form: deterministic
    exemplar centroids -> broadcast assignment -> within-cluster-only
    pair scan -> EXISTS drop rule (operators/similarity.py::semdedup).
    The oracle replays the identical rule, so results hash-match —
    unlike the k-means-seeded production variant, which is rows-only
    by nature.  Drops 76 of 500 fixture vectors at threshold 0.35."""
    return SIM.semdedup(
        load_table(spark, sf_dir, "embeddings"), n_clusters=8, threshold=0.35
    )


@register(
    "q_dedup_clusters",
    sql="""
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                       for i in range(len(ws) - 2)])) AS ng
          FROM w),
    s AS (SELECT doc_id, count(*) sz FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) c
              FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    p AS (SELECT id1, id2 FROM inter
          JOIN s sa ON id1 = sa.doc_id
          JOIN s sb ON id2 = sb.doc_id
          WHERE c / (sa.sz + sb.sz - c) >= 0.2),
    edges AS (SELECT id1 a, id2 b FROM p UNION SELECT id2, id1 FROM p),
    walk(v, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, wk.lbl FROM edges e JOIN walk wk ON wk.v = e.b
    )
    SELECT v AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY v
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Dup-pair graph -> connected components: the step after M2 that
    an actual dedup pipeline needs (cluster near-dups, keep the min
    doc id as canonical).  Spark side: minhash pipeline pairs ->
    min-label propagation (operators/dedup.py::connected_components);
    oracle: exact-Jaccard pairs + a recursive-CTE reachability
    closure.  They agree because banding at this threshold loses no
    pair (pinned in tests/test_llm_ops.py)."""
    pairs = D.minhash_dedup(load_table(spark, sf_dir, "documents"), threshold=0.2)
    return D.connected_components(pairs)


# ------------------------------------------------------- similarity search

@register(
    "q_cosine_topk",
    sql="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT q.q_id, e.vec_id AS cand_id,
               round(list_sum(list_transform(list_zip(q.qv, e.v), z -> z[1] * z[2]))
                     / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                        * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos
        FROM e CROSS JOIN q WHERE e.vec_id != q.q_id
    )
    SELECT q_id, cand_id, cos, rank FROM (
        SELECT q_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id)
                    AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_cosine_topk(spark, sf_dir):
    """M3: brute-force cosine top-k — broadcast queries, one scan of
    the collection, per-query rank window.  Ranking is on the rounded
    cosine so ordering is engine-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return SIM.brute_topk(emb, queries, k=5)


@register(
    "q_cosine_topk_blas",
    sql="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT q.q_id, e.vec_id AS cand_id,
               round(list_sum(list_transform(list_zip(q.qv, e.v), z -> z[1] * z[2]))
                     / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                        * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos
        FROM e CROSS JOIN q WHERE e.vec_id != q.q_id
    )
    SELECT q_id, cand_id, cos, rank FROM (
        SELECT q_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id)
                    AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_cosine_topk_blas(spark, sf_dir):
    """M3's Arrow/BLAS fast path under the SAME exact-SQL oracle as
    the HOF form: per-Arrow-batch matmul scoring with HALF_UP rounding
    (matching F.round), so the sanctioned pandas-UDF path is proven
    bit-equal to the declarative plan, not merely rows-compatible."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return SIM.brute_topk_vectorized(emb, queries, k=5)


_COS6 = (
    "round(list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)"
)

_ANN_TABS = "\n      UNION ALL ".join(
    f"SELECT vec_id, v, {t} AS tbl, "
    + SIM.hyperplane_bucket_sql("v", 4, 64, seed=t * 4)
    + " AS b FROM e"
    for t in range(6)
)

_ANN_LSH_SQL = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    tabs AS ({_ANN_TABS}),
    cand AS (SELECT DISTINCT tq.vec_id AS q_id, tc.vec_id AS cand_id
             FROM tabs tq JOIN tabs tc ON tq.tbl = tc.tbl AND tq.b = tc.b
             WHERE tq.vec_id IN (0, 1, 2) AND tc.vec_id != tq.vec_id),
    ls AS (SELECT c.q_id, c.cand_id, {_COS6.format(a="eq.v", b="ec.v")} AS cos
           FROM cand c JOIN e eq ON eq.vec_id = c.q_id
                       JOIN e ec ON ec.vec_id = c.cand_id)
    SELECT q_id, cand_id, cos, rank FROM (
      SELECT q_id, cand_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id)
                  AS INTEGER) AS rank
      FROM ls) WHERE rank <= 5
"""


@register("q_ann_lsh", sql=_ANN_LSH_SQL)
def q_ann_lsh(spark, sf_dir):
    """M3 scale path: random-hyperplane LSH bucketing — candidates
    restricted to the query's bucket (join on bucket id, not a full
    cross join).  The planes are SplitMix64-derived LITERALS
    (operators/similarity.hyperplane_bucket / hyperplane_bucket_sql),
    so the DuckDB oracle replays the exact table/bucket assignment —
    graduated from rows-only to hash-exact in r6 (the q_ann_recall
    seed-replay trick, VERDICT r5 #6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return SIM.lsh_topk(emb, queries, k=5)


def _ivf_xe_sql(k: int = 5, n_cells: int = 8, n_probe: int = 2) -> str:
    """DuckDB replay of the ENTIRE IVF path on the cross-engine
    sampler: centroid selection by the affine id hash (the rows Spark
    collects), in-SQL unit normalization (same sequential fold order
    as the driver-side _unit), exact argmax assignment, top-n_probe
    cell probing and the final per-query rank — every float op
    mirrors the Spark fold element-for-element, so even the UNROUNDED
    argmax comparisons see bit-identical IEEE sums."""

    dotf, normf = SIM.xe_dot_sql, SIM.xe_norm_sql

    hk = SIM.xe_affine_sql("vec_id")  # mod-first: 64-bit-id safe
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    cr AS (SELECT vec_id, v FROM e ORDER BY {hk}, vec_id LIMIT {n_cells}),
    cn AS (SELECT v, CAST(row_number() OVER (ORDER BY {hk}, vec_id) - 1
                          AS INT) AS cell
           FROM cr),
    cu AS (SELECT cell, list_transform(v, x -> x / {normf("v")}) AS cv
           FROM cn),
    asg AS (SELECT e.vec_id AS cand_id, e.v AS c_vec, cu.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dotf("e.v", "cu.cv")} DESC,
                                               cu.cell) AS rn
            FROM e CROSS JOIN cu),
    c AS (SELECT cand_id, c_vec, cell FROM asg WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    pr AS (SELECT q.q_id, q.qv, cu.cell,
                  row_number() OVER (
                      PARTITION BY q.q_id
                      ORDER BY {dotf("q.qv", "cu.cv")}
                               / ({normf("q.qv")} * {normf("cu.cv")}) DESC,
                               cu.cell DESC) AS rn
           FROM q CROSS JOIN cu),
    probes AS (SELECT q_id, qv, cell FROM pr WHERE rn <= {n_probe}),
    sc AS (SELECT p.q_id, c.cell, c.cand_id,
                  round({dotf("p.qv", "c.c_vec")}
                        / ({normf("p.qv")} * {normf("c.c_vec")}), 6) AS cos
           FROM c JOIN probes p ON p.cell = c.cell AND c.cand_id != p.q_id)
    SELECT q_id, cell, cand_id, cos, CAST(rk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos DESC, cand_id) AS rk
          FROM sc)
    WHERE rk <= {k} ORDER BY q_id, rank
    """


@register("q_ann_ivf", sql=_ivf_xe_sql())
def q_ann_ivf(spark, sf_dir):
    """M3 scale path #2: IVF — coarse-quantize once, probe the
    query's nearest cells; candidates are O(n_probe/n_cells) of the
    collection.  The coarse sample rides the cross-engine affine id
    hash (similarity.XE_IVF_*), so the DuckDB oracle replays centroid
    choice, assignment, probing and ranking exactly — graduated from
    rows-only to hash-exact in r6 (VERDICT r5 #6); q_ivfpq crossed
    the same bridge in r11, so every oracled ANN caller now rides the
    xe sampler (xxhash64 remains the default for ad-hoc use)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    return SIM.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2, sampler="xe")


# ------------------------------------------------------------ text analysis

@register(
    "q_text_stats",
    sql="""
    SELECT doc_id,
           length(text) AS n_chars_c,
           len(string_split(text, ' ')) AS n_words,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           round(list_sum(list_transform(string_split(text, ' '),
                                         w -> CAST(length(w) AS DOUBLE)))
                 / len(string_split(text, ' ')), 4) AS mean_word_len
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def q_text_stats(spark, sf_dir):
    """M4: per-document text statistics."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return T.text_stats(docs).select(
        "doc_id", "n_chars_c", "n_words", "n_uniq", "mean_word_len"
    )


@register(
    "q_token_count",
    sql="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def q_token_count(spark, sf_dir):
    """Token counting: whitespace + BPE-ish chars/4 estimate."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return T.token_count(docs).select("doc_id", "ws_tokens", "bpe_tokens")


@register(
    "q_quality_score",
    sql="""
    SELECT doc_id,
           round((least(1.0, length(text) / 400.0)
                  + len(list_distinct(string_split(text, ' ')))
                    / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 2.0, 6) AS quality
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def q_quality_score(spark, sf_dir):
    """Quality score: bounded length + lexical-diversity components."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return T.quality_score(docs).select("doc_id", "quality")


@register(
    "q_fingerprint",
    sql=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                       w -> CAST(length(w) * 7 + ascii(substring(w, 1, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % {T.FP_MOD}) AS fp
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def q_fingerprint(spark, sf_dir):
    """Document fingerprint: order-sensitive rolling hash fold."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return T.fingerprint(docs).select("doc_id", "fp")


@register(
    "q_lang",
    sql="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           round(sum(len(string_split(text, ' '))), 2) AS total_words
    FROM documents GROUP BY lang
    """,
)
def q_lang(spark, sf_dir):
    """M5: language filter/partition aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.sum(F.size(F.split("text", " ")).cast("double")), 2).alias("total_words"),
    )


@register(
    "q_lang_id",
    sql="""
    WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
               FROM documents),
    pf AS (SELECT lang, w, count(*) AS n FROM w GROUP BY 1, 2),
    prof AS (SELECT lang AS cand, w FROM (
                 SELECT lang, w,
                        row_number() OVER (PARTITION BY lang
                                           ORDER BY n DESC, w) AS rk
                 FROM pf) WHERE rk <= 40),
    scored AS (SELECT t.doc_id, p.cand, count(*) AS score
               FROM w t JOIN prof p USING (w) GROUP BY 1, 2),
    pick AS (SELECT doc_id, cand AS pred_lang, score,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, cand) AS rk
             FROM scored)
    SELECT p.doc_id, pred_lang, score,
           CAST(pred_lang = d.lang AS INT) AS correct
    FROM pick p JOIN documents d ON p.doc_id = d.doc_id
    WHERE p.rk = 1
    """,
)
def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: top-words profile per labeled language
    (train pass), argmax profile overlap per doc (score pass).  Fully
    deterministic (ties broken by word / candidate name), so the
    DuckDB oracle reproduces it exactly."""
    docs = load_table(spark, sf_dir, "documents")
    profiles = T.lang_profiles(docs)
    pred = T.lang_id(docs, profiles)
    truth = docs.select("doc_id", "lang")
    return pred.join(truth, "doc_id").select(
        "doc_id",
        "pred_lang",
        "score",
        (F.col("pred_lang") == F.col("lang")).cast("int").alias("correct"),
    )


@register(
    "q_curation",
    sql="""
    WITH scored AS (
        SELECT doc_id, lang, text,
               round((least(1.0, length(text) / 400.0)
                      + len(list_distinct(string_split(text, ' ')))
                        / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 2.0, 6) AS quality,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored
        WHERE quality >= 0.5
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 4) AS avg_quality
    FROM kept GROUP BY lang
    """,
)
def q_curation(spark, sf_dir):
    """End-to-end curation pipeline — the composed LLM-training-data
    flow: quality scoring -> threshold filter -> exact dedup (first
    doc per identical text) -> per-language token budget.  One
    declarative plan: Catalyst fuses the scoring/filter into the scan
    and the dedup window + final agg are the only two shuffles."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = T.token_count(T.quality_score(docs))
    kept = (
        scored.filter(F.col("quality") >= 0.5)
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("text").orderBy("doc_id")),
        )
        .filter(F.col("__rn") == 1)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


# -------------------------------------------------- multimodal + pandas UDF

@register(
    "q_multimodal",
    sql="""
    SELECT doc_id, 'text/plain' AS kind,
           length(text) AS n_bytes,
           ascii(substring(text, 1, 1)) AS first_byte,
           CAST(list_sum(list_transform(string_split(text, ''), x -> ascii(x)))
                % 2147483647 AS BIGINT) AS checksum
    FROM documents WHERE doc_id % 4 = 0
    """,
)
def q_multimodal(spark, sf_dir):
    """M6: multimodal binary-column pipeline — blob + typed metadata
    through an Arrow-batched mapInPandas feature extractor (decode
    stubbed; plumbing real)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    return MM.decode_features(MM.blob_table(docs))


@register(
    "q_frame_sample",
    sql="""
    WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb
               FROM documents WHERE doc_id % 4 = 0),
    t AS (SELECT doc_id, nb,
                 greatest(1, CAST(ceil(nb / 128.0) AS BIGINT)) AS total
          FROM d),
    k AS (SELECT doc_id, nb, total, unnest(range(0, total, 4)) AS fi
          FROM t)
    SELECT doc_id,
           CAST(fi AS INT) AS frame_idx,
           CAST((total + 3) // 4 AS INT) AS n_frames,
           CAST(least(128, nb - fi * 128) AS INT) AS frame_bytes
    FROM k
    """,
)
def q_frame_sample(spark, sf_dir):
    """M6: 1:N frame-sampling stage — row-expanding mapInPandas over
    binary payloads (decode stubbed, plumbing real).

    Graduated from rows-only to a hash-matched oracle (VERDICT r03
    next-round #4): the sampler is deterministic — frame count
    ceil(bytes/128), every 4th kept, last frame short — so the whole
    expansion is expressible as sequence+unnest over byte lengths; the
    checked projection compares frame LENGTHS (the binary payload
    itself has no DuckDB-comparable form)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    frames = MM.sample_frames(MM.blob_table(docs), frame_bytes=128, every_n=4)
    return frames.select("doc_id", "frame_idx", "n_frames", F.length("frame").alias("frame_bytes"))


@register(
    "q_pandas_udf",
    sql="""
    SELECT l_orderkey AS row_key, l_linenumber AS line_no,
           sqrt(l_extendedprice * l_extendedprice
                + (l_extendedprice * l_discount) * (l_extendedprice * l_discount)) AS amp
    FROM lineitem WHERE l_orderkey % 20 = 0
    """,
)
def q_pandas_udf(spark, sf_dir):
    """L: vectorized Arrow pandas UDF (amp over the complex pair) —
    the sanctioned slow path, checked against the native formula."""

    @pandas_udf("double")
    def amp_udf(re: pd.Series, im: pd.Series) -> pd.Series:
        import numpy as np

        return np.sqrt(re * re + im * im)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    return li.select(
        F.col("l_orderkey").alias("row_key"),
        F.col("l_linenumber").alias("line_no"),
        amp_udf(
            F.col("l_extendedprice"), F.col("l_extendedprice") * F.col("l_discount")
        ).alias("amp"),
    )


def _bottomk_xe_sql(k: int = 64, threshold: float = 0.2) -> str:
    """DuckDB replay of the bottom-k pipeline on the cross-engine
    hash family: xe gram CTEs + xe banding candidates, then the
    minwise estimate |bottomk(A∪B) ∩ A_k ∩ B_k| / |bottomk(A∪B)|
    from the two k-smallest-gram sketches."""
    return f"""
    WITH {_xe_gram_ctes()},
    {_xe_cand_ctes()},
    sk AS (SELECT doc_id,
                  list_slice(list_sort(gs), 1, {k}) AS sk
           FROM g0),
    j AS (SELECT c.id1, c.id2,
                 list_slice(list_sort(list_distinct(
                     list_concat(a.sk, b.sk))), 1, {k}) AS ub,
                 a.sk AS sk1, b.sk AS sk2
          FROM cand c JOIN sk a ON a.doc_id = c.id1
                      JOIN sk b ON b.doc_id = c.id2)
    SELECT id1, id2,
           round(len(list_intersect(list_intersect(ub, sk1), sk2))
                 / CAST(len(ub) AS DOUBLE), 6) AS jaccard_est
    FROM j
    WHERE len(list_intersect(list_intersect(ub, sk1), sk2))
          / CAST(len(ub) AS DOUBLE) >= {threshold}
    ORDER BY id1, id2
    """


@register("q_dedup_bottomk", sql=_bottomk_xe_sql())
def q_dedup_bottomk(spark, sf_dir):
    """M2 variant with bounded-width verification: LSH banding for
    candidates, then a bottom-k (k=64) minwise Jaccard ESTIMATE
    instead of the exact gram co-count — every join payload is ≤ k
    longs, the documented trade for corpus-scale verify stages.
    Estimator accuracy is pinned against the exact join in
    tests/test_llm_ops.py.  Runs the cross-engine hash family, so the
    DuckDB oracle replays grams, banding AND the sketch estimate —
    graduated from rows-only to hash-exact in r6 (VERDICT r5 #6)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = D.tracked_persist(
        D.doc_grams(docs, family="xe"), key="bottomk_grams"
    )
    sigs = D.minhash_signatures_from_grams(grams, family="xe")
    cands = D.lsh_candidate_pairs(sigs, family="xe")
    sketches = D.bottomk_sketch(docs, k=64, family="xe")
    return D.bottomk_jaccard(cands, sketches, k=64, threshold=0.2)


@register(
    "q_entropy",
    sql="""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
    n AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           round(-sum((c / CAST(n.n AS DOUBLE))
                      * ln(c / CAST(n.n AS DOUBLE))), 6) AS entropy
    FROM tf JOIN n ON tf.doc_id = n.doc_id
    GROUP BY tf.doc_id
    """,
)
def q_entropy(spark, sf_dir):
    """Word-distribution entropy per document (low entropy = repeated
    boilerplate, a standard quality signal alongside the Gopher
    rules).  Shuffle ladder: (doc, word) counts with map-side
    combine -> per-doc totals -> one entropy fold; every stage is
    keyed on doc_id so the plan re-uses the same partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(T.words("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


@register(
    "q_label_centroids",
    sql="""
    WITH e AS (SELECT label,
                      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                        AS x,
                      generate_subscripts(embedding, 1) AS pos
               FROM embeddings)
    SELECT label, pos, round(avg(x), 6) AS mean_x, count(*) AS n
    FROM e GROUP BY label, pos
    """,
)
def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid in long format: posexplode the
    vector, aggregate (label, pos) means with map-side combine —
    the scalable vector-mean shape (no per-group array reassembly,
    no collect; output = labels x dim rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(SIM.as_double("embedding")).alias("pos0", "x")
        )
        .select("label", (F.col("pos0") + 1).alias("pos"), "x")
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_FH_DIM = 16
_FH_COLS = ",\n           ".join(
    f"CAST(len(list_filter(bs, x -> x = {b})) AS BIGINT) AS f{b}"
    for b in range(_FH_DIM)
)


@register(
    "q_feature_hash",
    sql=f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
               FROM documents WHERE doc_id % 6 = 0),
    b AS (SELECT doc_id,
                 list_transform(ws, w ->
                     list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(w, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % {_FH_DIM}) AS bs
          FROM w)
    SELECT doc_id, {_FH_COLS}
    FROM b
    """,
)
def q_feature_hash(spark, sf_dir):
    """Feature hashing (the 'hashing trick'): every document becomes a
    fixed {dim}-bucket bag-of-words count vector with NO vocabulary
    pass — each word's polynomial char hash picks its bucket, so the
    featurizer is a single stateless projection (nested JVM HOF
    lambdas: per-word fold inside a per-doc transform).  The
    model-free text-vectorizer used when a training pipeline needs
    embeddings before any model exists; identical polynomial on both
    engines makes it exactly oracle-checkable.

    The bucket array is operators/text.word_buckets (the shared
    vectorized featurizer), materialized behind its own projection so
    the 16 per-bucket counters read ONE computed array instead of 16
    copies of the hash expression.""".format(dim=_FH_DIM)
    from shadems_spark.operators.text import word_buckets

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    step = docs.select("doc_id", word_buckets("text", _FH_DIM).alias("__bk"))

    def count_bucket(b):
        # NB: a two-parameter lambda (even `lambda x, b=b: ...`) is
        # treated by PySpark HOFs as the (element, index) form — the
        # index would silently overwrite the default. One param only.
        return F.size(F.filter(F.col("__bk"), lambda x: x == F.lit(b)))

    return step.select(
        "doc_id",
        *[count_bucket(b).cast("long").alias(f"f{b}") for b in range(_FH_DIM)],
    )


@register(
    "q_grouped_agg_pandas",
    sql="""
    SELECT lang,
           round(avg(n_chars), 4) AS mean_chars,
           round(quantile_cont(n_chars, 0.5), 1) AS med_chars
    FROM documents GROUP BY lang
    """,
)
def q_grouped_agg_pandas(spark, sf_dir):
    """L surface: GROUPED_AGG pandas UDFs — whole-group numpy
    reductions (mean + interpolated median) running as Arrow-batched
    aggregate expressions inside a regular groupBy, the escape hatch
    when an aggregate has no Catalyst equivalent.  np.percentile's
    linear interpolation matches DuckDB's quantile_cont exactly, so
    this UDF path is oracle-checked, not rows-only.

    The UDFs return the RAW aggregate; rounding happens outside via
    F.round (HALF_UP, same as the oracle's round()).  np.round inside
    the UDF was ADVICE r03's latent-drift flag: banker's rounding
    diverges from DuckDB on exact binary halves."""
    import numpy as np

    @pandas_udf("double")
    def mean_chars(v: pd.Series) -> float:
        return float(np.mean(v.to_numpy(dtype="float64")))

    @pandas_udf("double")
    def med_chars(v: pd.Series) -> float:
        return float(np.percentile(v.to_numpy(dtype="float64"), 50))

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(mean_chars("n_chars"), 4).alias("mean_chars"),
        F.round(med_chars("n_chars"), 1).alias("med_chars"),
    )


def _bpe_xe_sql(n_merges: int = 50, sample_docs: int = 100) -> str:
    """DuckDB replay of the ENTIRE BPE pipeline — training included.

    Training (text.bpe_train) is a sequential merge loop; sequential
    does not mean un-replayable: each iteration is (pair-count ->
    argmax -> re-segment), so ``n_merges`` unrolled CTE triples replay
    it exactly.  The argmax tie-break mirrors Python's
    ``max(items, key=(count, pair))`` — count DESC then pair
    lexicographically LARGEST (a DESC, b DESC; VARCHAR binary order ==
    code-point order).  Re-segmentation is one left-to-right
    list_reduce fold per symbol sequence: merge when the accumulated
    tail equals ``a`` and the incoming symbol is ``b`` — equivalent to
    the trainer's skip-ahead loop because a merged token is strictly
    longer than its left constituent, so it can never re-match.

    Application replays merges in RANK ORDER (one fold per merge),
    which equals the UDF's lowest-rank-greedy decode: a merge's
    constituents always carry LOWER ranks (they must exist before the
    pair can be counted), so by the time rank r applies, every
    lower-rank merge inside the word is already complete.

    The oracle assumes the sample yields the full ``n_merges`` merges
    (true for the fixture corpora; the trainer breaks early only when
    a tiny sample runs out of pairs)."""
    M = "1000000007"  # unused numerically; kept naming parity with xe family
    step = (
        "(acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.a "
        "AND x[1] = m.b "
        "THEN list_append(acc[1:len(acc)-1], m.a || m.b) "
        "ELSE list_concat(acc, x) END"
    )

    def fold(sym_expr: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
            f"list_transform({sym_expr}, s -> [s])), {step})"
        )

    ctes = [
        f"""w0 AS (SELECT unnest(list_filter(string_split(text, ' '),
                                     x -> len(x) > 0)) AS w
            FROM documents WHERE doc_id < {sample_docs})""",
        """v0 AS MATERIALIZED (SELECT string_split(w, '') AS sym, count(*) AS n
            FROM w0 GROUP BY 1)""",
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (SELECT sym[j] AS a, sym[j + 1] AS b, sum(n) AS c
            FROM v{i - 1}, unnest(range(1, len(sym))) t(j)
            GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""b{i} AS MATERIALIZED (SELECT a, b FROM p{i}
            ORDER BY c DESC, a DESC, b DESC LIMIT 1)"""
        )
        ctes.append(
            f"""v{i} AS MATERIALIZED (SELECT sym2 AS sym, sum(n) AS n FROM (
                SELECT {fold("v.sym")} AS sym2, v.n
                FROM v{i - 1} v CROSS JOIN b{i} m)
            GROUP BY 1)"""
        )
    ctes.append(
        """s0 AS MATERIALIZED (SELECT doc_id,
                   list_transform(list_filter(string_split(text, ' '),
                                              x -> len(x) > 0),
                                  w -> string_split(w, '')) AS syms
            FROM documents WHERE doc_id % 11 = 0)"""
    )
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""s{i} AS MATERIALIZED (SELECT doc_id,
                   list_transform(syms, sym -> {fold("sym")}) AS syms
            FROM s{i - 1} CROSS JOIN b{i} m)"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    toks AS (SELECT doc_id, flatten(syms) AS toks FROM s{n_merges})
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(d.text) AS BIGINT) AS n_chars_c,
           CAST(len(t.toks) AS BIGINT) AS bpe_tokens,
           round(len(t.toks) / CAST(len(string_split(d.text, ' '))
                                    AS DOUBLE), 4) AS toks_per_word,
           array_to_string(t.toks[1:8], '|') AS head_toks
    FROM toks t JOIN documents d USING (doc_id)
    ORDER BY d.doc_id
    """


@register("q_bpe_tokenize", sql=_bpe_xe_sql())
def q_bpe_tokenize(spark, sf_dir):
    """Real (mini) BPE tokenization: merges trained once on a bounded
    document sample driver-side (training is inherently sequential —
    the production shape is train-on-sample, apply-distributed), then
    frozen and applied corpus-wide via an Arrow pandas UDF
    (operators/text.py::bpe_train/bpe_tokenize_udf).  Output compares
    BPE token counts against whitespace and char counts per doc;
    round-trip losslessness, merge-order correctness, and determinism
    are pinned in tests.  Graduated from rows-only to hash-exact in r6:
    the oracle replays TRAINING AND APPLICATION (see _bpe_xe_sql)."""
    from shadems_spark.operators.text import bpe_tokenize_udf, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=50, sample_docs=100)
    tok = bpe_tokenize_udf(merges)
    out = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.length("text").cast("long").alias("n_chars_c"),
        tok(F.col("text")).alias("toks"),
    )
    return out.select(
        "doc_id",
        "ws_tokens",
        "n_chars_c",
        F.size("toks").cast("long").alias("bpe_tokens"),
        F.round(F.size("toks") / F.col("ws_tokens"), 4).alias("toks_per_word"),
        # stringified so the driver's pandas canonicalizer can lexsort the
        # result (an array<string> column crashed it in r4 — VERDICT r4 #1);
        # the array form stays pinned in tests/test_llm_ops.py.
        F.concat_ws("|", F.slice("toks", 1, 8)).alias("head_toks"),
    ).orderBy("doc_id")


@register(
    "q_hard_negatives",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
          FROM e WHERE vec_id % 25 = 0),
    scored AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id AS neg_id,
             e.label AS neg_label,
             round(list_sum(list_transform(list_zip(a.av, e.v), z -> z[1]*z[2]))
                   / (sqrt(list_sum(list_transform(a.av, t -> t*t)))
                      * sqrt(list_sum(list_transform(e.v, t -> t*t)))), 6) AS cos
      FROM e CROSS JOIN a WHERE e.label != a.anchor_label),
    r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cos DESC, neg_id) rk
          FROM scored)
    SELECT anchor_id, anchor_label, neg_id, neg_label, cos
    FROM r WHERE rk <= 3 ORDER BY anchor_id, cos DESC, neg_id
    """,
)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per anchor, the
    top-3 most-similar embeddings with a DIFFERENT label — the
    near-miss negatives that carry the gradient signal.  Same
    broadcast-anchors / one-corpus-scan / per-anchor-window shape as
    brute cosine top-k; the label-mismatch predicate rides the join so
    pruned rows never reach scoring.  At 100 TB swap the exact scan
    for the ANN candidate generators (LSH/IVF) and keep this exact
    form as the verify-on-candidates step."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        SIM.as_double("embedding").alias("av"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        SIM.as_double("embedding").alias("cv"),
    )
    from pyspark.sql import Window

    scored = (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .withColumn(
            "cos", F.round(SIM.cosine(F.col("av"), F.col("cv")), 6)
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "cos")
        .orderBy("anchor_id", F.col("cos").desc(), "neg_id")
    )


def _qc_weights(dim: int = _FH_DIM) -> list[float]:
    """Deterministic stand-in weights in [-1, 1] (Knuth multiplicative
    hash of the bucket index).  A real pipeline drops trained weights
    in here; everything downstream (broadcast application, scoring,
    thresholding) is identical."""
    return [
        ((b * 2654435761) % 4294967296 % 2001 - 1000) / 1000.0
        for b in range(dim)
    ]


def _qc_oracle() -> str:
    ws = _qc_weights()
    zmilli = " + ".join(
        f"({int(round(w * 1000))}) * CAST(len(list_filter(bs, x -> x = {b})) AS BIGINT)"
        for b, w in enumerate(ws)
    )
    return f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
               FROM documents WHERE doc_id % 6 = 0),
    b AS (SELECT doc_id, len(ws) AS nw,
                 list_transform(ws, w ->
                     list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(w, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % {_FH_DIM}) AS bs
          FROM w),
    z AS (SELECT doc_id, nw,
                 CAST(100 + {zmilli} AS BIGINT) AS z_milli
          FROM b),
    s AS (SELECT doc_id, nw, z_milli,
                 z_milli / (1000.0 * (1 + nw)) AS zr
          FROM z)
    SELECT doc_id,
           z_milli,
           round(1.0 / (1.0 + exp(-zr)), 6) AS score,
           CAST(round(1.0 / (1.0 + exp(-zr)), 6) >= 0.5 AS INT) AS keep
    FROM s ORDER BY doc_id
    """


@register("q_quality_classifier", sql=_qc_oracle())
def q_quality_classifier(spark, sf_dir):
    """Model-based quality filtering, the apply side: hashed
    bag-of-words features (the q_feature_hash projection) scored by a
    fixed linear model + sigmoid — the fasttext-style quality-
    classifier pass every production corpus runs, minus the training
    (weights are deterministic stand-ins; swap in trained ones).  One
    stateless scan: features, dot product, and threshold are all JVM
    Column expressions; the weight vector is plan literals (a real
    model would broadcast).  exp() is libm — rounded 6dp on both
    engines per the harness convention."""
    from functools import reduce

    from shadems_spark.operators.text import FP_MOD, words

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    ws = F.filter(words("text"), lambda w: F.length(w) > 0)
    word_hash = lambda w: (
        F.aggregate(
            F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
            F.lit(0).cast("long"),
            lambda a, c: (a * F.lit(31) + c) % F.lit(FP_MOD),
        )
        % F.lit(_FH_DIM)
    )
    buckets = F.transform(ws, word_hash)
    weights = _qc_weights()

    def bucket_count(b):
        # one-param lambda only: PySpark treats two-param HOF lambdas
        # (even with a default) as the (element, index) form.
        return F.size(F.filter(buckets, lambda x: x == F.lit(b)))

    # exact milli-scaled integer dot product (weights are x/1000
    # rationals): no float round() boundary can split the engines on
    # z; only the libm sigmoid needs the 6dp rounding convention.
    terms = [
        F.lit(int(round(w * 1000))) * bucket_count(b).cast("long")
        for b, w in enumerate(weights)
    ]
    z_milli = reduce(lambda a, c: a + c, terms, F.lit(100).cast("long"))
    zr = z_milli / (F.lit(1000.0) * (F.lit(1) + F.size(ws)))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-zr))
    return docs.select(
        "doc_id",
        z_milli.cast("long").alias("z_milli"),
        F.round(score, 6).alias("score"),
        (F.round(score, 6) >= 0.5).cast("int").alias("keep"),
    ).orderBy("doc_id")


#: per-(label, sub-bucket) node cap for the graph-METRIC queries
#: (modularity / assortativity / triangles): far above every fixture
#: block (max 21 at sf0.01, 66 at sf0.1 — the graph is EXACT at every
#: oracle/bench scale), it bounds worst-case pairs per block at
#: cap²/2 on a pathological label-shared corpus; beyond the cap the
#: metrics are uniform-per-block subsample estimators (VERDICT r6 #6).
_NODE_CAP = 128

#: the shared capped-node CTE trio (e / h0 / h): embeddings decoded to
#: double vectors, hyperplane-bucketed (the {hp} placeholder), then
#: degree-capped per (label, hp) block by the XE_CAP affine-hash rank
#: (deterministic uniform subsample, ties by id).  ONE definition so
#: q_triangles and the _EDGE_CTE family (q_modularity /
#: q_assortativity) provably cap the SAME graph.
_CAPPED_NODES_CTE = f"""
    e AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) v
          FROM embeddings),
    h0 AS (SELECT vec_id, label, v,
                 {{hp}} AS hp
          FROM e),
    h AS (SELECT vec_id, label, v, hp FROM (
            SELECT h0.*, row_number() OVER (
                PARTITION BY label, hp
                ORDER BY {SIM.xe_affine_sql("vec_id", SIM.XE_CAP_A,
                                          SIM.XE_CAP_B)}, vec_id) AS rn
            FROM h0)
          WHERE rn <= {_NODE_CAP})"""

@register(
    "q_triangles",
    sql=("""
    WITH """ + _CAPPED_NODES_CTE + """,
    p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM h a JOIN h b
            ON a.label = b.label AND a.hp = b.hp AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4)
                >= 0.2)
    SELECT (SELECT count(*) FROM p) AS n_edges,
           (SELECT count(DISTINCT id) FROM
              (SELECT id1 AS id FROM p UNION SELECT id2 FROM p)) AS n_nodes,
           (SELECT count(*) FROM p e1
              JOIN p e2 ON e2.id1 = e1.id1 AND e2.id2 > e1.id2
              JOIN p e3 ON e3.id1 = e1.id2 AND e3.id2 = e2.id2) AS n_triangles
    """).format(hp=SIM.hyperplane_bucket_sql("v", 2, 64)),
)
def q_triangles(spark, sf_dir):
    """Triangle census over the embedding near-dup graph — triadic
    closure of duplicate relations (a dup-cluster sanity metric: a
    high triangle/edge ratio means near-dup sets are coherent, not
    chains of borderline pairs).  The classic distributed triangle
    count: orient every edge low-id -> high-id, then one two-hop
    self-join closes wedges — candidate wedges are bounded by the
    bucketed edge generator, never the corpus.  Reuses
    embedding_near_dup's (label x hyperplane-bucket) edges, so the
    oracle replays the identical plane literals."""
    edges = (
        SIM.embedding_near_dup(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.2,
            sub_planes=2,
            node_cap=_NODE_CAP,
        )
        .select("id1", "id2")
    )
    edges = D.tracked_persist(edges, key="triangle_edges")
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e2.id1") == F.col("e1.id1")) & (F.col("e2.id2") > F.col("e1.id2")),
    )
    tri = wedges.join(
        e3,
        (F.col("e3.id1") == F.col("e1.id2")) & (F.col("e3.id2") == F.col("e2.id2")),
    )
    n_edges = edges.count()
    n_nodes = (
        edges.select(F.col("id1").alias("id"))
        .union(edges.select(F.col("id2").alias("id")))
        .distinct()
        .count()
    )
    n_tri = tri.count()
    D.release_persist("triangle_edges")
    return spark.range(1).select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_tri).cast("long").alias("n_triangles"),
    )


@register(
    "q_components_star",
    sql="""
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                       for i in range(len(ws) - 2)])) AS ng
          FROM w),
    s AS (SELECT doc_id, count(*) sz FROM g GROUP BY doc_id),
    inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) c
              FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    p AS (SELECT id1, id2 FROM inter
          JOIN s sa ON id1 = sa.doc_id
          JOIN s sb ON id2 = sb.doc_id
          WHERE c / (sa.sz + sb.sz - c) >= 0.2),
    edges AS (SELECT id1 a, id2 b FROM p UNION SELECT id2, id1 FROM p),
    walk(v, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, wk.lbl FROM edges e JOIN walk wk ON wk.v = e.b
    )
    SELECT v AS node, min(lbl) AS component FROM walk GROUP BY v
    ORDER BY node
    """,
)
def q_components_star(spark, sf_dir):
    """Connected components of the dup-pair graph by the published
    large-star/small-star algorithm (Kiveris et al. 2014;
    operators/graph.py::connected_components_star) — the O(log^2 n)-
    round scale path beside q_dedup_clusters' min-label propagation.
    Same dup graph, same min-id semantics, SAME recursive-CTE oracle:
    two independent distributed algorithms hash-matching one ground
    truth."""
    docs = load_table(spark, sf_dir, "documents")
    from shadems_spark.operators.graph import connected_components_star

    pairs = D.minhash_dedup(docs, threshold=0.2).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    out = connected_components_star(pairs)
    D.release_persist("minhash_grams")
    return out


@register(
    "q_kcore",
    sql=f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) v
          FROM embeddings),
    h AS (SELECT vec_id, label, v,
                 {SIM.hyperplane_bucket_sql("v", 2, 64)} AS hp
          FROM e),
    p AS (SELECT a.vec_id AS pu, b.vec_id AS pv
          FROM h a JOIN h b ON a.label = b.label AND a.hp = b.hp
                           AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(list_zip(a.v, b.v),
                                              z -> z[1] * z[2]))
                      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4)
                >= 0.2),
    peel(iter, u, v) AS (
        SELECT 0, pu, pv
        FROM (SELECT pu, pv FROM p UNION ALL SELECT -1, -1) seed
        UNION ALL
        SELECT iter + 1, u, v
        FROM (SELECT iter, u, v, count(*) OVER (PARTITION BY n) AS dn
              FROM (SELECT iter, u, v, unnest([u, v]) AS n FROM peel) x) d
        GROUP BY iter, u, v
        HAVING iter < 30 AND (u = -1 OR min(dn) >= 2)
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT unnest([u, v]) AS node FROM peel
          WHERE iter = (SELECT max(iter) FROM peel) AND u <> -1) s
    GROUP BY node HAVING count(*) >= 2 ORDER BY node
    """,
)
def q_kcore(spark, sf_dir):
    """2-core of the embedding near-dup graph
    (operators/graph.py::kcore): densely-duplicated neighborhoods
    survive, chains of borderline pairs peel away — the graph-level
    complement to q_triangles' coherence metric.  Brute-force peel
    parity is pinned in tests/test_graph.py.

    Graduated from rows-only to an exact SQL oracle in r5 (VERDICT r4
    #5): the fixed-point peel is a DuckDB recursive CTE — per round,
    unnest each edge into its two endpoints, window-count degrees,
    keep edges whose min endpoint degree >= k (same per-round deletion
    rule as the Spark peel, so the trajectories are identical, not
    just the fixpoint).  A sentinel (-1,-1) edge keeps the recursion
    alive to the shared 30-iteration cap so a core that empties at
    round j doesn't leave round j-1 as the stale "last non-empty"
    answer; the final projection takes the capped iteration minus the
    sentinel."""
    from shadems_spark.operators.graph import kcore

    edges = SIM.embedding_near_dup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.2, sub_planes=2
    ).select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    return kcore(edges, k=2)


_ANN_RECALL_SQL = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    scored AS (SELECT q.q_id, e.vec_id AS cand_id,
                      {_COS6.format(a="q.qv", b="e.v")} AS cos
               FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    brute AS (SELECT q_id, cand_id FROM (
                SELECT q_id, cand_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY cos DESC, cand_id) rk
                FROM scored) WHERE rk <= 5),
    tabs AS ({_ANN_TABS}),
    cand AS (SELECT DISTINCT tq.vec_id AS q_id, tc.vec_id AS cand_id
             FROM tabs tq JOIN tabs tc ON tq.tbl = tc.tbl AND tq.b = tc.b
             WHERE tq.vec_id IN (0, 1, 2) AND tc.vec_id != tq.vec_id),
    ls AS (SELECT c.q_id, c.cand_id,
                  {_COS6.format(a="eq.v", b="ec.v")} AS cos
           FROM cand c JOIN e eq ON eq.vec_id = c.q_id
                       JOIN e ec ON ec.vec_id = c.cand_id),
    lsh AS (SELECT q_id, cand_id FROM (
              SELECT q_id, cand_id,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos DESC, cand_id) rk
              FROM ls) WHERE rk <= 5),
    hits AS (SELECT b.q_id, count(*) AS n_hits
             FROM brute b JOIN lsh l ON l.q_id = b.q_id AND l.cand_id = b.cand_id
             GROUP BY b.q_id)
    SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 5.0, 2) AS recall_at_5
    FROM q LEFT JOIN hits h ON h.q_id = q.q_id
    ORDER BY q.q_id
"""


@register("q_ann_recall", sql=_ANN_RECALL_SQL)
def q_ann_recall(spark, sf_dir):
    """ANN quality as a first-class query: recall@5 of the multi-table
    hyperplane LSH path (operators/similarity.py::lsh_topk, 6 tables x
    4 planes) against exact brute-force cosine top-5, per query — the
    measurement loop every production ANN deployment runs before
    trusting its index.  Previously this lived only as a pytest pin;
    the oracle replays BOTH sides exactly (hyperplane_bucket_sql emits
    the same SplitMix64 plane literals per table seed), so the recall
    numbers hash-match — graduating the ANN family from rows-only to
    an exactly-checked row."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2))
    brute = SIM.brute_topk(emb, queries, k=5).select("q_id", "cand_id")
    lsh = SIM.lsh_topk(emb, queries, k=5).select("q_id", "cand_id")
    hits = (
        brute.join(lsh, ["q_id", "cand_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = queries.select(F.col("vec_id").alias("q_id"))
    return (
        qs.join(hits, "q_id", "left")
        .fillna(0, subset=["n_hits"])
        .select(
            "q_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / F.lit(5.0), 2).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


_KM_D2 = (
    "round(list_sum(list_transform(list_zip(e.v, c.carr),"
    " z -> (z[1] - z[2]) * (z[1] - z[2]))), 6)"
)


def _km_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: assignment vs the c{i-1} centroid
    table, exact micro-int (cell, pos) sums, floored means, empty
    cells inheriting the previous centroid."""
    p, n = i - 1, i
    return f"""
    c{p}arr AS (SELECT cell, list(cm / 1000000.0 ORDER BY pos) AS carr
                FROM c{p} GROUP BY cell),
    d{n} AS (SELECT e.vec_id, c.cell, {_KM_D2} AS d2
             FROM e CROSS JOIN c{p}arr c),
    a{n} AS (SELECT vec_id, cell FROM (
               SELECT vec_id, cell,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cell) rn
               FROM d{n}) WHERE rn = 1),
    s{n} AS (SELECT a.cell, ev.pos, CAST(sum(ev.xm) AS BIGINT) AS s,
                    count(*) AS n
             FROM a{n} a JOIN ev ON ev.vec_id = a.vec_id
             GROUP BY 1, 2),
    c{n} AS (SELECT p.cell, p.pos,
                    coalesce(CAST(floor(s.s * 1.0 / s.n) AS BIGINT), p.cm) AS cm
             FROM c{p} p LEFT JOIN s{n} s USING (cell, pos))"""


_KMEANS_SQL = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    em AS (SELECT vec_id,
                  list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) vm
           FROM e),
    init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vm
             FROM em WHERE vec_id < 8),
    c0 AS (SELECT cell, generate_subscripts(vm, 1) AS pos, unnest(vm) AS cm
           FROM init),
    ev AS (SELECT vec_id, generate_subscripts(vm, 1) AS pos, unnest(vm) AS xm
           FROM em),
    {_km_iter_sql(1)},
    {_km_iter_sql(2)}
    SELECT c2.cell, CAST(c2.pos AS INT) AS pos, c2.cm AS c_micro,
           CAST(coalesce(n2.n, 0) AS BIGINT) AS n_members
    FROM c2 LEFT JOIN (SELECT cell, count(*) AS n FROM a2 GROUP BY cell) n2
      USING (cell)
    ORDER BY cell, pos
"""


@register("q_kmeans", sql=_KMEANS_SQL)
def q_kmeans(spark, sf_dir):
    """Distributed k-means, 2 Lloyd iterations over the embeddings
    (operators/similarity.py::kmeans_lloyd) — the iterative clustering
    primitive SemDeDup-scale curation trains its cluster structure
    with.  Per iteration: assignment is a pure projection (centroid
    codebook as plan literals, argmin via one array_sort — the
    ivf_assign shape) and the update is ONE map-side-combined
    (cell, dim) integer aggregate; no data row ever reaches the
    driver.  The micro-int exactness protocol makes the trained
    codebook hash-match the unrolled two-iteration DuckDB oracle —
    like q_lr_train, an iterative-ML query with an EXACT correctness
    row, not a rows-only waiver.  Output: k x d centroid components
    (micro-scaled) + final cluster sizes."""
    from shadems_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    cents, sizes = kmeans_lloyd(emb, k=8, iters=2)
    rows = []
    for cell, (cm, n) in enumerate(zip(cents, sizes)):
        for pos0, c in enumerate(cm):
            rows.append(f"({cell}, {pos0 + 1}, {int(c)}L, {int(n)}L)")
    out = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(rows)
        + " AS t(cell, pos, c_micro, n_members)"
    )
    return out.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("pos").cast("int").alias("pos"),
        "c_micro",
        "n_members",
    ).orderBy("cell", "pos")


def _score_cte() -> str:
    """Shared WITH-prefix computing per-doc (y, score) for the quality
    classifier — reused by the calibration and isotonic oracles."""
    ws = _qc_weights()
    zmilli = " + ".join(
        f"({int(round(w * 1000))}) * CAST(len(list_filter(bs, x -> x = {b})) AS BIGINT)"
        for b, w in enumerate(ws)
    )
    return f"""
    WITH w AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
               FROM documents),
    b AS (SELECT doc_id, lang, len(ws) AS nw,
                 list_transform(ws, w ->
                     list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(w, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % {_FH_DIM}) AS bs
          FROM w),
    s AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 round(1.0 / (1.0 + exp(-((100 + {zmilli})
                                          / (1000.0 * (1 + nw))))), 6) AS score
          FROM b)"""


def _calib_oracle() -> str:
    return _score_cte() + """,
    g AS (SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
                 count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
                 round(avg(score), 6) AS mean_score
          FROM s GROUP BY 1)
    SELECT bin, CAST(n AS BIGINT) AS n, n_pos,
           mean_score,
           round(n_pos / CAST(n AS DOUBLE), 6) AS frac_pos,
           round(abs(mean_score - n_pos / CAST(n AS DOUBLE)), 6) AS gap
    FROM g ORDER BY bin
    """


@register("q_calibration", sql=_calib_oracle())
def q_calibration(spark, sf_dir):
    """Reliability diagram for the quality classifier: decile bins of
    the 6dp-rounded sigmoid score vs the empirical positive rate
    (label = lang=='en') — the calibration audit run before trusting
    a classifier's scores as KEEP probabilities; sum(gap * n)/N over
    these rows IS the expected calibration error (asserted in tests).
    Bin assignment uses the ROUNDED score, so binning is
    engine-deterministic; per-bin means follow the avg-then-round
    convention.  One stateless scoring scan + a 10-row aggregate."""
    from functools import reduce

    from shadems_spark.operators.text import FP_MOD, words

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(words("text"), lambda w: F.length(w) > 0)
    word_hash = lambda w: (
        F.aggregate(
            F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
            F.lit(0).cast("long"),
            lambda a, c: (a * F.lit(31) + c) % F.lit(FP_MOD),
        )
        % F.lit(_FH_DIM)
    )
    buckets = F.transform(ws, word_hash)
    weights = _qc_weights()

    def bucket_count(b):
        return F.size(F.filter(buckets, lambda x: x == F.lit(b)))

    terms = [
        F.lit(int(round(w * 1000))) * bucket_count(b).cast("long")
        for b, w in enumerate(weights)
    ]
    z_milli = reduce(lambda a, c: a + c, terms, F.lit(100).cast("long"))
    zr = z_milli / (F.lit(1000.0) * (F.lit(1) + F.size(ws)))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zr)), 6)
    s = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        score.alias("score"),
    )
    g = (
        s.withColumn(
            "bin",
            F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.round(F.avg("score"), 6).alias("mean_score"),
        )
    )
    return g.select(
        "bin", F.col("n").cast("long").alias("n"), "n_pos", "mean_score",
        F.round(F.col("n_pos") / F.col("n").cast("double"), 6).alias("frac_pos"),
        F.round(
            F.abs(
                F.col("mean_score") - F.col("n_pos") / F.col("n").cast("double")
            ),
            6,
        ).alias("gap"),
    ).orderBy("bin")


def _auc_oracle() -> str:
    ws = _qc_weights()
    zmilli = " + ".join(
        f"({int(round(w * 1000))}) * CAST(len(list_filter(bs, x -> x = {b})) AS BIGINT)"
        for b, w in enumerate(ws)
    )
    return f"""
    WITH w AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
               FROM documents),
    b AS (SELECT doc_id, lang, len(ws) AS nw,
                 list_transform(ws, w ->
                     list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(w, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % {_FH_DIM}) AS bs
          FROM w),
    s AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 round(1.0 / (1.0 + exp(-((100 + {zmilli})
                                          / (1000.0 * (1 + nw))))), 6) AS score
          FROM b),
    r AS (SELECT y, avg(rn) OVER (PARTITION BY score) AS arank
          FROM (SELECT y, score, row_number() OVER (ORDER BY score) AS rn
                FROM s)),
    agg AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
                   sum(CASE WHEN y = 1 THEN arank ELSE 0 END) AS rank_pos
            FROM r)
    SELECT n_pos, n_neg,
           round((rank_pos - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc
    FROM agg
    """


@register("q_auc", sql=_auc_oracle())
def q_auc(spark, sf_dir):
    """Exact ROC-AUC for the quality classifier via the Mann-Whitney
    rank-sum identity AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg)
    with midrank tie correction — ties are real here because scores
    are 6dp-rounded, and midranks on the ROUNDED score are what make
    the statistic engine-deterministic.  Rank assignment rides the
    two-phase range-partitioned numbering (operators/profile.
    global_index) — no single-partition window over the scored table
    at any cardinality; the remaining per-score window partitions on
    the 6dp score (<= 1e6 distinct keys by construction).  Single-row
    output."""
    from functools import reduce

    from shadems_spark.operators.text import FP_MOD, words

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(words("text"), lambda w: F.length(w) > 0)
    word_hash = lambda w: (
        F.aggregate(
            F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
            F.lit(0).cast("long"),
            lambda a, c: (a * F.lit(31) + c) % F.lit(FP_MOD),
        )
        % F.lit(_FH_DIM)
    )
    buckets = F.transform(ws, word_hash)
    weights = _qc_weights()

    def bucket_count(b):
        return F.size(F.filter(buckets, lambda x: x == F.lit(b)))

    terms = [
        F.lit(int(round(w * 1000))) * bucket_count(b).cast("long")
        for b, w in enumerate(weights)
    ]
    z_milli = reduce(lambda a, c: a + c, terms, F.lit(100).cast("long"))
    zr = z_milli / (F.lit(1000.0) * (F.lit(1) + F.size(ws)))
    s = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zr)), 6).alias("score"),
    )
    from pyspark.sql import Window as W

    from shadems_spark.operators.profile import global_index

    # midrank needs ties broken ONLY for numbering; average over the
    # score partition restores the tie-corrected rank, so ANY
    # consistent numbering in score order works — including the
    # two-phase range-partitioned one, where a score group always
    # occupies a contiguous rank block (score is the primary range
    # key).  No single-partition window over the scored table.  The
    # scored table is persisted because the range exchange's SAMPLING
    # pass re-executes its child (and an interposed repartition is
    # removed as redundant by EnsureRequirements) — without the cache
    # the per-doc scoring HOF, the dominant cost, runs ~2.5x (the r5
    # HOF-reuse trap, shuffle-boundary edition; measured 8.6s vs 4.1s
    # at sf0.1).  Cached rows are 2 narrow columns.
    from shadems_spark.operators.dedup import tracked_persist

    r = global_index(
        tracked_persist(s, key="auc_scored"), ["score", "y"], out="rn"
    ).withColumn("arank", F.avg("rn").over(W.partitionBy("score")))
    agg = r.agg(
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
        F.sum(F.when(F.col("y") == 1, F.col("arank")).otherwise(0.0)).alias(
            "rank_pos"
        ),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.round(
            (F.col("rank_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg").cast("double")),
            6,
        ).alias("auc"),
    )


#: oracle of curation.q_naive_bayes, shared with the NB metrics below.  It
#: lives here because a query module imports only from modules before it
#: in ``_MODULES``, which keeps the registry in module order.
_NB_SQL = """
    WITH base AS (SELECT doc_id, lang,
                         list_filter(string_split(text, ' '),
                                     x -> len(x) > 0) AS ws
                  FROM documents),
    trt AS (SELECT lang, unnest(ws) AS u FROM base WHERE doc_id % 5 <> 0),
    wc AS (SELECT lang, u, count(*) AS n FROM trt GROUP BY ALL),
    tk AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tok FROM wc GROUP BY 1),
    v AS (SELECT count(DISTINCT u) AS V FROM wc),
    ll AS (SELECT wc.lang, wc.u,
                  CAST(round(ln((wc.n + 1) / CAST(tk.tok + v.V AS DOUBLE))
                             * 1000000000.0) AS BIGINT) AS ll_nano
           FROM wc JOIN tk USING (lang), v),
    un AS (SELECT tk.lang,
                  CAST(round(ln(1.0 / (tk.tok + v.V)) * 1000000000.0)
                       AS BIGINT) AS un_nano
           FROM tk, v),
    nd AS (SELECT lang, count(*) AS ndc FROM base
           WHERE doc_id % 5 <> 0 GROUP BY 1),
    ntot AS (SELECT CAST(sum(ndc) AS BIGINT) AS ntd FROM nd),
    pri AS (SELECT lang,
                   CAST(round(ln(ndc / CAST(ntd AS DOUBLE)) * 1000000000.0)
                        AS BIGINT) AS prior_nano
            FROM nd, ntot),
    tc AS (SELECT doc_id, actual, u, count(*) AS c
           FROM (SELECT doc_id, lang AS actual, unnest(ws) AS u
                 FROM base WHERE doc_id % 5 = 0)
           GROUP BY ALL),
    sc0 AS (SELECT tc.doc_id, tc.actual, pri.lang AS cand, pri.prior_nano,
                   CAST(sum(tc.c * coalesce(ll.ll_nano, un.un_nano))
                        AS BIGINT) AS s
            FROM tc
            CROSS JOIN pri
            JOIN un ON un.lang = pri.lang
            LEFT JOIN ll ON ll.lang = pri.lang AND ll.u = tc.u
            GROUP BY 1, 2, 3, 4),
    sc AS (SELECT doc_id, actual, cand, prior_nano + s AS score_nano
           FROM sc0),
    rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score_nano DESC, cand) AS rn
           FROM sc)
    SELECT doc_id, actual, cand AS pred, score_nano,
           CAST(CASE WHEN cand = actual THEN 1 ELSE 0 END AS INT) AS correct
    FROM rk WHERE rn = 1 ORDER BY doc_id
"""

_NB_CORE = _NB_SQL.replace("ORDER BY doc_id", "")


@register(
    "q_confusion",
    sql=f"""
    WITH nb AS ({_NB_CORE}) SELECT actual, pred, count(*) AS n
    FROM nb GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_confusion(spark, sf_dir):
    """Confusion matrix of the held-out Naive Bayes language
    classifier (q_naive_bayes's exact predictions aggregated to
    (actual, pred) counts) — the standard eval surface over an
    exactly-reproducible ML apply pass.  Tiny aggregate over the NB
    output; exactness inherits from the nano-int NB protocol."""
    from shadems_spark.operators.curation import naive_bayes_lang

    docs = load_table(spark, sf_dir, "documents")
    nb = naive_bayes_lang(docs)
    return (
        nb.groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual", "pred")
    )


@register(
    "q_precision_recall",
    sql=f"""
    WITH nb AS ({_NB_CORE}),
    cm AS (SELECT actual, pred, count(*) AS n FROM nb GROUP BY 1, 2),
    cls AS (SELECT actual AS cls FROM cm UNION SELECT pred FROM cm),
    tp AS (SELECT cls, coalesce((SELECT sum(n) FROM cm
                                 WHERE actual = cls AND pred = cls), 0) AS tp,
                  coalesce((SELECT sum(n) FROM cm WHERE pred = cls), 0) AS pp,
                  coalesce((SELECT sum(n) FROM cm WHERE actual = cls), 0) AS ap
           FROM cls)
    SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(pp AS BIGINT) AS pred_pos,
           CAST(ap AS BIGINT) AS actual_pos,
           round(CASE WHEN pp = 0 THEN 0 ELSE tp / CAST(pp AS DOUBLE) END, 6)
               AS precision,
           round(CASE WHEN ap = 0 THEN 0 ELSE tp / CAST(ap AS DOUBLE) END, 6)
               AS recall,
           round(CASE WHEN tp = 0 THEN 0
                      ELSE 2.0 * tp / CAST(pp + ap AS DOUBLE) END, 6) AS f1
    FROM tp ORDER BY cls
    """,
)
def q_precision_recall(spark, sf_dir):
    """Per-class precision / recall / F1 from the held-out NB
    confusion counts — completing the eval family (calibration, AUC,
    confusion, P/R/F1) over an exactly-reproducible classifier.
    F1 computed as 2·tp/(pred_pos+actual_pos) — one division, no
    compounding of rounded P and R.  Class-count-sized arithmetic on
    top of one NB apply pass."""
    from shadems_spark.operators.curation import naive_bayes_lang

    docs = load_table(spark, sf_dir, "documents")
    cm = (
        naive_bayes_lang(docs)
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cls = cm.select(F.col("actual").alias("cls")).union(
        cm.select("pred")
    ).distinct()
    tp = cm.filter(F.col("actual") == F.col("pred")).select(
        F.col("actual").alias("cls"), F.col("n").alias("tp")
    )
    pp = cm.groupBy(F.col("pred").alias("cls")).agg(F.sum("n").alias("pp"))
    ap = cm.groupBy(F.col("actual").alias("cls")).agg(F.sum("n").alias("ap"))
    j = (
        cls.join(tp, "cls", "left")
        .join(pp, "cls", "left")
        .join(ap, "cls", "left")
        .fillna(0, ["tp", "pp", "ap"])
    )
    return j.select(
        "cls",
        F.col("tp").cast("long").alias("tp"),
        F.col("pp").cast("long").alias("pred_pos"),
        F.col("ap").cast("long").alias("actual_pos"),
        F.round(
            F.when(F.col("pp") == 0, 0.0).otherwise(
                F.col("tp") / F.col("pp").cast("double")
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(F.col("ap") == 0, 0.0).otherwise(
                F.col("tp") / F.col("ap").cast("double")
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.col("tp") == 0, 0.0).otherwise(
                F.lit(2.0) * F.col("tp")
                / (F.col("pp") + F.col("ap")).cast("double")
            ),
            6,
        ).alias("f1"),
    ).orderBy("cls")


#: nano-scaled 1/log2(rank+1) gain constants for ranks 1..5, and the
#: ideal-DCG prefix sums for 0..5 relevant hits — with binary
#: relevance, NDCG@5 is PURE INTEGER arithmetic on these.
_DCG_C = [1000000000, 630929754, 500000000, 430676558, 386852807]
_IDCG = [0, 1000000000, 1630929754, 2130929754, 2561606312, 2948459119]


@register(
    "q_ndcg",
    sql=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id % 25 = 0),
    scored AS (
        SELECT q.q_id, q.q_label, e.label AS c_label,
               round(list_sum(list_transform(list_zip(q.qv, e.v),
                                             z -> z[1] * z[2]))
                     / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                        * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6)
                   AS cos,
               e.vec_id AS cand_id
        FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    top AS (SELECT q_id, q_label, c_label,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, cand_id)
                        AS INT) AS rank
            FROM scored QUALIFY rank <= 5),
    g AS (SELECT q_id,
                 CAST(sum(CASE WHEN c_label = q_label THEN
                     CASE rank WHEN 1 THEN {_DCG_C[0]}
                               WHEN 2 THEN {_DCG_C[1]}
                               WHEN 3 THEN {_DCG_C[2]}
                               WHEN 4 THEN {_DCG_C[3]}
                               ELSE {_DCG_C[4]} END
                     ELSE 0 END) AS BIGINT) AS dcg_nano,
                 CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_rel
          FROM top GROUP BY 1)
    SELECT q_id, n_rel, dcg_nano,
           round(CASE WHEN n_rel = 0 THEN 0.0
                 ELSE dcg_nano / CAST(CASE n_rel
                     WHEN 1 THEN {_IDCG[1]} WHEN 2 THEN {_IDCG[2]}
                     WHEN 3 THEN {_IDCG[3]} WHEN 4 THEN {_IDCG[4]}
                     ELSE {_IDCG[5]} END AS DOUBLE) END, 6) AS ndcg
    FROM g ORDER BY q_id
    """,
)
def q_ndcg(spark, sf_dir):
    """NDCG@5 for brute cosine retrieval with binary label relevance
    (cand label == query label) — the ranking-quality half of the
    eval family beside q_ann_recall's set recall.  With 0/1 gains the
    position discounts 1/log2(rank+1) are CONSTANTS, so DCG is an
    exact integer dot product against _DCG_C and the ideal DCG a
    prefix-sum lookup by hit count: a float-free NDCG, identical on
    both engines.  One broadcast-query scan + per-query rank window
    (the q_cosine_topk plan) + a queries-sized aggregate."""
    from shadems_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    top = SIM.brute_topk(emb, queries, k=5)
    lbl = emb.select("vec_id", "label")
    j = (
        top.join(
            F.broadcast(
                lbl.select(F.col("vec_id").alias("q_id"),
                           F.col("label").alias("q_label"))
            ),
            "q_id",
        )
        .join(
            lbl.select(F.col("vec_id").alias("cand_id"),
                       F.col("label").alias("c_label")),
            "cand_id",
        )
    )
    gain = F.element_at(
        F.array(*[F.lit(c) for c in _DCG_C]), F.col("rank")
    )
    rel = (F.col("c_label") == F.col("q_label")).cast("int")
    g = j.groupBy("q_id").agg(
        F.sum(rel * gain).cast("long").alias("dcg_nano"),
        F.sum(rel).cast("long").alias("n_rel"),
    )
    idcg = F.element_at(
        F.array(*[F.lit(x) for x in _IDCG]), (F.col("n_rel") + 1).cast("int")
    )
    return g.select(
        "q_id", "n_rel", "dcg_nano",
        F.round(
            F.when(F.col("n_rel") == 0, 0.0).otherwise(
                F.col("dcg_nano") / idcg.cast("double")
            ),
            6,
        ).alias("ndcg"),
    ).orderBy("q_id")


@register(
    "q_mrr",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id % 25 = 0),
    scored AS (
        SELECT q.q_id, q.q_label, e.label AS c_label,
               round(list_sum(list_transform(list_zip(q.qv, e.v),
                                             z -> z[1] * z[2]))
                     / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                        * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6)
                   AS cos,
               e.vec_id AS cand_id
        FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    top AS (SELECT q_id, q_label, c_label,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, cand_id)
                        AS INT) AS rank
            FROM scored QUALIFY rank <= 10),
    fr AS (SELECT q_id, min(rank) AS first_rel
           FROM top WHERE c_label = q_label GROUP BY 1)
    SELECT q.q_id, coalesce(fr.first_rel, 0) AS first_rel,
           round(CASE WHEN fr.first_rel IS NULL THEN 0.0
                 ELSE 1.0 / fr.first_rel END, 6) AS rr
    FROM q LEFT JOIN fr USING (q_id) ORDER BY q_id
    """,
)
def q_mrr(spark, sf_dir):
    """Reciprocal rank at 10 per query (label relevance) — the third
    leg of the retrieval-eval family (q_ann_recall set recall,
    q_ndcg graded ranking, q_mrr first-hit): rr = 1/min rank of a
    same-label candidate in the brute top-10, 0 if none (first_rel=0
    marks the miss).  Rank and min are exact integers; 1/r is one
    division.  Same broadcast-scan plan as q_cosine_topk."""
    from shadems_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    top = SIM.brute_topk(emb, queries, k=10)
    lbl = emb.select("vec_id", "label")
    j = (
        top.join(
            F.broadcast(
                lbl.select(F.col("vec_id").alias("q_id"),
                           F.col("label").alias("q_label"))
            ),
            "q_id",
        )
        .join(
            lbl.select(F.col("vec_id").alias("cand_id"),
                       F.col("label").alias("c_label")),
            "cand_id",
        )
    )
    fr = (
        j.filter(F.col("c_label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.min("rank").alias("first_rel"))
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id")
    )
    return (
        qs.join(fr, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("first_rel"), F.lit(0)).cast("int").alias("first_rel"),
            F.round(
                F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                    F.lit(1.0) / F.col("first_rel")
                ),
                6,
            ).alias("rr"),
        )
        .orderBy("q_id")
    )


@register(
    "q_token_histogram",
    sql="""
    WITH t AS (SELECT CAST(ceil(length(text) / 4.0) AS BIGINT) AS toks
               FROM documents),
    b AS (SELECT CAST(floor(ln(toks) / ln(2)) AS INT) AS bucket FROM t)
    SELECT bucket,
           CAST(power(2, bucket) AS BIGINT) AS bucket_lo,
           CAST(power(2, bucket + 1) - 1 AS BIGINT) AS bucket_hi,
           count(*) AS n_docs
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q_token_histogram(spark, sf_dir):
    """Power-of-two token-length histogram — the context-packing
    planning view (which bucket dominates decides the seq_pack budget
    and padding waste).  Bucket = floor(log2(tokens)) computed as
    ln/ln(2) identically on both engines over exact integer token
    estimates; one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("toks")
    )
    b = t.select(
        F.floor(F.log("toks") / F.log(F.lit(2.0))).cast("int").alias("bucket")
    )
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias("bucket_lo"),
            (F.pow(F.lit(2.0), F.col("bucket") + 1) - 1)
            .cast("long").alias("bucket_hi"),
            "n_docs",
        )
        .orderBy("bucket")
    )


@register(
    "q_ppjoin",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS raw FROM documents),
    s AS (SELECT doc_id,
                 list_distinct([raw[i+1] || ' ' || raw[i+2] || ' ' || raw[i+3]
                                for i in range(len(raw) - 2)]) AS ws
          FROM w),
    tok AS (SELECT doc_id, unnest(ws) AS g FROM s),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM tok a JOIN tok b USING (g) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(ws) AS n FROM s)
    SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
           CAST(na.n + nb.n - inter AS BIGINT) AS un,
           round(inter / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
    FROM p JOIN sz na ON doc_a = na.doc_id JOIN sz nb ON doc_b = nb.doc_id
    WHERE 5 * inter >= 3 * (na.n + nb.n - inter)
    ORDER BY doc_a, doc_b
    """,
)
def q_ppjoin(spark, sf_dir):
    """EXACT set-similarity self-join at 3-gram-shingle-set Jaccard
    >= 0.6 via the AllPairs/PPJoin prefix filter
    (operators/dedup.py::prefix_filter_join) — the third candidate-
    generation strategy beside LSH banding (probabilistic recall) and
    SimHash blocks: exact answer, subquadratic work.  The ORACLE is
    the brute-force definition (all pairs sharing ANY shingle, exact
    Jaccard, threshold) — so the hash match doesn't just check
    arithmetic, it verifies the prefix-filter theorem itself: joining
    only each doc's (|s| - ceil(0.6|s|) + 1)-shingle rarest-first
    prefix loses no qualifying pair.  All thresholds compare as
    integer rationals (5·inter >= 3·union) — no float boundary.
    Same metric space as q_ngram_jaccard's all-pairs-sharing-a-gram
    plan: this is the subquadratic high-threshold route, that one
    the low-threshold (t=0.2 admits no useful prefix) verify."""
    return D.prefix_filter_join(
        load_table(spark, sf_dir, "documents"), t_num=3, t_den=5, ngram=3
    ).orderBy("doc_a", "doc_b")


@register(
    "q_link_predict",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    h AS (SELECT vec_id, label, v,
                 {hp} AS hp
          FROM e),
    p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM h a JOIN h b
            ON a.label = b.label AND a.hp = b.hp AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4)
                >= 0.2),
    sym AS (SELECT id1 AS u, id2 AS v FROM p
            UNION ALL SELECT id2, id1 FROM p),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY 1),
    cn AS (SELECT a.u AS u1, b.u AS u2, count(*) AS common
           FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
           GROUP BY 1, 2),
    nl AS (SELECT cn.u1, cn.u2, cn.common FROM cn
           LEFT JOIN p ON p.id1 = cn.u1 AND p.id2 = cn.u2
           WHERE p.id1 IS NULL)
    SELECT u1, u2, common, da.d AS deg1, db.d AS deg2,
           round(common / CAST(da.d + db.d - common AS DOUBLE), 6) AS jaccard
    FROM nl JOIN deg da ON da.u = nl.u1 JOIN deg db ON db.u = nl.u2
    ORDER BY common DESC, jaccard DESC, u1, u2 LIMIT 500
    """.format(hp=SIM.hyperplane_bucket_sql("v", 2, 64)),
)
def q_link_predict(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction over the embedding
    near-dup graph (Liben-Nowell & Kleinberg CIKM'03): pairs NOT yet
    joined by an edge, ranked by shared neighborhood — the
    missed-duplicate review queue a dedup pipeline feeds to human or
    model adjudication (two docs that share many near-dup neighbors
    but weren't bucketed together are likely dups the LSH missed).

    Shape: symmetric closure -> wedge self-join keyed on the CENTER
    node (the standard skew point: cap or sample super-nodes at 100
    TB), integer common counts, anti-join removes known edges,
    degree attach is a node-sized broadcastable join; jaccard =
    cn/(d1+d2-cn) is one division from integers, engine-exact at
    6dp.  Reuses embedding_near_dup's (label x hyperplane-bucket)
    edges so the oracle replays the identical plane literals (the
    q_triangles pattern)."""
    edges = (
        SIM.embedding_near_dup(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.2,
            sub_planes=2,
        )
        .select("id1", "id2")
    )
    edges = D.tracked_persist(edges, key="linkpred_edges")
    sym = edges.select(
        F.col("id1").alias("u"), F.col("id2").alias("v")
    ).unionAll(edges.select(F.col("id2").alias("u"), F.col("id1").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cn = (
        sym.alias("a")
        .join(sym.alias("b"), "v")
        .filter(F.col("a.u") < F.col("b.u"))
        .groupBy(F.col("a.u").alias("u1"), F.col("b.u").alias("u2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nl = cn.join(
        edges,
        (F.col("id1") == F.col("u1")) & (F.col("id2") == F.col("u2")),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("u1"), F.col("d").alias("deg1"))
    db = deg.select(F.col("u").alias("u2"), F.col("d").alias("deg2"))
    # persist stays live under its key; the next tracked_persist with
    # the same key (or release_persist in a pipeline) reclaims it —
    # the q_ngram_jaccard convention, so the result stays a lazy plan.
    # Top-500 cap: a review queue is bounded by reviewer capacity, not
    # graph size — the x10 probe measured 9.8k -> 4M uncapped rows
    # (wedge growth is quadratic inside buckets); the deterministic
    # total order makes the cap engine-exact, and Spark executes it
    # as TakeOrdered, never a full sort.
    return (
        nl.join(F.broadcast(da), "u1")
        .join(F.broadcast(db), "u2")
        .select(
            "u1", "u2", "common", "deg1", "deg2",
            F.round(
                F.col("common")
                / (F.col("deg1") + F.col("deg2") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("common").desc(), F.col("jaccard").desc(), "u1", "u2")
        .limit(500)
    )


def _qc_score_col():
    """Spark Column computing the quality-classifier sigmoid score of
    ``text`` — the expression q_quality_classifier/q_calibration score
    with; shared so reusers (isotonic) bin the identical 6dp value."""
    from functools import reduce

    from shadems_spark.operators.text import FP_MOD, words

    ws = F.filter(words("text"), lambda w: F.length(w) > 0)
    word_hash = lambda w: (
        F.aggregate(
            F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
            F.lit(0).cast("long"),
            lambda a, c: (a * F.lit(31) + c) % F.lit(FP_MOD),
        )
        % F.lit(_FH_DIM)
    )
    buckets = F.transform(ws, word_hash)
    weights = _qc_weights()
    terms = [
        F.lit(int(round(w * 1000)))
        * F.size(F.filter(buckets, lambda x: x == F.lit(b))).cast("long")
        for b, w in enumerate(weights)
    ]
    z_milli = reduce(lambda a, c: a + c, terms, F.lit(100).cast("long"))
    zr = z_milli / (F.lit(1000.0) * (F.lit(1) + F.size(ws)))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zr)), 6)


def _iso_oracle() -> str:
    return _score_cte() + """,
    g AS (SELECT CAST(least(floor(score * 50), 49) AS INT) AS bin,
                 count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
          FROM s GROUP BY 1),
    r AS (SELECT bin, n, pos,
                 row_number() OVER (ORDER BY bin) AS t,
                 sum(n) OVER (ORDER BY bin) AS cw,
                 sum(pos) OVER (ORDER BY bin) AS cp
          FROM g),
    mm AS (SELECT ti.t AS t, ri.t AS i,
                  min((rj.cp - (ri.cp - ri.pos))
                      / CAST(rj.cw - (ri.cw - ri.n) AS DOUBLE)) AS mn
           FROM r ti JOIN r ri ON ri.t <= ti.t
           JOIN r rj ON rj.t >= ti.t
           GROUP BY 1, 2),
    iso AS (SELECT t, max(mn) AS fit FROM mm GROUP BY 1)
    SELECT r.bin, CAST(r.n AS BIGINT) AS n, r.pos,
           round(r.pos / CAST(r.n AS DOUBLE), 6) AS frac_pos,
           round(iso.fit, 6) AS iso
    FROM r JOIN iso ON iso.t = r.t ORDER BY r.bin
    """


@register("q_isotonic", sql=_iso_oracle())
def q_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration of the quality classifier — the
    monotone score->probability map (Zadrozny-Elkan KDD'02) that
    turns raw sigmoid scores into honest KEEP probabilities, the
    step after q_calibration's reliability diagram shows deciles
    out of calibration.

    PAV is textbook-sequential (pool adjacent violators), but the
    fit has a closed MINIMAX form: fit_t = max_{i<=t} min_{j>=t}
    weightedAvg(y[i..j]) — and over 50 score bins with integer
    (count, positives) prefix sums every candidate average is the
    exact rational (cp_j - cp_{i-1})/(cw_j - cw_{i-1}), so the whole
    fit is a bounded triple self-join of a 50-row table (≤ 50^3/6
    combinations, CONSTANT in corpus size) with no iteration and no
    driver loop.  Scale: the only data-sized step is the one
    map-side-combined bin aggregate; the minimax runs on bin
    cardinality regardless of corpus — the same shape at 100 TB.
    Laws pinned: monotone fit, weighted-mean conservation
    (sum n*fit == sum pos, the PAV invariant), pure-python PAV
    parity."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        _qc_score_col().alias("score"),
    )
    g = (
        s.select(
            F.least(F.floor(F.col("score") * 50), F.lit(49))
            .cast("int").alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    from shadems_spark.operators.profile import triangle_cumsum, triangle_rank

    # bin index + prefix (count, positives) over the <= 50-bin table
    # via broadcast triangle joins — window-free (VERDICT r7 #5)
    r = triangle_cumsum(
        triangle_rank(g, ["bin"], out="t"),
        ["bin"],
        {"cw": "n", "cp": "pos"},
    )
    ti, ri, rj = r.alias("ti"), r.alias("ri"), r.alias("rj")
    mm = (
        ti.join(F.broadcast(ri), F.col("ri.t") <= F.col("ti.t"))
        .join(F.broadcast(rj), F.col("rj.t") >= F.col("ti.t"))
        .groupBy(F.col("ti.t").alias("t"), F.col("ri.t").alias("i"))
        .agg(
            F.min(
                (F.col("rj.cp") - (F.col("ri.cp") - F.col("ri.pos")))
                / (F.col("rj.cw") - (F.col("ri.cw") - F.col("ri.n")))
                .cast("double")
            ).alias("mn")
        )
    )
    iso = mm.groupBy("t").agg(F.max("mn").alias("fit"))
    return (
        r.join(F.broadcast(iso), "t")
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("pos") / F.col("n").cast("double"), 6)
            .alias("frac_pos"),
            F.round("fit", 6).alias("iso"),
        )
        .orderBy("bin")
    )


def _gains_oracle() -> str:
    return _score_cte() + """,
    g AS (SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
                 count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
          FROM s GROUP BY 1),
    r AS (SELECT bin, n, pos,
                 sum(n) OVER (ORDER BY bin DESC) AS cn,
                 sum(pos) OVER (ORDER BY bin DESC) AS cp
          FROM g),
    t AS (SELECT sum(n) AS nt, sum(pos) AS pt FROM g)
    SELECT bin, CAST(n AS BIGINT) AS n, pos,
           CAST(cn AS BIGINT) AS cum_n, CAST(cp AS BIGINT) AS cum_pos,
           round(cp / CAST(t.pt AS DOUBLE), 6) AS capture,
           round((cp / CAST(t.pt AS DOUBLE))
                 / (cn / CAST(t.nt AS DOUBLE)), 6) AS lift
    FROM r CROSS JOIN t ORDER BY bin DESC
    """


@register("q_gains", sql=_gains_oracle())
def q_gains(spark, sf_dir):
    """Cumulative gains / lift curve for the quality classifier:
    walking score deciles from the top, what fraction of all
    positives is captured (gains) and at what multiple of random
    (lift) — the targeting-efficiency readout that, with q_auc
    (ranking), q_calibration (probability honesty) and q_isotonic
    (the fix), completes the classifier-evaluation battery.

    Exactness: integer per-bin counts, descending-bin integer prefix
    sums, capture and lift one/two divisions — engine-exact at 6dp.
    Monotone laws pinned: capture nondecreasing top-down, lift
    nonincreasing toward 1.0 at full depth.  Scale: one 10-key
    map-side-combined aggregate after the stateless scoring scan;
    the cumsum runs on 10 rows."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        _qc_score_col().alias("score"),
    )
    g = (
        s.select(
            F.least(F.floor(F.col("score") * 10), F.lit(9))
            .cast("int").alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    from shadems_spark.operators.profile import triangle_cumsum

    # descending prefix sums over the 10-bin table via the broadcast
    # triangle join on the negated bin — window-free (VERDICT r7 #5)
    r = triangle_cumsum(
        g.withColumn("__negb", -F.col("bin")),
        ["__negb"],
        {"cn": "n", "cp": "pos"},
    )
    t = g.agg(F.sum("n").alias("nt"), F.sum("pos").alias("pt"))
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            F.col("cn").cast("long").alias("cum_n"),
            F.col("cp").cast("long").alias("cum_pos"),
            F.round(F.col("cp") / F.col("pt").cast("double"), 6)
            .alias("capture"),
            F.round(
                (F.col("cp") / F.col("pt").cast("double"))
                / (F.col("cn") / F.col("nt").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("bin").desc())
    )


@register(
    "q_clustering_coeff",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    h AS (SELECT vec_id, label, v,
                 {hp} AS hp
          FROM e),
    p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM h a JOIN h b
            ON a.label = b.label AND a.hp = b.hp AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4)
                >= 0.2),
    tri AS (SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
            FROM p e1
            JOIN p e2 ON e2.id1 = e1.id1 AND e2.id2 > e1.id2
            JOIN p e3 ON e3.id1 = e1.id2 AND e3.id2 = e2.id2),
    tv AS (SELECT node, count(*) AS tri_count FROM (
               SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) GROUP BY 1),
    deg AS (SELECT node, count(*) AS d FROM (
               SELECT id1 AS node FROM p
               UNION ALL SELECT id2 FROM p) GROUP BY 1)
    SELECT deg.node, coalesce(tv.tri_count, 0) AS tri_count,
           CAST(deg.d AS BIGINT) AS degree,
           round(2.0 * coalesce(tv.tri_count, 0)
                 / (deg.d * (deg.d - 1.0)), 6) AS lcc
    FROM deg LEFT JOIN tv ON tv.node = deg.node
    WHERE deg.d >= 2
    ORDER BY lcc DESC, deg.node
    """.format(hp=SIM.hyperplane_bucket_sql("v", 2, 64)),
)
def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per node of the embedding
    near-dup graph — the node-level refinement of q_triangles'
    global census: lcc(v) = 2*tri(v)/(deg(v)*(deg(v)-1)) separates
    docs sitting inside coherent duplicate CLIQUES (lcc ~ 1: safe to
    keep one representative) from hub docs bridging unrelated
    near-dup chains (lcc ~ 0: the false-merge risk a dedup pipeline
    must adjudicate before collapsing a cluster).

    Shape: the same oriented low-id->high-id wedge-close join as
    q_triangles (candidates bounded by the bucketed edge generator),
    then a 3-way node unnest counts triangle incidences — integer
    counts, one division for lcc.  Scale: triangle enumeration is the
    standard skew-safe oriented join; degree and incidence aggregates
    are node-cardinality.  Laws pinned: 0 <= lcc <= 1, incidence sum
    equals 3x the q_triangles global count, tri(v) <= C(deg,2)."""
    edges = (
        SIM.embedding_near_dup(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.2,
            sub_planes=2,
        )
        .select("id1", "id2")
    )
    edges = D.tracked_persist(edges, key="lcc_edges")
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.id1") == F.col("e1.id1"))
            & (F.col("e2.id2") > F.col("e1.id2")),
        )
        .join(
            e3,
            (F.col("e3.id1") == F.col("e1.id2"))
            & (F.col("e3.id2") == F.col("e2.id2")),
        )
        .select(
            F.col("e1.id1").alias("a"),
            F.col("e1.id2").alias("b"),
            F.col("e2.id2").alias("c"),
        )
    )
    tv = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )
    deg = (
        edges.select(F.col("id1").alias("node"))
        .unionAll(edges.select(F.col("id2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.join(tv, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            "node",
            F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
            F.col("d").cast("long").alias("degree"),
            F.round(
                2.0 * F.coalesce("tri_count", F.lit(0))
                / (F.col("d") * (F.col("d") - 1.0)),
                6,
            ).alias("lcc"),
        )
        .orderBy(F.col("lcc").desc(), "node")
    )


def _dedup_eval_sql(threshold: float = 0.2) -> str:
    """DuckDB replay of the candidate-quality evaluation: the exact
    all-pairs gram-Jaccard relation is the ground truth, the xe
    banding candidate set is the prediction, and the metrics row
    counts their overlap — same gram/signature/band literals as
    _minhash_xe_sql, so both sides see identical pair sets."""
    return f"""
    WITH {_xe_gram_ctes()},
    {_xe_cand_ctes()},
    sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
    ia AS (SELECT g1.doc_id AS id1, g2.doc_id AS id2, count(*) AS c
           FROM g g1 JOIN g g2 ON g2.s = g1.s AND g1.doc_id < g2.doc_id
           GROUP BY 1, 2),
    truth AS (SELECT ia.id1, ia.id2
              FROM ia JOIN sz s1 ON s1.doc_id = ia.id1
                      JOIN sz s2 ON s2.doc_id = ia.id2
              WHERE ia.c / CAST(s1.sz + s2.sz - ia.c AS DOUBLE)
                    >= {threshold}),
    tp AS (SELECT count(*) AS tp
           FROM truth t JOIN cand c ON c.id1 = t.id1 AND c.id2 = t.id2),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    nc AS (SELECT count(*) AS n_cand FROM cand)
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(tp AS BIGINT) AS tp,
           round(tp / CAST(n_cand AS DOUBLE), 6) AS precision,
           round(tp / CAST(n_truth AS DOUBLE), 6) AS recall,
           round(2.0 * tp / (n_cand + n_truth), 6) AS f1
    FROM tp CROSS JOIN nt CROSS JOIN nc
    """


@register("q_dedup_eval", sql=_dedup_eval_sql())
def q_dedup_eval(spark, sf_dir):
    """Candidate-generation quality of the MinHash banding index —
    the dedup twin of q_ann_recall's retrieval measurement loop:
    ground truth is the EXACT all-pairs 3-gram-Jaccard relation at
    the pipeline threshold (0.2), prediction is the xe banding
    candidate set, and the row reports candidate precision / recall /
    F1.  Recall here is what banding can lose (missed dup pairs stay
    in the corpus forever); precision is pure verify-stage cost
    (false candidates are filtered, not shipped) — the knob the
    (bands, rows) trade-off tunes.

    Exactness: both pair sets are engine-exact (integer gram/affine
    hashes; the exact side is the same co-count join the verify stage
    runs); the metrics are integer counts and three one-shot
    divisions (f1 via the 2tp/(pred+truth) identity — no compounded
    rounding).

    Scale shape: the banding side is bucket-bounded as in production;
    the exact all-pairs side is the EVALUATION cost — gram-cooccur
    joins are quadratic in hot grams, so at corpus scale this query
    runs on a sampled slice (the measurement, not the pipeline,
    samples)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = D.tracked_persist(
        D.doc_grams(docs, family="xe"), key="dedup_eval_grams"
    )
    sigs = D.minhash_signatures_from_grams(grams, family="xe")
    cand = D.lsh_candidate_pairs(sigs, family="xe")
    sz = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    g1 = grams.select(F.col("doc_id").alias("id1"), "s")
    g2 = grams.select(F.col("doc_id").alias("id2"), "s")
    ia = (
        g1.join(g2, "s")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        ia.join(sz.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1")), "id1")
        .join(sz.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2")), "id2")
        .filter(
            F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c")).cast("double")
            >= 0.2
        )
        .select("id1", "id2")
    )
    tp = truth.join(cand, ["id1", "id2"]).agg(
        F.count(F.lit(1)).alias("tp")
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        tp.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("tp").cast("long").alias("tp"),
            F.round(F.col("tp") / F.col("n_cand").cast("double"), 6).alias(
                "precision"
            ),
            F.round(F.col("tp") / F.col("n_truth").cast("double"), 6).alias(
                "recall"
            ),
            F.round(
                F.lit(2.0) * F.col("tp") / (F.col("n_cand") + F.col("n_truth")),
                6,
            ).alias("f1"),
        )
    )


_FERT_SQL = f"""
    WITH base AS ({_bpe_xe_sql()}),
    l AS (SELECT b.doc_id, d.lang, b.ws_tokens, b.n_chars_c, b.bpe_tokens
          FROM base b JOIN documents d USING (doc_id))
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS words,
           CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
           round(sum(bpe_tokens) / CAST(sum(ws_tokens) AS DOUBLE), 6)
               AS fertility,
           round(sum(n_chars_c) / CAST(sum(bpe_tokens) AS DOUBLE), 6)
               AS chars_per_token
    FROM l GROUP BY 1 ORDER BY 1
"""


@register("q_tokenizer_fertility", sql=_FERT_SQL)
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language (tokens produced per
    whitespace word) and compression (chars per BPE token) under the
    corpus-trained mini-BPE — the multilingual-fairness measurement
    for tokenizer choice (a language with 2x fertility pays 2x the
    sequence length, so its documents cost double the training
    compute and halve their effective context window).  Uses the same
    train-on-sample / apply-distributed tokenizer as q_bpe_tokenize
    over the same 1/11 sample; metrics are per-language ratios of
    exact integer token/char sums, and the oracle replays BPE
    training AND application (the q_bpe_tokenize graduation) before
    aggregating.

    Scale shape: training state is the 50-merge table (driver-sized
    by contract); application is one stateless Arrow pass; the
    fertility report is a language-domain-sized aggregate."""
    from shadems_spark.operators.text import bpe_tokenize_udf, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=50, sample_docs=100)
    tok = bpe_tokenize_udf(merges)
    sample = docs.filter(F.col("doc_id") % 11 == 0).select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.length("text").cast("long").alias("n_chars_c"),
        F.size(tok(F.col("text"))).cast("long").alias("bpe_tokens"),
    )
    return (
        sample.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("words"),
            F.sum("bpe_tokens").cast("long").alias("bpe_tokens"),
            F.sum("n_chars_c").cast("long").alias("chars"),
        )
        .select(
            "lang", "n_docs", "words", "bpe_tokens",
            F.round(
                F.col("bpe_tokens") / F.col("words").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.col("chars") / F.col("bpe_tokens").cast("double"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


def _coverage_xe_sql(n_cells: int = 8) -> str:
    """DuckDB replay of the coverage audit: xe-sampled TRAIN-side
    centroids (same affine-hash rows Spark collects), the same
    sequential-fold unit normalization and exact argmax assignment as
    _ivf_xe_sql, then per-cell train/val occupancy."""

    dotf, normf = SIM.xe_dot_sql, SIM.xe_norm_sql

    hk = SIM.xe_affine_sql("vec_id")  # mod-first: 64-bit-id safe
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    cr AS (SELECT vec_id, v FROM e WHERE vec_id % 5 != 0
           ORDER BY {hk}, vec_id LIMIT {n_cells}),
    cn AS (SELECT v, CAST(row_number() OVER (ORDER BY {hk}, vec_id) - 1
                          AS INT) AS cell
           FROM cr),
    cu AS (SELECT cell, list_transform(v, x -> x / {normf("v")}) AS cv
           FROM cn),
    asg AS (SELECT e.vec_id AS cand_id, cu.cell,
                   round({dotf("e.v", "cu.cv")} / {normf("e.v")}, 6) AS cos,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dotf("e.v", "cu.cv")} DESC,
                                               cu.cell) AS rn
            FROM e CROSS JOIN cu),
    c AS (SELECT cand_id, cell, CAST(round(cos * 1e6) AS BIGINT) AS ci
          FROM asg WHERE rn = 1),
    g AS (SELECT cell,
                 sum(CASE WHEN cand_id % 5 != 0 THEN 1 ELSE 0 END)
                     AS n_train,
                 sum(CASE WHEN cand_id % 5 = 0 THEN 1 ELSE 0 END) AS n_val,
                 sum(CASE WHEN cand_id % 5 != 0 THEN ci ELSE 0 END)
                     AS ci_train,
                 sum(CASE WHEN cand_id % 5 = 0 THEN ci ELSE 0 END) AS ci_val
          FROM c GROUP BY 1)
    SELECT cell, CAST(n_train AS BIGINT) AS n_train,
           CAST(n_val AS BIGINT) AS n_val,
           round(n_val / CAST(n_train + n_val AS DOUBLE), 6) AS val_share,
           CASE WHEN n_train > 0
                THEN round(ci_train / (n_train * 1e6), 6) END AS fit_train,
           CASE WHEN n_val > 0
                THEN round(ci_val / (n_val * 1e6), 6) END AS fit_val,
           CAST(CASE WHEN n_train = 0 AND n_val > 0 THEN 1 ELSE 0 END
                AS INT) AS ood
    FROM g ORDER BY cell
    """


def coverage_assign(emb, centroids):
    """ivf_assign plus the winning assignment cosine as a micro int
    (ci): same literal-unit-centroid argmax, with the row's own norm
    dividing the winning dot — low ci = the vector fits NO cell well,
    the per-row out-of-distribution signal the coverage audit
    aggregates."""
    from shadems_spark.operators.similarity import _unit, dot, norm

    scores = F.array(
        *[
            F.struct(
                (
                    -dot(
                        F.col("c_vec"),
                        F.array(*[F.lit(x) for x in _unit(c)]),
                    )
                ).alias("neg"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.element_at(F.array_sort(scores), 1)
    cos6 = F.round(-best["neg"] / norm(F.col("c_vec")), 6)
    return emb.select(
        "cand_id",
        best["cell"].alias("cell"),
        F.round(cos6 * F.lit(1e6)).cast("long").alias("ci"),
    )


@register("q_embedding_coverage", sql=_coverage_xe_sql())
def q_embedding_coverage(spark, sf_dir):
    """Embedding-space coverage audit: quantize the WHOLE corpus into
    coarse cells sampled from the TRAIN split only (vec_id % 5 != 0),
    then report each cell's train/val occupancy — a val-heavy or
    train-empty (ood = 1) cell is a region of embedding space the
    training data never covered, the geometric out-of-distribution
    screen run before trusting held-out metrics (q_oov_rate's
    token-space twin, in vector space).  Because centroids come from
    train only, a val-only REGION cannot mint its own cell — it
    crowds into the nearest train cell instead — so the audit also
    carries fit_train/fit_val (mean assignment cosine per split): a
    cell whose fit_val trails fit_train is absorbing vectors that fit
    no centroid well, the signal the ood flag alone cannot see
    (pinned with a planted orthogonal cluster in tests).

    Runs the cross-engine IVF protocol end-to-end (affine id-hash
    centroid sample, sequential-fold unit norms, exact argmax cells —
    the q_ann_ivf graduation machinery), so the oracle replays cell
    assignment bit-for-bit.

    Scale shape: assignment is a stateless projection against k
    literal centroids (no shuffle); occupancy is one cell-cardinality
    aggregate.  At production scale k grows to 2^10+ cells and the
    centroid sample feeds through refine_centroids — the audit shape
    is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 5 != 0)
    cents = SIM.sample_centroids(train, k=8, sampler="xe")
    asg = coverage_assign(
        emb.select(
            F.col("vec_id").alias("cand_id"),
            SIM.as_double("embedding").alias("c_vec"),
        ),
        cents,
    )
    is_t = (F.col("cand_id") % 5 != 0).cast("long")
    g = asg.groupBy("cell").agg(
        F.sum(is_t).alias("n_train"),
        F.sum(1 - is_t).alias("n_val"),
        F.sum(F.when(F.col("cand_id") % 5 != 0, F.col("ci")).otherwise(0))
        .alias("ci_train"),
        F.sum(F.when(F.col("cand_id") % 5 == 0, F.col("ci")).otherwise(0))
        .alias("ci_val"),
    )
    return g.select(
        "cell",
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_val").cast("long").alias("n_val"),
        F.round(
            F.col("n_val")
            / (F.col("n_train") + F.col("n_val")).cast("double"),
            6,
        ).alias("val_share"),
        F.when(
            F.col("n_train") > 0,
            F.round(F.col("ci_train") / (F.col("n_train") * F.lit(1e6)), 6),
        ).alias("fit_train"),
        F.when(
            F.col("n_val") > 0,
            F.round(F.col("ci_val") / (F.col("n_val") * F.lit(1e6)), 6),
        ).alias("fit_val"),
        ((F.col("n_train") == 0) & (F.col("n_val") > 0))
        .cast("int")
        .alias("ood"),
    ).orderBy("cell")


@register(
    "q_map_eval",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id % 25 = 0),
    lc AS (SELECT label, count(*) AS n_lbl FROM e GROUP BY 1),
    scored AS (
        SELECT q.q_id, q.q_label, e.label AS c_label,
               round(list_sum(list_transform(list_zip(q.qv, e.v),
                                             z -> z[1] * z[2]))
                     / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                        * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6)
                   AS cos,
               e.vec_id AS cand_id
        FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    top AS (SELECT q_id, q_label, c_label,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, cand_id)
                        AS INT) AS rank
            FROM scored QUALIFY rank <= 10),
    pr AS (SELECT q_id, q_label, rank,
                  CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel,
                  sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
                      OVER (PARTITION BY q_id ORDER BY rank
                            ROWS UNBOUNDED PRECEDING) AS cum_rel
           FROM top),
    ap AS (SELECT q_id, q_label,
                  CAST(max(cum_rel) AS BIGINT) AS n_rel_top10,
                  sum(CASE WHEN rel = 1 THEN
                      CAST(round(cum_rel * 1e9 / rank) AS BIGINT)
                      ELSE 0 END) AS ap_n
           FROM pr GROUP BY 1, 2),
    j AS (SELECT ap.q_id, ap.n_rel_top10,
                 CAST(least(lc.n_lbl - 1, 10) AS BIGINT) AS n_rel_corpus,
                 CASE WHEN least(lc.n_lbl - 1, 10) > 0
                      THEN CAST(ap_n AS DOUBLE) / 1e9
                           / least(lc.n_lbl - 1, 10)
                      ELSE 0.0 END AS ap
          FROM ap JOIN lc ON lc.label = ap.q_label),
    m AS (SELECT sum(CAST(round(ap * 1e9) AS BIGINT)) AS map_n,
                 count(*) AS nq FROM j)
    SELECT q_id, n_rel_corpus, n_rel_top10, round(ap, 6) AS ap,
           round(map_n / 1e9 / nq, 6) AS map
    FROM j CROSS JOIN m ORDER BY q_id
    """,
)
def q_map_eval(spark, sf_dir):
    """Mean average precision at 10 — the fourth leg of the
    retrieval-eval family (q_ann_recall set recall, q_ndcg graded,
    q_mrr first-hit, MAP order-sensitive full-list): AP sums
    precision@k at each relevant rank, normalized by the best
    achievable hit count min(corpus relevant, 10); MAP averages AP
    over the query set and rides every row.

    Exactness: each precision@k term cum_rel/rank is nano-int-rounded
    before the per-query sum (order-free); relevance and ranks are
    exact integers from the brute top-10 (6dp-rounded cosine with id
    tie-break, the q_mrr contract); MAP re-rounds the per-query AP
    average through nano space.  Scale: same broadcast-queries
    corpus-scan as q_cosine_topk — the corpus never shuffles; the
    label-prior table joins broadcast."""
    from pyspark.sql import Window as W

    from shadems_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    top = SIM.brute_topk(emb, queries, k=10)
    lbl = emb.select("vec_id", "label")
    lc = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_lbl"))
    j = (
        top.join(
            F.broadcast(
                lbl.select(
                    F.col("vec_id").alias("q_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            "q_id",
        )
        .join(
            lbl.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("c_label"),
            ),
            "cand_id",
        )
    )
    rel = (F.col("c_label") == F.col("q_label")).cast("int")
    w = W.partitionBy("q_id").orderBy("rank").rowsBetween(
        W.unboundedPreceding, 0
    )
    pr = j.select(
        "q_id", "q_label", "rank",
        rel.alias("rel"),
        F.sum(rel).over(w).alias("cum_rel"),
    )
    ap = pr.groupBy("q_id", "q_label").agg(
        F.max("cum_rel").cast("long").alias("n_rel_top10"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(F.col("cum_rel") * 1e9 / F.col("rank")).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("ap_n"),
    )
    denom = F.least(F.col("n_lbl") - 1, F.lit(10))
    jj = ap.join(
        F.broadcast(lc.select(F.col("label").alias("q_label"), "n_lbl")),
        "q_label",
    ).select(
        "q_id", "n_rel_top10",
        denom.cast("long").alias("n_rel_corpus"),
        F.when(
            denom > 0, F.col("ap_n").cast("double") / 1e9 / denom
        ).otherwise(F.lit(0.0)).alias("ap"),
    )
    m = jj.agg(
        F.sum(F.round(F.col("ap") * 1e9).cast("long")).alias("map_n"),
        F.count(F.lit(1)).alias("nq"),
    )
    return (
        jj.crossJoin(F.broadcast(m))
        .select(
            "q_id", "n_rel_corpus", "n_rel_top10",
            F.round("ap", 6).alias("ap"),
            F.round(F.col("map_n") / 1e9 / F.col("nq"), 6).alias("map"),
        )
        .orderBy("q_id")
    )


def _pr_auc_oracle() -> str:
    ws = _qc_weights()
    zmilli = " + ".join(
        f"({int(round(w * 1000))}) * CAST(len(list_filter(bs, x -> x = {b})) AS BIGINT)"
        for b, w in enumerate(ws)
    )
    return f"""
    WITH w AS (SELECT doc_id, lang,
                      list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
               FROM documents),
    b AS (SELECT doc_id, lang, len(ws) AS nw,
                 list_transform(ws, w ->
                     list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(w, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % {_FH_DIM}) AS bs
          FROM w),
    s AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 round(1.0 / (1.0 + exp(-((100 + {zmilli})
                                          / (1000.0 * (1 + nw))))), 6) AS score
          FROM b),
    g AS (SELECT score, count(*) AS n, sum(y) AS np FROM s GROUP BY 1),
    c AS (SELECT score, n, np,
                 sum(n) OVER (ORDER BY score DESC
                              ROWS UNBOUNDED PRECEDING) AS cum_n,
                 sum(np) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS cum_tp
          FROM g),
    t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                 CAST(sum(n) - sum(np) AS BIGINT) AS n_neg
          FROM g),
    ap AS (SELECT sum(CAST(round(1e9 * np * (CAST(cum_tp AS DOUBLE) / cum_n)
                                 / t.n_pos) AS BIGINT)) AS ap_n
           FROM c CROSS JOIN t GROUP BY t.n_pos)
    SELECT n_pos, n_neg,
           round(ap_n / 1e9, 6) AS pr_auc,
           round(n_pos / CAST(n_pos + n_neg AS DOUBLE), 6) AS prevalence
    FROM t CROSS JOIN ap
    """


@register("q_pr_auc", sql=_pr_auc_oracle())
def q_pr_auc(spark, sf_dir):
    """Precision-recall AUC (average precision over descending score
    thresholds) for the quality classifier — the imbalance-honest
    companion to q_auc's ROC: AP = sum_s (tp_s/n_pos) * P@s, stepping
    once per DISTINCT 6dp score, so a model is judged by precision
    where recall is actually gained; prevalence is the random-
    classifier baseline ROC-AUC hides.

    Exactness: per-score counts are integers, each AP term is
    nano-int-rounded before the cross-threshold sum, and the cumsum
    window orders by the 6dp-rounded score — <= 1e6 distinct keys by
    construction (the q_auc cardinality bound), so the single ordered
    window runs over a bounded table, never the row-sized one.
    Scale: one scoring scan, one score-keyed map-side-combined
    aggregate, constant tail."""
    from functools import reduce

    from shadems_spark.operators.text import FP_MOD, words

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(words("text"), lambda w: F.length(w) > 0)
    word_hash = lambda w: (
        F.aggregate(
            F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
            F.lit(0).cast("long"),
            lambda a, c: (a * F.lit(31) + c) % F.lit(FP_MOD),
        )
        % F.lit(_FH_DIM)
    )
    buckets = F.transform(ws, word_hash)
    weights = _qc_weights()

    def bucket_count(b):
        return F.size(F.filter(buckets, lambda x: x == F.lit(b)))

    terms = [
        F.lit(int(round(w * 1000))) * bucket_count(b).cast("long")
        for b, w in enumerate(weights)
    ]
    z_milli = reduce(lambda a, c: a + c, terms, F.lit(100).cast("long"))
    zr = z_milli / (F.lit(1000.0) * (F.lit(1) + F.size(ws)))
    s = docs.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zr)), 6).alias("score"),
    )
    # persist the scored rows (2 narrow columns): the plan fans out
    # into several sibling branches (cut sample, cumsum main pass,
    # totals, the n_pos reduce) that would EACH re-run the dominant
    # HOF scoring scan — the q_auc lesson, same fix (persist the
    # expensive subtree, re-aggregate cheaply per branch)
    from shadems_spark.operators.dedup import tracked_persist

    s = tracked_persist(s, key="pr_auc_scored")
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("np")
    ).withColumn("nscore", -F.col("score"))
    # descending-score prefix sums WITHOUT a single-partition window:
    # the two-phase value-cut scan (order by negated score is total —
    # scores are distinct group keys)
    from shadems_spark.operators.profile import global_cumsum

    c = global_cumsum(
        g, ["nscore"], {"cum_n": "n", "cum_tp": "np"}
    )
    t = g.agg(
        F.sum("np").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("np")).cast("long").alias("n_neg"),
    )
    ap = (
        c.crossJoin(F.broadcast(t))
        .select(
            F.round(
                F.lit(1e9) * F.col("np")
                * (F.col("cum_tp").cast("double") / F.col("cum_n"))
                / F.col("n_pos")
            ).cast("long").alias("term_n")
        )
        .agg(F.sum("term_n").alias("ap_n"))
    )
    return (
        t.crossJoin(F.broadcast(ap))
        .select(
            "n_pos", "n_neg",
            F.round(F.col("ap_n") / 1e9, 6).alias("pr_auc"),
            F.round(
                F.col("n_pos")
                / (F.col("n_pos") + F.col("n_neg")).cast("double"),
                6,
            ).alias("prevalence"),
        )
    )


_GD_SEED = 77
_GD_H = "0.5"  # cell width (literal in both engines)
_GD_MINPTS = 5
_GD_OFF = 2_000_000
_GD_MUL = 4_000_000


def _gd_planes(dim: int = 64) -> list[list[float]]:
    from shadems_spark.operators.similarity import _splitmix64

    return [
        [
            (_splitmix64((_GD_SEED + j) * 1024 + i) % 2001) / 1000.0 - 1.0
            for i in range(dim)
        ]
        for j in range(2)
    ]


def _grid_dbscan_sql() -> str:
    p0, p1 = _gd_planes()
    l0 = "[" + ", ".join(str(c) for c in p0) + "]"
    l1 = "[" + ", ".join(str(c) for c in p1) + "]"

    def dotf(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip({a}, {b}), z -> z[1] * z[2])), "
            f"(s, x) -> s + x)"
        )

    return f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
          FROM embeddings),
    pr AS (SELECT vec_id,
                  CAST(floor(round({dotf("v", l0)}, 6) / {_GD_H}) AS BIGINT)
                      AS cx,
                  CAST(floor(round({dotf("v", l1)}, 6) / {_GD_H}) AS BIGINT)
                      AS cy
           FROM e),
    cell AS (SELECT cx, cy, count(*) AS n,
                    (cx + {_GD_OFF}) * {_GD_MUL} + (cy + {_GD_OFF}) AS cid
             FROM pr GROUP BY 1, 2),
    core AS (SELECT * FROM cell WHERE n >= {_GD_MINPTS}),
    ed AS (SELECT a.cid AS u, b.cid AS v
           FROM core a JOIN core b
           ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
              AND a.cid != b.cid),
    walk(nd, lbl) AS (
        SELECT u, u FROM ed
        UNION
        SELECT ed.u, wk.lbl FROM ed JOIN walk wk ON wk.nd = ed.v
    ),
    comp AS (SELECT nd, min(lbl) AS component FROM walk GROUP BY nd),
    corec AS (SELECT core.cx, core.cy, core.n, core.cid,
                     coalesce(comp.component, core.cid) AS cluster
              FROM core LEFT JOIN comp ON comp.nd = core.cid),
    border AS (SELECT c.cid, min(k.cluster) AS cluster
               FROM cell c JOIN corec k
               ON abs(c.cx - k.cx) <= 1 AND abs(c.cy - k.cy) <= 1
               WHERE c.n < {_GD_MINPTS}
               GROUP BY 1)
    SELECT c.cx, c.cy, CAST(c.n AS BIGINT) AS n_points,
           CAST(CASE WHEN c.n >= {_GD_MINPTS} THEN 1 ELSE 0 END AS INT)
               AS is_core,
           CAST(coalesce(k.cluster, b.cluster, -1) AS BIGINT) AS cluster
    FROM cell c
    LEFT JOIN corec k ON k.cid = c.cid
    LEFT JOIN border b ON b.cid = c.cid
    ORDER BY c.cx, c.cy
    """


@register("q_grid_dbscan", sql=_grid_dbscan_sql())
def q_grid_dbscan(spark, sf_dir):
    """Grid-DBSCAN density clustering of the embedding corpus (the
    GriT/cell-based DBSCAN family): project to 2-D with two fixed
    SplitMix64 hyperplanes, bucket into 0.5-wide cells, call a cell
    core at >= 5 points, union 8-adjacent core cells into clusters
    (the repo's large/small-star components operator), and attach
    border cells to their min-labeled core neighbor; everything else
    is noise.  The density view of corpus structure beside the
    centroid view (q_kmeans/q_semdedup): clusters of arbitrary shape,
    no k chosen in advance.

    Exactness: projections are 6dp-rounded identical sequential folds
    (the xe dot-product protocol) so cell assignment is engine-exact;
    cluster labels are min-cell-id components (deterministic); the
    oracle replays clustering with a recursive min-label CTE, proven
    equivalent to the distributed star algorithm.  Scale: the
    row-sized work is ONE projection scan + a (cx, cy) map-side
    aggregate; core-cell adjacency, components and border attachment
    all run on the CELL table, bounded by the projected grid, not the
    corpus — the DBSCAN that survives 100 TB because no point-to-
    point neighbor search ever happens."""
    from shadems_spark.operators.graph import connected_components_star
    from shadems_spark.operators.similarity import dot

    from shadems_spark.operators.exprcache import memo

    emb = load_table(spark, sf_dir, "embeddings")

    def _build_proj():
        p0, p1 = _gd_planes()
        v = F.transform("embedding", lambda x: x.cast("double"))
        h = float(_GD_H)
        return [
            F.floor(
                F.round(dot(v, F.array(*[F.lit(c) for c in p0])), 6) / h
            ).cast("long").alias("cx"),
            F.floor(
                F.round(dot(v, F.array(*[F.lit(c) for c in p1])), 6) / h
            ).cast("long").alias("cy"),
        ]

    pr = emb.select(*memo(("gd_proj",), _build_proj))
    cell = pr.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "cid", (F.col("cx") + _GD_OFF) * _GD_MUL + (F.col("cy") + _GD_OFF)
    )
    core = cell.filter(F.col("n") >= _GD_MINPTS)
    b = core.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("cid").alias("bid"),
    )
    ed = core.join(
        b,
        (F.abs(F.col("cx") - F.col("bx")) <= 1)
        & (F.abs(F.col("cy") - F.col("by")) <= 1)
        & (F.col("cid") != F.col("bid")),
    ).select(F.col("cid").alias("src"), F.col("bid").alias("dst"))
    comp = connected_components_star(ed).select(
        F.col("node").alias("cid"), "component"
    )
    corec = core.join(comp, "cid", "left").select(
        "cx", "cy", "n", "cid",
        F.coalesce("component", "cid").alias("cluster"),
    )
    k = corec.select(
        F.col("cx").alias("kx"), F.col("cy").alias("ky"),
        F.col("cluster").alias("kcluster"),
    )
    border = (
        cell.filter(F.col("n") < _GD_MINPTS)
        .join(
            k,
            (F.abs(F.col("cx") - F.col("kx")) <= 1)
            & (F.abs(F.col("cy") - F.col("ky")) <= 1),
        )
        .groupBy("cid")
        .agg(F.min("kcluster").alias("bcluster"))
    )
    return (
        cell.join(
            corec.select("cid", F.col("cluster").alias("ccluster")),
            "cid", "left",
        )
        .join(border, "cid", "left")
        .select(
            "cx", "cy",
            F.col("n").cast("long").alias("n_points"),
            (F.col("n") >= _GD_MINPTS).cast("int").alias("is_core"),
            F.coalesce("ccluster", "bcluster", F.lit(-1))
            .cast("long").alias("cluster"),
        )
        .orderBy("cx", "cy")
    )


_EDGE_CTE = _CAPPED_NODES_CTE + f""",
    p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                 a.label AS lbl1, b.label AS lbl2
          FROM h a JOIN h b
            ON a.label = b.label AND a.hp = b.hp AND a.vec_id < b.vec_id
          WHERE round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4)
                >= 0.2)
"""


@register(
    "q_modularity",
    sql=("""
    WITH """ + _EDGE_CTE + """,
    m AS (SELECT count(*) AS m FROM p),
    deg AS (SELECT node, lbl, count(*) AS d FROM (
               SELECT id1 AS node, lbl1 AS lbl FROM p
               UNION ALL SELECT id2, lbl2 FROM p) GROUP BY 1, 2),
    com AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(d) AS BIGINT) AS d_c
            FROM deg GROUP BY 1),
    ec AS (SELECT lbl1 AS lbl, CAST(count(*) AS BIGINT) AS e_within
           FROM p GROUP BY 1),
    c AS (SELECT com.lbl, com.n_nodes, com.d_c,
                 coalesce(ec.e_within, 0) AS e_within,
                 CAST(round((coalesce(ec.e_within, 0) / CAST(m.m AS DOUBLE)
                       - (com.d_c / (2.0 * m.m))
                         * (com.d_c / (2.0 * m.m))) * 1e9) AS BIGINT)
                     AS contrib_n
          FROM com LEFT JOIN ec USING (lbl) CROSS JOIN m),
    q AS (SELECT sum(contrib_n) AS q_n FROM c)
    SELECT c.lbl AS label, c.n_nodes, c.e_within, c.d_c,
           round(c.contrib_n / 1e9, 6) AS contribution,
           round(q.q_n / 1e9, 6) AS modularity
    FROM c CROSS JOIN q ORDER BY c.lbl
    """).format(hp=SIM.hyperplane_bucket_sql("v", 2, 64)),
)
def q_modularity(spark, sf_dir):
    """Newman modularity of the LABEL partition over the embedding
    near-dup graph — does the labeling actually explain the edge
    structure?  Q = sum_c (e_c/m - (d_c/2m)^2); Q near 0 means labels
    are no better than random at capturing near-dup neighborhoods
    (here the bucketed edge generator only emits same-label pairs, so
    e_c sums to m and Q measures how evenly communities split the
    degree mass).  The community-quality audit beside q_triangles /
    q_clustering_coeff's local structure.

    Exactness: edge, degree, and community sums are exact integers;
    each community's contribution is nano-int-rounded before the
    cross-community sum.  Scale: the only data-sized work is the
    bucketed edge generator; everything after is community- and
    node-cardinality aggregates with a broadcast 1-row edge count."""
    edges = (
        SIM.embedding_near_dup(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.2,
            sub_planes=2,
            node_cap=_NODE_CAP,
        )
        # the generator's blocking bucket IS the label, shared by
        # both endpoints (it is part of the join key)
        .select("id1", "id2", F.col("bkt").alias("lbl"))
    )
    edges = D.tracked_persist(edges, key="mod_edges")
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        edges.select(F.col("id1").alias("node"), "lbl")
        .unionAll(edges.select(F.col("id2").alias("node"), "lbl"))
        .groupBy("node", "lbl")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    com = deg.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("d").cast("long").alias("d_c"),
    )
    ec = edges.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("e_within")
    )
    c = (
        com.join(ec, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "lbl", "n_nodes", "d_c",
            F.coalesce("e_within", F.lit(0)).alias("e_within"),
            F.round(
                (
                    F.coalesce("e_within", F.lit(0))
                    / F.col("m").cast("double")
                    - (F.col("d_c") / (2.0 * F.col("m")))
                    * (F.col("d_c") / (2.0 * F.col("m")))
                ) * F.lit(1e9)
            ).cast("long").alias("contrib_n"),
        )
    )
    q = c.agg(F.sum("contrib_n").alias("q_n"))
    return (
        c.crossJoin(F.broadcast(q))
        .select(
            F.col("lbl").alias("label"), "n_nodes", "e_within", "d_c",
            F.round(F.col("contrib_n") / 1e9, 6).alias("contribution"),
            F.round(F.col("q_n") / 1e9, 6).alias("modularity"),
        )
        .orderBy("label")
    )


@register(
    "q_assortativity",
    sql=("""
    WITH """ + _EDGE_CTE + """,
    deg AS (SELECT node, count(*) AS d FROM (
               SELECT id1 AS node FROM p
               UNION ALL SELECT id2 FROM p) GROUP BY 1),
    de AS (SELECT da.d AS dx, db.d AS dy
           FROM p JOIN deg da ON da.node = p.id1
                  JOIN deg db ON db.node = p.id2),
    sym AS (SELECT dx, dy FROM de UNION ALL SELECT dy, dx FROM de),
    s AS (SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                 sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
                 sum(dx * dy) AS sxy
          FROM sym)
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           round(CAST(sx AS DOUBLE) / n, 4) AS mean_deg_end,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 6) AS assortativity
    FROM s
    """).format(hp=SIM.hyperplane_bucket_sql("v", 2, 64)),
)
def q_assortativity(spark, sf_dir):
    """Degree assortativity (Newman '02) of the embedding near-dup
    graph: the Pearson correlation of endpoint degrees over the
    symmetrized edge list — positive means hubs attach to hubs
    (duplicate MEGA-clusters that will chain-merge under transitive
    dedup), negative means hub-leaf star shapes (one template with
    many one-off variants).  The one-number structural prior a dedup
    adjudication pass reads before choosing cluster-collapse policy.

    Exactness: degrees are integer counts, the correlation's
    sufficient statistics are exact integer sums over the symmetrized
    list, one fixed formula at the end.  Scale: degree table is
    node-cardinality, the stat pass joins edges to it on its own key;
    candidates stay bounded by the bucketed generator."""
    edges = (
        SIM.embedding_near_dup(
            load_table(spark, sf_dir, "embeddings"),
            threshold=0.2,
            sub_planes=2,
            node_cap=_NODE_CAP,
        )
        .select("id1", "id2")
    )
    edges = D.tracked_persist(edges, key="assort_edges")
    deg = (
        edges.select(F.col("id1").alias("node"))
        .unionAll(edges.select(F.col("id2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    de = (
        edges.join(
            deg.select(F.col("node").alias("id1"), F.col("d").alias("dx")),
            "id1",
        )
        .join(
            deg.select(F.col("node").alias("id2"), F.col("d").alias("dy")),
            "id2",
        )
        .select("dx", "dy")
    )
    sym = de.unionAll(de.select(F.col("dy").alias("dx"), F.col("dx").alias("dy")))
    s = sym.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    c = F.col
    return s.select(
        (c("n") / 2).cast("long").alias("n_edges"),
        F.round(c("sx").cast("double") / c("n"), 4).alias("mean_deg_end"),
        F.round(
            (c("n") * c("sxy").cast("double") - c("sx").cast("double") * c("sy"))
            / F.sqrt(
                (c("n") * c("sxx").cast("double") - c("sx").cast("double") * c("sx"))
                * (c("n") * c("syy").cast("double") - c("sy").cast("double") * c("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "q_silhouette",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    u AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos
          FROM e),
    cm AS (SELECT label, pos,
                  sum(CAST(round(x * 1e9) AS BIGINT)) AS sx,
                  count(*) AS n
           FROM u GROUP BY 1, 2),
    cent AS (SELECT label AS clabel,
                    list(sx / 1e9 / n ORDER BY pos) AS cv
             FROM cm GROUP BY 1),
    d AS (SELECT e.vec_id, e.label, cent.clabel,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(list_zip(e.v, cent.cv),
                                    z -> (z[1] - z[2]) * (z[1] - z[2]))),
                     (s, x) -> s + x) AS d2
          FROM e CROSS JOIN cent),
    ab AS (SELECT vec_id, label,
                  min(CASE WHEN clabel = label THEN d2 END) AS a2,
                  min(CASE WHEN clabel != label THEN d2 END) AS b2
           FROM d GROUP BY 1, 2),
    s AS (SELECT label,
                 CAST(round(1e9 * (sqrt(b2) - sqrt(a2))
                            / greatest(sqrt(a2), sqrt(b2), 1e-12))
                      AS BIGINT) AS s_n
          FROM ab),
    g AS (SELECT label, count(*) AS n,
                 CAST(round(sum(s_n) / CAST(count(*) AS DOUBLE))
                      AS BIGINT) AS mean_n
          FROM s GROUP BY 1),
    t AS (SELECT CAST(round(sum(mean_n * CAST(n AS DOUBLE)) / sum(n))
                      AS BIGINT) AS glob_n
          FROM g)
    SELECT g.label, CAST(g.n AS BIGINT) AS n,
           round(g.mean_n / 1e9, 6) AS mean_silhouette,
           round(t.glob_n / 1e9, 6) AS global_silhouette
    FROM g CROSS JOIN t ORDER BY g.label
    """,
)
def q_silhouette(spark, sf_dir):
    """Simplified silhouette (centroid form — the scalable variant
    sklearn calls silhouette only approximately): per point, a = the
    distance to its own label centroid and b = the distance to the
    nearest OTHER centroid; s = (b-a)/max(a,b) in [-1, 1].  The
    clustering-quality audit for the label partition beside
    q_modularity's graph view — the centroid form replaces the
    O(n^2) pairwise definition with O(n*k), which is why it survives
    100 TB when full silhouette cannot.

    Exactness: centroid coordinates come from nano-int coordinate
    sums (order-free) divided once; per-point distances are fixed
    sequential folds (the xe dot protocol); each s(i) nano-rounds
    before its label mean, and the global mean re-rounds through nano
    space.  Scale: one posexplode centroid aggregate (labels x dim
    keys), then one broadcast-centroids scoring scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", SIM.as_double("embedding").alias("v"))
    u = e.select(
        "label", F.posexplode("v").alias("pos0", "x")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "x")
    cm = u.groupBy("label", "pos").agg(
        F.sum(F.round(F.col("x") * 1e9).cast("long")).alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = cm.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("sx") / 1e9 / F.col("n")).alias("val"),
                    )
                )
            ),
            lambda st: st["val"],
        ).alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    d = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias(
            "b2"
        ),
    )
    s = ab.select(
        "label",
        F.round(
            F.lit(1e9)
            * (F.sqrt("b2") - F.sqrt("a2"))
            / F.greatest(F.sqrt("a2"), F.sqrt("b2"), F.lit(1e-12))
        ).cast("long").alias("s_n"),
    )
    g = s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_n") / F.count(F.lit(1)).cast("double"))
        .cast("long").alias("mean_n"),
    )
    t = g.agg(
        F.round(
            F.sum(F.col("mean_n") * F.col("n").cast("double")) / F.sum("n")
        ).cast("long").alias("glob_n")
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "label",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("mean_n") / 1e9, 6).alias("mean_silhouette"),
            F.round(F.col("glob_n") / 1e9, 6).alias("global_silhouette"),
        )
        .orderBy("label")
    )


@register(
    "q_knn_eval",
    sql="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id % 25 = 0),
    scored AS (
        SELECT q.q_id, q.q_label, e.label AS c_label,
               round(list_sum(list_transform(list_zip(q.qv, e.v),
                                             z -> z[1] * z[2]))
                     / (sqrt(list_sum(list_transform(q.qv, x -> x*x)))
                        * sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6)
                   AS cos,
               e.vec_id AS cand_id
        FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
    top AS (SELECT q_id, q_label, c_label,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, cand_id)
                        AS INT) AS rank
            FROM scored QUALIFY rank <= 10),
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    votes AS (SELECT t.q_id, t.q_label, ks.k, t.c_label,
                     count(*) AS nv
              FROM top t JOIN ks ON t.rank <= ks.k
              GROUP BY 1, 2, 3, 4),
    pred AS (SELECT q_id, q_label, k, c_label AS pred_label,
                    row_number() OVER (PARTITION BY q_id, k
                                       ORDER BY nv DESC, c_label) AS rk
             FROM votes QUALIFY rk = 1)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS accuracy
    FROM pred GROUP BY k ORDER BY k
    """,
)
def q_knn_eval(spark, sf_dir):
    """k-NN classification accuracy at k in {1, 5, 10} over the
    brute cosine top-10 — the lazy-learner baseline every embedding-
    quality report leads with (if k-NN can't recover the labels, no
    probe will), completing the eval battery's classifier corner
    (recall/NDCG/MRR/MAP measure ranking; k-NN measures label
    geometry).  Majority vote with a deterministic smaller-label
    tie-break.

    Exactness: votes are integer counts from the exact top-10 (6dp
    cosine, id tie-break — the q_mrr contract); vote argmax ranks
    integers.  Scale: the same broadcast-queries corpus scan as
    q_cosine_topk; vote windows partition per (query, k) — <= 10
    rows each."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    top = SIM.brute_topk(emb, queries, k=10)
    lbl = emb.select("vec_id", "label")
    j = (
        top.join(
            F.broadcast(
                lbl.select(F.col("vec_id").alias("q_id"),
                           F.col("label").alias("q_label"))
            ),
            "q_id",
        )
        .join(
            lbl.select(F.col("vec_id").alias("cand_id"),
                       F.col("label").alias("c_label")),
            "cand_id",
        )
    )
    ks = spark.createDataFrame([(1,), (5,), (10,)], ["k"])
    votes = (
        j.crossJoin(F.broadcast(ks))
        .filter(F.col("rank") <= F.col("k"))
        .groupBy("q_id", "q_label", "k", "c_label")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    pred = votes.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("q_id", "k").orderBy(F.desc("nv"), "c_label")
        ),
    ).filter(F.col("rk") == 1)
    return (
        pred.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum((F.col("c_label") == F.col("q_label")).cast("int"))
            .cast("long").alias("n_correct"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "n_queries", "n_correct",
            F.round(
                F.col("n_correct") / F.col("n_queries").cast("double"), 6
            ).alias("accuracy"),
        )
        .orderBy("k")
    )


_MMD_SIGMA2 = 64.0  # RBF bandwidth ~ embedding dim


def _mmd_sql() -> str:
    def dotd(a, b):
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip({a}, {b}), "
            f"z -> (z[1] - z[2]) * (z[1] - z[2]))), (s, x) -> s + x)"
        )

    k = lambda a, b: f"exp(-({dotd(a, b)}) / (2.0 * {_MMD_SIGMA2}))"
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    quad AS (SELECT x1.vec_id // 4 AS qk, x1.v AS x1, x2.v AS x2,
                    y1.v AS y1, y2.v AS y2
             FROM e x1
             JOIN e x2 ON x2.vec_id = x1.vec_id + 2
             JOIN e y1 ON y1.vec_id = x1.vec_id + 1
             JOIN e y2 ON y2.vec_id = x1.vec_id + 3
             WHERE x1.vec_id % 4 = 0),
    variants AS (
        SELECT 'null' AS split, qk, x1, x2, y1, y2 FROM quad
        UNION ALL
        SELECT 'shifted', qk, x1, x2,
               list_transform(y1, t -> t + 0.5),
               list_transform(y2, t -> t + 0.5)
        FROM quad),
    h AS (SELECT split, qk,
                 CAST(round(1e9 * ({k("x1", "x2")} + {k("y1", "y2")}
                                   - {k("x1", "y2")} - {k("x2", "y1")}))
                      AS BIGINT) AS h_n
          FROM variants)
    SELECT split, CAST(count(*) AS BIGINT) AS n_quads,
           round(sum(h_n) / 1e9 / count(*), 6) AS mmd2
    FROM h GROUP BY split ORDER BY split
    """


@register("q_mmd", sql=_mmd_sql())
def q_mmd(spark, sf_dir):
    """Linear-time maximum mean discrepancy (Gretton et al.'s MMD_l):
    the two-sample test IN EMBEDDING SPACE — q_ks_test compares 1-D
    values, q_kl_drift compares token distributions; MMD asks whether
    two sets of VECTORS come from the same distribution, which is the
    question a retrain-or-not gate asks about yesterday's vs today's
    embeddings.  Streaming estimator: one RBF-kernel h-statistic per
    disjoint quadruple, so cost is O(n), not the O(n^2) full MMD.
    Two splits ship together: 'null' (even vs odd vec_id — same
    distribution, mmd2 ~ 0) and 'shifted' (odd side translated by
    +0.5/dim — the planted positive control that must separate).

    Exactness: quadruples pair by PURE KEY ARITHMETIC (ids 4k, 4k+1,
    4k+2, 4k+3 — no ranking, no global window); each h term
    nano-rounds before the sum (exp is libm, bounded by the
    protocol).  Scale: three self-equi-joins on derived keys, one
    map-side-combined reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", SIM.as_double("embedding").alias("v"))

    def side(off, name):
        return e.filter(F.col("vec_id") % 4 == off).select(
            ((F.col("vec_id") - off) / 4).cast("long").alias("qk"),
            F.col("v").alias(name),
        )

    quad = (
        side(0, "x1")
        .join(side(2, "x2"), "qk")
        .join(side(1, "y1"), "qk")
        .join(side(3, "y2"), "qk")
    )
    shift = lambda col: F.transform(col, lambda t: t + F.lit(0.5))
    variants = quad.select(
        F.lit("null").alias("split"), "qk", "x1", "x2", "y1", "y2"
    ).unionByName(
        quad.select(
            F.lit("shifted").alias("split"), "qk", "x1", "x2",
            shift("y1").alias("y1"), shift("y2").alias("y2"),
        )
    )

    def kern(a, b):
        d2 = F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        return F.exp(-d2 / (2.0 * _MMD_SIGMA2))

    h = variants.select(
        "split",
        F.round(
            F.lit(1e9)
            * (
                kern(F.col("x1"), F.col("x2"))
                + kern(F.col("y1"), F.col("y2"))
                - kern(F.col("x1"), F.col("y2"))
                - kern(F.col("x2"), F.col("y1"))
            )
        ).cast("long").alias("h_n"),
    )
    return (
        h.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_quads"),
            F.round(
                F.sum("h_n") / 1e9 / F.count(F.lit(1)).cast("double"), 6
            ).alias("mmd2"),
        )
        .orderBy("split")
    )


_TT_W = 10  # window width (tokens)
_TT_S = 5   # gap stride


@register(
    "q_texttiling",
    sql=f"""
    WITH d AS (SELECT doc_id,
                      list_filter(string_split(text, ' '),
                                  x -> len(x) > 0) AS toks
               FROM documents WHERE doc_id % 20 = 0),
    g AS (SELECT doc_id, toks,
                 unnest(generate_series({_TT_W},
                        len(toks) - {_TT_W}, {_TT_S})) AS gap
          FROM d WHERE len(toks) >= 2 * {_TT_W}),
    sim AS (SELECT doc_id, gap,
                   CAST(round(1e9 *
                     len(list_filter(
                         list_distinct(list_slice(toks,
                             gap - {_TT_W} + 1, gap)),
                         x -> list_contains(
                             list_distinct(list_slice(toks,
                                 gap + 1, gap + {_TT_W})), x)))
                     / greatest(len(list_distinct(list_concat(
                         list_slice(toks, gap - {_TT_W} + 1, gap),
                         list_slice(toks, gap + 1, gap + {_TT_W})))),
                         1)) AS BIGINT) AS sim_n
            FROM g),
    dep AS (SELECT doc_id, gap, sim_n,
                   greatest(
                     coalesce(max(sim_n) OVER (PARTITION BY doc_id
                         ORDER BY gap ROWS BETWEEN 3 PRECEDING
                         AND 1 PRECEDING), sim_n), sim_n)
                   + greatest(
                     coalesce(max(sim_n) OVER (PARTITION BY doc_id
                         ORDER BY gap ROWS BETWEEN 1 FOLLOWING
                         AND 3 FOLLOWING), sim_n), sim_n)
                   - 2 * sim_n AS depth_n
            FROM sim),
    best AS (SELECT doc_id, gap, sim_n, depth_n,
                    row_number() OVER (PARTITION BY doc_id
                        ORDER BY depth_n DESC, gap) AS rk,
                    count(*) OVER (PARTITION BY doc_id) AS n_gaps
             FROM dep)
    SELECT doc_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(gap AS BIGINT) AS best_gap,
           round(sim_n / 1e9, 6) AS gap_sim,
           round(depth_n / 1e9, 6) AS depth
    FROM best WHERE rk = 1 ORDER BY doc_id
    """,
)
def q_texttiling(spark, sf_dir):
    """TextTiling topic-boundary detection (Hearst '97, the lexical-
    cohesion chunker): slide a gap down each document, score adjacent
    {_TT_W}-token windows by distinct-word overlap (Jaccard), and
    depth-score each dip against its local similarity peaks — the
    boundary with the deepest valley is where the topic turns, i.e.
    where a RAG chunker should cut instead of at byte 512 (the
    upgrade over q_chunk's fixed windows).

    Exactness: window vocabularies are exact sets (array_intersect /
    array_union over sliced token arrays), each similarity nano-
    rounds the single Jaccard division, and depth arithmetic is
    integer; the argmax tie-breaks on the earlier gap.  Scale: all
    windows partition per document over gap counts bounded by doc
    length / stride; one scan, no joins."""
    from pyspark.sql import Window as W

    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    toks = F.filter(words("text"), lambda x: F.length(x) > 0)
    d = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2 * _TT_W
    )
    g = d.select(
        "doc_id", "toks",
        F.explode(
            F.sequence(
                F.lit(_TT_W), F.size("toks") - _TT_W, F.lit(_TT_S)
            )
        ).alias("gap"),
    )
    left = F.array_distinct(
        F.slice("toks", F.col("gap") - _TT_W + 1, _TT_W)
    )
    right = F.array_distinct(F.slice("toks", F.col("gap") + 1, _TT_W))
    inter = F.size(F.array_intersect(left, right))
    union = F.greatest(F.size(F.array_union(left, right)), F.lit(1))
    sim = g.select(
        "doc_id", "gap",
        F.round(F.lit(1e9) * inter / union).cast("long").alias("sim_n"),
    )
    wd = W.partitionBy("doc_id").orderBy("gap")
    lpeak = F.greatest(
        F.coalesce(
            F.max("sim_n").over(wd.rowsBetween(-3, -1)), F.col("sim_n")
        ),
        F.col("sim_n"),
    )
    rpeak = F.greatest(
        F.coalesce(
            F.max("sim_n").over(wd.rowsBetween(1, 3)), F.col("sim_n")
        ),
        F.col("sim_n"),
    )
    dep = sim.select(
        "doc_id", "gap", "sim_n",
        (lpeak + rpeak - 2 * F.col("sim_n")).alias("depth_n"),
    )
    best = dep.select(
        "*",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("depth_n"), "gap")
        ).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n_gaps"),
    )
    return (
        best.filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("n_gaps").cast("long").alias("n_gaps"),
            F.col("gap").cast("long").alias("best_gap"),
            F.round(F.col("sim_n") / 1e9, 6).alias("gap_sim"),
            F.round(F.col("depth_n") / 1e9, 6).alias("depth"),
        )
        .orderBy("doc_id")
    )
