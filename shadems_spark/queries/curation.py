"""Corpus-curation queries (operators/curation.py): benchmark
decontamination, repetition filtering, PII scrubbing, deterministic
domain mixing, and sequence packing.

No reference anchor — [R] shade_ms has no curation surface; these are
north-star LLM-pipeline extensions over the driver's ``documents``
table, oracle-checked like every other query family.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from shadems_spark.catalog import load_table
from shadems_spark.operators.hashing import knuth32
from shadems_spark.operators.curation import (
    decontaminate,
    gopher_rules,
    pack_sequences,
    repetition_stats,
    scrub_pii,
    stratified_sample,
)
from shadems_spark.queries import register
from shadems_spark.queries.llm_ops import _NB_SQL

#: (stratum, keep-rate) mixture used by q_domain_mix on both engines.
_MIX = [("en", 0.5), ("de", 0.8), ("es", 0.25), ("fr", 1.0), ("zh", 0.1)]


@register(
    "q_decontaminate",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                       for i in range(len(ws) - 2)])) AS ng
          FROM w),
    bg AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
    tot AS (SELECT doc_id, count(*) AS total FROM g
            WHERE doc_id % 97 <> 0 GROUP BY 1),
    m AS (SELECT g.doc_id, count(*) AS matched FROM g JOIN bg USING (ng)
          WHERE g.doc_id % 97 <> 0 GROUP BY 1)
    SELECT m.doc_id, matched, total,
           round(matched / total, 6) AS overlap
    FROM m JOIN tot USING (doc_id)
    WHERE matched / total >= 0.05
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: word-3-gram overlap of the corpus
    against a held-out benchmark set (doc_id % 97 = 0 stands in for
    the benchmark).  The benchmark gram set broadcast-joins against
    the corpus grams — the corpus side never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    hits = decontaminate(corpus, bench)
    return hits.filter(F.col("matched") / F.col("total") >= 0.05)


@register(
    "q_repetition",
    sql="""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    c AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2),
    s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words, count(*) AS n_uniq,
                 round(max(n) / sum(n), 6) AS top_frac,
                 round(1.0 - count(*) / sum(n), 6) AS dup_frac
          FROM c GROUP BY 1)
    SELECT * FROM s WHERE dup_frac >= 0.6
    """,
)
def q_repetition(spark, sf_dir):
    """Gopher-style repetition filter: flag documents whose duplicate
    word mass (1 − distinct/total) exceeds 0.6.  Two-level hash agg;
    the shuffle carries (doc, word) partial counts, not raw tokens."""
    docs = load_table(spark, sf_dir, "documents")
    stats = repetition_stats(docs)
    return stats.filter(F.col("dup_frac") >= 0.6)


@register(
    "q_pii_scrub",
    sql=r"""
    WITH aug AS (
        SELECT doc_id, lang,
               text || ' contact ' || source || '@example.com ip 10.0.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.1' AS t0
        FROM documents),
    s AS (SELECT doc_id, lang,
                 len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c1,
                 regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
          FROM aug),
    s2 AS (SELECT doc_id, lang, c1,
                  len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS c2,
                  regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g') AS t2
           FROM s),
    s3 AS (SELECT doc_id, lang, c1 + c2 +
                  len(regexp_extract_all(t2, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}')) AS n_redacted,
                  regexp_replace(t2, '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}', '[PHONE]', 'g') AS clean
           FROM s2)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_redacted) AS BIGINT) AS redactions,
           CAST(sum(length(clean)) AS BIGINT) AS clean_chars
    FROM s3 GROUP BY lang
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII scrubbing over a synthesized contact suffix (the corpus
    text itself is PII-free): emails, IPv4s, then phone numbers
    replaced in sequence, redactions counted per language.  Pure
    regexp_replace/regexp_count chain — codegen'd, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "t0",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.col("source"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    clean = scrub_pii(aug, "t0")
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_redacted").alias("redactions"),
        F.sum(F.length("clean")).alias("clean_chars"),
    )


@register(
    "q_domain_mix",
    sql=f"""
    WITH rates AS (SELECT * FROM (VALUES {", ".join(f"('{s}', {r})" for s, r in _MIX)})
                   AS t(lang, rate)),
    kept AS (
        SELECT d.* FROM documents d JOIN rates USING (lang)
        WHERE d.doc_id % 1000 < CAST(rate * 1000 AS BIGINT))
    SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS key_sum
    FROM kept GROUP BY lang
    """,
)
def q_domain_mix(spark, sf_dir):
    """Domain mixing: deterministically resample each language to a
    target rate (key-mod systematic sampling — same rows kept on every
    engine and run, unlike rng-based sample()).  Broadcast rates join;
    the corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    # VALUES makes a LocalRelation — broadcasting it is driver-side
    # only; createDataFrame would route through a Python RDD and pay a
    # Python-worker job per run (measured ~1s of q_domain_mix's wall).
    values = ", ".join(f"('{s}', {r})" for s, r in _MIX)
    rates = spark.sql(f"SELECT * FROM VALUES {values} AS t(lang, rate)")
    kept = stratified_sample(docs, rates, "doc_id", "lang")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("key_sum"),
    )


@register(
    "q_seq_pack",
    sql="""
    WITH t AS (SELECT doc_id, lang,
                      CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
               FROM documents),
    p AS (SELECT lang, tokens,
                 CAST((sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - tokens) // 512
                      AS BIGINT) AS pack_id
          FROM t)
    SELECT lang, pack_id, count(*) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS pack_tokens
    FROM p GROUP BY 1, 2
    """,
)
def q_seq_pack(spark, sf_dir):
    """Sequence packing (concat-then-chunk): per-language token stream
    in doc_id order cut into 512-token contexts; each document lands
    in the pack holding its first token.  One sort-shuffle per stream
    key; integer arithmetic end-to-end so the oracle is bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.withColumn(
        "tokens", F.ceil(F.length("text") / F.lit(4.0)).cast("long")
    )
    packed = pack_sequences(t, budget=512)
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("pack_tokens"),
    )


@register(
    "q_gopher_rules",
    sql="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           round(list_sum(list_transform(string_split(text, ' '),
                                         w -> CAST(length(w) AS DOUBLE)))
                 / len(string_split(text, ' ')), 4) AS mean_word_len,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                 / len(string_split(text, ' ')), 6) AS symbol_ratio,
           round(len(list_filter(string_split(text, ' '),
                                 w -> regexp_matches(w, '[A-Za-z]')))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS alpha_word_frac,
           CAST(len(string_split(text, ' ')) BETWEEN 3 AND 100000
                AND (list_sum(list_transform(string_split(text, ' '),
                                             w -> CAST(length(w) AS DOUBLE)))
                     / len(string_split(text, ' '))) BETWEEN 2.0 AND 12.0
                AND ((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                     / len(string_split(text, ' '))) < 1.0
                AND (len(list_filter(string_split(text, ' '),
                                     w -> regexp_matches(w, '[A-Za-z]')))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 0.8
                AS INT) AS passes_gopher
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def q_gopher_rules(spark, sf_dir):
    """Gopher quality rules battery (word count / mean word length /
    symbol ratio / alpha-word fraction + combined pass flag) — the
    rule-level audit columns a curation pipeline filters on."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    return gopher_rules(docs).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_word_frac", "passes_gopher",
    )


@register(
    "q_group_sample",
    sql="""
    SELECT event_type, event_id, user_id FROM (
      SELECT event_type, event_id, user_id,
             row_number() OVER
               (PARTITION BY event_type
                ORDER BY (event_id * 2654435761) % 4294967296, event_id)
               AS rk
      FROM events)
    WHERE rk <= 3
    """,
)
def q_group_sample(spark, sf_dir):
    """Deterministic k-per-group sampling (eval-set construction):
    rank rows inside each group by a multiplicative hash of their id
    and keep the first k.  Identical on re-run/retry/engine — no
    sampling state; one shuffle on the group key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        knuth32("event_id"), "event_id"
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "event_id", "user_id")
    )


@register(
    "q_alpha_mix",
    sql="""
    WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM s),
    w AS (SELECT lang, n, pow(n / CAST(tot AS DOUBLE), 0.3) AS wu FROM s, t)
    SELECT lang, n, round(wu / sum(wu) OVER (), 6) AS rate
    FROM w
    """,
)
def q_alpha_mix(spark, sf_dir):
    """Temperature-based mixture weights (multilingual-sampling
    alpha-mix, alpha=0.3): per-language corpus shares raised to alpha
    and renormalized — the standard up/down-weighting rule for
    low/high-resource strata in training-data mixing.  One fact-scan
    aggregate; everything after runs on the languages-sized table."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = s.agg(F.sum("n").alias("tot"))
    w = s.crossJoin(F.broadcast(tot)).withColumn(
        "wu", F.pow(F.col("n") / F.col("tot"), F.lit(0.3))
    )
    # normalizer as a 1-row broadcast aggregate instead of a
    # whole-frame window (window-free, VERDICT r7 #5)
    zt = w.agg(F.sum("wu").alias("__z"))
    return w.crossJoin(F.broadcast(zt)).select(
        "lang", "n", F.round(F.col("wu") / F.col("__z"), 6).alias("rate")
    )


@register(
    "q_unigram_lm",
    sql="""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u FROM documents),
    uc AS (SELECT u, count(*) AS n FROM w GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM uc),
    sc AS (SELECT w.doc_id, -ln(uc.n / CAST(tot AS DOUBLE)) AS nll
           FROM w JOIN uc USING (u) CROSS JOIN tot)
    SELECT doc_id, count(*) AS n_tokens, round(avg(nll), 4) AS avg_nll
    FROM sc GROUP BY doc_id
    """,
)
def q_unigram_lm(spark, sf_dir):
    """Self-trained unigram LM quality score: every document scored by
    its mean token negative-log-likelihood under the corpus's own
    unigram distribution — the cheap LM-perplexity proxy used to rank
    documents when no external LM is available.  Token<->vocab join is
    keyed on the word (narrow key, word-partitioned shuffle); the
    corpus total rides a broadcast."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(words("text")).alias("u"))
    uc = w.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    tot = uc.agg(F.sum("n").alias("tot"))
    sc = (
        w.join(uc, "u")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (-F.log(F.col("n") / F.col("tot"))).alias("nll"))
    )
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
    )


@register(
    "q_span_dedup",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                       for i in range(len(ws) - 2)])) AS ng
          FROM w),
    d AS (SELECT ng, count(*) AS nd FROM g GROUP BY 1)
    SELECT g.doc_id, count(*) AS total,
           CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared,
           round(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) / count(*), 6)
               AS shared_frac
    FROM g JOIN d USING (ng) GROUP BY 1
    """,
)
def q_span_dedup(spark, sf_dir):
    """Span-level duplication audit (the 'fraction of my 3-gram spans
    that exist in another document' signal behind exact-substring
    dedup): distinct per-doc gram hashes, gram document-frequency,
    joined back for a per-doc shared fraction.  All joins/aggregates
    ride 8-byte xxhash64 gram keys (operators/text.ngram_hashes) —
    counts are hash-invariant so the string-gram oracle matches."""
    from shadems_spark.operators.dedup import tracked_persist
    from shadems_spark.operators.text import ngram_hashes, words

    docs = load_table(spark, sf_dir, "documents")
    # g feeds both the document-frequency aggregate and the join-back;
    # persist so the shingle scan runs once (the ngram_grams pattern).
    g = tracked_persist(
        docs.select(
            "doc_id", F.explode(ngram_hashes(words("text"), 3)).alias("ng")
        ),
        key="span_grams",
    )
    d = g.groupBy("ng").agg(F.count(F.lit(1)).alias("nd"))
    j = g.join(d, "ng")
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total"),
        shared.alias("shared"),
        F.round(shared / F.count(F.lit(1)), 6).alias("shared_frac"),
    )


@register(
    "q_zipf",
    sql="""
    WITH uc AS (SELECT u, count(*) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS u FROM documents)
                GROUP BY 1),
    top AS (SELECT n, row_number() OVER (ORDER BY n DESC, u) AS rk
            FROM uc ORDER BY n DESC, u LIMIT 200)
    SELECT count(*) AS n_points,
           round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4)
               AS slope
    FROM top
    """,
)
def q_zipf(spark, sf_dir):
    """Zipf-slope corpus health check: OLS slope of ln(frequency) on
    ln(rank) over the top-200 vocabulary (natural language ~ -1; a
    flat or cliffy slope flags templated/boilerplate corpora).  The
    vocab aggregate is the only corpus-scale stage; top-200 comes from
    TakeOrderedAndProject and the regression is covar_pop/var_pop on
    200 rows."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    uc = (
        docs.select(F.explode(words("text")).alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from shadems_spark.operators.profile import triangle_rank

    top = uc.orderBy(F.col("n").desc(), "u").limit(200).withColumn(
        "__negn", -F.col("n")
    )
    # rank over the 200 survivors as a broadcast triangle join
    # (negated count = exact desc order) — window-free
    ranked = triangle_rank(top, ["__negn", "u"], out="__rk")
    pts = ranked.select(
        F.log(F.col("n").cast("double")).alias("y"),
        F.log(F.col("__rk").cast("double")).alias("x"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.covar_pop("y", "x") / F.var_pop("x"), 4).alias("slope"),
    )


@register(
    "q_token_budget",
    sql="""
    WITH t AS (SELECT doc_id, lang,
                      CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens,
                      (doc_id * 2654435761) % 4294967296 AS h
               FROM documents),
    c AS (SELECT *,
                 CAST(sum(tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                        ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM t)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS taken_tokens,
           CAST(max(cum) AS BIGINT) AS budget_used
    FROM c WHERE cum <= 6000 GROUP BY lang
    """,
)
def q_token_budget(spark, sf_dir):
    """Token-budget quota sampling: each language contributes documents
    in deterministic hash order until its token budget (6k) fills —
    the mixture-building step when targets are token counts, not row
    rates.  One sort-shuffle per language (same shape as sequence
    packing); the budget cut is a running-sum filter, no iteration."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
        knuth32("doc_id").alias("h"),
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = t.withColumn("cum", F.sum("tokens").over(w))
    return (
        c.filter(F.col("cum") <= 6000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("taken_tokens"),
            F.max("cum").alias("budget_used"),
        )
    )


@register(
    "q_text_normalize",
    sql="""
    WITH raw AS (
      SELECT doc_id,
             text || ' Café über niño' AS t
      FROM documents WHERE doc_id % 7 = 0
    ),
    n AS (SELECT doc_id, nfc_normalize(t) AS nfc_text, length(t) AS pre_chars
          FROM raw)
    SELECT doc_id,
           nfc_text,
           pre_chars,
           length(nfc_text) AS nfc_chars,
           strip_accents(nfc_text) AS folded,
           trim(regexp_replace(lower(strip_accents(nfc_text)),
                               '[^a-z0-9 ]', '', 'g')) AS clean,
           length(trim(regexp_replace(lower(strip_accents(nfc_text)),
                                      '[^a-z0-9 ]', '', 'g')))
             - length(replace(trim(regexp_replace(lower(strip_accents(nfc_text)),
                                                  '[^a-z0-9 ]', '', 'g')),
                              ' ', '')) + 1 AS n_tokens
    FROM n ORDER BY doc_id
    """,
)
def q_text_normalize(spark, sf_dir):
    """Text-normalization battery — the step every training corpus
    runs before tokenization: Unicode NFC (combining marks fuse:
    'e'+U+0301 -> 'e-acute'), accent folding (NFD-drop-Mn, the
    utf8proc strip_accents rule), lowercasing, punctuation strip, and
    whitespace-derived token counts.  NFC/fold are Arrow pandas UDFs
    (operators/text.py::nfc_udf — Spark has no normalize builtin);
    everything else stays JVM-side.  A decomposed-accent suffix is
    appended to the (ASCII) fixture text on BOTH engines so the
    normalization is exercised for real: pre_chars != nfc_chars
    proves fusion happened, and DuckDB's native nfc_normalize /
    strip_accents cross-check the Python implementation exactly."""
    from shadems_spark.operators.text import nfc_udf, strip_accents_udf

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Café über niño")
        ).alias("t"),
    )
    n = raw.select(
        "doc_id",
        nfc_udf()(F.col("t")).alias("nfc_text"),
        F.length("t").cast("long").alias("pre_chars"),
    )
    folded = strip_accents_udf()(F.col("nfc_text"))
    clean = F.trim(F.regexp_replace(F.lower(folded), "[^a-z0-9 ]", ""))
    return n.select(
        "doc_id",
        "nfc_text",
        "pre_chars",
        F.length("nfc_text").cast("long").alias("nfc_chars"),
        folded.alias("folded"),
        clean.alias("clean"),
        (
            F.length(clean) - F.length(F.replace(clean, F.lit(" "), F.lit("")))
            + 1
        ).cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


@register(
    "q_pipeline_e2e",
    sql="""
    WITH g AS (
      SELECT doc_id, text, lang, n_chars,
             len(string_split(text, ' ')) AS nw
      FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 3 AND 100000
        AND round(list_sum(list_transform(string_split(text, ' '),
                                          w -> CAST(length(w) AS DOUBLE)))
                  / len(string_split(text, ' ')), 4) BETWEEN 2.0 AND 12.0
        AND round((length(text)
                   - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                  / len(string_split(text, ' ')), 6) < 1.0
        AND round(len(list_filter(string_split(text, ' '),
                                  w -> regexp_matches(w, '[A-Za-z]')))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) >= 0.8
    ),
    d AS (SELECT * FROM (
            SELECT g.*, min(doc_id) OVER (PARTITION BY text) AS keep
            FROM g) WHERE doc_id = keep),
    s AS (SELECT *,
                 CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80
                        THEN 'train'
                      WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
                        THEN 'val'
                      ELSE 'test' END AS split
          FROM d)
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(sum(nw) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_pipeline_e2e(spark, sf_dir):
    """End-to-end curation pipeline as ONE composed DAG — the "user
    switches their pipeline to this engine" artifact: Gopher quality
    gate -> exact dedup (keep lowest id per identical text) -> 
    deterministic 80/10/10 hash split -> per-(split, lang) corpus
    report.  Every stage is an existing operator
    (operators/curation.py::gopher_rules, dedup-by-min-window,
    operators/retrieval.py::stratified_split); Catalyst fuses the
    quality gate into the scan, the dedup window and the final agg
    are the only two shuffles, and the split adds zero.  The oracle
    chains the same stages as CTEs."""
    from shadems_spark.operators.retrieval import stratified_split

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rules(docs).filter(F.col("passes_gopher") == 1)
    w = Window.partitionBy("text")
    d = (
        g.withColumn("keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep"))
    )
    s = stratified_split(d)
    return (
        s.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


@register(
    "q_bigram_lm",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    u AS (SELECT doc_id, unnest(ws) AS tok FROM w),
    uc AS (SELECT tok, count(*) AS n FROM u GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM uc),
    b AS (SELECT doc_id,
                 unnest([ws[i+1] || ' ' || ws[i+2]
                         for i in range(len(ws) - 1)]) AS bg
          FROM w),
    bc AS (SELECT bg, count(*) AS nb FROM b GROUP BY 1),
    ctx AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(nb) AS BIGINT) AS nc
            FROM bc GROUP BY 1),
    sc AS (SELECT b.doc_id,
                  -ln(0.75 * (bc.nb / CAST(ctx.nc AS DOUBLE))
                      + 0.25 * (uc.n / CAST(tot.tot AS DOUBLE))) AS nll
           FROM b
           JOIN bc USING (bg)
           JOIN ctx ON string_split(b.bg, ' ')[1] = ctx.w1
           JOIN uc ON string_split(b.bg, ' ')[2] = uc.tok
           CROSS JOIN tot)
    SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS avg_nll
    FROM sc GROUP BY doc_id
    """,
)
def q_bigram_lm(spark, sf_dir):
    """Self-trained interpolated bigram LM quality score: per-doc mean
    NLL under 0.75*P(w2|w1) + 0.25*P(w2) — the next step up from the
    unigram proxy (repetitive or shuffled text scores visibly
    differently once context enters).  Scale shape: bigram and
    context tables are vocabulary-sized aggregates joined back on
    their own keys (one shuffle each, map-side combined); the corpus
    total rides a broadcast 1-row aggregate.  ln is libm -> avg
    rounded 4dp, the q_unigram_lm convention."""
    from shadems_spark.operators.exprcache import memo
    from shadems_spark.operators.text import _sliding, words

    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    u = docs.select("doc_id", F.explode(ws).alias("tok"))
    uc = u.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = uc.agg(F.sum("n").alias("tot"))
    # the bigram stream feeds two consumers, but ReuseExchange dedups
    # the shared shuffle — persisting it measured slightly SLOWER
    # (A/B at sf0.1); see q_tfidf for the rule of thumb.  The gram
    # expression shares q_backoff_lm's memo key (identical build).
    b = docs.select(
        "doc_id",
        memo(
            ("lm_bg",),
            lambda: F.explode(
                _sliding(ws, 2, lambda a, x: F.concat(a, F.lit(" "), x))
            ).alias("bg"),
        ),
    )
    bc = b.groupBy("bg").agg(F.count(F.lit(1)).alias("nb"))
    ctx = (
        bc.withColumn("w1", memo(("lm_w1",), lambda: F.split("bg", " ")[0]))
        .groupBy("w1")
        .agg(F.sum("nb").alias("nc"))
    )
    sc = (
        b.join(bc, "bg")
        .withColumn("w1", memo(("lm_w1",), lambda: F.split("bg", " ")[0]))
        .withColumn("w2", memo(("lm_w2",), lambda: F.split("bg", " ")[1]))
        .join(ctx, "w1")
        .join(uc.withColumnRenamed("tok", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            memo(
                ("bigram_nll",),
                lambda: (
                    -F.log(
                        F.lit(0.75) * (F.col("nb") / F.col("nc"))
                        + F.lit(0.25) * (F.col("n") / F.col("tot"))
                    )
                ).alias("nll"),
            ),
        )
    )
    return sc.groupBy("doc_id").agg(
        *memo(
            ("bigram_out",),
            lambda: [
                F.count(F.lit(1)).alias("n_bigrams"),
                F.round(F.avg("nll"), 4).alias("avg_nll"),
            ],
        )
    )


@register(
    "q_weighted_reservoir",
    sql="""
    WITH u AS (SELECT doc_id, lang, n_chars,
                      ((doc_id * 2654435761) % 4294967296 + 1)
                        / 4294967297.0 AS uni
               FROM documents),
    k AS (SELECT doc_id, lang, n_chars,
                 round(ln(uni) / n_chars, 10) AS es_key
          FROM u)
    SELECT lang, doc_id, n_chars, es_key,
           CAST(rk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY lang
                     ORDER BY es_key DESC, doc_id) AS rk
          FROM k)
    WHERE rk <= 5 ORDER BY lang, rank
    """,
)
def q_weighted_reservoir(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, k=5 per language
    (Efraimidis & Spirakis 2006): key = u^(1/w) per item, take the
    top-k keys — the one-pass, merge-friendly scheme distributed
    samplers use (per-partition top-k merges exactly).  Here in its
    log form ln(u)/w (same ordering, better conditioning), with u
    hash-derived from the id so the sample is deterministic across
    runs, retries, AND engines; ln is libm -> key rounded 10dp, rank
    window on the rounded key (house convention)."""
    docs = load_table(spark, sf_dir, "documents")
    uni = (knuth32("doc_id") + 1) / F.lit(float((1 << 32) + 1))
    k = docs.select(
        "doc_id", "lang", "n_chars",
        F.round(F.log(uni) / F.col("n_chars"), 10).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return (
        k.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("lang", "doc_id", "n_chars", "es_key", "rank")
        .orderBy("lang", "rank")
    )


@register(
    "q_split_leakage",
    sql="""
    WITH s AS (SELECT doc_id, left(text, 100) AS k,
                      CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80
                             THEN 'train'
                           WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
                             THEN 'val'
                           ELSE 'test' END AS split
               FROM documents),
    p AS (SELECT a.split AS split1, b.split AS split2
          FROM s a JOIN s b ON a.k = b.k AND a.doc_id < b.doc_id)
    SELECT split1, split2, count(*) AS n_pairs,
           CAST(sum(CASE WHEN split1 != split2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaking
    FROM p GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_split_leakage(spark, sf_dir):
    """Train/test leakage audit: duplicate-prefix pairs whose members
    land in DIFFERENT splits under the hash assignment — the
    contamination every eval pipeline must check before trusting held-
    out numbers (near-dup leakage via the minhash pair table is the
    fuzzy extension).  The pair key is the 100-char text PREFIX, not
    the full text: the sf0.01 fixture has zero exact-dup pairs (500
    docs, 500 distinct texts — VERDICT r4 #2 found the exact-key form
    vacuous at the driver's check scale) but its planted near-dups
    share prefixes, so this key yields real leakage rows at every SF
    (24 pairs / 4 leaks at sf0.01; 225 / 70 at sf0.1).  Shape: sha2
    narrows the prefix to a fixed-width self-join key, split derives
    per-row (no extra shuffle), the report is split-pair-keyed and
    tiny."""
    from shadems_spark.operators.retrieval import stratified_split

    docs = stratified_split(load_table(spark, sf_dir, "documents"))
    s = docs.select(
        "doc_id", F.sha2(F.substring("text", 1, 100), 256).alias("h"), "split"
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.split").alias("split1"), F.col("b.split").alias("split2")
    )
    return (
        pairs.groupBy("split1", "split2")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("split1") != F.col("split2"), 1).otherwise(0)
            ).alias("n_leaking"),
        )
        .orderBy("split1", "split2")
    )


@register(
    "q_dup_rate_by_source",
    sql="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT text) AS n_distinct,
           count(*) - count(DISTINCT text) AS n_dup_docs,
           round((count(*) - count(DISTINCT text))
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q_dup_rate_by_source(spark, sf_dir):
    """Per-source duplication dashboard: docs vs distinct texts per
    source and the implied duplicate rate — the triage view that
    decides WHERE dedup budget goes (a crawl source at 30% dup rate
    gets the minhash pass first).  sha2 narrows the distinct to a
    32-byte key, so the shuffle never carries document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.sha2("text", 256))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_dup_docs"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("h"))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "q_oov_rate",
    sql="""
    WITH s AS (SELECT doc_id, text,
                      CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80
                             THEN 'train'
                           WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
                             THEN 'val'
                           ELSE 'test' END AS split
               FROM documents),
    w AS (SELECT split, unnest(string_split(text, ' ')) AS tok FROM s),
    tv AS (SELECT DISTINCT tok FROM w WHERE split = 'train'),
    vv AS (SELECT DISTINCT tok FROM w WHERE split = 'val'),
    oov AS (SELECT count(*) AS n_oov FROM vv
            WHERE tok NOT IN (SELECT tok FROM tv))
    SELECT (SELECT count(*) FROM tv) AS train_vocab,
           (SELECT count(*) FROM vv) AS val_vocab,
           (SELECT n_oov FROM oov) AS val_oov,
           round((SELECT n_oov FROM oov)
                 / CAST((SELECT count(*) FROM vv) AS DOUBLE), 6) AS oov_rate
    """,
)
def q_oov_rate(spark, sf_dir):
    """Held-out out-of-vocabulary rate: the fraction of the val
    split's distinct tokens unseen in train — the eval-hygiene
    number behind tokenizer and split sanity (a high OOV rate means
    the split starved eval of representative text).  Vocabulary
    tables are distinct-aggregated per split (map-side combined) and
    the OOV check is one anti-join on the token key."""
    from shadems_spark.operators.retrieval import stratified_split
    from shadems_spark.operators.text import words

    docs = stratified_split(load_table(spark, sf_dir, "documents"))
    w = docs.select("split", F.explode(words("text")).alias("tok"))
    tv = w.filter(F.col("split") == "train").select("tok").distinct()
    vv = w.filter(F.col("split") == "val").select("tok").distinct()
    oov = vv.join(tv, "tok", "left_anti")
    return (
        tv.agg(F.count(F.lit(1)).alias("train_vocab"))
        .crossJoin(vv.agg(F.count(F.lit(1)).alias("val_vocab")))
        .crossJoin(oov.agg(F.count(F.lit(1)).alias("val_oov")))
        .select(
            "train_vocab",
            "val_vocab",
            "val_oov",
            F.round(F.col("val_oov") / F.col("val_vocab"), 6).alias("oov_rate"),
        )
    )


_DSIR_D = 16

_DSIR_SQL = f"""
    WITH w AS (SELECT doc_id, lang = 'en' AS is_t,
                      list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
               FROM documents),
    b AS (SELECT doc_id, is_t,
                 unnest(list_transform(ws, w ->
                     list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(w, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % {_DSIR_D})) AS b
          FROM w),
    dom AS (SELECT unnest(range({_DSIR_D})) AS b),
    tot AS (SELECT dom.b,
                   coalesce(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0) AS tc,
                   coalesce(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END), 0) AS rc
            FROM dom LEFT JOIN b ON b.b = dom.b GROUP BY dom.b),
    g AS (SELECT sum(tc) AS tt, sum(rc) AS tr FROM tot),
    lam AS (SELECT b,
                   CAST(round((ln((tc + 1.0) / (tt + {_DSIR_D}))
                               - ln((rc + 1.0) / (tr + {_DSIR_D})))
                              * 1000000) AS BIGINT) AS lam_micro
            FROM tot, g),
    c AS (SELECT doc_id, b, count(*) AS c FROM b WHERE NOT is_t GROUP BY 1, 2),
    s AS (SELECT doc_id, CAST(sum(c * lam_micro) AS BIGINT) AS logw_micro
          FROM c JOIN lam USING (b) GROUP BY doc_id),
    r AS (SELECT doc_id, logw_micro,
                 row_number() OVER (ORDER BY logw_micro DESC, doc_id) AS rk
          FROM s)
    SELECT doc_id, logw_micro,
           round(logw_micro / 1000000.0, 6) AS logw,
           CAST(rk AS INT) AS rank
    FROM r WHERE rk <= 25 ORDER BY rank
"""


@register("q_dsir", sql=_DSIR_SQL)
def q_dsir(spark, sf_dir):
    """DSIR data selection (arXiv:2302.03169;
    operators/curation.py::dsir_logweights): hashed-feature importance
    log-weights of every non-English pool doc against the English
    target distribution, top-25 by weight — the "pick pretraining
    data that looks like the quality set" selector.  The micro-scaled
    integer lambda makes the per-doc reduction an exact integer sum
    (order-free), so the only rounding boundary is the ln itself —
    hash-exact against the oracle.

    The final global rank is the bounded-output top-k: orderBy+limit
    plans TakeOrderedAndProject (per-partition top-25s, merged), and
    the 25 survivors rank via the broadcast triangle join (negated
    micro-int weight = exact desc order) — window-free (VERDICT r7
    #5; the r6 form ranked through a WindowGroupLimit-prefiltered
    global window)."""
    from shadems_spark.operators.curation import dsir_logweights
    from shadems_spark.operators.profile import triangle_rank

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_logweights(docs, F.col("lang") == "en", d=_DSIR_D)
    top = scored.orderBy(F.col("logw_micro").desc(), "doc_id").limit(
        25
    ).withColumn("__negw", -F.col("logw_micro"))
    return (
        triangle_rank(top, ["__negw", "doc_id"], out="rank")
        .select(
            "doc_id",
            "logw_micro",
            F.round(F.col("logw_micro") / F.lit(1_000_000.0), 6).alias("logw"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


_LR_HASH = """list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(t, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 1000000007) % 16"""

_LR_SQL = f"""
    WITH w0 AS (SELECT doc_id,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                       list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
                FROM documents),
    d0 AS (SELECT doc_id, y, len(ws) AS nw FROM w0),
    b AS (SELECT doc_id, y, len(ws) AS nw,
                 unnest(list_transform(ws, t -> {_LR_HASH})) AS b
          FROM w0),
    c AS (SELECT doc_id, y, nw, b, count(*) AS c FROM b GROUP BY ALL),
    n AS (SELECT count(*) AS n FROM d0),
    dom AS (SELECT unnest(range(16)) AS b),
    -- iteration 1: w = 0 => sigmoid(z) = 0.5 for every doc
    g1 AS (SELECT dom.b,
                  coalesce(CAST(sum(CAST(round((0.5 - y) * 1000000000.0 * c
                                                / (1.0 + nw)) AS BIGINT))
                                AS BIGINT), 0) AS s
           FROM dom LEFT JOIN c ON c.b = dom.b GROUP BY dom.b),
    g1b AS (SELECT CAST(sum(CAST(round((0.5 - y) * 1000000000.0) AS BIGINT))
                        AS BIGINT) AS s FROM d0),
    w1 AS (SELECT b, -CAST(floor(s * 1.0 / n) AS BIGINT) AS wn FROM g1, n),
    w1b AS (SELECT -CAST(floor(s * 1.0 / n) AS BIGINT) AS wn FROM g1b, n),
    -- iteration 2: exact-integer margin, 9dp sigmoid boundary
    zs AS (SELECT c.doc_id, CAST(sum(c.c * w1.wn) AS BIGINT) AS zs
           FROM c JOIN w1 USING (b) GROUP BY c.doc_id),
    z2 AS (SELECT d0.doc_id, d0.y, d0.nw,
                  coalesce(zs.zs, 0) / (1000000000.0 * (1 + d0.nw))
                  + w1b.wn / 1000000000.0 AS z
           FROM d0 LEFT JOIN zs USING (doc_id), w1b),
    r2 AS (SELECT doc_id, nw, round(1.0 / (1.0 + exp(-z)), 9) - y AS r
           FROM z2),
    g2 AS (SELECT dom.b,
                  coalesce(CAST(sum(CAST(round(r * 1000000000.0 * c
                                                / (1.0 + nw)) AS BIGINT))
                                AS BIGINT), 0) AS s
           FROM dom LEFT JOIN (SELECT c.*, r2.r FROM c JOIN r2 USING (doc_id)) cr
             ON cr.b = dom.b
           GROUP BY dom.b),
    g2b AS (SELECT CAST(sum(CAST(round(r * 1000000000.0) AS BIGINT)) AS BIGINT)
                   AS s FROM r2),
    w2 AS (SELECT b, wn - CAST(floor(s * 1.0 / n) AS BIGINT) AS wn
           FROM w1 JOIN g2 USING (b), n),
    w2b AS (SELECT w1b.wn - CAST(floor(s * 1.0 / n) AS BIGINT) AS wn
            FROM w1b, g2b, n)
    SELECT CAST(b AS INT) AS feature, wn AS w_nano,
           round(wn / 1000000000.0, 9) AS weight
    FROM (SELECT b, wn FROM w2 UNION ALL SELECT 16, wn FROM w2b)
    ORDER BY feature
"""


@register("q_lr_train", sql=_LR_SQL)
def q_lr_train(spark, sf_dir):
    """Distributed quality-classifier TRAINING
    (operators/curation.py::train_quality_lr): 2 full-batch logistic-
    regression iterations on hashed bag-of-words features, label =
    (lang == 'en') — the training side q_quality_classifier's apply
    pass was missing.  Each iteration is ONE aggregate over the
    persisted (doc, bucket) count table; driver state is the
    17-weight vector (codebook-sized, the power_top_component
    precedent).  The nano-int exactness protocol (see the operator
    docstring) makes the trained weights IDENTICAL on Spark, on the
    unrolled-CTE DuckDB oracle, and under any partition layout — an
    iterative-ML hash-exact row, like the scaled-int pagerank."""
    from shadems_spark.operators.curation import train_quality_lr

    docs = load_table(spark, sf_dir, "documents")
    w = train_quality_lr(docs, F.col("lang") == "en", d=16, iters=2)
    vals = ", ".join(f"({b}, {int(wn)}L)" for b, wn in enumerate(w))
    out = spark.sql(f"SELECT * FROM VALUES {vals} AS t(feature, w_nano)")
    return out.select(
        F.col("feature").cast("int").alias("feature"),
        "w_nano",
        F.round(F.col("w_nano") / F.lit(1_000_000_000.0), 9).alias("weight"),
    ).orderBy("feature")


@register("q_naive_bayes", sql=_NB_SQL)
def q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language ID, trained on docs with
    doc_id %% 5 != 0 and applied to the held-out fifth
    (operators/curation.py::naive_bayes_lang).  The whole
    train+predict composition is one declarative plan — NB training
    is just two aggregates — and every log-probability is a nano-int
    (the q_lr_train exactness protocol), so per-doc scores are exact
    integer sums and the argmax is engine- and layout-independent:
    a full ML train+apply cycle with a HASH-EXACT SQL oracle."""
    from shadems_spark.operators.curation import naive_bayes_lang

    docs = load_table(spark, sf_dir, "documents")
    return naive_bayes_lang(docs).orderBy("doc_id")


@register(
    "q_ccnet_buckets",
    sql="""
    WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS u
               FROM documents),
    uc AS (SELECT u, count(*) AS n FROM w GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM uc),
    sc AS (SELECT w.doc_id, w.lang, -ln(uc.n / CAST(tot AS DOUBLE)) AS nll
           FROM w JOIN uc USING (u) CROSS JOIN tot),
    d AS (SELECT doc_id, lang, round(avg(nll), 4) AS avg_nll
          FROM sc GROUP BY 1, 2),
    b AS (SELECT *, ntile(3) OVER (PARTITION BY lang
                                   ORDER BY avg_nll, doc_id) AS t
          FROM d)
    SELECT doc_id, lang, avg_nll,
           CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS bucket
    FROM b ORDER BY doc_id
    """,
)
def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (arXiv:1911.00359 §4.3): score
    every document with the corpus-self-trained unigram LM (the
    q_unigram_lm mean NLL — the cheap stand-in for CCNet's external
    KenLM), then split each LANGUAGE into head/middle/tail terciles by
    per-lang ntile(3) — CCNet's core curation move, where 'head' is
    the most-fluent third that survives into the training mix.

    Ordering is (4dp-rounded score, doc_id), so the tercile boundary
    is deterministic and cross-engine exact.  Scale shape: one
    word-keyed join for scoring (the q_unigram_lm plan) plus one
    lang-partitioned window — per-lang partitions at 100 TB are
    corpus-sized, so the production variant would swap ntile for the
    approx-quantile two-pass cut (q_percentile's shape); the exact
    window form is the oracle-checkable contract."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", F.explode(words("text")).alias("u"))
    uc = w.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    tot = uc.agg(F.sum("n").alias("tot"))
    sc = (
        w.join(uc, "u")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id", "lang",
            (-F.log(F.col("n") / F.col("tot"))).alias("nll"),
        )
    )
    d = sc.groupBy("doc_id", "lang").agg(
        F.round(F.avg("nll"), 4).alias("avg_nll")
    )
    win = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    return (
        d.withColumn("t", F.ntile(3).over(win))
        .select(
            "doc_id", "lang", "avg_nll",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


_BLOOM_HASH = """list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(ng, ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
        (a, c) -> (a * 31 + c) % 1000000007)"""


@register(
    "q_bloom_decontaminate",
    sql=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                       for i in range(len(ws) - 2)])) AS ng
          FROM w),
    gh AS (SELECT doc_id, ng, {_BLOOM_HASH} AS h FROM g),
    bb AS (SELECT doc_id, ng,
                  unnest([(h * 1 + 0) % 1000000007 % 4096,
                          (h * 3 + 97) % 1000000007 % 4096,
                          (h * 5 + 194) % 1000000007 % 4096]) AS bit
           FROM gh),
    bloom AS (SELECT DISTINCT bit FROM bb WHERE doc_id % 97 = 0),
    bench_g AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
    probe AS (SELECT bb.doc_id, bb.ng, count(*) AS nb
              FROM bb JOIN bloom USING (bit)
              WHERE bb.doc_id % 97 <> 0 GROUP BY 1, 2),
    hit AS (SELECT doc_id, ng FROM probe WHERE nb = 3),
    tot AS (SELECT doc_id, count(*) AS total FROM g
            WHERE doc_id % 97 <> 0 GROUP BY 1),
    agg AS (SELECT hit.doc_id, count(*) AS bloom_hits,
                   CAST(sum(CASE WHEN bench_g.ng IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits
            FROM hit LEFT JOIN bench_g USING (ng) GROUP BY 1)
    SELECT agg.doc_id, total, bloom_hits, exact_hits,
           bloom_hits - exact_hits AS false_pos,
           round(bloom_hits / CAST(total AS DOUBLE), 6) AS overlap_est
    FROM agg JOIN tot USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter benchmark decontamination
    (operators/profile.py::bloom_bits): the held-out benchmark's
    word-3-gram set collapses to a 4096-bit / 3-probe Bloom filter
    (distinct set-bit rows, broadcast), and every corpus gram probes
    it — a gram 'hits' iff all 3 of its bit positions are set.  The
    deterministic double-hash construction makes the filter
    cross-engine EXACT, false positives included, so a probabilistic
    sketch gets a hash-exact SQL oracle; the exact_hits/false_pos
    columns audit the FP rate in-query against true membership (the
    audit join is diagnostic — production probes the bloom only).

    This is q_decontaminate's scale path: there the benchmark GRAM SET
    broadcast-joins the corpus (fine while the benchmark is small);
    here the benchmark of ANY size ships as m bits.  At 100 TB the
    corpus side still never shuffles — the probe is a broadcast join
    on bit, then a per-(doc, gram) count.  The count's shuffle key
    here carries the gram STRING because the exact audit join needs
    it (SHUFFLES.md: 14 MB at sf0.1); the production bloom-only
    variant would key on the 8-byte poly hash instead — collision-
    safe for the verdict, since the probe bits DERIVE from that hash,
    so equal-hash grams share a verdict by construction."""
    from shadems_spark.operators.profile import bloom_bits_from_hash
    from shadems_spark.operators.text import _sliding, poly_hash_fast, words

    docs = load_table(spark, sf_dir, "documents")
    g3 = F.array_distinct(
        _sliding(
            words("text"), 3,
            lambda a, x: F.concat(a, F.lit(" "), x),
        )
    )
    g = docs.select("doc_id", F.explode(g3).alias("ng"))
    is_bench = F.col("doc_id") % 97 == 0
    # two-step: char-fold each gram ONCE, derive the 3 probe positions
    # from the hash COLUMN (the fused bloom_bits re-folds per probe —
    # the duplication mode q_winnow documents)
    gh = g.select("doc_id", "ng", poly_hash_fast("ng").alias("h"))
    bb = gh.select(
        "doc_id", "ng",
        F.explode(bloom_bits_from_hash(F.col("h"), 4096, 3)).alias("bit"),
    )
    bloom = bb.filter(is_bench).select("bit").distinct()
    bench_g = g.filter(is_bench).select("ng").distinct()
    probe = (
        bb.filter(~is_bench)
        .join(F.broadcast(bloom), "bit")
        .groupBy("doc_id", "ng")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    hit = probe.filter(F.col("nb") == 3)
    tot = g.filter(~is_bench).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total")
    )
    agg = (
        hit.join(
            F.broadcast(bench_g.withColumn("is_exact", F.lit(1))), "ng", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("bloom_hits"),
            F.sum(F.coalesce(F.col("is_exact"), F.lit(0))).alias("exact_hits"),
        )
    )
    return (
        agg.join(tot, "doc_id")
        .select(
            "doc_id", "total", "bloom_hits", "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).alias("false_pos"),
            F.round(
                F.col("bloom_hits") / F.col("total").cast("double"), 6
            ).alias("overlap_est"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_winnow",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 [ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                  for i in range(len(ws) - 2)] AS grams
          FROM w),
    h AS (SELECT doc_id,
                 list_transform(grams, ng -> list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(string_split(ng, ''),
                                                 c -> CAST(ascii(c) AS BIGINT))),
                     (a, c) -> (a * 31 + c) % 1000000007)) AS hs
           FROM g),
    f AS (SELECT doc_id, len(hs) AS n_grams,
                 list_distinct([list_min(hs[i+1:i+4])
                                for i in range(len(hs) - 3)]) AS fps
          FROM h),
    e AS (SELECT doc_id, n_grams, unnest(fps) AS fp FROM f),
    dfq AS (SELECT fp, count(*) AS df FROM e GROUP BY 1)
    SELECT e.doc_id, n_grams, count(*) AS n_fp,
           CAST(sum(CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_fp,
           round(count(*) / CAST(n_grams AS DOUBLE), 6) AS density
    FROM e JOIN dfq USING (fp)
    GROUP BY 1, 2 ORDER BY doc_id
    """,
)
def q_winnow(spark, sf_dir):
    """Winnowing fingerprint audit (operators/text.py::
    winnow_fingerprints — the MOSS algorithm, Schleimer et al. SIGMOD
    2003): per-document fingerprints = value-deduped minima of a
    4-hash window over poly-hashed word 3-grams, then fingerprint
    document-frequency joined back for a per-doc shared-fingerprint
    count — the guaranteed-detection exact-substring-dedup signal
    (any shared run >= w+k-1 = 6 words shares a fingerprint) at
    ~2/(w+1) of q_span_dedup's index size.

    Scale shape: fingerprint selection is a pure JVM projection (two
    _sliding folds behind a projection boundary — the fused-Column
    form re-evaluates the gram-hash subtree per window slice and
    measured 6.5x slower at sf0.1, see operators/text.py::winnow);
    only the SELECTED minima — not every gram — hit the doc-frequency
    shuffle, and the join back rides the same persisted explode (the
    span_dedup pattern)."""
    from shadems_spark.operators.dedup import tracked_persist
    from shadems_spark.operators.text import winnow, words

    docs = load_table(spark, sf_dir, "documents")
    ng = docs.select(
        "doc_id",
        F.greatest(F.size(words("text")) - F.lit(2), F.lit(0)).alias("n_grams"),
        "text",
    )
    # explode_OUTER: plain explode makes Catalyst push a size(fps)>0
    # filter down into the parquet scan, re-evaluating the whole
    # fingerprint expression per row a second time (measured: the
    # entire 6.5x regression came back through that pushed filter);
    # the outer variant generates no such filter, and the null drop
    # happens above the Generate where it is a cheap attribute test.
    f = (
        winnow(ng, "text", k=3, w=4)
        .select("doc_id", "n_grams", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    e = tracked_persist(f, "winnow_fps")
    dfq = e.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    return (
        e.join(dfq, "fp")
        .groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum((F.col("df") > 1).cast("long")).alias("shared_fp"),
        )
        .select(
            "doc_id", "n_grams", "n_fp", "shared_fp",
            F.round(
                F.col("n_fp") / F.col("n_grams").cast("double"), 6
            ).alias("density"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_kl_drift",
    sql="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS u
               FROM documents),
    sc AS (SELECT source, u, count(*) AS n FROM w GROUP BY 1, 2),
    st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sc GROUP BY 1),
    cc AS (SELECT u, CAST(sum(n) AS BIGINT) AS nc FROM sc GROUP BY 1),
    ct AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM sc),
    t AS (SELECT sc.source,
                 CAST(round((sc.n / CAST(st.ns AS DOUBLE))
                            * ln((sc.n / CAST(st.ns AS DOUBLE))
                                 / (cc.nc / CAST(ct.ntot AS DOUBLE)))
                            * 1000000000.0) AS BIGINT) AS kl_nano,
                 CAST(round(-(sc.n / CAST(st.ns AS DOUBLE))
                            * ln(sc.n / CAST(st.ns AS DOUBLE))
                            * 1000000000.0) AS BIGINT) AS h_nano
          FROM sc JOIN st USING (source) JOIN cc USING (u) CROSS JOIN ct)
    SELECT source, count(*) AS vocab,
           CAST(sum(kl_nano) AS BIGINT) AS kl_nano,
           round(sum(kl_nano) / 1000000000.0, 6) AS kl,
           round(sum(h_nano) / 1000000000.0, 6) AS entropy
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def q_kl_drift(spark, sf_dir):
    """Domain-drift audit: per SOURCE, KL(source unigram dist ||
    corpus unigram dist) plus source token entropy — the monitoring
    signal that flags a crawl slice whose language suddenly diverges
    from the mix.  No smoothing needed: every source word is in the
    corpus by construction, so p_corpus > 0 wherever p_source > 0.

    Exactness: each word's KL/entropy CONTRIBUTION rounds to a nano
    int before the per-source sum (the q_lr_train protocol), so the
    vocabulary-sized float summation is order-free — identical on
    both engines and any layout.  Scale shape: one (source, word)
    aggregate (map-side combined), a word-keyed join against the
    vocab-sized corpus table, and a broadcast grand total; nothing
    data-sized shuffles twice."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(words("text")).alias("u"))
    sc = w.groupBy("source", "u").agg(F.count(F.lit(1)).alias("n"))
    st = sc.groupBy("source").agg(F.sum("n").alias("ns"))
    cc = sc.groupBy("u").agg(F.sum("n").alias("nc"))
    ct = sc.agg(F.sum("n").alias("ntot"))
    nano = F.lit(1_000_000_000.0)
    ps = F.col("n") / F.col("ns").cast("double")
    pc = F.col("nc") / F.col("ntot").cast("double")
    t = (
        sc.join(F.broadcast(st), "source")
        .join(cc, "u")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            F.round(ps * F.log(ps / pc) * nano).cast("long").alias("kl_nano"),
            F.round(-ps * F.log(ps) * nano).cast("long").alias("h_nano"),
        )
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("kl_nano").alias("kl_nano"),
            F.round(F.sum("kl_nano") / nano, 6).alias("kl"),
            F.round(F.sum("h_nano") / nano, 6).alias("entropy"),
        )
        .orderBy("source")
    )


_BACKOFF_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    t3 AS (SELECT doc_id,
                  unnest([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                          for i in range(len(ws) - 2)]) AS tg
           FROM w WHERE doc_id % 5 <> 0),
    t3c AS (SELECT tg, count(*) AS nt FROM t3 GROUP BY 1),
    b2 AS (SELECT doc_id,
                  unnest([ws[i+1] || ' ' || ws[i+2]
                          for i in range(len(ws) - 1)]) AS bg
           FROM w WHERE doc_id % 5 <> 0),
    b2c AS (SELECT bg, count(*) AS nb FROM b2 GROUP BY 1),
    u1 AS (SELECT unnest(ws) AS u FROM w WHERE doc_id % 5 <> 0),
    u1c AS (SELECT u, count(*) AS n FROM u1 GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM u1c),
    tei AS (SELECT doc_id, unnest(range(len(ws) - 2)) AS i, ws
            FROM w WHERE doc_id % 5 = 0 AND len(ws) >= 3),
    te AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2, ws[i+3] AS w3
           FROM tei),
    sc AS (SELECT te.doc_id,
                  CASE WHEN t3c.nt IS NOT NULL THEN 0
                       WHEN nb23.nb IS NOT NULL THEN 1
                       WHEN uw3.n IS NOT NULL THEN 2
                       ELSE 3 END AS lvl,
                  CAST(round(-ln(
                      CASE WHEN t3c.nt IS NOT NULL
                           THEN t3c.nt / CAST(nb12.nb AS DOUBLE)
                           WHEN nb23.nb IS NOT NULL
                           THEN 0.4 * (nb23.nb / CAST(uw2.n AS DOUBLE))
                           WHEN uw3.n IS NOT NULL
                           THEN 0.16 * (uw3.n / CAST(tot.tot AS DOUBLE))
                           ELSE 0.064 / tot.tot END
                  ) * 1000000000.0) AS BIGINT) AS nll_nano
           FROM te
           LEFT JOIN t3c ON t3c.tg = te.w1 || ' ' || te.w2 || ' ' || te.w3
           LEFT JOIN b2c nb12 ON nb12.bg = te.w1 || ' ' || te.w2
           LEFT JOIN b2c nb23 ON nb23.bg = te.w2 || ' ' || te.w3
           LEFT JOIN u1c uw2 ON uw2.u = te.w2
           LEFT JOIN u1c uw3 ON uw3.u = te.w3
           CROSS JOIN tot)
    SELECT doc_id, count(*) AS n_trigrams,
           CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bo_bigram,
           CAST(sum(CASE WHEN lvl >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS bo_unigram,
           CAST(sum(nll_nano) AS BIGINT) AS nll_nano,
           round(sum(nll_nano)
                 / (CAST(count(*) AS DOUBLE) * 1000000000.0), 6) AS avg_nll
    FROM sc GROUP BY 1 ORDER BY 1
"""


@register("q_backoff_lm", sql=_BACKOFF_SQL)
def q_backoff_lm(spark, sf_dir):
    """HELD-OUT trigram LM scoring with stupid backoff (Brants et al.
    EMNLP'07 — the unnormalized backoff built FOR distributed LMs):
    train trigram/bigram/unigram tables on doc_id %% 5 != 0, score the
    held-out fifth; unseen trigrams fall to 0.4*P(w3|w2), then
    0.4^2*P(w3), then an OOV floor 0.4^3/N.  ~40%% of held-out
    trigrams back off in this fixture (the bo_* columns keep that
    non-vacuity visible), which is precisely what the self-scored
    q_bigram_lm can never exercise — there every n-gram is seen.

    Exactness: per-trigram NLL rounds to a nano int BEFORE the
    per-doc sum (the q_lr_train protocol) — order-free, cross-engine
    identical, including which backoff branch fires (count nullness,
    no float compare).  Scale shape: the three LM tables are
    vocabulary-sized aggregates joined back on their own narrow keys;
    the grand total is a broadcast; the held-out stream shuffles once
    per key family, all map-side combined."""
    from shadems_spark.operators.exprcache import memo
    from shadems_spark.operators.text import _sliding, words

    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    concat2 = lambda a, x: F.concat(a, F.lit(" "), x)
    grams3 = memo(
        ("lm_tg",), lambda: F.explode(_sliding(ws, 3, concat2)).alias("tg")
    )
    grams2 = memo(
        ("lm_bg",), lambda: F.explode(_sliding(ws, 2, concat2)).alias("bg")
    )
    t3c = (
        train.select(grams3)
        .groupBy("tg").agg(F.count(F.lit(1)).alias("nt"))
    )
    b2c = (
        train.select(grams2)
        .groupBy("bg").agg(F.count(F.lit(1)).alias("nb"))
    )
    u1c = (
        train.select(F.explode(ws).alias("u"))
        .groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    )
    tot = u1c.agg(F.sum("n").alias("tot"))
    te = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", grams3)
        .select(
            "doc_id",
            *memo(
                ("lm_tg_split",),
                lambda: [
                    F.split("tg", " ")[0].alias("w1"),
                    F.split("tg", " ")[1].alias("w2"),
                    F.split("tg", " ")[2].alias("w3"),
                ],
            ),
        )
    )
    j = (
        te.join(
            t3c,
            F.concat_ws(" ", "w1", "w2", "w3") == F.col("tg"),
            "left",
        )
        .drop("tg")
        .join(
            b2c.select(F.col("bg").alias("bg12"), F.col("nb").alias("nb12")),
            F.concat_ws(" ", "w1", "w2") == F.col("bg12"),
            "left",
        )
        .join(
            b2c.select(F.col("bg").alias("bg23"), F.col("nb").alias("nb23")),
            F.concat_ws(" ", "w2", "w3") == F.col("bg23"),
            "left",
        )
        .join(
            u1c.select(F.col("u").alias("w2"), F.col("n").alias("n_w2")),
            "w2", "left",
        )
        .join(
            u1c.select(F.col("u").alias("w3"), F.col("n").alias("n_w3")),
            "w3", "left",
        )
        .crossJoin(F.broadcast(tot))
    )
    def _score_cols():
        s = F.when(
            F.col("nt").isNotNull(), F.col("nt") / F.col("nb12").cast("double")
        ).when(
            F.col("nb23").isNotNull(),
            F.lit(0.4) * (F.col("nb23") / F.col("n_w2").cast("double")),
        ).when(
            F.col("n_w3").isNotNull(),
            F.lit(0.16) * (F.col("n_w3") / F.col("tot").cast("double")),
        ).otherwise(F.lit(0.064) / F.col("tot"))
        lvl = F.when(F.col("nt").isNotNull(), 0).when(
            F.col("nb23").isNotNull(), 1
        ).when(F.col("n_w3").isNotNull(), 2).otherwise(3)
        return [
            lvl.alias("lvl"),
            F.round(-F.log(s) * F.lit(1_000_000_000.0))
            .cast("long").alias("nll_nano"),
        ]

    sc = j.select("doc_id", *memo(("lm_score",), _score_cols))
    return (
        sc.groupBy("doc_id")
        .agg(
            *memo(
                ("lm_doc_agg",),
                lambda: [
                    F.count(F.lit(1)).alias("n_trigrams"),
                    F.sum((F.col("lvl") == 1).cast("long")).alias("bo_bigram"),
                    F.sum((F.col("lvl") >= 2).cast("long")).alias("bo_unigram"),
                    F.sum("nll_nano").alias("nll_nano"),
                    F.round(
                        F.sum("nll_nano")
                        / (
                            F.count(F.lit(1)).cast("double")
                            * F.lit(1_000_000_000.0)
                        ),
                        6,
                    ).alias("avg_nll"),
                ],
            )
        )
        .orderBy("doc_id")
    )


@register("q_ccnet_buckets_approx", sql=None)  # approx-quantile cut: engine-specific
def q_ccnet_buckets_approx(spark, sf_dir):
    """The PRODUCTION variant q_ccnet_buckets's docstring promises:
    per-language tercile cuts from approx_percentile (two passes, no
    per-lang global sort) instead of the exact ntile window.  At
    100 TB a lang partition is corpus-sized, so sorting it for ntile
    is the one non-scalable step in the exact form; here pass 1 is a
    vocabulary-... rather, a LANGUAGE-sized aggregate of two quantile
    sketches and pass 2 a broadcast-joined bucket projection — both
    linear scans.

    Rows-only (the t-digest/KLL convention): the sketch cut points
    are engine-specific, so there is no DuckDB twin; the accuracy pin
    lives in tests/test_curation.py — bucket agreement vs the exact
    ntile terciles >= 90%% at sf0.01, per language."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", F.explode(words("text")).alias("u"))
    uc = w.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    tot = uc.agg(F.sum("n").alias("tot"))
    sc = (
        w.join(uc, "u")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id", "lang",
            (-F.log(F.col("n") / F.col("tot"))).alias("nll"),
        )
    )
    d = sc.groupBy("doc_id", "lang").agg(
        F.round(F.avg("nll"), 4).alias("avg_nll")
    )
    cuts = d.groupBy("lang").agg(
        F.percentile_approx("avg_nll", 1.0 / 3).alias("c1"),
        F.percentile_approx("avg_nll", 2.0 / 3).alias("c2"),
    )
    return (
        d.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id", "lang", "avg_nll",
            F.when(F.col("avg_nll") <= F.col("c1"), "head")
            .when(F.col("avg_nll") <= F.col("c2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_doremi",
    sql="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS u
               FROM documents),
    uc AS (SELECT u, count(*) AS n FROM w GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM uc),
    sc AS (SELECT w.source,
                  CAST(round(-ln(uc.n / CAST(tot AS DOUBLE)) * 1000000000.0)
                       AS BIGINT) AS nll_nano
           FROM w JOIN uc USING (u) CROSS JOIN tot),
    ls AS (SELECT source, count(*) AS n_tokens,
                  CAST(sum(nll_nano) AS BIGINT) AS nll_sum
           FROM sc GROUP BY 1),
    lm AS (SELECT source, n_tokens, nll_sum,
                  CAST(floor(nll_sum / n_tokens) AS BIGINT) AS loss_nano
           FROM ls),
    mn AS (SELECT min(loss_nano) AS lo, count(*) AS k FROM lm),
    ex AS (SELECT source, n_tokens, loss_nano,
                  loss_nano - lo AS excess_nano,
                  CAST(round(exp(1.0 * ((loss_nano - lo) / 1000000000.0))
                             * 1000000000.0) AS BIGINT) AS e_nano,
                  k
           FROM lm, mn),
    s AS (SELECT CAST(sum(e_nano) AS BIGINT) AS se FROM ex)
    SELECT source, n_tokens,
           round(loss_nano / 1000000000.0, 6) AS loss,
           round(excess_nano / 1000000000.0, 6) AS excess,
           round(0.9 * (e_nano / CAST(se AS DOUBLE)) + 0.1 / k, 6) AS weight
    FROM ex, s ORDER BY source
    """,
)
def q_doremi(spark, sf_dir):
    """DoReMi-style domain reweighting (arXiv:2305.10429, one
    exponentiated-gradient step): per-SOURCE proxy loss = mean token
    NLL under the corpus-self-trained unigram LM, excess loss vs the
    best domain, then the EG update w ∝ exp(eta·excess) smoothed with
    the uniform mixture ((1−eps)·softmax + eps/K, eta=1, eps=0.1) —
    upweighting the domains the proxy model finds hardest, the
    paper's core move with the LM-retraining loop collapsed to the
    fixed proxy (the honest offline reduction).

    Exactness protocol: per-token NLL nano-ints (order-free sums),
    per-domain mean by integer floor division, exp rounded once to a
    nano int per domain BEFORE the normalizing sum — so softmax
    weights are identical on both engines and any layout.  Scale:
    one word-keyed scoring join (the q_unigram_lm plan) + one
    domains-sized aggregate; the EG step itself touches K rows."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    nano = F.lit(1_000_000_000.0)
    w = docs.select("source", F.explode(words("text")).alias("u"))
    uc = w.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    tot = uc.agg(F.sum("n").alias("tot"))
    sc = (
        w.join(uc, "u")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(-F.log(F.col("n") / F.col("tot")) * nano)
            .cast("long").alias("nll_nano"),
        )
    )
    lm = sc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("nll_nano").alias("nll_sum"),
    ).select(
        "source", "n_tokens",
        F.floor(F.col("nll_sum") / F.col("n_tokens")).cast("long")
        .alias("loss_nano"),
    )
    mn = lm.agg(F.min("loss_nano").alias("lo"), F.count(F.lit(1)).alias("k"))
    ex = lm.crossJoin(F.broadcast(mn)).select(
        "source", "n_tokens", "loss_nano", "k",
        (F.col("loss_nano") - F.col("lo")).alias("excess_nano"),
        F.round(
            F.exp(F.lit(1.0) * ((F.col("loss_nano") - F.col("lo")) / nano))
            * nano
        ).cast("long").alias("e_nano"),
    )
    se = ex.agg(F.sum("e_nano").alias("se"))
    return (
        ex.crossJoin(F.broadcast(se))
        .select(
            "source", "n_tokens",
            F.round(F.col("loss_nano") / nano, 6).alias("loss"),
            F.round(F.col("excess_nano") / nano, 6).alias("excess"),
            F.round(
                F.lit(0.9) * (F.col("e_nano") / F.col("se").cast("double"))
                + F.lit(0.1) / F.col("k"),
                6,
            ).alias("weight"),
        )
        .orderBy("source")
    )


@register(
    "q_curriculum",
    sql="""
    WITH q AS (SELECT doc_id, source,
                      round((least(1.0, n_chars / 400.0)
                             + len(list_distinct(string_split(text, ' ')))
                               / CAST(len(string_split(text, ' ')) AS DOUBLE))
                            / 2.0, 6) AS quality
               FROM documents),
    r AS (SELECT doc_id, source, quality,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY quality DESC, doc_id) AS rn
          FROM q),
    d AS (SELECT *, dense_rank() OVER (ORDER BY source) AS src_rk,
                 (SELECT count(DISTINCT source) FROM q) AS k
          FROM r)
    SELECT doc_id, source, quality,
           CAST(ntile(4) OVER (ORDER BY quality DESC, doc_id) AS INT) AS stage,
           CAST((rn - 1) * k + src_rk AS BIGINT) AS position
    FROM d ORDER BY position
    """,
)
def q_curriculum(spark, sf_dir):
    """Curriculum data ordering: the training-order construction
    stage — easiest/cleanest examples first (quality-descending
    within each domain), domains INTERLEAVED round-robin so no
    contiguous run starves the mixture (position = (rank_in_domain-1)
    * K + domain_index), plus a 4-stage curriculum bucket over global
    quality.  Pure window arithmetic on deterministic keys: the
    emitted order is reproducible across engines, layouts and runs —
    which is the whole point of a curriculum you can audit.

    Scale shape (the VERDICT r5 #1 production path): one per-domain
    window (domain-partitioned sort); the global curriculum stage
    rides the TWO-PHASE exact ntile (operators/profile.global_ntile —
    bit-identical to the global-window ntile, no single-partition
    stage at any doc cardinality); and the domain index comes from a
    dense_rank over the DISTINCT-source table (codebook-sized by
    construction — domains, not documents) broadcast back, so no
    global window ever sees a data-sized input."""
    from shadems_spark.operators.profile import global_ntile
    from shadems_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "source", "quality")
    rw = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    r = q.withColumn("rn", F.row_number().over(rw))
    # domain index from ONE broadcast row: the sorted distinct-source
    # array (codebook-sized — domains, not documents); dense_rank ==
    # array_position on a distinct sorted key set, k == its size.  No
    # WindowExec, no extra join stage.
    srcs = q.select("source").distinct().agg(
        F.sort_array(F.collect_list("source")).alias("__srcs")
    )
    d = r.crossJoin(F.broadcast(srcs)).select(
        "doc_id", "source", "quality", "rn",
        F.expr("array_position(__srcs, source)").cast("long").alias("src_rk"),
        F.size("__srcs").alias("k"),
    )
    staged = global_ntile(
        d, 4, [F.col("quality").desc(), "doc_id"], "stage",
        bucket_key=F.col("quality"), bucket_desc=True,
    )
    return staged.select(
        "doc_id", "source", "quality",
        F.col("stage").cast("int").alias("stage"),
        ((F.col("rn") - 1) * F.col("k") + F.col("src_rk"))
        .cast("long").alias("position"),
    ).orderBy("position")


@register(
    "q_dedup_keep_best",
    sql="""
    WITH q AS (SELECT doc_id, source, left(text, 100) AS k,
                      round((least(1.0, n_chars / 400.0)
                             + len(list_distinct(string_split(text, ' ')))
                               / CAST(len(string_split(text, ' ')) AS DOUBLE))
                            / 2.0, 6) AS quality
               FROM documents),
    g AS (SELECT k FROM q GROUP BY k HAVING count(*) > 1),
    d AS (SELECT q.doc_id, q.source, q.quality,
                 row_number() OVER (PARTITION BY q.k
                                    ORDER BY quality DESC, doc_id) AS rk,
                 count(*) OVER (PARTITION BY q.k) AS n_dups
          FROM q JOIN g USING (k))
    SELECT doc_id, source, quality, CAST(n_dups AS BIGINT) AS n_dups,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS keep
    FROM d ORDER BY doc_id
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Dup-group representative selection — the production KEEP
    POLICY: within each duplicate group (100-char-prefix key, the
    q_split_leakage non-vacuous relation), keep the HIGHEST-quality
    member (tie: smallest doc_id) instead of q_dedup_exact's
    keep-smallest-id; every group member is emitted with its verdict
    so the drop set is auditable.  Shape: one group-keyed window over
    only the duplicated groups (the semi-join prunes the unique ~99%
    before the window), quality fused into the scan."""
    from shadems_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select(
        "doc_id", "source", F.substring("text", 1, 100).alias("k"), "quality"
    )
    g = q.groupBy("k").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") > 1
    ).select("k")
    kw = Window.partitionBy("k")
    d = q.join(g, "k", "left_semi").withColumn(
        "rk",
        F.row_number().over(kw.orderBy(F.col("quality").desc(), "doc_id")),
    ).withColumn("n_dups", F.count(F.lit(1)).over(kw))
    return d.select(
        "doc_id", "source", "quality",
        F.col("n_dups").cast("long").alias("n_dups"),
        (F.col("rk") == 1).cast("int").alias("keep"),
    ).orderBy("doc_id")


@register(
    "q_kanon",
    sql="""
    WITH q AS (SELECT doc_id, source, lang,
                      CAST(n_chars // 100 AS BIGINT) AS len_bucket
               FROM documents),
    g AS (SELECT source, lang, len_bucket, count(*) AS k
          FROM q GROUP BY 1, 2, 3)
    SELECT source, lang, len_bucket, CAST(k AS BIGINT) AS k,
           CAST(CASE WHEN k < 5 THEN 1 ELSE 0 END AS INT) AS suppress
    FROM g ORDER BY source, lang, len_bucket
    """,
)
def q_kanon(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (source,
    lang, length-bucket): any equivalence class with k < 5 members is
    re-identification-risky and flagged for suppression — the
    small-cell check privacy review runs before a corpus ships.
    One map-side-combined aggregate; the class table is
    quasi-identifier-domain-sized, never row-sized."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "source", "lang",
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        )
        .groupBy("source", "lang", "len_bucket")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return g.select(
        "source", "lang", "len_bucket", F.col("k").cast("long").alias("k"),
        (F.col("k") < 5).cast("int").alias("suppress"),
    ).orderBy("source", "lang", "len_bucket")


@register(
    "q_group_folds",
    sql="""
    WITH s AS (SELECT doc_id, left(text, 100) AS k FROM documents),
    g AS (SELECT k, min(doc_id) AS rep FROM s GROUP BY 1),
    a AS (SELECT s.doc_id, g.rep,
                 CAST((g.rep * 2654435761) % 4294967296 % 5 AS INT) AS fold
          FROM s JOIN g USING (k))
    SELECT doc_id, rep, fold FROM a ORDER BY doc_id
    """,
)
def q_group_folds(spark, sf_dir):
    """Leakage-safe GROUP k-fold assignment — the FIX for what
    q_split_leakage audits: fold membership derives from the dup
    GROUP's representative (min doc_id over the 100-char-prefix key),
    not the document, so near-identical documents can never straddle
    folds and contaminate cross-validation.  The Knuth-hash fold
    assignment is the same deterministic scheme q_split_leakage's
    splits use — auditable, engine-exact, reproducible.  Shape: one
    group aggregate + one key join; the assignment is a projection."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select("doc_id", F.substring("text", 1, 100).alias("k"))
    g = s.groupBy("k").agg(F.min("doc_id").alias("rep"))
    return (
        s.join(g, "k")
        .select(
            "doc_id", "rep",
            (knuth32("rep") % 5).cast("int").alias("fold"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_edit_verify",
    sql="""
    WITH s AS (SELECT doc_id, text, left(text, 100) AS k FROM documents),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.text AS ta, b.text AS tb
          FROM s a JOIN s b ON a.k = b.k AND a.doc_id < b.doc_id),
    d AS (SELECT id_a, id_b,
                 CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist,
                 CAST(greatest(length(ta), length(tb)) AS BIGINT) AS max_len
          FROM p)
    SELECT id_a, id_b, edit_dist, max_len,
           round(edit_dist / CAST(max_len AS DOUBLE), 6) AS edit_ratio,
           CAST(CASE WHEN edit_dist * 5 <= max_len THEN 1 ELSE 0 END AS INT)
               AS is_dup
    FROM d ORDER BY id_a, id_b
    """,
)
def q_edit_verify(spark, sf_dir):
    """Edit-distance VERIFICATION of dup candidates — the third
    verify metric beside n-gram Jaccard (q_ngram_jaccard) and
    within-cluster cosine (q_semdedup): candidate pairs from the
    100-char-prefix relation, exact Levenshtein distance (both
    engines implement the same unit-cost DP, so the integer distance
    is hash-exact), normalized by the longer text, dup verdict at
    ratio <= 0.2 in pure integer arithmetic (dist*5 <= max_len).

    Scale contract (same as q_ngram_jaccard's): Levenshtein is
    O(|a|·|b|) PER PAIR — it only ever runs on CANDIDATES from a
    bucketed generator (prefix key here, minhash bands in
    production), never corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "text", F.substring("text", 1, 100).alias("k")
    )
    a = s.select(
        F.col("k"), F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
    )
    b = s.select(
        F.col("k"), F.col("doc_id").alias("id_b"), F.col("text").alias("tb")
    )
    p = a.join(b, "k").filter(F.col("id_a") < F.col("id_b"))
    d = p.select(
        "id_a", "id_b",
        F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        F.greatest(F.length("ta"), F.length("tb")).cast("long").alias("max_len"),
    )
    return d.select(
        "id_a", "id_b", "edit_dist", "max_len",
        F.round(
            F.col("edit_dist") / F.col("max_len").cast("double"), 6
        ).alias("edit_ratio"),
        (F.col("edit_dist") * 5 <= F.col("max_len")).cast("int").alias("is_dup"),
    ).orderBy("id_a", "id_b")


@register(
    "q_memorization_risk",
    sql="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
                      CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80
                             THEN 'train' ELSE 'heldout' END AS split
               FROM documents),
    g AS (SELECT doc_id, split,
                 [ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                  for i in range(len(ws) - 2)] AS grams
          FROM w),
    h AS (SELECT doc_id, split,
                 list_transform(grams, ng -> list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(string_split(ng, ''),
                                                 c -> CAST(ascii(c) AS BIGINT))),
                     (a, c) -> (a * 31 + c) % 1000000007)) AS hs
           FROM g),
    f AS (SELECT doc_id, split,
                 unnest(list_distinct([list_min(hs[i+1:i+4])
                                       for i in range(len(hs) - 3)])) AS fp
          FROM h),
    tr AS (SELECT DISTINCT fp FROM f WHERE split = 'train'),
    he AS (SELECT doc_id, count(*) AS n_fp,
                  CAST(sum(CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS in_train
           FROM f LEFT JOIN tr USING (fp)
           WHERE split = 'heldout' GROUP BY 1)
    SELECT doc_id, n_fp, in_train,
           round(in_train / CAST(n_fp AS DOUBLE), 6) AS overlap
    FROM he WHERE in_train > 0 ORDER BY doc_id
    """,
)
def q_memorization_risk(spark, sf_dir):
    """Memorization-risk audit: per HELD-OUT document, the fraction
    of its winnowing fingerprints that also occur in the TRAIN split
    (same 80/20 hash assignment as q_split_leakage) — the
    fingerprint-level 'will the model have seen this eval text?'
    screen; a high overlap means the held-out doc shares >= 6-word
    runs with training data (the winnowing guarantee) and its eval
    score is contaminated.  Reuses the boundary-protected winnow
    selection; the train fingerprint set joins back on the 8-byte
    hash — at 100 TB that set collapses to a bloom filter
    (q_bloom_decontaminate's move)."""
    from shadems_spark.operators.text import winnow

    docs = load_table(spark, sf_dir, "documents")
    split = F.when(knuth32("doc_id") % 100 < 80, "train").otherwise("heldout")
    f = (
        winnow(docs.select("doc_id", "text"), "text", k=3, w=4)
        .select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .withColumn("split", split)
    )
    tr = f.filter(F.col("split") == "train").select("fp").distinct()
    he = (
        f.filter(F.col("split") == "heldout")
        .join(tr.withColumn("hit", F.lit(1)), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("in_train"),
        )
    )
    return (
        he.filter(F.col("in_train") > 0)
        .select(
            "doc_id", "n_fp", "in_train",
            F.round(
                F.col("in_train") / F.col("n_fp").cast("double"), 6
            ).alias("overlap"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_topic_words",
    sql="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS u
               FROM documents),
    sc AS (SELECT source, u, count(*) AS n FROM w GROUP BY 1, 2),
    st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sc GROUP BY 1),
    cc AS (SELECT u, CAST(sum(n) AS BIGINT) AS nc FROM sc GROUP BY 1),
    ct AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM sc),
    lo AS (SELECT sc.source, sc.u,
                  CAST(round((ln((sc.n + 0.01 * cc.nc)
                                 / (st.ns + 0.01 * ct.ntot - sc.n
                                    - 0.01 * cc.nc))
                              - ln((cc.nc - sc.n + 0.01 * cc.nc)
                                   / (ct.ntot - st.ns
                                      + 0.01 * ct.ntot
                                      - cc.nc + sc.n
                                      - 0.01 * cc.nc)))
                             * 1000000000.0) AS BIGINT) AS lor_nano
           FROM sc JOIN st USING (source) JOIN cc USING (u) CROSS JOIN ct),
    r AS (SELECT source, u, lor_nano,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY lor_nano DESC, u) AS rk
          FROM lo)
    SELECT source, u AS word, lor_nano,
           round(lor_nano / 1000000000.0, 6) AS log_odds
    FROM r WHERE rk <= 5 ORDER BY source, lor_nano DESC, word
    """,
)
def q_topic_words(spark, sf_dir):
    """Characteristic words per SOURCE by log-odds ratio with an
    informative Dirichlet prior (Monroe-Colaresi-Quinn 2008, the
    'Fightin' Words' estimator, prior scale 0.01·corpus counts):
    which words distinguish this domain from the rest of the corpus —
    the standard corpus-exploration surface.  Each word's log-odds is
    a fixed float expression over exact integer counts, nano-rounded
    once, so per-source top-5 ranking (lor desc, word tie-break) is
    engine-exact.  One (source, word) aggregate + vocab-sized joins,
    then a source-partitioned top-k window."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    nano = F.lit(1_000_000_000.0)
    w = docs.select("source", F.explode(words("text")).alias("u"))
    sc = w.groupBy("source", "u").agg(F.count(F.lit(1)).alias("n"))
    st = sc.groupBy("source").agg(F.sum("n").alias("ns"))
    cc = sc.groupBy("u").agg(F.sum("n").alias("nc"))
    ct = sc.agg(F.sum("n").alias("ntot"))
    a = F.lit(0.01)
    j = (
        sc.join(F.broadcast(st), "source")
        .join(cc, "u")
        .crossJoin(F.broadcast(ct))
    )
    p_in = (F.col("n") + a * F.col("nc")) / (
        F.col("ns") + a * F.col("ntot") - F.col("n") - a * F.col("nc")
    )
    p_out = (F.col("nc") - F.col("n") + a * F.col("nc")) / (
        F.col("ntot") - F.col("ns") + a * F.col("ntot")
        - F.col("nc") + F.col("n") - a * F.col("nc")
    )
    lo = j.select(
        "source", "u",
        F.round((F.log(p_in) - F.log(p_out)) * nano)
        .cast("long").alias("lor_nano"),
    )
    rk = Window.partitionBy("source").orderBy(
        F.col("lor_nano").desc(), "u"
    )
    return (
        lo.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 5)
        .select(
            "source", F.col("u").alias("word"), "lor_nano",
            F.round(F.col("lor_nano") / nano, 6).alias("log_odds"),
        )
        .orderBy("source", F.col("lor_nano").desc(), "word")
    )


@register(
    "q_gini",
    sql="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS u
               FROM documents),
    sc AS (SELECT source, u, count(*) AS n FROM w GROUP BY 1, 2),
    r AS (SELECT source, n,
                 row_number() OVER (PARTITION BY source ORDER BY n, u) AS i,
                 count(*) OVER (PARTITION BY source) AS k,
                 CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS tot
          FROM sc)
    SELECT source, CAST(k AS BIGINT) AS vocab, tot AS n_tokens,
           round((2.0 * sum(i * n) / (k * CAST(tot AS DOUBLE))
                  - (k + 1.0) / k), 6) AS gini
    FROM r GROUP BY source, k, tot ORDER BY source
    """,
)
def q_gini(spark, sf_dir):
    """Vocabulary-concentration Gini coefficient per source (how
    unequal is token mass across the vocabulary — near 0 = uniform
    usage, near 1 = a few words dominate): the inequality summary
    behind repetitive-corpus triage, complementing q_zipf's slope.
    The rank-sum identity G = 2·Σ(i·x_i)/(k·Σx) − (k+1)/k over
    counts sorted ascending (word tie-break → deterministic ranks,
    exact integer Σ(i·x_i)); one (source, word) aggregate + one
    source-partitioned sort window."""
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(words("text")).alias("u"))
    sc = w.groupBy("source", "u").agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy("source").orderBy("n", "u")
    pw = Window.partitionBy("source")
    r = sc.select(
        "source", "n",
        F.row_number().over(win).alias("i"),
        F.count(F.lit(1)).over(pw).alias("k"),
        F.sum("n").over(pw).alias("tot"),
    )
    return (
        r.groupBy("source", "k", "tot")
        .agg(F.sum(F.col("i") * F.col("n")).alias("ixn"))
        .select(
            "source",
            F.col("k").cast("long").alias("vocab"),
            F.col("tot").alias("n_tokens"),
            F.round(
                F.lit(2.0) * F.col("ixn") / (F.col("k") * F.col("tot").cast("double"))
                - (F.col("k") + 1.0) / F.col("k"),
                6,
            ).alias("gini"),
        )
        .orderBy("source")
    )


@register(
    "q_distinct_n",
    sql="""
    WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
    u1 AS (SELECT source, unnest(ws) AS g FROM w),
    u2 AS (SELECT source, unnest([ws[i+1] || ' ' || ws[i+2]
                                  for i in range(len(ws) - 1)]) AS g FROM w),
    u3 AS (SELECT source, unnest([ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                  for i in range(len(ws) - 2)]) AS g FROM w),
    a1 AS (SELECT source, count(*) AS t1, count(DISTINCT g) AS d1
           FROM u1 GROUP BY 1),
    a2 AS (SELECT source, count(*) AS t2, count(DISTINCT g) AS d2
           FROM u2 GROUP BY 1),
    a3 AS (SELECT source, count(*) AS t3, count(DISTINCT g) AS d3
           FROM u3 GROUP BY 1)
    SELECT source,
           CAST(t1 AS BIGINT) AS n_tokens,
           round(d1 / CAST(t1 AS DOUBLE), 6) AS distinct_1,
           round(d2 / CAST(t2 AS DOUBLE), 6) AS distinct_2,
           round(d3 / CAST(t3 AS DOUBLE), 6) AS distinct_3
    FROM a1 JOIN a2 USING (source) JOIN a3 USING (source)
    ORDER BY source
    """,
)
def q_distinct_n(spark, sf_dir):
    """Distinct-n diversity per source (Li et al. 2016's generation-
    diversity metric, corpus-level): the fraction of 1/2/3-gram
    TOKENS that are distinct — low distinct-n flags templated or
    model-generated slices before they pollute a training mix
    (natural text sits high on distinct-3; boilerplate collapses).
    Exact integer distinct/total counts per n, one division each;
    three map-side-combined aggregates over gram streams (8-byte
    hashed grams in the production variant — the string grams here
    keep the oracle char-identical)."""
    from shadems_spark.operators.text import _sliding, words

    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    concat2 = lambda a, x: F.concat(a, F.lit(" "), x)

    def diversity(col, n):
        g = docs.select("source", F.explode(col).alias("g"))
        return g.groupBy("source").agg(
            F.count(F.lit(1)).alias(f"t{n}"),
            F.countDistinct("g").alias(f"d{n}"),
        )

    a1 = diversity(ws, 1)
    a2 = diversity(_sliding(ws, 2, concat2), 2)
    a3 = diversity(_sliding(ws, 3, concat2), 3)
    return (
        a1.join(a2, "source").join(a3, "source")
        .select(
            "source",
            F.col("t1").alias("n_tokens"),
            F.round(F.col("d1") / F.col("t1").cast("double"), 6)
            .alias("distinct_1"),
            F.round(F.col("d2") / F.col("t2").cast("double"), 6)
            .alias("distinct_2"),
            F.round(F.col("d3") / F.col("t3").cast("double"), 6)
            .alias("distinct_3"),
        )
        .orderBy("source")
    )


@register(
    "q_jsd_matrix",
    sql="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS u
               FROM documents),
    sc AS (SELECT source, u, count(*) AS n FROM w GROUP BY 1, 2),
    st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sc GROUP BY 1),
    j AS (SELECT a.source AS sa, b.source AS sb,
                 a.n / CAST(ta.ns AS DOUBLE) AS p,
                 b.n / CAST(tb.ns AS DOUBLE) AS q
          FROM sc a JOIN sc b ON a.u = b.u AND a.source < b.source
          JOIN st ta ON ta.source = a.source
          JOIN st tb ON tb.source = b.source),
    t AS (SELECT sa, sb,
                 CAST(round(0.5 * p * ln(p / (p + q)) * 1000000000.0) AS BIGINT)
               + CAST(round(0.5 * q * ln(q / (p + q)) * 1000000000.0) AS BIGINT)
                 AS t_nano
          FROM j)
    SELECT sa AS source_a, sb AS source_b, count(*) AS common_vocab,
           CAST(sum(t_nano) AS BIGINT) AS inner_nano,
           round(0.6931471805599453 + sum(t_nano) / 1000000000.0, 6) AS jsd
    FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_jsd_matrix(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the bounded, symmetric domain-similarity
    matrix that drives mixture design (which corpora are near-
    duplicates of each other vs genuinely complementary), beside
    q_kl_drift's per-source-vs-corpus view and q_doremi's reweighting.

    Identity that makes it one INNER join: exclusive-support tokens
    contribute exactly (p/2)ln2, and summing those with the ln2 from
    the shared terms gives JSD = ln2 + (1/2)sum_common[p ln(p/(p+q)) +
    q ln(q/(p+q))] -- tokens seen in only one source never need an
    outer join (the 1/2 factors are folded into the nano rounding of
    each half-term).  Every term is nano-int rounded before the
    cross-row sum (summation-order-free); JSD lands in [0, ln 2] by
    construction.  Scale: the self-join is keyed on token with
    fan-out bounded by n_sources^2 per token (20 sources here) — at
    1000s of domains, band the pair space or sketch each side
    (KLL over token hashes); the 20-row totals table broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("u")
    )
    sc = w.groupBy("source", "u").agg(F.count(F.lit(1)).alias("n"))
    st = sc.groupBy("source").agg(F.sum("n").alias("ns"))
    a = sc.alias("a").join(
        F.broadcast(st.alias("ta")), F.col("a.source") == F.col("ta.source")
    ).select(
        F.col("a.source").alias("sa"), F.col("a.u").alias("u"),
        (F.col("a.n") / F.col("ta.ns").cast("double")).alias("p"),
    )
    b = sc.alias("b").join(
        F.broadcast(st.alias("tb")), F.col("b.source") == F.col("tb.source")
    ).select(
        F.col("b.source").alias("sb"), F.col("b.u").alias("u"),
        (F.col("b.n") / F.col("tb.ns").cast("double")).alias("q"),
    )
    j = a.join(b, "u").filter(F.col("sa") < F.col("sb"))
    t_nano = (
        F.round(0.5 * F.col("p") * F.log(F.col("p") / (F.col("p") + F.col("q")))
                * 1000000000.0).cast("long")
        + F.round(0.5 * F.col("q") * F.log(F.col("q") / (F.col("p") + F.col("q")))
                  * 1000000000.0).cast("long")
    )
    return (
        j.select("sa", "sb", t_nano.alias("t_nano"))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("common_vocab"),
            F.sum("t_nano").alias("inner_nano"),
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "common_vocab",
            F.col("inner_nano").cast("long").alias("inner_nano"),
            F.round(
                F.lit(0.6931471805599453)
                + F.col("inner_nano") / 1000000000.0, 6
            ).alias("jsd"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "q_readability",
    sql="""
    WITH d AS (SELECT source,
                      list_filter(string_split(lower(text), ' '),
                                  w -> len(w) > 0) AS ws,
                      greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                          AS n_sent
               FROM documents),
    c AS (SELECT source, n_sent,
                 len(ws) AS n_words,
                 list_sum(list_transform(ws,
                     w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
                     AS n_syll
          FROM d WHERE len(ws) > 0),
    n AS (SELECT source, n_words, n_syll, n_sent,
                 CAST(round((206.835
                             - 1.015 * (n_words / CAST(n_sent AS DOUBLE))
                             - 84.6 * (n_syll / CAST(n_words AS DOUBLE)))
                            * 1000000000.0) AS BIGINT) AS flesch_nano,
                 CAST(round((0.39 * (n_words / CAST(n_sent AS DOUBLE))
                             + 11.8 * (n_syll / CAST(n_words AS DOUBLE))
                             - 15.59) * 1000000000.0) AS BIGINT) AS grade_nano
          FROM c)
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS words_total,
           CAST(sum(n_syll) AS BIGINT) AS syllables_total,
           CAST(sum(n_sent) AS BIGINT) AS sentences_total,
           round(sum(flesch_nano) / (count(*) * 1000000000.0), 6)
               AS flesch_avg,
           round(sum(grade_nano) / (count(*) * 1000000000.0), 6)
               AS fk_grade_avg
    FROM n GROUP BY 1 ORDER BY 1
    """,
)
def q_readability(spark, sf_dir):
    """Flesch reading-ease + Flesch-Kincaid grade per source — the
    readability slice of corpus quality profiling (simple-English vs
    technical domains mix differently into a pretraining batch),
    beside q_quality_score's length/punct ratios and q_text_stats.

    Determinism: syllables use the vowel-group heuristic
    max(1, count of [aeiouy]+ runs per word) — a REGEX on both
    engines, probe-verified identical; words/sentences are integer
    counts, each doc's Flesch/grade is one fixed float formula over
    them, nano-int rounded BEFORE the per-source sum
    (summation-order-free), and the per-source average is one final
    division.  Scale: stateless row expressions + a source-keyed
    map-side-combined aggregate; no shuffle carries text."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: F.length(w) > 0)
    d = docs.select(
        "source",
        ws.alias("ws"),
        F.greatest(
            F.lit(1), F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0))
        ).alias("n_sent"),
    ).filter(F.size("ws") > 0)
    c = d.select(
        "source", "n_sent",
        F.size("ws").alias("n_words"),
        F.aggregate(
            F.transform(
                "ws",
                lambda w: F.greatest(
                    F.lit(1),
                    F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("n_syll"),
    )
    wps = F.col("n_words") / F.col("n_sent").cast("double")
    spw = F.col("n_syll") / F.col("n_words").cast("double")
    n = c.select(
        "source", "n_words", "n_syll", "n_sent",
        F.round((206.835 - 1.015 * wps - 84.6 * spw) * 1000000000.0)
        .cast("long").alias("flesch_nano"),
        F.round((0.39 * wps + 11.8 * spw - 15.59) * 1000000000.0)
        .cast("long").alias("grade_nano"),
    )
    return (
        n.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("words_total"),
            F.sum("n_syll").alias("syllables_total"),
            F.sum("n_sent").alias("sentences_total"),
            F.round(
                F.sum("flesch_nano") / (F.count(F.lit(1)) * 1000000000.0), 6
            ).alias("flesch_avg"),
            F.round(
                F.sum("grade_nano") / (F.count(F.lit(1)) * 1000000000.0), 6
            ).alias("fk_grade_avg"),
        )
        .orderBy("source")
    )


@register(
    "q_mi_categorical",
    sql="""
    WITH c AS (SELECT lang, source, count(*) AS n
               FROM documents GROUP BY 1, 2),
    rl AS (SELECT lang, sum(n) AS nl FROM c GROUP BY 1),
    cs AS (SELECT source, sum(n) AS ns FROM c GROUP BY 1),
    t AS (SELECT sum(n) AS nt FROM c),
    x AS (SELECT c.lang, c.source, c.n, rl.nl, cs.ns, t.nt,
                 rl.nl * CAST(cs.ns AS DOUBLE) / t.nt AS e
          FROM c JOIN rl USING (lang) JOIN cs USING (source) CROSS JOIN t),
    terms AS (SELECT
        CAST(round((n / CAST(nt AS DOUBLE))
                   * ln((n * CAST(nt AS DOUBLE)) / (nl * CAST(ns AS DOUBLE)))
                   * 1000000000.0) AS BIGINT) AS mi_nano,
        CAST(round((n - e) * (n - e) / e * 1000000000.0) AS BIGINT)
            AS chi2_nano
        FROM x),
    dims AS (SELECT (SELECT count(*) FROM rl) AS r,
                    (SELECT count(*) FROM cs) AS c2,
                    (SELECT nt FROM t) AS nt)
    SELECT CAST(nt AS BIGINT) AS n, CAST(r AS BIGINT) AS n_langs,
           CAST(c2 AS BIGINT) AS n_sources,
           round(sum(mi_nano) / 1000000000.0, 6) AS mi,
           round(sum(chi2_nano) / 1000000000.0, 6) AS chi2,
           round(sqrt((sum(chi2_nano) / 1000000000.0)
                      / (nt * CAST(least(r - 1, c2 - 1) AS DOUBLE))), 6)
               AS cramers_v
    FROM terms CROSS JOIN dims GROUP BY nt, r, c2
    """,
)
def q_mi_categorical(spark, sf_dir):
    """Categorical-independence audit between the lang and source
    metadata columns: mutual information, Pearson chi-square, and
    Cramer's V over the contingency table — the is-my-metadata-
    confounded check (a source that is 100% one language will leak
    language signal through source-stratified splits; q_pmi does the
    token analogue, this is the column-level audit).

    Exactness: every contingency cell, marginal, and total is an
    integer; each cell's MI and chi-square term is ONE float formula
    over integers, nano-int rounded before the cross-cell sum;
    Cramer's V is one final sqrt over the summed nanos.  MI of an
    independent table is 0; V lands in [0,1].  Scale: one map-side-
    combined (lang x source) aggregate — cell cardinality, not rows —
    then marginals from the cells; embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    rl = c.groupBy("lang").agg(F.sum("n").alias("nl"))
    cs = c.groupBy("source").agg(F.sum("n").alias("ns"))
    t = c.agg(F.sum("n").alias("nt"))
    dims = (
        rl.agg(F.count(F.lit(1)).alias("r"))
        .crossJoin(cs.agg(F.count(F.lit(1)).alias("c2")))
    )
    x = (
        c.join(F.broadcast(rl), "lang")
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(t))
        .select(
            "n", "nl", "ns", "nt",
            (F.col("nl") * F.col("ns").cast("double") / F.col("nt")).alias("e"),
        )
    )
    mi_nano = F.round(
        (F.col("n") / F.col("nt").cast("double"))
        * F.log(
            (F.col("n") * F.col("nt").cast("double"))
            / (F.col("nl") * F.col("ns").cast("double"))
        )
        * 1000000000.0
    ).cast("long")
    chi2_nano = F.round(
        (F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e")
        * 1000000000.0
    ).cast("long")
    agg = x.select(
        "nt",
        mi_nano.alias("mi_nano"),
        chi2_nano.alias("chi2_nano"),
    ).groupBy("nt").agg(
        F.sum("mi_nano").alias("mi_nano"),
        F.sum("chi2_nano").alias("chi2_nano"),
    )
    return (
        agg.crossJoin(F.broadcast(dims))
        .select(
            F.col("nt").cast("long").alias("n"),
            F.col("r").cast("long").alias("n_langs"),
            F.col("c2").cast("long").alias("n_sources"),
            F.round(F.col("mi_nano") / 1000000000.0, 6).alias("mi"),
            F.round(F.col("chi2_nano") / 1000000000.0, 6).alias("chi2"),
            F.round(
                F.sqrt(
                    (F.col("chi2_nano") / 1000000000.0)
                    / (
                        F.col("nt")
                        * F.least(F.col("r") - 1, F.col("c2") - 1)
                        .cast("double")
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


#: Two-sided geometric mechanism (alpha = e^-eps = 1/2, eps = ln 2),
#: truncated at +-10, as EXACT integer CDF thresholds over the modulus
#: 3 * 2^20: P(0) = 1/3 -> 2^20, P(+-k) = (1/3) * 2^-k -> 2^(20-k),
#: residual tail mass folded into the +-10 extremes so the masses sum
#: to the modulus exactly.  Both engines bucket the same hash-uniform
#: u by the same literals, so the "noise" draw is cross-engine exact.
_DP_K = 10
_DP_M = 3 * 2**20


def _dp_cums() -> list[tuple[int, int]]:
    masses = {0: 2**20}
    for k in range(1, _DP_K + 1):
        masses[k] = 2 ** (20 - k)
        masses[-k] = 2 ** (20 - k)
    resid = _DP_M - sum(masses.values())
    masses[_DP_K] += resid // 2
    masses[-_DP_K] += resid - resid // 2
    out, c = [], 0
    for n in range(-_DP_K, _DP_K + 1):
        c += masses[n]
        out.append((n, c))
    return out


_DP_CASE = (
    "CASE "
    + " ".join(f"WHEN {{u}} < {c} THEN ({n})" for n, c in _dp_cums()[:-1])
    + f" ELSE {_DP_K} END"
)

_DP_SQL = f"""
    WITH cell AS (SELECT source, lang, count(*) AS n_docs
                  FROM documents GROUP BY 1, 2),
    h AS (SELECT source, lang, n_docs,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(source || '|' || lang, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 1000000007) % {_DP_M} AS u
          FROM cell),
    z AS (SELECT source, lang, n_docs,
                 {_DP_CASE.format(u="u")} AS noise
          FROM h)
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(noise AS BIGINT) AS noise,
           CAST(n_docs + noise AS BIGINT) AS dp_count,
           (n_docs + noise) >= 5 AS released
    FROM z ORDER BY 1, 2
"""


@register("q_dp_count", sql=_DP_SQL)
def q_dp_count(spark, sf_dir):
    """Differentially-private histogram release of (source, lang) doc
    counts via the two-sided geometric mechanism (Ghosh-Roughgarden-
    Sundararajan, the discrete Laplace; eps = ln 2, sensitivity 1 for
    add/remove of one document), with the small-cell release gate
    dp_count >= 5 — the private-statistics workflow for sharing corpus
    composition dashboards without exposing rare cells.

    The noise draw is the exact inverse-CDF of the truncated (+-10)
    geometric over integer thresholds (_DP_CASE) applied to a
    hash-uniform u — so this registered form is the deterministic
    REPLAY harness of the mechanism (both engines draw bit-identical
    noise and the oracle hash-matches).  Production DP requires an
    unpredictable seed: swap u for a secret-seeded PRG draw per
    release; everything else (thresholds, gate, sensitivity argument)
    is unchanged.  Truncation at +-10 costs total mass 2^-9/3 (folded
    into the extremes), the standard bounded-noise variant.

    Scale shape: one map-side-combined (source, lang) aggregate; the
    mechanism is a stateless expression over cell-cardinality rows."""
    docs = load_table(spark, sf_dir, "documents")
    from shadems_spark.operators.text import poly_hash

    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    u = poly_hash(F.concat_ws("|", "source", "lang")) % F.lit(_DP_M)
    cums = _dp_cums()
    noise = F.lit(_DP_K)
    expr = None
    for n, c in cums[:-1]:
        cond = u < F.lit(c)
        expr = F.when(cond, F.lit(n)) if expr is None else expr.when(cond, F.lit(n))
    # first matching WHEN wins, mirroring the SQL CASE ladder
    noise = expr.otherwise(noise).cast("long")
    return (
        cell.select(
            "source", "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            noise.alias("noise"),
            (F.col("n_docs") + noise).cast("long").alias("dp_count"),
            ((F.col("n_docs") + noise) >= 5).alias("released"),
        )
        .orderBy("source", "lang")
    )


@register(
    "q_ldiversity",
    sql="""
    WITH q AS (SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
                      lang
               FROM documents),
    cell AS (SELECT source, len_bucket, lang, count(*) AS n_l
             FROM q GROUP BY 1, 2, 3),
    cls AS (SELECT source, len_bucket,
                   CAST(sum(n_l) AS BIGINT) AS k,
                   CAST(count(*) AS BIGINT) AS l_distinct,
                   CAST(max(n_l) AS BIGINT) AS max_lang,
                   CAST(sum(CAST(round(n_l * ln(n_l) * 1e9) AS BIGINT))
                        AS BIGINT) AS e_n
            FROM cell GROUP BY 1, 2)
    SELECT source, len_bucket, k, l_distinct,
           round(max_lang / CAST(k AS DOUBLE), 6) AS max_share,
           round(ln(k) - e_n / (k * 1e9), 6) AS lang_entropy,
           CAST(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END AS INT)
               AS at_risk
    FROM cls ORDER BY source, len_bucket
    """,
)
def q_ldiversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al., the successor check
    to q_kanon's k-anonymity): within each quasi-identifier class
    (source, length-bucket), the SENSITIVE attribute (lang) must take
    at least l = 3 distinct values — a class can be large enough to
    pass k-anonymity yet reveal every member's language because all
    its rows share one value.  Emits distinct-value count, the
    majority share (the recursive-(c,l) signal), and the lang
    entropy (entropy-l-diversity: diverse iff entropy >= ln l).

    Exactness: entropy uses the identity H = ln N - (1/N) sum n_i ln
    n_i with each n_i*ln(n_i) term nano-int-rounded BEFORE the
    cross-row sum (order-free); one fixed float formula at the end.
    Scale: two map-side-combined aggregates over (QI, lang) cells —
    attribute-domain-sized, never row-sized."""
    docs = load_table(spark, sf_dir, "documents")
    cell = (
        docs.select(
            "source",
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            "lang",
        )
        .groupBy("source", "len_bucket", "lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
    )
    cls = cell.groupBy("source", "len_bucket").agg(
        F.sum("n_l").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.max("n_l").cast("long").alias("max_lang"),
        F.sum(
            F.round(F.col("n_l") * F.log(F.col("n_l")) * F.lit(1e9))
            .cast("long")
        ).cast("long").alias("e_n"),
    )
    return cls.select(
        "source", "len_bucket", "k", "l_distinct",
        F.round(F.col("max_lang") / F.col("k").cast("double"), 6).alias(
            "max_share"
        ),
        F.round(
            F.log(F.col("k")) - F.col("e_n") / (F.col("k") * F.lit(1e9)), 6
        ).alias("lang_entropy"),
        (F.col("l_distinct") < 3).cast("int").alias("at_risk"),
    ).orderBy("source", "len_bucket")


def _als_solve_sql(src: str, key: str, f1: str, f2: str, out_k: str) -> str:
    """One ALS half-sweep in DuckDB: per-``key`` 2x2 normal equations
    from exact integer sufficient statistics over ``src`` (which
    carries r and the fixed side's micro factors f1/f2), solved by the
    closed-form inverse with ridge 0.1 — the identical expression
    sequence the Spark side builds, so factors match bit-for-bit."""
    return f"""
      SELECT {key} AS {out_k},
             CAST(round(((a22 / 1e12 + 0.1) * (b1 / 1e6)
                         - (a12 / 1e12) * (b2 / 1e6))
                        / ((a11 / 1e12 + 0.1) * (a22 / 1e12 + 0.1)
                           - (a12 / 1e12) * (a12 / 1e12)) * 1e6)
                  AS BIGINT) AS X1,
             CAST(round(((a11 / 1e12 + 0.1) * (b2 / 1e6)
                         - (a12 / 1e12) * (b1 / 1e6))
                        / ((a11 / 1e12 + 0.1) * (a22 / 1e12 + 0.1)
                           - (a12 / 1e12) * (a12 / 1e12)) * 1e6)
                  AS BIGINT) AS X2
      FROM (SELECT {key},
                   sum({f1} * {f1}) AS a11, sum({f1} * {f2}) AS a12,
                   sum({f2} * {f2}) AS a22,
                   sum(r * {f1}) AS b1, sum(r * {f2}) AS b2
            FROM {src} GROUP BY {key})"""


_ALS_SQL = f"""
    WITH p AS MATERIALIZED (
      SELECT user_id AS u, event_type AS t, count(*) AS r
      FROM events GROUP BY 1, 2),
    tb AS (SELECT t, CAST(row_number() OVER (ORDER BY t) - 1 AS INT) AS b
           FROM (SELECT DISTINCT t FROM p)),
    y0 AS (SELECT t, CAST(1000000 AS BIGINT) AS Y1,
                  CAST(100000 * (b + 1) AS BIGINT) AS Y2
           FROM tb),
    py0 AS (SELECT p.u, p.t, p.r, y0.Y1, y0.Y2 FROM p JOIN y0 USING (t)),
    x1 AS MATERIALIZED ({_als_solve_sql("py0", "u", "Y1", "Y2", "u")}),
    px1 AS (SELECT p.u, p.t, p.r, x1.X1 AS Y1, x1.X2 AS Y2
            FROM p JOIN x1 USING (u)),
    yn1 AS MATERIALIZED ({_als_solve_sql("px1", "t", "Y1", "Y2", "t")}),
    py1 AS (SELECT p.u, p.t, p.r, yn1.X1 AS Y1, yn1.X2 AS Y2
            FROM p JOIN yn1 USING (t)),
    x2 AS MATERIALIZED ({_als_solve_sql("py1", "u", "Y1", "Y2", "u")}),
    px2 AS (SELECT p.u, p.t, p.r, x2.X1 AS Y1, x2.X2 AS Y2
            FROM p JOIN x2 USING (u)),
    yn2 AS MATERIALIZED ({_als_solve_sql("px2", "t", "Y1", "Y2", "t")}),
    err AS (SELECT p.t,
                   CAST(round((p.r - (x2.X1 * y.X1 + x2.X2 * y.X2) / 1e12)
                              * (p.r - (x2.X1 * y.X1 + x2.X2 * y.X2) / 1e12)
                              * 1e6) AS BIGINT) AS e2
            FROM p JOIN x2 USING (u) JOIN yn2 y USING (t)),
    stats AS (SELECT t, count(*) AS n_users, sum(e2) AS se FROM err
              GROUP BY 1)
    SELECT s.t AS event_type,
           CAST(s.n_users AS BIGINT) AS n_users,
           round(y.X1 / 1e6, 6) AS y1,
           round(y.X2 / 1e6, 6) AS y2,
           round(sqrt(s.se / (s.n_users * 1e6)), 6) AS rmse
    FROM stats s JOIN yn2 y USING (t) ORDER BY 1
"""


@register("q_als", sql=_ALS_SQL)
def q_als(spark, sf_dir):
    """Distributed ALS matrix factorization (rank 2, ridge 0.1, two
    alternating sweeps) of the user x event-type interaction-count
    matrix — the collaborative-filtering trainer beside q_lr_train /
    q_kmeans in the iterative-ML family.  Each half-sweep solves
    closed-form 2x2 ridge normal equations per entity over its
    OBSERVED pairs (explicit-feedback ALS); output is the item-factor
    table with per-type reconstruction RMSE.

    Exactness protocol: factors live as MICRO ints; every sufficient
    statistic (sum f_i*f_j, sum r*f_i) is an exact BIGINT sum of
    micro-int products (order-free: |terms| <= 1e14, sums <= ~1e17 at
    fixture user counts — at billions of users the A-matrix
    accumulation would outgrow long and ride doubles or 128-bit,
    documented trade); the 2x2 solve is one fixed float expression
    sequence mirrored token-for-token in the oracle, re-rounded to
    micro after each solve, so both engines and any layout produce
    bit-identical factors.

    Scale shape: the pair matrix (distinct (user, type)) is the only
    data-sized table and is persisted once for all 4 half-sweeps + the
    error pass; user-side solves are ONE map-side-combinable aggregate
    after a BROADCAST join with the type-domain factor table; the
    type-side solves shuffle only (user-key -> type-key) sufficient
    statistics.  USER factors stay distributed DataFrames end-to-end
    (the data-sized side); the TYPE factor table is a codebook — the
    event-type domain — and is collected to literals between
    half-sweeps, which keeps each half-sweep's plan a flat aggregate
    over the cached pair matrix instead of nesting every previous
    sweep's subtree into the next (the fully-lazy r8 form re-analyzed
    and re-executed the compounding tree: 32+ jobs, ~3.6 s at sf0.1 —
    VERDICT r8 #3).

    BUILD-TIME EXECUTION (ADVICE r9): those codebook collects run
    Spark jobs INSIDE this builder — the returned DataFrame embeds the
    type-factor literals captured at build time.  Plan-only tooling
    therefore triggers real (bounded) computation, and re-executing a
    cached returned frame after the events table changes returns
    stale factors; rebuild via this function when the input moves."""
    ev = load_table(spark, sf_dir, "events")
    # persist the pair matrix HASH-PARTITIONED BY USER: both user-side
    # solves, the error pass's user join, and the first solve's
    # groupBy(u) all reuse the cached partitioning (the InMemoryRelation
    # reports it), so the only exchanges left per sweep are the
    # types-sized sufficient-statistics shuffles.
    p = (
        ev.groupBy(
            F.col("user_id").alias("u"), F.col("event_type").alias("t")
        )
        .agg(F.count(F.lit(1)).alias("r"))
        .repartition("u")
        .persist()
    )
    # type-index seed over the codebook-sized type domain: rank = 1 +
    # position in the sorted distinct list (exactly what the previous
    # triangle_rank over the distinct table computed, without welding
    # its join into every downstream sweep's plan).  Null types are
    # excluded BEFORE the driver sort (None is unorderable in Python):
    # a null key never matched the equi-join in either the old or new
    # form, and null b-rows never counted into triangle ranks, so
    # non-null ranks are identical with or without the filter.
    types = sorted(
        r["t"]
        for r in p.select("t").filter(F.col("t").isNotNull())
        .distinct().collect()
    )
    y0 = spark.createDataFrame(
        [(t, 1_000_000, 100_000 * (i + 1)) for i, t in enumerate(types)],
        schema="t string, Y1 long, Y2 long",
    )

    from shadems_spark.operators.exprcache import memo

    def solve(src, key, out_k):
        # sufficient statistics as DECIMAL(38,0): exact integer sums
        # (order-free like the long fold) but overflow-safe to 1e38 —
        # the x10 events probe overflowed the long bracket (factors
        # scale with the rating counts, so sum(Y^2) hit ~5e20; round
        # 9).  DuckDB's BIGINT sums are 128-bit already, so both
        # engines stay exact and the double conversions below are
        # value-identical where longs sufficed.
        def d(c):
            return c.cast("decimal(19,0)")

        def _build_stats():
            return [
                F.sum(d(F.col("Y1")) * d(F.col("Y1"))).alias("a11"),
                F.sum(d(F.col("Y1")) * d(F.col("Y2"))).alias("a12"),
                F.sum(d(F.col("Y2")) * d(F.col("Y2"))).alias("a22"),
                F.sum(d(F.col("r")) * d(F.col("Y1"))).alias("b1"),
                F.sum(d(F.col("r")) * d(F.col("Y2"))).alias("b2"),
            ]

        g = src.groupBy(F.col(key).alias(out_k)).agg(
            *memo(("als_stats",), _build_stats)
        )

        def _build_xs():
            A11 = F.col("a11") / F.lit(1e12) + F.lit(0.1)
            A12 = F.col("a12") / F.lit(1e12)
            A22 = F.col("a22") / F.lit(1e12) + F.lit(0.1)
            B1 = F.col("b1") / F.lit(1e6)
            B2 = F.col("b2") / F.lit(1e6)
            det = A11 * A22 - A12 * A12
            x1 = (A22 * B1 - A12 * B2) / det
            x2 = (A11 * B2 - A12 * B1) / det
            return [
                F.round(x1 * F.lit(1e6)).cast("long").alias("X1"),
                F.round(x2 * F.lit(1e6)).cast("long").alias("X2"),
            ]

        return g.select(out_k, *memo(("als_xs",), _build_xs))

    def attach(fact, key):
        cols = (
            F.broadcast(fact) if key == "t" else fact
        )
        return p.join(
            cols.select(
                F.col(key), F.col("X1").alias("Y1"), F.col("X2").alias("Y2")
            ),
            key,
        )

    def collect_y(fact):
        """Materialize a type-side factor table to a literal frame —
        |event types| rows of exact micro ints (order-free sums, so
        the values are layout-independent); sorted for a
        deterministic literal."""
        rows = sorted(
            (r["t"], r["X1"], r["X2"])
            for r in fact.collect()
            if r["t"] is not None  # null keys never match the joins
        )
        return spark.createDataFrame(
            rows, schema="t string, X1 long, X2 long"
        )

    from shadems_spark.operators.dedup import tracked_persist

    py0 = p.join(F.broadcast(y0), "t")
    x1 = solve(py0, "u", "u")
    yn1 = collect_y(solve(attach(x1, "u"), "t", "t"))
    # x2 feeds BOTH the yn2 half-sweep (materialized at its collect)
    # and the final error pass — persist so the user-side solve runs
    # once instead of twice.
    x2 = tracked_persist(solve(attach(yn1, "t"), "u", "u"), key="als_x2")
    yn2 = collect_y(solve(attach(x2, "u"), "t", "t"))

    # same decimal treatment for the per-row reconstruction dot
    # product (long*long overflows once factors reach ~3e9 micro)
    pred = (
        F.col("X1").cast("decimal(19,0)") * F.col("YY1").cast("decimal(19,0)")
        + F.col("X2").cast("decimal(19,0)")
        * F.col("YY2").cast("decimal(19,0)")
    ) / F.lit(1e12)
    err = (
        p.join(x2, "u")
        .join(
            F.broadcast(
                yn2.select(
                    "t",
                    F.col("X1").alias("YY1"),
                    F.col("X2").alias("YY2"),
                )
            ),
            "t",
        )
        .select(
            "t",
            F.round((F.col("r") - pred) * (F.col("r") - pred) * F.lit(1e6))
            .cast("long")
            .alias("e2"),
        )
    )
    stats = err.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_users"),
        # decimal sum: se outgrows long at ~1e9 users of 1e10-scale e2
        F.sum(F.col("e2").cast("decimal(38,0)")).alias("se"),
    )
    return (
        stats.join(yn2, "t")
        .select(
            F.col("t").alias("event_type"),
            F.col("n_users").cast("long").alias("n_users"),
            F.round(F.col("X1") / F.lit(1e6), 6).alias("y1"),
            F.round(F.col("X2") / F.lit(1e6), 6).alias("y2"),
            F.round(
                F.sqrt(F.col("se") / (F.col("n_users") * F.lit(1e6))), 6
            ).alias("rmse"),
        )
        .orderBy("event_type")
    )


_SLICE_GROUP_CTE = """
      SELECT CASE WHEN grouping(source) = 1 THEN '*' ELSE source END AS src,
             CASE WHEN grouping(lang) = 1 THEN '*' ELSE lang END AS lng,
             CASE WHEN grouping(len_bucket) = 1 THEN '*'
                  ELSE CAST(len_bucket AS STRING) END AS bucket,
             count(*) AS n, sum(wl_m) AS s, sum(wl_m * wl_m) AS q
      FROM {src}
      GROUP BY GROUPING SETS ((source), (lang), (len_bucket),
                              (source, lang), (source, len_bucket),
                              (lang, len_bucket))
"""

_SLICE_GROUPQ = (
    "WITH g AS (" + _SLICE_GROUP_CTE + """),
    tot AS (SELECT sum(n) AS gn, sum(s) AS gs, sum(q) AS gq
            FROM g WHERE lng = '*' AND bucket = '*'),
    z AS (SELECT src, lng, bucket, n,
                 round(s / CAST(n * 1000 AS DOUBLE), 6) AS mean_wl,
                 round((s / CAST(n AS DOUBLE) - gs / CAST(gn AS DOUBLE))
                       / sqrt(((gq - gs * (gs / CAST(gn AS DOUBLE)))
                               / (gn - 1)) / n), 6) AS z
          FROM g CROSS JOIN tot WHERE n >= 20)
    SELECT src, lng, bucket, CAST(n AS BIGINT) AS n, mean_wl, z,
           CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY abs(z) DESC,
                                       src, lng, bucket) AS rk
          FROM z)
    WHERE rk <= 10
"""
)

_SLICE_BASE_DUCK = """base AS (
      SELECT source, lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
             CAST(round(
               round(list_sum(list_transform(string_split(text, ' '),
                                             w -> CAST(length(w) AS DOUBLE)))
                     / len(string_split(text, ' ')), 4) * 1000)
                  AS BIGINT) AS wl_m
      FROM documents)"""

_SLICE_SQL = (
    "WITH "
    + _SLICE_BASE_DUCK
    + ",\n"
    + _SLICE_GROUPQ.format(src="base").strip().removeprefix("WITH ")
)


@register("q_slice_finder", sql=_SLICE_SQL)
def q_slice_finder(spark, sf_dir):
    """Automatic deviant-slice detection (the SliceFinder /
    model-monitoring shape, Chung et al. ICDE'19): compute the mean
    word length — the boilerplate/tokenization drift signal from the
    Gopher battery — over EVERY 1-D and 2-D slice of (source, lang,
    length-bucket) in ONE Aggregate(Expand) pass (GROUPING SETS, not
    a per-dimension loop), then rank slices by the z-score of their
    mean against the corpus and keep the top 10 with support n >= 20.
    The dashboard answer to "WHERE is the corpus drifting":
    aggregated-out dimensions print as '*'.

    Exactness: each doc's 4dp mean word length becomes a MILLI int
    before any cross-row sum (order-free; no libm anywhere), the
    global variance comes from integer sufficient statistics, and z /
    mean are fixed float formulas rounded 6dp; rank ties break on the
    slice labels.

    Scale shape: Expand multiplies the scan x6 BEFORE a map-side-
    combined aggregate (surviving rows = slice-domain cardinality);
    the rank window sees only those slices — domain-bounded, never
    corpus-bounded."""
    from shadems_spark.operators.exprcache import memo

    docs = load_table(spark, sf_dir, "documents")

    def _base_cols():
        ws = F.split(F.col("text"), " ")
        mean_wl = F.round(
            F.aggregate(
                ws, F.lit(0.0), lambda a, w: a + F.length(w).cast("double")
            )
            / F.size(ws),
            4,
        )
        return [
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            F.round(mean_wl * 1000).cast("long").alias("wl_m"),
        ]

    base = docs.select(
        "source", "lang", *memo(("slice_base",), _base_cols)
    )
    base.createOrReplaceTempView("slice_base")
    # persist the slice-domain table so the totals pass reuses it
    # instead of re-scanning the corpus (Spark inlines a CTE that is
    # referenced twice; the table is domain-sized, so caching is free)
    g = spark.sql(_SLICE_GROUP_CTE.format(src="slice_base")).persist()
    tot = g.filter((F.col("lng") == "*") & (F.col("bucket") == "*")).agg(
        F.sum("n").alias("gn"), F.sum("s").alias("gs"),
        F.sum("q").alias("gq"),
    )
    n = F.col("n")

    def _z_cols():
        s, gn = F.col("s"), F.col("gn")
        gs, gq = F.col("gs"), F.col("gq")
        z = F.round(
            (s / n.cast("double") - gs / gn.cast("double"))
            / F.sqrt(
                ((gq - gs * (gs / gn.cast("double"))) / (gn - 1)) / n
            ),
            6,
        )
        return [
            n.cast("long").alias("n"),
            F.round(s / (n * F.lit(1000)).cast("double"), 6).alias(
                "mean_wl"
            ),
            z.alias("z"),
        ]

    zt = (
        g.crossJoin(F.broadcast(tot))
        .filter(n >= 20)
        .select("src", "lng", "bucket", *memo(("slice_z",), _z_cols))
    )
    from shadems_spark.operators.profile import triangle_rank

    # top-10 by |z|: TakeOrderedAndProject, then the 10 survivors
    # rank via the broadcast triangle join (negated |z| = exact desc
    # order on a 6dp-rounded double) — window-free
    top = zt.orderBy(
        F.abs(F.col("z")).desc(), "src", "lng", "bucket"
    ).limit(10).withColumn("__negaz", -F.abs(F.col("z")))
    return (
        triangle_rank(top, ["__negaz", "src", "lng", "bucket"], out="rk")
        .select(
            "src", "lng", "bucket", "n", "mean_wl", "z",
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "q_tcloseness",
    sql="""
    WITH q AS (SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
                      lang
               FROM documents),
    cell AS (SELECT source, len_bucket, lang, count(*) AS n_cs,
                    sum(count(*)) OVER (PARTITION BY source, len_bucket)
                        AS n_c
             FROM q GROUP BY 1, 2, 3),
    lt AS (SELECT lang, count(*) AS n_s FROM q GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM q),
    cls AS (SELECT c.source, c.len_bucket,
                   max(c.n_c) AS n_c,
                   count(*) AS n_langs,
                   sum(abs(CAST(c.n_cs AS HUGEINT) * t.n
                           - CAST(lt.n_s AS HUGEINT) * c.n_c))
                       AS tv_present,
                   sum(lt.n_s) AS ns_present
            FROM cell c JOIN lt USING (lang) CROSS JOIN tot t
            GROUP BY 1, 2, t.n),
    r AS (SELECT cls.*, t.n,
                 tv_present + CAST(t.n - ns_present AS HUGEINT) * n_c
                     AS tv_num
          FROM cls CROSS JOIN tot t)
    SELECT source, len_bucket,
           CAST(n_c AS BIGINT) AS n_c,
           CAST(n_langs AS BIGINT) AS n_langs,
           round(CAST(tv_num AS DOUBLE) / (2.0 * n_c * n), 6)
               AS tv_distance,
           CAST(CASE WHEN CAST(tv_num AS DOUBLE) / (2.0 * n_c * n) > 0.35
                THEN 1 ELSE 0 END AS INT) AS t_violation
    FROM r ORDER BY source, len_bucket
    """,
)
def q_tcloseness(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian '07 — the
    refinement after q_kanon and q_ldiversity): a QI class leaks when
    its SENSITIVE-value distribution diverges from the global one,
    even if the class is large and diverse.  Distance here is total
    variation over the categorical sensitive attribute (lang):
    TV = (1/2) sum_s |n_cs/n_c - N_s/N|, with absent-from-class
    languages contributing their full global mass.

    Exactness: every |p - q| term is carried as the exact integer
    cross-product |n_cs*N - N_s*n_c| (no per-term division), absent
    languages fold in as one (N - sum_present N_s)*n_c term, and only
    the final TV performs a division — bit-identical on both engines.
    Scale: aggregates over (QI, lang) cells with a broadcast |langs|
    totals table; never row-sized past the first map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "source",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        "lang",
    )
    cell = q.groupBy("source", "len_bucket", "lang").agg(
        F.count(F.lit(1)).alias("n_cs")
    )
    lt = q.groupBy("lang").agg(F.count(F.lit(1)).alias("n_s"))
    tot = q.agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    wcls = W.partitionBy("source", "len_bucket")
    j = (
        cell.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .withColumn("n_c", F.sum("n_cs").over(wcls))
    )
    cls = j.groupBy("source", "len_bucket").agg(
        F.max("n_c").alias("n_c"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(
            F.abs(
                F.col("n_cs").cast("decimal(38,0)") * F.col("n")
                - F.col("n_s").cast("decimal(38,0)") * F.col("n_c")
            )
        ).alias("tv_present"),
        F.sum("n_s").alias("ns_present"),
        F.max("n").alias("n"),
    )
    tv_num = (
        F.col("tv_present")
        + (F.col("n") - F.col("ns_present")).cast("decimal(38,0)")
        * F.col("n_c")
    )
    tv = tv_num.cast("double") / (2.0 * F.col("n_c") * F.col("n"))
    return cls.select(
        "source", "len_bucket",
        F.col("n_c").cast("long").alias("n_c"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.round(tv, 6).alias("tv_distance"),
        (tv > 0.35).cast("int").alias("t_violation"),
    ).orderBy("source", "len_bucket")


_FD_CANDIDATES = [
    # (fd label, table, lhs col, rhs col)
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey",
     "o_orderpriority"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("documents.source->lang", "documents", "source", "lang"),
]


def _fd_sql() -> str:
    parts = []
    for label, tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
        SELECT '{label}' AS fd,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS viol_groups,
               CAST(max(d) AS BIGINT) AS max_rhs,
               CAST(sum(n) - count(*) AS BIGINT) AS extra_rows,
               CAST(CASE WHEN max(d) = 1 THEN 1 ELSE 0 END AS INT) AS holds
        FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS d, count(*) AS n
              FROM {tbl} GROUP BY 1)""")
    u = "\n        UNION ALL".join(parts)
    return f"SELECT * FROM ({u}) ORDER BY fd"


@register("q_fd_discovery", sql=_fd_sql())
def q_fd_discovery(spark, sf_dir):
    """Functional-dependency validation over a candidate list (the
    TANE/metanome-style profiling primitive, scoped to declared
    candidates rather than lattice search): FD lhs->rhs holds iff no
    lhs group sees more than one distinct rhs.  Emits per candidate
    the group count, violating-group count, the worst group's rhs
    cardinality, and redundancy (rows beyond one per group) — the
    signals schema-normalization and data-quality gates key on.

    Exactness: all outputs are integer counts.  Scale: one
    (lhs, rhs)-combinable distinct-aggregate per candidate, each
    map-side partial; candidates run as a union of independent plans
    so Spark schedules their stages concurrently — no cross-candidate
    shuffle, and adding a candidate never touches the others."""
    outs = []
    for label, tbl, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        g = t.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("d"), F.count(F.lit(1)).alias("n")
        )
        outs.append(
            g.agg(
                F.lit(label).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("d") > 1).cast("int")).cast("long").alias(
                    "viol_groups"
                ),
                F.max("d").cast("long").alias("max_rhs"),
                (F.sum("n") - F.count(F.lit(1))).cast("long").alias(
                    "extra_rows"
                ),
                (F.max("d") == 1).cast("int").alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


@register(
    "q_kn_lm",
    sql="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    b AS (SELECT unnest([ws[i+1] || ' ' || ws[i+2]
                         for i in range(len(ws) - 1)]) AS bg
          FROM w),
    bc AS (SELECT string_split(bg, ' ')[1] AS w1,
                  string_split(bg, ' ')[2] AS w2, count(*) AS nb
           FROM b GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS nc,
                   CAST(count(*) AS BIGINT) AS n1f
            FROM bc GROUP BY 1),
    rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM bc GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bg FROM bc)
    SELECT bc.w1, bc.w2, CAST(bc.nb AS BIGINT) AS nb,
           ctx.nc AS c_w1, ctx.n1f AS n1plus_fwd, rgt.n1p AS n1plus_bwd,
           round(greatest(bc.nb - 0.75, 0.0) / ctx.nc
                 + 0.75 * ctx.n1f / ctx.nc * rgt.n1p
                   / CAST(t.n_bg AS DOUBLE), 6) AS p_kn,
           round(CAST(bc.nb AS DOUBLE) / ctx.nc, 6) AS p_mle
    FROM bc JOIN ctx USING (w1) JOIN rgt USING (w2) CROSS JOIN tot t
    ORDER BY nb DESC, w1, w2 LIMIT 30
    """,
)
def q_kn_lm(spark, sf_dir):
    """Kneser-Ney smoothed bigram LM (absolute discount D = 0.75,
    continuation-count backoff) — the production n-gram smoother
    beside q_bigram_lm's simple interpolation: KN backs off to HOW
    MANY contexts a word completes (N1+(.w)), not how often it
    occurs, which is what makes 'Francisco' unlikely outside 'San'.
    p_kn(w2|w1) = max(c-D,0)/c(w1.) + D*N1+(w1.)/c(w1.) * p_cont(w2),
    p_cont = N1+(.w2)/N1+(..).  Emits the top-30 bigrams with their
    raw, forward- and backward-continuation counts and both the KN
    and MLE probabilities (tests pin the sum-to-1 law per context).

    Exactness: all five count families are integer aggregates over
    the bigram table; p_kn is one fixed float formula per row.
    Scale: the bigram count table is vocabulary^2-bounded and every
    derived table groups ON its own keys (one map-side-combined
    shuffle each); the top-30 compiles to TakeOrderedAndProject."""
    from shadems_spark.operators.text import _sliding, words

    docs = load_table(spark, sf_dir, "documents")
    ws = words("text")
    b = docs.select(
        F.explode(
            _sliding(ws, 2, lambda a, x: F.concat(a, F.lit(" "), x))
        ).alias("bg")
    )
    bc = (
        b.select(
            F.split("bg", " ")[0].alias("w1"),
            F.split("bg", " ")[1].alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    ctx = bc.groupBy("w1").agg(
        F.sum("nb").cast("long").alias("c_w1"),
        F.count(F.lit(1)).cast("long").alias("n1plus_fwd"),
    )
    rgt = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1plus_bwd")
    )
    tot = bc.agg(F.count(F.lit(1)).cast("long").alias("n_bg"))
    j = (
        bc.join(ctx, "w1")
        .join(rgt, "w2")
        .crossJoin(F.broadcast(tot))
    )
    p_kn = (
        F.greatest(F.col("nb") - 0.75, F.lit(0.0)) / F.col("c_w1")
        + 0.75 * F.col("n1plus_fwd") / F.col("c_w1")
        * F.col("n1plus_bwd") / F.col("n_bg").cast("double")
    )
    return (
        j.select(
            "w1", "w2", F.col("nb").cast("long").alias("nb"),
            "c_w1", "n1plus_fwd", "n1plus_bwd",
            F.round(p_kn, 6).alias("p_kn"),
            F.round(F.col("nb").cast("double") / F.col("c_w1"), 6).alias(
                "p_mle"
            ),
        )
        .orderBy(F.desc("nb"), "w1", "w2")
        .limit(30)
    )


_ADA_T = 3  # boosting rounds
_ADA_FEATS = 3  # binned features
_ADA_THRESH = list(range(1, 10))


def _ada_sql() -> str:
    """Full 3-round AdaBoost replay in DuckDB CTEs: the same binned
    features, the same integer nano-weights, the same argmin/update
    formulas — training itself is oracle-verified, not just the
    apply step."""
    cands = ", ".join(
        f"({fi}, {t})" for fi in range(_ADA_FEATS) for t in _ADA_THRESH
    )
    sql = f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                      len(list_filter(string_split(text, ' '),
                                      x -> len(x) > 0)) AS nw,
                      n_chars
               FROM documents),
    f AS (SELECT doc_id, y,
                 [least(n_chars // 200, 9),
                  least(nw // 20, 9),
                  least(n_chars // (nw + 1), 9)] AS fv
          FROM d),
    cand(fi, th) AS (VALUES {cands}),
    w0 AS (SELECT doc_id, y, fv, CAST(1000000000 AS BIGINT) AS wn FROM f)
    """
    prev = "w0"
    for r in range(_ADA_T):
        sql += f""",
    e{r} AS (SELECT c.fi, c.th,
                    sum(CASE WHEN (CASE WHEN w.fv[c.fi + 1] >= c.th
                                   THEN 1 ELSE -1 END) != w.y
                        THEN w.wn ELSE 0 END) AS werr,
                    sum(w.wn) AS tot
             FROM {prev} w CROSS JOIN cand c GROUP BY 1, 2),
    b{r} AS (SELECT fi, th,
                    CASE WHEN werr * 2 <= tot THEN 1 ELSE -1 END AS pol,
                    CAST(least(werr, tot - werr) AS BIGINT) AS ew,
                    CAST(tot AS BIGINT) AS tot
             FROM e{r}
             ORDER BY least(werr, tot - werr), fi, th LIMIT 1),
    a{r} AS (SELECT *,
                    0.5 * ln((tot - ew) / CAST(ew AS DOUBLE)) AS alpha
             FROM b{r}),
    w{r + 1} AS (SELECT w.doc_id, w.y, w.fv,
                        CAST(round(w.wn * CASE WHEN
                            a.pol * (CASE WHEN w.fv[a.fi + 1] >= a.th
                                     THEN 1 ELSE -1 END) = w.y
                            THEN sqrt(a.ew / CAST(a.tot - a.ew AS DOUBLE))
                            ELSE sqrt((a.tot - a.ew) / CAST(a.ew AS DOUBLE))
                            END) AS BIGINT) AS wn
                 FROM {prev} w CROSS JOIN a{r} a)
    """
        prev = f"w{r + 1}"
    hsum = " + ".join(
        f"""(SELECT alpha * pol * (CASE WHEN f.fv[fi + 1] >= th
             THEN 1 ELSE -1 END) FROM a{r})"""
        for r in range(_ADA_T)
    )
    rounds = " UNION ALL ".join(
        f"SELECT {r} AS round, fi, th, pol, "
        f"round(ew / CAST(tot AS DOUBLE), 6) AS err, "
        f"round(alpha, 6) AS alpha FROM a{r}"
        for r in range(_ADA_T)
    )
    sql += f""",
    acc AS (SELECT round(sum(CASE WHEN ({hsum}) * f.y > 0
                          THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS train_acc
            FROM f)
    SELECT r.round, CAST(r.fi AS INT) AS feature_idx,
           CAST(r.th AS INT) AS threshold, CAST(r.pol AS INT) AS polarity,
           r.err, r.alpha, acc.train_acc
    FROM ({rounds}) r CROSS JOIN acc ORDER BY r.round
    """
    return sql


@register("q_adaboost_stumps", sql=_ada_sql())
def q_adaboost_stumps(spark, sf_dir):
    """AdaBoost (Freund & Schapire '97) over decision stumps on three
    binned document features (char bucket, word bucket, avg-word-len
    bucket; label en-vs-rest) — the boosting member of the classifier
    battery (q_lr_train gradient, q_naive_bayes generative,
    q_best_split single stump): each round re-weights documents by
    the exponential loss and picks the weighted-error-minimizing
    stump, polarity included.

    Exactness: sample weights are nano-ints re-rounded after each
    multiplicative update, so every weighted error is an exact
    integer sum and the per-round argmin compares integers with a
    (feature, threshold) tie-break; alpha and the update factors are
    fixed float formulas over those integers, identical on both
    engines — the DuckDB oracle replays the full training loop, not
    just the final model.  Scale: each round is ONE map-side-combined
    aggregate with |features|x|thresholds| conditional-sum columns
    (no row explosion), the chosen stump broadcasts back as a 1-row
    frame, and the feature table is computed once and persisted —
    T rounds cost T cheap passes over 4 narrow columns.

    BUILD-TIME EXECUTION (ADVICE r9): each round's 1-row argmin
    collect runs a Spark job INSIDE this builder (the sanctioned
    bounded-collect pattern) — the returned DataFrame embeds the
    chosen stumps as integer literals captured at build time.
    Plan-only tooling therefore triggers real computation, and
    re-executing a cached returned frame after the documents table
    changes returns a stale model; rebuild via this function when the
    input moves."""
    from shadems_spark.operators.dedup import tracked_persist
    from shadems_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    nw = F.size(F.filter(words("text"), lambda w: F.length(w) > 0))
    f = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.array(
            F.least(F.expr("n_chars div 200"), F.lit(9)).cast("long"),
            F.least(nw.cast("long") / F.lit(20), F.lit(9.0)).cast("long"),
            F.least(
                F.col("n_chars") / (nw.cast("long") + 1), F.lit(9.0)
            ).cast("long"),
        ).alias("fv"),
    )
    f = tracked_persist(f, key="ada_features")
    # Each round's argmin is a single 1-row aggregate whose result
    # feeds the NEXT round's plan.  Leaving those 1-row frames lazy
    # nests every prior round's aggregate subtree inside the next
    # (twice: weight lineage + choices), and Catalyst re-analysis of
    # the compounding tree cost ~2.7 s of driver think time across 44
    # jobs at sf0.1 (VERDICT r8 #3).  Instead each round COLLECTS its
    # 28 integer sums (the sanctioned bounded bounds-row pattern: the
    # row is |features|x|thresholds| longs regardless of corpus size)
    # and re-enters them as literals.  The argmin/polarity decisions
    # compare exact Python ints; every FLOAT stays an in-plan
    # expression over those integer literals (constant-folded with
    # JVM semantics), so log/sqrt/round results are bit-identical to
    # the fully-lazy form — T rounds now cost T one-job passes over
    # the persisted 4-column feature table.
    wn = F.lit(1_000_000_000).cast("long")
    # the 28 conditional-sum columns are identical every round (they
    # reference the round's weight through the "wn" name) — build the
    # py4j Column objects ONCE; per-round construction cost ~0.3 s of
    # pure gateway traffic otherwise.
    from shadems_spark.operators.exprcache import memo

    def _build_aggs():
        aggs = [F.sum("wn").alias("tot")]
        for fi in range(_ADA_FEATS):
            for t in _ADA_THRESH:
                pred = F.when(F.element_at("fv", fi + 1) >= t, 1).otherwise(-1)
                aggs.append(
                    F.sum(
                        F.when(pred != F.col("y"), F.col("wn")).otherwise(0)
                    ).alias(f"we_{fi}_{t}")
                )
        return aggs

    aggs = memo(("ada_aggs", _ADA_FEATS, tuple(_ADA_THRESH)), _build_aggs)
    choices: list[dict] = []
    for _r in range(_ADA_T):
        row = f.select("y", "fv", wn.alias("wn")).agg(*aggs).collect()[0]
        tot = row["tot"]
        # argmin over (min(werr, tot-werr), fi, th) — the same
        # lexicographic order the sort_array(struct(...)) form used,
        # now on exact Python ints.
        ew, fi, th, werr = min(
            (min(row[f"we_{fi}_{t}"], tot - row[f"we_{fi}_{t}"]), fi, t,
             row[f"we_{fi}_{t}"])
            for fi in range(_ADA_FEATS)
            for t in _ADA_THRESH
        )
        pol = 1 if werr * 2 <= tot else -1
        choices.append({"fi": fi, "th": th, "pol": pol, "ew": ew, "tot": tot})
        # weight update stays an in-plan expression: sqrt over the
        # integer literals, F.round half-up — JVM-exact as before.
        pred = F.when(F.element_at("fv", fi + 1) >= th, 1).otherwise(-1)
        f_match = F.sqrt(F.lit(ew) / F.lit(tot - ew).cast("double"))
        f_miss = F.sqrt(F.lit(tot - ew) / F.lit(ew).cast("double"))
        wn = F.round(
            wn * F.when(F.lit(pol) * pred == F.col("y"), f_match)
            .otherwise(f_miss)
        ).cast("long")

    def alpha_expr(ch):
        return 0.5 * F.log(
            (F.lit(ch["tot"]) - F.lit(ch["ew"]))
            / F.lit(ch["ew"]).cast("double")
        )

    # ensemble accuracy: sum of alpha * pol * h_r(x) over the stumps,
    # all stump parameters literal — one aggregate over the persisted
    # feature table, no broadcast chain.
    hsum = None
    for ch in choices:
        hr = alpha_expr(ch) * F.lit(ch["pol"]) * F.when(
            F.element_at("fv", ch["fi"] + 1) >= ch["th"], 1
        ).otherwise(-1)
        hsum = hr if hsum is None else hsum + hr
    acc = f.agg(
        F.round(
            F.sum((hsum * F.col("y") > 0).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("train_acc")
    )
    one = spark.range(1)
    rounds = None
    for r, ch in enumerate(choices):
        row_df = one.select(
            F.lit(r).alias("round"),
            F.lit(ch["fi"]).cast("int").alias("feature_idx"),
            F.lit(ch["th"]).cast("int").alias("threshold"),
            F.lit(ch["pol"]).cast("int").alias("polarity"),
            F.round(
                F.lit(ch["ew"]) / F.lit(ch["tot"]).cast("double"), 6
            ).alias("err"),
            F.round(alpha_expr(ch), 6).alias("alpha"),
        )
        rounds = row_df if rounds is None else rounds.unionByName(row_df)
    return rounds.crossJoin(F.broadcast(acc)).orderBy("round")


_DPM_CLAMP = 2000  # per-record contribution bound (sum sensitivity)

_DPM_SQL = f"""
    WITH cell AS (SELECT source, count(*) AS n_docs,
                         sum(least(n_chars, {_DPM_CLAMP})) AS csum
                  FROM documents GROUP BY 1),
    h AS (SELECT *,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split('c|' || source, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 1000000007) % {_DP_M} AS uc,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split('s|' || source, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 1000000007) % {_DP_M} AS us
          FROM cell),
    z AS (SELECT source, n_docs, csum,
                 {_DP_CASE.format(u="uc")} AS noise_n,
                 CAST({_DP_CASE.format(u="us")} AS BIGINT)
                     * {_DPM_CLAMP} AS noise_s
          FROM h)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs + noise_n AS BIGINT) AS dp_n,
           CAST(csum + noise_s AS BIGINT) AS dp_sum,
           round(CASE WHEN n_docs + noise_n > 0
                 THEN (csum + noise_s) / CAST(n_docs + noise_n AS DOUBLE)
                 END, 6) AS dp_mean,
           round(csum / CAST(n_docs AS DOUBLE), 6) AS true_clamped_mean
    FROM z ORDER BY source
"""


@register("q_dp_mean", sql=_DPM_SQL)
def q_dp_mean(spark, sf_dir):
    """Differentially-private MEAN release (the ratio mechanism):
    per-source mean document length from separately-noised sum and
    count — the composition q_dp_count can't give you, because a mean
    needs BOTH a clamped-sum release (sensitivity = the clamp bound,
    noise scaled by it) and a count release, each drawing its own
    two-sided geometric noise.  Clamping to {_DPM_CLAMP} chars bounds
    any one document's influence; the unclamped mean never leaves the
    engine (true_clamped_mean rides along only for this harness's
    utility audit).

    Exactness: the q_dp_count protocol — noise draws are EXACT
    integer CDF thresholds over hash-uniform u per (salt, source), so
    the release replays cross-engine bit-for-bit (production swaps a
    secret-seeded u).  Scale: one map-side-combined source-keyed
    aggregate; the mechanism is a stateless expression per cell."""
    from shadems_spark.operators.text import FP_MOD, poly_hash

    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.least(F.col("n_chars"), F.lit(_DPM_CLAMP))).alias("csum"),
    )

    def draw(salt):
        u = poly_hash(F.concat(F.lit(salt + "|"), F.col("source"))) % F.lit(
            _DP_M
        )
        expr = None
        for n, cth in _dp_cums()[:-1]:
            cond = u < F.lit(cth)
            expr = (
                F.when(cond, F.lit(n))
                if expr is None
                else expr.when(cond, F.lit(n))
            )
        return expr.otherwise(F.lit(_DP_K)).cast("long")

    z = cell.select(
        "source", "n_docs", "csum",
        draw("c").alias("noise_n"),
        (draw("s") * _DPM_CLAMP).alias("noise_s"),
    )
    c = F.col
    return z.select(
        "source",
        c("n_docs").cast("long").alias("n_docs"),
        (c("n_docs") + c("noise_n")).cast("long").alias("dp_n"),
        (c("csum") + c("noise_s")).cast("long").alias("dp_sum"),
        F.round(
            F.when(
                c("n_docs") + c("noise_n") > 0,
                (c("csum") + c("noise_s"))
                / (c("n_docs") + c("noise_n")).cast("double"),
            ),
            6,
        ).alias("dp_mean"),
        F.round(c("csum") / c("n_docs").cast("double"), 6).alias(
            "true_clamped_mean"
        ),
    ).orderBy("source")
