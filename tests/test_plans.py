"""Plan-quality regression tests: the scale properties SURVEY.md §4
promises must stay visible in the physical plan (pushdown, pruning,
broadcast shape, partial aggregation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shadems_spark.queries import load_registry

SF = "/root/testdata/sf0.001"


def _plan(spark, qname):
    reg = load_registry()
    return reg[qname][0](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown(spark):
    p = _plan(spark, "q_scan")
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]" in p


def test_raster_prunes_columns(spark):
    """The raster touches 11-column lineitem but must read only the
    two axis columns."""
    p = _plan(spark, "q_raster_count")
    assert "ReadSchema: struct<l_extendedprice:double,l_shipdate:timestamp_ntz>" in p


def test_raster_partial_aggregate(spark):
    p = _plan(spark, "q_raster_count")
    assert "partial_count" in p  # map-side combine before the shuffle


def test_dim_joins_broadcast(spark):
    """Dim enrichment must never shuffle the fact side."""
    p = _plan(spark, "q_join_dim")
    assert p.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p


def test_semijoin_broadcast(spark):
    p = _plan(spark, "q_semijoin")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_cosine_topk_broadcasts_queries(spark):
    """M3 brute force: ONE scan of the collection, queries broadcast —
    the big side must never shuffle for scoring.  BENCH_r03 recorded a
    6.5× outlier on this query with unchanged code (ambient load);
    this pin makes any *structural* regression — an extra window pass,
    a shuffle join, a cartesian — fail loud so noise can't hide one
    (VERDICT r03 'What's wrong' #1)."""
    p = _plan(spark, "q_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.count("Window [") == 1  # single top-k ranking pass


def test_ngram_jaccard_persisted_single_scan(spark):
    """M2 exact verify metric, count-based with the stop-gram df-cap
    (VERDICT r6 #3): the PRUNED gram table is built once (persisted)
    and feeds all four consumers — both self-join sides and both size
    lookups read the cache, the size joins stay broadcast, and the
    stop-gram prune is the broadcast ANTI-join of the pigeonhole-
    bounded df > 1000 tail (map-side, never a second full shuffle of
    the gram table against the distinct-gram-sized df relation)."""
    p = _plan(spark, "q_ngram_jaccard")
    # 4 top-level consumers of the pruned cache (each prints its
    # cached relation's plan inline, which nests further scans of the
    # RAW gram cache — hence >=, not ==)
    assert p.count("InMemoryTableScan") >= 4
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2  # size lookups broadcast
    # the cached pruned-gram plan carries the broadcast anti-join with
    # the df > 1000 stop-gram tail as its build side, and BOTH its
    # sides read the raw gram cache (the split scan runs once)
    from shadems_spark.operators.dedup import _live

    cp = _live["ngram_grams"]._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in cp
    assert "> 1000" in cp
    assert "InMemoryTableScan" in cp  # anti-join reads the raw cache


def test_topk_is_limit_pushed(spark):
    """O3: global top-k must be TakeOrderedAndProject (per-partition
    partial top-k), never a full sort of the input."""
    p = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in p


def test_minhash_joins_on_longs(spark):
    """Dedup shuffles must carry 8-byte gram hashes, not strings: no
    string-typed join keys anywhere in the candidate plan."""
    reg = load_registry()
    df = reg["q_dedup_minhash"][0](spark, SF)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema == {"id1": "bigint", "id2": "bigint", "jaccard": "double"}
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p  # signature table persisted once


def test_robust_bounds_shrink(spark):
    """Quantile bounds must lie within min/max and survive a single
    outlier that would wreck the linear canvas."""
    from pyspark.sql import functions as F

    from shadems_spark.operators import raster as R

    df = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    df = df.union(spark.createDataFrame([(1e12,)], "x double"))  # cosmic ray
    mm = R.minmax(df, {"x": F.col("x")}).first()
    rb = R.robust_bounds(df, {"x": F.col("x")}, q=0.02).first()
    assert mm["x_max"] == 1e12
    assert rb["x_max"] < 1100  # sketch ignores the outlier
    assert mm["x_min"] <= rb["x_min"] <= rb["x_max"] <= mm["x_max"]


def test_events_scan_prunes(spark):
    """Tumbling agg over events must read only ts + grouping/agg cols."""
    p = _plan(spark, "q_tumbling")
    # fixture layouts differ by round: ts arrives as TIMESTAMP(MICROS)
    # (read natively) or TIMESTAMP(NANOS) (read as bigint) — pruning
    # to exactly {ts, event_type, value} is what matters.
    assert (
        "ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>" in p
        or "ReadSchema: struct<ts:bigint,event_type:string,value:double>" in p
    )


def test_domain_mix_no_fact_shuffle(spark):
    """Stratified sampling must be a map-side broadcast join + filter;
    the only exchange is the final small groupBy."""
    p = _plan(spark, "q_domain_mix")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_seq_pack_single_sort_shuffle(spark):
    """Sequence packing: one scan, one exchange (the per-stream window
    sort), then pure arithmetic + partial-agg."""
    p = _plan(spark, "q_seq_pack")
    assert p.count("Exchange") <= 2  # stream repartition (+AQE coalesce)
    assert "partial_count" in p


def test_decontaminate_single_corpus_scan(spark):
    """Benchmark grams broadcast; corpus scanned exactly once (total
    rides through the explode, no totals join)."""
    p = _plan(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert p.count("Generate explode") == 2  # bench grams + corpus grams only


def test_domain_mix_rates_are_local_relation(spark):
    """The literal rates table must be a LocalRelation (VALUES), not a
    Python-RDD scan — ExistingRDD costs a Python-worker job per run."""
    p = _plan(spark, "q_domain_mix")
    assert "Scan ExistingRDD" not in p


def test_unpivot_is_single_scan_expand(spark):
    """Unpivot must be one Expand over one scan, not N self-unions."""
    reg = load_registry()
    p = _plan(spark, "q_unpivot")
    assert "Expand" in p
    assert p.count("Scan parquet") == 1


def test_gap_fill_grid_broadcasts(spark):
    """The dense (type x day) grid must broadcast into the left join —
    the fact side never shuffles for the enrichment."""
    p = _plan(spark, "q_gap_fill")
    assert "BroadcastHashJoin" in p


def test_bucketed_join_no_join_shuffle(spark):
    """Co-bucketed fact x fact join: both scans read bucket layout and
    the SortMergeJoin runs with NO Exchange on the join keys — the
    write-time shuffle is the only one (the residual Exchange is the
    tiny groupBy on priority)."""
    reg = load_registry()
    df = reg["q_bucketed_join"][0](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Bucketed: true") >= 2
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning(l_orderkey" not in p
    assert "Exchange hashpartitioning(o_orderkey" not in p


def test_profile_single_scan(spark):
    """The 4-column profile must read the table ONCE (one FileScan,
    Expand-based multi-distinct), not once per column."""
    reg = load_registry()
    df = reg["q_profile"][0](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan parquet") == 1
    assert "Expand" in p  # the one-pass multi-countDistinct rewrite


def test_vocab_window_after_aggregate(spark):
    """The coverage curve must compute over the vocab-sized head,
    never the raw corpus: window-free since r8 (triangle rank +
    cumsum over the TakeOrdered top-100), with the corpus stage still
    map-side combined."""
    reg = load_registry()
    df = reg["q_vocab"][0](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p  # triangle joins, no WindowExec at all
    assert "TakeOrderedAndProject" in p  # top-100 head extraction
    assert "partial_count" in p  # map-side combine on the corpus stage


def test_funnel_single_shuffle(spark):
    """Funnel: one per-user aggregate exchange feeding a tiny global
    agg — never per-step scans or self-joins."""
    p = _plan(spark, "q_funnel")
    assert p.count("Scan parquet") == 1
    assert "partial_min" in p  # conditional step mins combine map-side


def test_weighted_sample_mapside(spark):
    """Weighted sampling must be a pure filter on the scan (no
    exchange before the audit aggregate's own partial agg)."""
    p = _plan(spark, "q_weighted_sample")
    assert p.count("Exchange") <= 2  # final groupBy (+AQE read)
    assert "partial_count" in p


def test_topk_paths_take_ordered(spark):
    """Global top-k queries must prune with TakeOrderedAndProject, not
    rank the full table through a single-partition window."""
    for q in ("q_top_orders", "q_bm25"):
        p = _plan(spark, q)
        assert "TakeOrderedAndProject" in p, q


def test_zipf_take_ordered_before_regression(spark):
    p = _plan(spark, "q_zipf")
    assert "TakeOrderedAndProject" in p


def test_variant_single_parse(spark):
    """VARIANT battery: one scan, parse_json at the projection, no
    repeated string re-parses per extracted field."""
    p = _plan(spark, "q_variant")
    assert p.count("Scan parquet") == 1
    assert "parse_json" in p or "variant_get" in p


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Spark's runtime bloom-filter join pruning (the 100-TB
    scan-reduction lever: a selective dim filter spawns a bloom
    filter that pre-drops fact rows BEFORE the join shuffle).  Size
    thresholds are lowered for the fixture; at real scale defaults
    (10 MB creation side) fire on the same shape."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stream_enrich_broadcasts_dim(spark):
    """Stream-static enrichment: the dim joins by broadcast — the
    event side must never shuffle for the join."""
    p = _plan(spark, "q_stream_enrich")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_mmr_single_cogroup_stage(spark):
    """MMR's greedy re-rank is exactly ONE cogrouped pandas stage
    (the k-step driver-loop shape it replaced would show none and ~k
    windows instead); candidate generation broadcasts the query set
    (BroadcastNestedLoopJoin), never shuffling the corpus for it."""
    p = _plan(spark, "q_mmr")
    assert p.count("FlatMapCoGroupsInPandas") == 1
    assert "BroadcastNestedLoopJoin" in p


def test_semdedup_broadcast_assign_and_cached_pairs(spark):
    """SemDeDup: centroid assignment is a broadcast cross join (the
    corpus is never replicated), and the assignment table is cached
    (InMemoryTableScan) for its three consumers; the pair scan joins
    shuffle on cluster_id only."""
    p = _plan(spark, "q_semdedup")
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("InMemoryTableScan") >= 2


def test_pipeline_e2e_two_shuffles(spark):
    """The composed curation pipeline promises: quality gate fused
    into the scan, dedup window + final agg as the ONLY two hash
    shuffles (the split adds zero)."""
    p = _plan(spark, "q_pipeline_e2e")
    assert p.count("Exchange hashpartitioning") == 2


def test_dsir_broadcasts_lambda_table(spark):
    """DSIR scoring: the d-row lambda table must broadcast back over
    the per-(doc, bucket) counts — the corpus side never shuffles for
    the scoring join (only its own count aggregate)."""
    p = _plan(spark, "q_dsir")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_lr_train_iteration_is_one_cached_aggregate(spark):
    """Round-9 LR shape: the persisted table is ONE ROW PER DOC with
    its bucket array, and each gradient iteration is a single wide
    aggregate folding the cached arrays in-row — no explode, no
    window, no per-doc shuffle; the only exchange above the cache is
    the single-partition gather of the d+1 partial sums.  (Replaces
    the pin of the pre-round-9 explode+window shape, which the
    production operator no longer builds.)"""
    from pyspark.sql import functions as F

    from shadems_spark.catalog import load_table
    from shadems_spark.operators.text import word_buckets

    d = 16
    docs = load_table(spark, SF, "documents")
    t = docs.select(
        F.col("doc_id").alias("did"),
        F.lit(1).alias("y"),
        word_buckets("text", d).alias("bk"),
    ).persist()
    t.count()
    warr = F.array(*[F.lit(0).cast("long") for _ in range(d)])
    zs = F.aggregate(
        "bk", F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(warr, (b + 1).cast("int")),
    )
    sums = [
        F.sum(
            (zs + F.size(F.filter("bk", lambda x: x == b))).cast("long")
        ).alias(f"g{b}")
        for b in range(d)
    ]
    plan = (
        t.agg(*sums)._jdf.queryExecution().executedPlan().toString()
    )
    t.unpersist()
    # slice off the InMemoryRelation build plan (not live per-iteration
    # cost) before counting live operators.
    live = plan[: plan.index("InMemoryRelation")]
    assert "InMemoryTableScan" in live
    assert live.count("Exchange hashpartitioning") == 0
    assert "Window" not in live and "Generate" not in live
    # one single-partition gather of the d+1 partial sums
    assert live.count("Exchange SinglePartition") == 1


def test_admission_2phase_broadcasts_sizes(spark):
    """The admission pair relation is the exact-Jaccard verify join:
    the doc-size lookups must broadcast (same shape pin as
    q_ngram_jaccard), and the persisted gram table feeds all
    consumers."""
    p = _plan(spark, "q_admission_2phase")
    assert p.count("BroadcastHashJoin") >= 2
    assert "InMemoryTableScan" in p


def test_heavy_hitters_broadcasts_candidates(spark):
    """Phase 2's exact recount must prune via a BROADCAST join against
    the candidate set (never shuffle the token stream against it), and
    phase 1 must be a mapInPandas scan, not an aggregate."""
    p = _plan(spark, "q_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "MapInPandas" in p


def test_naive_bayes_broadcasts_model_sides(spark):
    """Candidate-class expansion and the priors/unseen floors are
    class-sized — they must broadcast; only the word-keyed likelihood
    join may touch a data-sized side."""
    p = _plan(spark, "q_naive_bayes")
    assert "BroadcastNestedLoopJoin" in p or p.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in p


def test_bloom_decontaminate_broadcasts_filter(spark):
    """The m-bit filter and the diagnostic benchmark gram set must
    both ride broadcast joins — the corpus side never shuffles for
    the membership probe."""
    p = _plan(spark, "q_bloom_decontaminate")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_kl_drift_broadcasts_totals(spark):
    """Per-source totals and the grand total are broadcast; only the
    (source, word) aggregate and the vocab join shuffle."""
    p = _plan(spark, "q_kl_drift")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_winnow_selection_is_projection(spark, monkeypatch):
    """Fingerprint selection must stay a single evaluation with no
    extra shuffle before the persisted explode.  Since r11 the default
    fingerprint column is ONE vectorized Arrow batch op
    (operators/text._winnow_numpy — measured 2.25 -> 1.21 s at sf0.1,
    value-identity pinned in test_guards/test_text_vector); the pin is
    now: exactly one ArrowEvalPython per cached-build branch, never the
    row-at-a-time BatchEvalPython, and no pushed fused-expr filter.
    The env-dispatched JVM path keeps the original pure-projection
    contract (one char-fold per branch, no Python node)."""
    p = _plan(spark, "q_winnow")
    assert "BatchEvalPython" not in p
    assert p.count("ArrowEvalPython") <= 2  # one per cached-build branch
    assert "InMemoryTableScan" in p  # the persisted fp explode
    assert "DataFilters: [(size" not in p  # no pushed fused-expr filter

    monkeypatch.setenv("SHADEMS_POLY_IMPL", "jvm")
    try:
        pj = _plan(spark, "q_winnow")
    finally:
        monkeypatch.delenv("SHADEMS_POLY_IMPL")
    assert "BatchEvalPython" not in pj and "ArrowEvalPython" not in pj
    assert pj.count("ascii") <= 2  # one char-fold per cached-build branch


def test_bootstrap_single_scan_partial_agg(spark):
    """The x32 replicate expansion happens BEFORE a map-side-combined
    aggregate: one scan, partial_sum visible, no join of any kind."""
    p = _plan(spark, "q_bootstrap_ci")
    assert "partial_sum" in p
    assert "Join" not in p


def test_hill_distributed_topk_not_global_sort(spark):
    """The only data-sized step must be a TakeOrderedAndProject
    (per-partition heaps); a global Sort before a Limit would be the
    100-TB killer."""
    p = _plan(spark, "q_hill")
    assert "TakeOrderedAndProject" in p


def test_freq_pairs_broadcast_prune_no_cartesian(spark):
    """The frequent-item prune and the support lookups must broadcast;
    the only equi-join shuffle key is the basket id.  No cartesian
    product anywhere (the minsup scalar arrives via broadcast nested
    loop of a 1-row frame, which is fine)."""
    p = _plan(spark, "q_freq_pairs")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_attribution_single_user_shuffle_no_join(spark):
    """Attribution must be window-only: one user-keyed exchange, no
    conversion-to-touch join of any kind."""
    p = _plan(spark, "q_attribution")
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct"):
        assert j not in p
    assert p.count("hashpartitioning(user_id") == 1


def test_psi_and_cuped_no_data_sized_joins(spark):
    """PSI's decile edges and CUPED's arm cells ride broadcast 1-row/
    9-row frames — the event scan must never hit a SortMergeJoin or
    cartesian product."""
    for q in ("q_psi", "q_cuped"):
        p = _plan(spark, q)
        assert "SortMergeJoin" not in p, q
        assert "CartesianProduct" not in p, q


def test_isotonic_bin_bounded_joins(spark):
    """Everything past the score-bin aggregate runs on <= 50-row
    frames: joins must be broadcast, never sort-merge."""
    p = _plan(spark, "q_isotonic")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


# --- round 6: the single-partition-window family is gone (VERDICT r5 #1) ---

#: queries whose exact-rank/cumsum stage formerly rode a global
#: (no-partition) window over a data-sized table; all now use the
#: two-phase range-partitioned operators (operators/profile.
#: global_index / global_cumsum / global_ntile), whose only remaining
#: windows partition on __pid / bounded keys.
_NO_GLOBAL_WINDOW = [
    "q_ks_test", "q_mannwhitney", "q_best_split", "q_psi", "q_rfm",
    "q_curriculum", "q_auc", "q_global_index", "q_skyline",
]


def _empty_partition_windows(df) -> list[str]:
    """All WindowExec/WindowInPandasExec nodes in the executed plan
    whose partition spec is EMPTY — i.e. exactly the nodes that log
    `No Partition Defined ... Moving all data to a single partition`
    (a folded ``lit(0)`` partition also lands here, so constant-
    partition smuggling can't pass).  WindowGroupLimit is excluded:
    it is the partial top-k pre-filter, which runs map-side."""
    found: list[str] = []

    def walk(jp):
        cls = jp.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(jp.initialPlan())
            return
        if cls in ("WindowExec", "WindowInPandasExec") and jp.partitionSpec().isEmpty():
            found.append(cls)
        ch = jp.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_stats_family_has_no_single_partition_window(spark):
    """The VERDICT r5 #1 done-criterion, pinned structurally: none of
    the formerly-weak exact-rank queries may plan a WindowExec with an
    empty partition spec — the node class that moves ALL data to one
    partition and logs the `No Partition Defined` warning."""
    reg = load_registry()
    for q in _NO_GLOBAL_WINDOW:
        df = reg[q][0](spark, SF)
        bad = _empty_partition_windows(df)
        assert not bad, f"{q} still plans a single-partition window: {bad}"


def test_two_phase_queries_bucket_partition_the_data(spark):
    """The data-sized rank/cumsum stage must hash-partition on the
    deterministic value bucket (the two-phase shape; buckets derive
    from DATA values, not physical partition ids — the r6 local[3]
    layout-dependence lesson), not hide the work driver-side."""
    reg = load_registry()
    for q in ("q_ks_test", "q_rfm", "q_curriculum", "q_auc"):
        p = _plan(spark, q)
        assert "hashpartitioning(__b" in p, q


def test_path_analysis_takeordered_not_global_sort(spark):
    """The trigram top-20 must be TakeOrderedAndProject over the
    map-side-combined path counts, never a global sort of the counts
    table; the sessionization windows all carry the user partition."""
    p = _plan(spark, "q_path_analysis")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p
    df = load_registry()["q_path_analysis"][0](spark, SF)
    assert not _empty_partition_windows(df)


def test_apriori_broadcast_metrics_after_prune(spark):
    """The pair self-join shuffles only on the basket key; the item
    totals and the 1-row order count join broadcast AFTER the
    min-support filter (codebook-sized sides)."""
    p = _plan(spark, "q_apriori")
    assert p.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in p  # the 1-row n_orders frame
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_corr_matrix_single_scan_single_reduce(spark):
    """k^2 sufficient statistics must come from ONE scan: exactly one
    Exchange (the 1-row final reduce), no joins, no windows."""
    p = _plan(spark, "q_corr_matrix")
    assert "Join" not in p and "Window" not in p
    assert "partial_count" in p or "partial_sum" in p


def test_ridge_one_pass_no_second_scoring_scan(spark):
    """Closed-form ridge: MSE/R^2 derive from the same sufficient
    statistics — the lineitem scan must appear exactly once."""
    p = _plan(spark, "q_ridge")
    assert p.count("lineitem.parquet") == 1
    assert "Join" not in p


def test_chisq_windows_partition_on_margins(spark):
    """The margin windows partition by event_type / dow (bounded cell
    table); the totals frames join broadcast; no single-partition
    window anywhere."""
    df = load_registry()["q_chisq"][0](spark, SF)
    assert not _empty_partition_windows(df)
    p = _plan(spark, "q_chisq")
    assert "BroadcastNestedLoopJoin" in p


def test_pr_auc_two_phase_no_single_partition_window(spark):
    """The descending-score prefix sums must ride the two-phase
    value-cut scan (hashpartitioning on the __b bucket), not a
    single-partition window."""
    df = load_registry()["q_pr_auc"][0](spark, SF)
    assert not _empty_partition_windows(df)
    p = _plan(spark, "q_pr_auc")
    assert "hashpartitioning(__b" in p


def test_adaboost_rounds_are_wide_aggregates(spark):
    """Each boosting round runs eagerly as ONE wide conditional
    aggregate over the persisted feature table (a bounded 28-integer
    bounds-row collect — round 9 replaced the lazily-nested 1-row
    choice frames whose subtrees compounded across rounds); the
    RETURNED plan is the literal round rows cross-joined with the
    single accuracy aggregate.  Still: no row explosion, no
    sort-merge join; exactly one 1-row broadcast (the accuracy
    frame)."""
    p = _plan(spark, "q_adaboost_stumps")
    assert "SortMergeJoin" not in p
    assert "InMemoryTableScan" in p  # acc aggregates the persisted table
    assert p.count("BroadcastNestedLoopJoin") == 1  # 1-row acc row


def test_interval_coverage_windows_partition_per_key(spark):
    """Sweep-line windows must all carry the (user, type) partition;
    the island reduce partially aggregates map-side."""
    df = load_registry()["q_interval_coverage"][0](spark, SF)
    assert not _empty_partition_windows(df)
    p = _plan(spark, "q_interval_coverage")
    assert "partial_count" in p or "partial_sum" in p


def test_small_qty_revenue_decorrelated_two_scans(spark):
    """Q17 shape: the correlated scalar subquery must decorrelate to
    one per-part aggregate joined back — exactly two lineitem scans,
    no CartesianProduct, partial aggregation map-side."""
    p = _plan(spark, "q_small_qty_revenue")
    assert p.count("lineitem.parquet") == 2
    assert "CartesianProduct" not in p
    assert "partial_sum" in p or "partial_count" in p


def test_ivm_agg_merge_is_group_keyed_outer_join(spark):
    """IVM merge shape: a full-outer SortMergeJoin/ShuffledHashJoin
    on the group key between snapshot and delta aggregates — never a
    re-aggregation of the unioned raw tables."""
    p = _plan(spark, "q_ivm_agg")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


#: every query allowed to plan an empty-partition-spec window, with
#: the BOUND that justifies it (input bounded by construction, never
#: row-sized).  Anything new that plans one must either partition or
#: earn an entry here with its bound.
#:
#: Round 8 (VERDICT r7 #5) converted the other 20 entries to
#: window-free forms: whole-frame min/max/totals became 1-row
#: broadcast aggregates, bounded CDFs/cumsums/ranks became broadcast
#: triangle joins (profile.triangle_cumsum / triangle_rank — the
#: q_lorenz pattern), top-k ranks became orderBy+limit followed by a
#: triangle rank of the k survivors, and q_wilcoxon's rank window
#: became a per-distinct-value strict prefix count.  q_theilsen is
#: the one deliberate keeper: its input is CONSTANT-bounded
#: (calendar-squared pair table, invariant in corpus size) and the
#: distributed global_index route was built and MEASURED ~5x slower
#: with zero scale benefit (docstring records the measurement).
_BOUNDED_GLOBAL_WINDOWS = {
    "q_theilsen": "pairwise slopes of the calendar-bounded day series "
                  "(days^2 is constant in corpus size; distributed "
                  "rank measured 5x slower, see docstring)",
}


def test_no_unbounded_global_windows_full_registry(spark):
    """Full-registry guardrail: the set of queries planning an
    empty-partition-spec WindowExec must stay within the documented
    bounded-input allowlist — a new query that moves row-sized data
    to one partition fails here, not in production."""
    reg = load_registry()
    bad = []
    for q, (fn, _) in reg.items():
        df = fn(spark, SF)
        if _empty_partition_windows(df):
            bad.append(q)
    extra = set(bad) - set(_BOUNDED_GLOBAL_WINDOWS)
    assert not extra, f"undocumented single-partition windows: {sorted(extra)}"


def test_no_trivially_true_join_conjunct_full_registry(spark):
    """Full-registry guardrail (VERDICT r6 'What's wrong' #1): no
    query may analyze to a predicate comparing an attribute to ITSELF
    (`x#5 = x#5`) — the signature of a self-derived join whose two
    sides resolved to one attribute.  Such a conjunct does nothing,
    and if the other conjunct is ever dropped the join silently
    becomes a partial cross product.  Fix at the source: rename the
    derived side through fresh column names (_daily_grid's __et
    pattern) so every conjunct binds distinct attributes."""
    import re

    pat = re.compile(r"\((\w+#\d+) = (\w+#\d+)\)")
    reg = load_registry()
    bad = []
    for q, (fn, _) in reg.items():
        plan = fn(spark, SF)._jdf.queryExecution().analyzed().toString()
        if any(a == b for a, b in pat.findall(plan)):
            bad.append(q)
    assert not bad, f"self-equal join conjunct in: {bad}"


def test_no_cartesian_product_full_registry(spark):
    """Full-registry guardrail: no query may plan a CartesianProduct
    node — every cross join in the repo is a broadcast of a 1-row or
    codebook-sized frame (BroadcastNestedLoopJoin).  Currently zero
    queries; any addition fails by name."""
    reg = load_registry()
    bad = [
        q
        for q, (fn, _) in reg.items()
        if "CartesianProduct"
        in fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    ]
    assert not bad, f"CartesianProduct planned by: {bad}"
