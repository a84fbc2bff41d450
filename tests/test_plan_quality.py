"""Physical-plan assertions (the .explain discipline): correctness tests
prove the WHAT, these prove the HOW — broadcast joins where dims are
small, filter/column pushdown into the parquet scan, true top-k instead
of global sorts, partial aggregation before shuffles. A regression here
is a 100 TB regression even when results stay right."""

from __future__ import annotations

import pytest

from fda_clinical_etl_pipeline_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"
QUERIES = all_queries()


import contextlib
import io


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return explain_str(QUERIES[name].fn(spark, SF_DIR))


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # the fact table must never be shuffled for the dim joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_eq_status")
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "proj_rename_canonical")
    # scan must read only the 3 projected source columns
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_llm_chunking_is_narrow(spark):
    """Chunking must stay a narrow plan: per-row explode, no shuffle —
    at 100 TB an Exchange here would reshuffle the whole corpus."""
    plan = plan_of(spark, "llm_chunk_documents")
    assert "Generate posexplode" in plan or "Generate" in plan
    assert "Exchange" not in plan


def test_q1_partial_aggregation(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # two-phase hash agg: partial before the exchange, final after
    assert "HashAggregate" in plan
    # exchange partitioned on the grouping keys, between the two phases
    assert "hashpartitioning(l_returnflag" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_join_inner_enrich_broadcasts_part(spark):
    plan = plan_of(spark, "join_inner_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_plans(spark):
    for name in ("join_semi_with_orders", "join_anti_no_orders"):
        plan = plan_of(spark, name)
        assert "LeftSemi" in plan or "LeftAnti" in plan


def test_scrub_chain_is_single_projection(spark):
    """The whole 7-rule redaction chain must be one narrow Project over
    the scan — no shuffle, no UDF evaluation node."""
    plan = plan_of(spark, "phi_scrub_chain")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hl7_parse_no_python(spark):
    plan = plan_of(spark, "hl7_parse_extract")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_ntile_no_global_window(spark):
    """Exact NTILE must come from distributed two-phase ranking: no
    single-partition window (the 100 TB straggler) anywhere in the plan —
    every window spec is partitioned by the range-partition id, the input
    is range-repartitioned, and no ntile() window function remains."""
    import re

    plan = plan_of(spark, "ntile_price_deciles")
    assert "ntile(" not in plan
    assert "rangepartitioning" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "expected the per-partition row_number window"
    for spec in specs:
        assert "_pid" in spec, f"unpartitioned window spec: {spec}"


def test_ntile_reuses_range_exchange(spark):
    """global_ntile's rank and offset subtrees must read ONE physical
    range exchange: RangePartitioner samples boundaries with an
    RDD-id-derived seed, so two independent materializations could pair
    local ranks with the wrong partition offsets — silently wrong
    buckets. Under AQE the reuse is a runtime decision, so assert on
    the EXECUTED final plan: exactly one materialized rangepartitioning
    exchange, every other consumer a ReusedExchange. If a Catalyst
    change ever breaks canonical matching here, this fails loudly
    (global_ntile itself falls back to persist() only when
    spark.sql.exchange.reuse is disabled)."""
    df = QUERIES["ntile_price_deciles"].fn(spark, SF_DIR)
    df.collect()  # drive AQE to its final plan
    # keep only the executed plan: explain also prints the pre-AQE
    # initial plan, whose un-reused exchanges would inflate the count
    plan = explain_str(df, "simple").split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, (
        "range exchange not reused across ntile subtrees — boundary "
        "sampling may diverge; see global_ntile docstring"
    )
    # ReusedExchange nodes cite the reused exchange's description, so
    # count only materialized nodes (tree-prefixed, not reuse citations)
    materialized = plan.count("+- Exchange rangepartitioning")
    assert materialized == 1, (
        f"{materialized} materialized range exchanges — pid assignments "
        "can disagree between rank and offset subtrees"
    )


def test_pack_chunks_sharded_windows(spark):
    """Chunk packing must never funnel a whole language through one
    window task: every window spec carries the composite (lang, shard)
    key, and the shard fan-out is >1 per language at gate scale."""
    import re

    plan = plan_of(spark, "llm_pack_chunks")
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs
    for spec in specs:
        assert "shard" in spec, f"window not sharded: {spec}"
    df = QUERIES["llm_pack_chunks"].fn(spark, SF_DIR)
    from pyspark.sql import functions as F

    fanout = (
        df.groupBy("lang")
        .agg(F.countDistinct("shard").alias("n_shards"))
        .agg(F.min("n_shards").alias("min_shards"))
        .collect()[0]["min_shards"]
    )
    assert fanout > 1


def test_whole_stage_codegen_on_hot_paths(spark):
    for name in ("q1_pricing_summary", "filter_in_conjunctive"):
        df = QUERIES[name].fn(spark, SF_DIR)
        assert "WholeStageCodegen subtrees" in explain_str(df, "codegen")


def test_dsir_broadcasts_histograms(spark):
    """DSIR weighting must join the per-doc token stream against the
    64-row bucket histograms by BROADCAST only — a sort-merge join here
    would shuffle the full token stream at corpus scale."""
    plan = plan_of(spark, "llm_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_centroid_partial_aggregation(spark):
    """Per-label centroids must partially aggregate (label, dim) pairs
    map-side so shuffle volume is O(labels x dims), independent of
    corpus size."""
    plan = plan_of(spark, "emb_centroid_per_label")
    assert "partial_avg" in plan or "partial_" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_repetition_stats_partial_aggregation(spark):
    """Both aggregation levels of the repetition signals must combine
    map-side before their shuffles (uniform doc_id-prefixed keys)."""
    plan = plan_of(spark, "text_repetition_stats")
    assert "partial_" in plan
    assert "SortMergeJoin" not in plan


def test_q8_broadcasts_bounded_dims(spark):
    """Q8's nation/region joins must broadcast; the fact-side join tree
    must never ship lineitem for a 25-row dim."""
    plan = plan_of(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q13_join_clause_filter_pushdown(spark):
    """Q13's JOIN-clause predicate must reach the orders scan (the
    outer join keeps unmatched customers, but matched rows are
    pre-filtered before the shuffle)."""
    plan = plan_of(spark, "q13_custdist")
    assert "LeftOuter" in plan or "BuildRight" in plan
    assert "o_orderpriority" in plan.split("PushedFilters")[1].split("]")[0]
    # double aggregation, both partial-agg'd
    assert plan.count("HashAggregate") >= 4


def test_q17_decorrelated_join_shares_key(spark):
    """Q17's per-part average must join back on the same key the
    aggregate shuffled on, so AQE can co-locate instead of adding a
    third exchange of the fact table."""
    plan = plan_of(spark, "q17_small_qty_revenue")
    assert "hashpartitioning(l_partkey" in plan
    assert "CartesianProduct" not in plan


def test_q19_or_factoring_pushes_to_both_scans(spark):
    """The manually-factored single-side supersets of the OR predicate
    must appear as pushed filters on BOTH scans — without them the
    disjunction evaluates post-join over unpruned inputs."""
    plan = plan_of(spark, "q19_disjunctive_revenue")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    joined = " | ".join(pushed)
    assert "In(p_brand" in joined
    assert "l_quantity" in joined


def test_q22_anti_join_and_broadcast_scalar(spark):
    plan = plan_of(spark, "q22_idle_balance")
    assert "LeftAnti" in plan
    # the global-average gate arrives as a broadcast, never a collect
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_percent_rank_windows_are_partitioned(spark):
    import re

    plan = plan_of(spark, "window_percent_rank_cume")
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs
    for spec in specs:
        assert "o_orderpriority" in spec, f"unpartitioned window: {spec}"


def test_unigram_logprob_broadcasts_vocab(spark):
    """The token->logprob join must resolve to broadcast at runtime
    (vocab is tiny next to the token stream); a sort-merge join here
    would shuffle every token of the corpus."""
    df = QUERIES["llm_unigram_logprob"].fn(spark, SF_DIR)
    df.collect()
    plan = explain_str(df, "simple").split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_all_predicates_pushed(spark):
    """Q6 is the scan-efficiency canary: every predicate must reach the
    parquet scan and only the referenced columns may be read."""
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({frag})" in plan or frag in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: extendedprice/discount/shipdate/quantity only
    sched = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in sched and "l_orderkey" not in sched


def test_q21_semi_and_anti_joins(spark):
    """The double-correlated EXISTS/NOT EXISTS must realize as one
    left-semi and one left-anti join, never a cartesian or outer+filter."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q16_not_in_is_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in plan
    # distinct supplier count: partial+final aggregate pair
    assert plan.count("HashAggregate") >= 2


def test_q2_min_cost_top100_take_ordered(spark):
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "TakeOrderedAndProject" in plan


def test_q11_threshold_is_broadcast_not_collected(spark):
    """The global 0.2%-of-total cutoff must flow through the plan as a
    broadcast relation (one row), not a driver-side collect."""
    plan = plan_of(spark, "q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_portable_minhash_band_join_partitioned(spark):
    """The portable-LSH bucket self-join must shuffle on the band tuple
    (hash partitioning), never build an all-pairs product."""
    plan = plan_of(spark, "dedup_portable_minhash")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_q9_scans_lineitem_once(spark):
    """The window-min cost derivation must not re-scan lineitem for a
    partsupp aggregate: exactly one lineitem scan in the plan."""
    plan = plan_of(spark, "q9_profit_by_nation")
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_q2_window_min_no_aggregate_joinback(spark):
    """Per-part min cost via window + filter: the eur relation must not
    be aggregated and joined back to itself (one lineitem-derived ps
    aggregation only)."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "Window" in plan
    assert plan.count("lineitem.parquet") == 1


def test_shuffle_order_uses_take_ordered(spark):
    """The epoch-shuffle gate must take its top-100 via
    TakeOrderedAndProject before ranking — never a global sort of the
    whole corpus under an unpartitioned window."""
    plan = plan_of(spark, "llm_shuffle_order")
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_injection(spark):
    """With the dim side carrying a selective predicate and broadcast
    disabled (the too-big-to-broadcast case), Catalyst must inject a
    runtime Bloom filter under the fact scan — semi-join reduction of
    the shuffle — and the result must equal the plain join's."""
    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.operators.skew import (
        runtime_bloom_filters,
    )

    def build():
        # a DataFrame caches its QueryExecution at first use — build a
        # FRESH plan inside each config scope
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        pt = spark.read.parquet(f"{SF_DIR}/part.parquet").filter(
            F.col("p_brand") == "Brand#23"
        )
        return li.join(pt, li.l_partkey == pt.p_partkey).groupBy(
            "p_brand"
        ).agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))

    expected = [tuple(r) for r in build().collect()]  # default plan
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with runtime_bloom_filters(
            spark, creation_side_max="1GB", application_side_min="1KB"
        ):
            joined = build()
            plan = explain_str(joined, "extended")
            assert "might_contain" in plan, plan[-2000:]
            assert "bloom_filter_agg" in plan
            got = [tuple(r) for r in joined.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert sorted(got) == sorted(expected)


def test_join_strategy_hints_are_honored(spark):
    """Catalyst picks broadcast for small dims on its own (asserted
    elsewhere); when a 100 TB plan needs manual control — e.g. a dim
    just over the threshold, or avoiding a sort on pre-bucketed data —
    join hints are the sanctioned lever. Pin that each hint actually
    changes the physical strategy."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ords = spark.read.parquet(f"{SF_DIR}/orders.parquet")

    def strat(hint):
        df = li.join(ords.hint(hint), li.l_orderkey == ords.o_orderkey)
        return explain_str(df)

    assert "SortMergeJoin" in strat("merge")
    assert "ShuffledHashJoin" in strat("shuffle_hash")
    assert "BroadcastHashJoin" in strat("broadcast")


def test_triangle_count_intersects_not_wedges(spark):
    """Triangle counting must run the adjacency-intersection form:
    per-edge array_intersect with broadcast adjacency — never the
    O(sum out_deg^2) wedge-materializing self-join (measured 7x slower
    on the gate graph and explosive on dense ones)."""
    plan = plan_of(spark, "graph_triangle_count")
    assert "array_intersect" in plan
    assert "BroadcastHashJoin" in plan


def test_dv_snapshot_keeps_pushdown_and_broadcasts(spark, tmp_path):
    """Merge-on-read reads must not cost the scan its optimizations:
    a filter over a deletion-vectored Delta snapshot still pushes to
    the parquet scan (through the anti-join's left side), and the
    position anti-join itself broadcasts the small delete set instead
    of shuffling the table."""
    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.sources.delta_log import (
        DeltaProtocolTable,
    )

    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    t = DeltaProtocolTable.create(
        spark, str(tmp_path / "dvp"), df.repartition(4),
        key="id", precombine="grp",
    )
    t.delete_where(F.col("id") == 3)  # MOR -> deletion vector
    sdf = t.snapshot().filter(F.col("grp") == 2)
    static_plan = explain_str(sdf, "simple")
    assert "LeftAnti" in static_plan
    # the grp filter reaches the data file scan through the anti-join
    data_scans = [
        seg for seg in static_plan.split("FileScan")[1:]
        if "grp" in seg.split("ReadSchema")[0]
    ]
    assert any("DataFilters: [isnotnull(grp" in s
               or "(grp" in s.split("DataFilters:")[1][:80]
               for s in data_scans if "DataFilters:" in s)
    # the decoded delete set has no plan-time stats (mapInPandas), so
    # the broadcast decision is AQE's at runtime — pin the FINAL plan
    # (collect() drives THIS df's queryExecution to its final form)
    sdf.collect()
    final = sdf._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final, (
        "runtime plan must broadcast the small delete set"
    )


def test_hudi_index_scan_prunes_to_meta_columns(spark, tmp_path):
    """The Hudi upsert index scan must be column-pruned to the meta
    columns it joins on — reading data columns for key tagging would
    turn the index pass into a full-table scan at 100 TB."""
    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.sources.hudi_table import (
        HudiTable,
    )

    t = HudiTable.create(
        spark, str(tmp_path / "hp"), "hp", "id", "v"
    )
    t.upsert(
        spark.range(0, 100).select(
            F.col("id"), F.lit(1).alias("v"),
            F.concat(F.lit("payload"), F.col("id")).alias("big"),
        ),
        instant="20240101000000000",
    )
    # reproduce the index frame the upsert builds and inspect pruning
    idx = (
        spark.read.schema(t._schema())
        .parquet(*[
            __import__("os").path.join(t.path, s["path"])
            for s in t.file_slices().values()
        ])
        .select("_hoodie_record_key", "_hoodie_partition_path",
                "_hoodie_file_name")
    )
    plan = explain_str(idx)
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "_hoodie_record_key" in scan_schema
    assert "big" not in scan_schema, "index scan reads data columns"


def test_merge_staging_plan_stays_jvm_side(spark, tmp_path):
    """The shared MERGE staging (clause CASE over a full-outer join)
    must compile to pure JVM expressions — a Python UDF here would
    tax every merged row at 100 TB."""
    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.plans.merge_clauses import (
        stage_merge,
    )

    tgt = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, val double"
    )
    src = spark.createDataFrame(
        [(1, -1.0), (2, 9.0), (200, 5.0)], "k long, val double"
    )
    staged = stage_merge(
        tgt, src, "k",
        {"val": "s.val + t.val"}, "s.val > 0", "s.val < 0",
        {"k": "s.k", "val": "s.val"}, None, False,
    )
    plan = explain_str(staged.where(F.col("__act") != "X"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join FullOuter" in plan or "FullOuter" in plan


def test_changelog_plan_build_is_metadata_only(spark, tmp_path):
    """changelog_scan's per-snapshot manifest-diff loop must resolve
    from METADATA (driver-side manifest decode) — zero Spark jobs
    until the returned DataFrame materializes. A job inside the loop
    would make a 1000-snapshot window 1000 cluster round-trips."""
    from pyspark.sql import functions as F

    from fda_clinical_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
    )

    t = IcebergTable.create(
        spark, str(tmp_path / "i"),
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double"
        ),
    )
    t.equality_delete(
        spark.createDataFrame([(5,), (7,)], "k long"), ["k"]
    )
    t.append(spark.createDataFrame([(500, 5.0)], "k long, v double"))
    t.delete_where(F.col("k") % 9 == 0, mode="mor")

    sc = spark.sparkContext
    sc.setJobGroup("changelog-plan-probe", "plan build only")
    try:
        df = t.changelog_scan()
    finally:
        # restore the DEFAULT group — leaving a named group set
        # pollutes later tests that count default-group jobs
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(
        "changelog-plan-probe"
    )
    assert list(jobs) == [], (
        f"plan build ran Spark jobs {jobs} — the manifest-diff loop "
        "must be metadata-only"
    )
    assert df.count() > 0  # the one job tree runs at materialization


def test_pq_adc_plan_has_no_shuffle(spark):
    """PQ/ADC search (r11): scan -> Arrow-batched code assignment ->
    codegen'd literal-table fold -> TakeOrderedAndProject. The ADC
    distance table is plan-time literals, so scoring never shuffles
    and never leaves the JVM after the one Arrow crossing — the shape
    that scans a 10^9-vector code table with map-side top-k only."""
    plan = plan_of(spark, "sim_pq_adc_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # the vectorized encode
    assert "Sort " not in plan  # top-k, never a global sort


def test_ivfpq_plan_bucket_filter_no_shuffle(spark):
    """IVF-PQ gate (r13): the coarse-cell restriction compiles to a
    literal IN filter (query + centroids are plan-time literals, so
    the probed cells are BUILD-TIME constants — no join for the
    bucketing), then the same Arrow encode + codegen'd ADC fold +
    TakeOrderedAndProject as the flat PQ gate. Zero exchanges: the
    shape that prunes a 10^9-vector corpus to nprobe/nlist before any
    candidate is even encoded."""
    plan = plan_of(spark, "sim_ann_ivfpq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # the vectorized encode
    assert "Join" not in plan  # cell restriction is a literal filter
    assert "Sort " not in plan


def test_event_sequence_pattern_single_agg_no_window(spark):
    """The CEP gate is ONE hash/object aggregation on user_id — no
    Window operator (which would re-sort the whole stream) and no
    second exchange after the groupBy: the pattern scan runs as string
    expressions over the per-user aggregate."""
    plan = plan_of(spark, "event_sequence_pattern")
    assert "Window" not in plan
    # formatted mode prints each node in tree AND details (count the
    # tree form only); under AQE — which an earlier test may leave on
    # the shared session — the output repeats the plan as Final +
    # Initial, so count within the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange (") == 1, final.count("Exchange (")
    assert "partial_collect_list" in plan  # map-side partial agg


def test_split_assign_partial_aggregation(spark):
    """Split accounting is a groupBy over THREE keys: partial
    aggregation must fold each map task's slice before the one
    exchange, and no Window/sort may appear."""
    plan = plan_of(spark, "llm_split_assign")
    assert "Window" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange (") == 1, final.count("Exchange (")
    assert "partial_count" in plan  # map-side partial agg


def test_clustered_probe_prunes_files(spark):
    """The clustered-table gate's k-range probe must scan FEWER files
    than the table holds (stats-based skipping through the Hilbert
    layout) — read_range's pruning is the plan-level point of the
    whole rewrite."""
    from fda_clinical_etl_pipeline_spark.operators.lakehouse import (
        delta_clustered_probe,  # noqa: F401 — gate builds the table
    )
    from fda_clinical_etl_pipeline_spark.operators import lakehouse
    from fda_clinical_etl_pipeline_spark.sources.delta_log import (
        DeltaProtocolTable,
    )

    # materialize the gate's scratch table at this SF
    QUERIES["delta_clustered_probe"].fn(spark, SF_DIR)
    root, _ = lakehouse._gate_root(
        SF_DIR, "delta_clustered_probe",
        lambda root: pytest.fail("the gate query built no table"),
    )
    t = DeltaProtocolTable(spark, root)
    for col, lo, hi in (("k", 1, 60), ("nat", 0, 3)):
        cands, skipped = t.skipped_files(col, lo, hi)
        assert skipped, (col, len(cands))


def test_bm25_plan_shape(spark):
    """BM25: true top-k (TakeOrderedAndProject, never a global sort of
    the scored relation), the avgdl/N aggregate broadcast, exactly ONE
    explode pass over corpus tokens (df comes from a window over the
    matched relation, doc length rides through the tf groupBy) and
    exactly TWO parquet scans (postings + the 1-row stats aggregate).
    Spark does not share physical subtrees, so every extra reference
    to the exploded lineage would be a full corpus re-scan at 100 TB."""
    # once another test EXECUTES the cached plan, AQE finalizes and
    # explain prints Final + Initial sections — count in one section
    plan = explain_str(
        QUERIES["text_bm25_topk"].fn(spark, SF_DIR), "simple"
    ).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast-of-1-row stats
    assert plan.count("Generate") == 1
    assert plan.count("Scan parquet") == 2


def test_decontam_semantic_plan_shape(spark):
    """Semantic decontamination: bucket hash join (never a cartesian
    train x test), distributed top-k."""
    plan = explain_str(
        QUERIES["split_decontam_semantic"].fn(spark, SF_DIR), "simple"
    )
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan
