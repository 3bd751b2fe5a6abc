"""Plan-level deployment guards: the physical-plan properties SCALE.md
claims (pushdown, pruning, broadcast, JVM-only pipelines) asserted on
`.executedPlan`, so a regression that silently de-optimizes a plan fails
CI instead of surfacing as a 100 TB incident."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF0001
from tests.test_plan_golden import _final_plan_lines


@pytest.fixture(autouse=True)
def _cold_cache(spark):
    # other tests persist relations over the same tables (EP3 caches the
    # joined base); a cached plan compiles to InMemoryTableScan and hides
    # the scan-level properties being asserted here
    spark.catalog.clearCache()
    yield


def _final_plan(df) -> str:
    df.collect()  # finalize AQE so the adaptive plan is the real one
    return df._jdf.queryExecution().executedPlan().toString()


def _final_only(plan: str) -> str:
    """``plan`` without its AQE ``Initial Plan`` sections: the outer one
    and each one nested under a materialized cached relation, whose
    final plan stays (the golden pins' normalization)."""
    return "\n".join(_final_plan_lines(plan))


def test_flagship_pushdown_pruning_broadcast(spark):
    df = entrymod.queries()["flagship_merge"](spark, SF0001)
    plan = _final_plan(df)
    pushed = [m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)
              if m.group(1).strip()]
    assert pushed, "spec predicates must reach the parquet scan"
    assert any("c_acctbal" in p for p in pushed)
    assert "BroadcastHashJoin" in plan, "dimension sides should broadcast at sf"
    # column pruning: no scan should read the full customer schema
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "c_comment" not in m.group(1), "unprojected column read from disk"


def test_flagship_cohort_pinned_keeps_pushdown(spark):
    """The merged cohort is pinned: after one action a second action
    reads ``InMemoryTableScan``, and the spec predicates still reach the
    parquet scan inside the cached relation's plan. The preview of a
    cohort that is not cached reads no cached relation (its LIMIT stops
    the scan early)."""
    from pyspark.sql import functions as F

    builder = entrymod._builder(spark, SF0001)
    preview = _final_only(_final_plan(builder.preview(5)))
    assert "InMemoryRelation" not in preview
    df = entrymod.queries()["flagship_merge"](spark, SF0001)
    df.count()
    plan = _final_only(_final_plan(df.agg(F.max("o_totalprice"))))
    assert "InMemoryTableScan" in plan
    cached = plan[plan.index("InMemoryRelation"):]
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", cached)
    assert any("c_acctbal" in p for p in pushed), \
        "spec predicates must reach the scan inside the cached plan"
    assert any("o_orderstatus" in p for p in pushed)


def test_participant_count_semi_join_single_distinct_exchange(spark):
    df = entrymod.queries()["participant_count"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert "LeftSemi" in plan, "spoke filters must become semi-joins (no fan-out)"
    # a semi join emits each hub row at most once, so nothing below it
    # aggregates (no spoke-key dedup on the build side), and the only
    # hash exchange is the distinct count's own
    lines = plan.splitlines()
    semi = next(i for i, line in enumerate(lines) if "LeftSemi" in line)
    assert not any("HashAggregate" in line for line in lines[semi + 1:]), \
        "the semi join's build side must not be deduplicated"
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_text_pipeline_stays_jvm_side(spark):
    for name in ["quality_scores", "repetition_scores", "lang_id"]:
        df = entrymod.queries()[name](spark, SF0001)
        plan = _final_plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
            f"{name}: Python UDF crept into a hot path"
        # toString marks whole-stage-codegen spans with a '*(n)' prefix
        assert re.search(r"\*\(\d+\)", plan), f"{name}: no codegen span"


def test_pricing_summary_single_shuffle(spark):
    df = entrymod.queries()["pricing_summary"](spark, SF0001)
    plan = _final_plan(df)
    n_exchanges = len(re.findall(r"\bExchange\b", plan))
    assert n_exchanges <= 2, (  # 1 agg shuffle (+1 AQE read is same exchange)
        f"grouped aggregate should shuffle once, saw {n_exchanges} exchanges")
    assert "partial" in plan.lower(), "map-side partial aggregation missing"


def test_shipping_priority_broadcast_and_pushdown(spark):
    df = entrymod.queries()["shipping_priority"](spark, SF0001)
    plan = _final_plan(df)
    # the filtered customer side must broadcast; the only sort-merge-worthy
    # relation pair is orders ⋈ lineitem on orderkey
    assert "BroadcastHashJoin" in plan
    pushed = [m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)
              if m.group(1).strip()]
    assert any("c_mktsegment" in p for p in pushed), "segment filter must reach scan"
    assert any("o_orderdate" in p for p in pushed), "date filter must reach scan"
    assert any("l_shipdate" in p for p in pushed), "shipdate filter must reach scan"


def test_regional_volume_all_dims_broadcast(spark):
    df = entrymod.queries()["regional_volume"](spark, SF0001)
    plan = _final_plan(df)
    # region/nation/supplier/customer are all broadcast-side: the 6-way
    # join must compile to ≥4 broadcast joins and at most ONE shuffle
    # exchange feeding a join (orders ⋈ lineitem)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    pushed = [m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)
              if m.group(1).strip()]
    assert any("r_name" in p for p in pushed), "region filter must reach scan"


def test_market_share_all_dims_broadcast(spark):
    """Q8-shaped 7-relation snowflake: at dimension-scale inputs every
    join must be broadcast-hash (the fact table never shuffles for a
    join) and only the year-aggregate exchanges."""
    df = entrymod.queries()["market_share"](spark, SF0001)
    plan = _final_plan(df)
    assert "SortMergeJoin" not in plan, "a dimension fell back to sort-merge"
    assert "BroadcastHashJoin" in plan
    pushed = [m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)]
    assert any("p_type" in p for p in pushed), "part-type filter must reach the scan"
    assert any("r_name" in p for p in pushed), "region filter must reach the scan"


def test_forecast_revenue_scan_only(spark):
    """Q6 shape: no joins — the plan is a pushed-down scan plus one
    aggregate; every predicate reaches the parquet reader."""
    df = entrymod.queries()["forecast_revenue"](spark, SF0001)
    plan = _final_plan(df)
    assert "Join" not in plan
    pushed = " ".join(m.group(1) for m in
                      re.finditer(r"PushedFilters: \[([^\]]+)\]", plan))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} predicate not pushed to scan"


def test_line_dedup_banned_broadcast_anti(spark):
    """Corpus line dedup: the banned-line relation must anti-join via
    broadcast (it is tiny relative to the line table) and no Python
    stage may appear."""
    df = entrymod.queries()["line_dedup"](spark, SF0001)
    plan = _final_plan(df)
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_strip_broadcast_anti_join(spark):
    df = entrymod.queries()["boilerplate_strip"](spark, SF0001)
    plan = _final_plan(df)
    # the banned-token set must broadcast into the anti join — a shuffled
    # anti join on the token key would re-shuffle the whole corpus
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:2000]


def test_bm25_broadcasts_stats_and_dfreq(spark):
    """BM25's corpus stats (1 row) and per-term df table (≤|query| rows)
    must broadcast; only the tf explode shuffles. The final top-k must be
    the sort-limit partial top-k, not a global sort materialization."""
    df = entrymod.queries()["bm25_search"](spark, SF0001)
    plan = _final_plan(df)
    assert plan.count("BroadcastExchange") >= 2, "dfreq + stats should broadcast"
    assert "TakeOrderedAndProject" in plan, "top-k should be partial, not a full sort"


def test_stupid_backoff_no_python_and_joins(spark):
    """The LM scoring pipeline is pure JVM expressions (no
    Python/Arrow evaluators in the hot path); count tables join via
    shuffle or broadcast as AQE decides — never a nested-loop."""
    df = entrymod.queries()["stupid_backoff_lm"](spark, SF0001)
    plan = _final_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the 1-row total rides a broadcast nested-loop join by construction
    assert "BroadcastNestedLoopJoin" in plan


def test_pq_encode_no_shuffle_after_repartition(spark):
    """PQ encoding is a per-row projection: exactly the one repartition
    round-robin exchange (single-file source spread), zero aggregate or
    join exchanges, and no Python evaluators — the codebook literal is
    constant-folded into the plan."""
    from basic_data_fusion_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, ksub=16, sample=128, max_iter=2)
    df = pq_encode(emb, books)
    plan = _final_plan(df)
    # AdaptiveSparkPlan.toString prints final + initial sections, so the
    # single round-robin exchange appears once per section; what matters
    # is that NO hash/single-partition exchange (agg or join shuffle)
    # exists anywhere
    assert "RoundRobinPartitioning" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_product_type_profit_all_dims_broadcast(spark):
    """Q9 shape: the lineitem scan is the only non-broadcast side — part,
    supplier, nation all ride BroadcastHashJoins; the LIKE filter must
    prune the part dimension before broadcast (no Filter above the
    join)."""
    df = entrymod.queries()["product_type_profit"](spark, SF0001)
    plan = _final_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_bulk_suppliers_semi_chain(spark):
    """Q20 shape: both IN levels must run as semi joins (no fan-out +
    DISTINCT of supplier rows); the part filter side broadcasts."""
    df = entrymod.queries()["bulk_suppliers_for_parts"](spark, SF0001)
    plan = _final_plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_important_stock_single_fact_scan(spark):
    """Q11 shape: ONE lineitem scan feeds both the per-part values and
    the grand-total threshold (the total re-aggregates the per-part
    rows); the nation-filtered supplier set probes as a broadcast semi
    join, and the threshold applies as a broadcast 1-row relation — no
    driver collect, no second fact pass."""
    df = entrymod.queries()["important_stock"](spark, SF0001)
    plan = _final_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, \
        "both the threshold and the filter must read the persisted " \
        "per-part aggregate (one fact scan), not re-evaluate the subtree"
    assert "LeftSemi" in plan, "supplier filter must probe as a semi join"
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """Deployment guard for the at-scale shuffle reducer: with a
    selective dimension filter on a shuffle join, Catalyst's
    InjectRuntimeFilter pushes a bloom-filter might_contain predicate
    into the FACT side before the exchange — rows that cannot join
    never shuffle. Local data sits under the production thresholds, so
    the test lowers them (and disables broadcast to force the shuffle
    join the rule targets); production clusters hit this path with the
    default 10MB/10GB thresholds."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF0001}/lineitem.parquet")
        sel = (spark.read.parquet(f"{SF0001}/orders.parquet")
               .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority").count())
        plan = _final_plan(j)
        assert "might_contain" in plan, \
            "runtime bloom filter must inject into the fact side"
        fact_scan_side = plan.split("SortMergeJoin")[0] if \
            "SortMergeJoin" in plan else plan
        assert "might_contain" in fact_scan_side or "l_orderkey" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark):
    """Deployment guard for the hot-key mechanism SCALE.md relies on:
    AQE's OptimizeSkewedJoin must split a skewed shuffle partition into
    parallel sub-reads (SortMergeJoin(skew=true) + AQEShuffleRead
    skewed) instead of letting one straggler task carry the hot key.
    Local volumes sit under the production thresholds, so the test
    lowers them (and disables broadcast + coalesce, which would
    otherwise hide the shuffle); production hits this path with the
    default 256MB/5x settings — and for groupBy hot keys beyond AQE's
    reach, operators/joins.py provides the salted two-phase tier."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        hot = ([(1, "x" * 200) for _ in range(100_000)]
               + [(i, "y") for i in range(2, 2000)])
        a = spark.createDataFrame(hot, "k long, pad string")
        b = spark.createDataFrame([(i, i * 2) for i in range(1, 2000)],
                                  "k long, v long")
        j = a.join(b, "k").select(F.sum(F.length("pad")))
        plan = _final_plan(j)
        assert "skew=true" in plan, \
            "AQE must mark and split the skewed join partition"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quantile_rollup_bounded_and_pushed(spark):
    """The mergeable quantile tier's load-bearing properties: the null
    filter is pushed to the parquet scan, the scan reads only the two
    needed columns, and no Python/Arrow operator appears — the whole
    tier is JVM expressions over integer counts."""
    df = entrymod.queries()["quantile_rollup_totalprice"](spark, SF0001)
    plan = _final_plan(df)
    pushed = [m.group(1) for m in
              re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)
              if m.group(1).strip()]
    assert any("o_totalprice" in p for p in pushed), \
        "IsNotNull must reach the scan"
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "o_comment" not in m.group(1)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dedup_recall_gate_broadcasts_truth(spark):
    """The recall gate's contract: the pair-count-sized truth set and
    per-arm counts ride broadcast joins — the gate adds no extra
    full-corpus shuffle beyond its arms' own plans."""
    df = entrymod.queries()["dedup_recall_report"](spark, SF0001)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row n_truth attach


def test_memorization_risk_broadcast_rebuild(spark):
    """The memorization report's scale contract: counting groups md5
    keys and only the k winners go back to the corpus for span rebuild
    — that probe must be a broadcast join (k rows build side), and the
    whole pipeline stays JVM-side."""
    df = entrymod.queries()["memorization_risk"](spark, SF0001)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan, "winners probe must broadcast"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_decontam_spans_broadcasts_heldout_keys(spark):
    """Surgical decontamination probes train windows against the
    held-out key set; benchmarks are tiny relative to a training
    corpus, so that semi-probe must be a broadcast semi-join — never a
    shuffled join keyed on window hashes of the full train side."""
    df = entrymod.queries()["decontam_spans"](spark, SF0001)
    plan = _final_plan(df)
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), \
        "held-out window keys must broadcast into a semi-join"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hll_band_gate_single_aggregation(spark):
    """The HLL band gate runs as ONE aggregation pass (Expand-planned
    multi-distinct) over a single orders scan — no per-column jobs.
    (AdaptiveSparkPlan.toString appends the pre-AQE '== Initial Plan =='
    section — count operators in the final section only.)"""
    df = entrymod.queries()["hll_distinct_orders"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert plan.count("FileScan") == 1
    assert "Expand" in plan  # multi-column distinct planned in one pass


def test_gopher_rules_map_only_no_shuffle(spark):
    """The Gopher rule pass is the cheap FIRST stage of a curation
    cascade: it must compile to a map-only projection that pipelines
    with the scan — no exchange, no UDF, and only the referenced
    columns read from disk."""
    df = entrymod.queries()["gopher_rules"](spark, SF0001)
    plan = _final_plan(df)
    assert "Exchange" not in plan, "rule flags must not shuffle"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "n_chars" not in m.group(1), "unprojected column read"


def test_dedup_impact_sweep_single_pair_scan(spark):
    """The sweep prices every threshold from ONE pair relation: the
    explode multiplies pairs by a literal threshold array (no join
    against a threshold table on the pair side), totals arrive via
    broadcast, and nothing drops to Python."""
    df = entrymod.queries()["dedup_impact_sweep"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert "Generate explode" in plan, "thresholds must explode from a literal array"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_embedding_outliers_broadcast_and_slim_window(spark):
    """The outlier audit joins members to DIMENSION-SIZED centroids —
    that must broadcast — and the per-label rank window must sort only
    (label, cosine, id) triples: the embedding array is projected away
    before the window exchange, so vectors never shuffle twice."""
    df = entrymod.queries()["embedding_outliers"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert "BroadcastHashJoin" in plan, "centroid join must broadcast"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    m = re.search(r"Window \[[^\]]*\]", plan)
    assert m and "embedding" not in m.group(0), \
        "vector column must drop before the rank window"


def test_curation_v3_semi_join_dedup_no_python(spark):
    """The v3 composite's dedup stage must stay the min-id SEMI-join
    (documents join a keep-set of ids, never shuffle by content), and
    the whole gate->dedup->interleave chain stays JVM-side."""
    df = entrymod.queries()["corpus_curation_v3"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert "LeftSemi" in plan, "dedup keep-set must apply as a semi-join"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_decontam_window_sweep_broadcast_probe(spark):
    """The window-size sweep probes train (w, hash) triples against the
    held-out key set — benchmarks are tiny relative to a training
    corpus, so that probe must be a broadcast join, and nothing drops
    to Python."""
    df = entrymod.queries()["decontam_window_sweep"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert "BroadcastHashJoin" in plan, "held-out keys must broadcast"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate explode" in plan


def test_shard_manifest_map_only_single_agg(spark):
    """The manifest is one map-only projection feeding one 16-group
    aggregation — a single fact scan, no join, no Python."""
    df = entrymod.queries()["shard_manifest"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_attribute_spans_df_cap_before_probe(spark):
    """Attribution must drop boilerplate windows BEFORE the probe join
    (a semi-join against the df-capped window set) and the per-query
    totals must broadcast — never a shuffled join keyed on totals."""
    df = entrymod.queries()["attribute_spans"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert re.search(r"Join.*LeftSemi", plan) or "LeftSemi" in plan, \
        "df cap must apply as a semi-join on window hashes"
    assert "BroadcastHashJoin" in plan, "query totals must broadcast"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_interleave_gate_broadcast_totals(spark):
    """The mixture gate's totals and prefix relations are
    source-cardinality-sized: they must ride as broadcasts (the
    single-row totals as BroadcastNestedLoopJoin is the scalar idiom),
    with no Python anywhere."""
    df = entrymod.queries()["interleave_gate"](spark, SF0001)
    plan = _final_only(_final_plan(df))
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_distributed_serve_no_data_sized_global_window(spark):
    """Contracts built on the distributed total-order machine
    (``ordering.total_order_pos`` and ``global_ntile``) must never move
    a data-sized relation through one task: any partition-less Window
    in their executed plans is allowed ONLY over the per-partition
    offsets relation (it mentions the __pid/__cnt/__tot bookkeeping
    columns and sits above a ≤ n_partitions-row aggregate).  Also: no
    Python/Arrow operators, and the offsets side must broadcast."""
    for name in ("length_bucketed_batches", "acctbal_deciles"):
        df = entrymod.queries()[name](spark, SF0001)
        df.collect()  # materialize the checkpointed range shuffle
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = _final_only(plan)
        windows = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert windows, f"{name}: expected window nodes"
        for ln in windows:
            global_w = not re.search(r"\], \[[^\]]+\], \[", ln)
            if global_w:
                assert "__pid" in ln, \
                    f"{name}: data-sized global window: {ln.strip()}"
        assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sharded_serve_no_global_window(spark):
    """The r7 sharded serve tier's whole point: NO partition-less
    window anywhere in the executed plans — every Window node must
    carry a partition spec (rendered as three bracket lists:
    functions, partitionSpec, orderSpec; a global window renders only
    two), so no relation moves through a single task. The
    single-stream tiers keep their documented global order; these are
    the 100 TB entry points."""
    for name in ("interleave_order_sharded", "interleave_gate_sharded",
                 "curriculum_order_sharded", "pack_sequences_sharded"):
        df = entrymod.queries()[name](spark, SF0001)
        plan = _final_only(_final_plan(df))
        windows = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert windows, f"{name}: expected window nodes in the plan"
        for ln in windows:
            assert re.search(r"\], \[[^\]]+\], \[", ln), \
                f"{name}: partition-less Window: {ln.strip()}"
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# Queries whose data-sized global window is the CONTRACT, not an
# accident: the single-stream serve tiers (each has a sharded tier with
# no global window).
_GLOBAL_WINDOW_WHITELIST = {
    "interleave_order", "interleave_gate", "curriculum_order",
    "pack_sequences",          # serve-order contracts; tiers ship beside
    # spearman_corr left the whitelist in r8: the contract now runs the
    # engine path (correlation_matrix distributed midranks); the det-SQL
    # rank-window text survives as the ORACLE side only.
}


def _global_windows(df):
    """(n_global, n_unbounded) over the OPTIMIZED logical plan: a
    partition-less Window is 'bounded' if an Aggregate or a Limit sits
    strictly below it (per-group/бounded relations: sketch rollups,
    per-partition offsets, top-k arms)."""
    root = df._jdf.queryExecution().optimizedPlan()

    def bounded_below(node):
        stack = []
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
        while stack:
            n = stack.pop()
            if n.nodeName() in ("Aggregate", "GlobalLimit", "LocalLimit"):
                return True
            i2 = n.children().iterator()
            while i2.hasNext():
                stack.append(i2.next())
        return False

    n_glob = n_unbounded = 0
    stack = [root]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            n_glob += 1
            if not bounded_below(node):
                n_unbounded += 1
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return n_glob, n_unbounded


def test_no_accidental_data_sized_global_window(spark):
    """Package-wide structural net (r7): every contract query's
    optimized plan is walked; a partition-less Window over a relation
    that is neither aggregated nor limited below is a one-task gather
    of data-sized input — allowed only for the whitelisted queries
    whose contract IS a total order (their 100 TB tiers ship beside
    them).  Catches the next accidental global rank/cumsum at commit
    time; the r7 rank-statistics rewrites (KS, Mann-Whitney, AUC,
    NTILE deciles, spearman engine tier) were driven by exactly this
    audit."""
    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF0001)
        _, unbounded = _global_windows(df)
        if unbounded and name not in _GLOBAL_WINDOW_WHITELIST:
            offenders[name] = unbounded
    assert not offenders, (
        f"data-sized global windows outside the whitelist: {offenders} — "
        f"use ordering.total_order_pos / global_running_sum / avg_ranks / "
        f"global_ntile, or whitelist with justification")


def _distinct_physical_nodes(spark, df) -> list:
    """Every node of the pre-execution physical plan once, descending
    through adaptive wrappers and cached relations (``innerChildren``):
    a cached relation read by several scans is one object, counted once."""
    identity = spark._jvm.System.identityHashCode
    seen, out = set(), []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if identity(node) in seen:
            continue
        seen.add(identity(node))
        out.append(node)
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out


def test_minhash_dedup_pairs_spreads_text_once(spark):
    """The signature signs the pinned shingle sets, so the document text
    crosses ONE round-robin exchange (a separate signature pass spread
    and shingled it a second time)."""
    from basic_data_fusion_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    spreads = [n for n in _distinct_physical_nodes(
                   spark, minhash_dedup_pairs(docs, threshold=0.5))
               if n.nodeName() == "Exchange"
               and "RoundRobinPartitioning" in n.outputPartitioning().toString()
               and "documents.parquet" in n.toString()]
    assert len(spreads) == 1


def test_fuzzy_gate_tokenizes_each_side_once(spark):
    """The streaming fuzzy gate projects the shingles, then the signature
    OF that column, and no inferred ``size(bucket array) > 0`` filter
    inlines the pipeline below the projection: one ``split(`` per side
    (held-out and stream)."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.streaming.dedup import \
        streaming_fuzzy_decontaminate

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    gate = streaming_fuzzy_decontaminate(
        docs, docs.filter(F.col("doc_id") % 7 == 0))
    splits = 0
    for node in _distinct_physical_nodes(spark, gate):
        exprs = node.expressions()
        splits += sum(exprs.apply(i).toString().count("split(")
                      for i in range(exprs.size()))
    assert splits == 2


def test_shingle_overlaps_tokenize_each_scan_once(spark):
    """``winnow_fingerprints`` (under ``winnow_overlap_pairs``) and the
    shingle tier of ``source_overlap`` bind each document's tokens once:
    no ``size(tokens) >= k`` filter is pushed below the projection to
    split the text a second time, so every document scan feeds exactly
    one ``split(``."""
    for name in ("winnow_overlap_pairs", "source_overlap"):
        df = entrymod.queries()[name](spark, SF0001)
        nodes = _distinct_physical_nodes(spark, df)
        scans = sum(1 for n in nodes if n.nodeName() == "Scan parquet "
                    and "documents" in n.toString())
        splits = 0
        for node in nodes:
            exprs = node.expressions()
            splits += sum(exprs.apply(i).toString().count("split(")
                          for i in range(exprs.size()))
        assert scans >= 1 and splits == scans, (name, scans, splits)
