#!/usr/bin/env python
"""Headline benchmark for the driver (one JSON line to stdout).

Runs the engine's headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is materialized through the noop sink — full distributed
computation, zero driver-collect cost — so the number measures the plan,
not pandas serialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_merge",        # hub/spoke left joins + filters + projection
    "participant_count",     # exact COUNT(DISTINCT) over the joined base
    "filter_impact",         # cumulative filter report (cached base, 4 aggs)
    "enwiden_events",        # long->wide pivot
    "baseline_consolidation",  # pivot + coalesce consolidation
    "column_summary",        # per-column stats (fixed-point mean, exact median)
    "pricing_summary",       # TPC-H Q1-shaped grouped multi-aggregate
    "pearson_corr",          # deterministic correlation SQL tier
    "quality_audit_orders",  # data-quality audit aggregates
    "dedup_exact",           # md5 content-hash dedup groups
    "minhash_dedup",         # MinHash+LSH candidates + exact-jaccard verify
    "simhash_near_dups",     # simhash banded near-dup join
    "token_counts",          # text tokenization counters
    "quality_scores",        # Gopher-style quality features
    "lang_id",               # stopword-profile language ID
    "embedding_topk",        # brute-force cosine top-k
    "corpus_curation",       # dedup->quality->lang->PII->split composite
    "dedup_clusters",        # jaccard pairs -> large-star/small-star CC labels
    "repetition_scores",     # Gopher repetition signals, single JVM pass
    "token_rarity",          # corpus df stats joined back per token instance
    "tfidf_top_terms",       # map-reduce tf-idf: tf -> df -> join -> rank

    "chunk_documents",       # context-window chunking, explode only
    "decontam_overlap",      # cross-corpus n-gram leak check
    "asof_latest_order",     # as-of join (union + single window shuffle)
    "event_funnel_5m",       # time-bucketed interval join
    "pricing_rollup",        # ROLLUP grouping sets, one pass
    "shipping_priority",     # TPC-H Q3-shaped 3-way join + grouped top-k
    "regional_volume",       # TPC-H Q5-shaped 6-way snowflake join
    "boilerplate_strip",     # corpus df-threshold strip + doc re-assembly
    "semantic_dedup",        # k-means cells + within-cell cosine dedup
    "lm_surprisal",          # corpus unigram-LM mean surprisal per doc
    "late_shipment_priority",  # EXISTS -> semi join w/ non-equi residual
    "big_order_customers",   # HAVING-IN subquery -> keys + semi join
    "latest_event_state",    # changelog->snapshot, WindowGroupLimit top-1
    "daily_value_gapfill",   # calendar densify + forward-fill window

    # new in round 3 (absent from BENCH_r01/r02 — compare per-query, not
    # by total, across rounds)
    "line_dedup",            # corpus line-level boilerplate sweep (C4-style)
    "dsir_weights",          # hashed n-gram importance weights, one explosion
    "market_share",          # TPC-H Q8 7-relation all-broadcast snowflake
    "filter_impact_individual",  # per-filter standalone counts, one agg pass

    # added to the bench in round 4 (ops landed in round 3 but untracked —
    # absent from BENCH_r03 and earlier)
    "bpe_encode_docs",       # merge-fold BPE encode over distinct words
    "quality_classifier",    # HashingTF + logistic regression scores
    "compression_ratio",     # zlib entropy proxy (Arrow mapInPandas tier)
    "temperature_mix",       # XLM-R alpha source rebalancing draw
    "dsir_top_docs",         # DSIR top-k resample over importance weights
    "grouped_normality_k2",  # grouped D'Agostino K^2, deterministic SQL tier

    # new operators in round 4 (absent from BENCH_r03 and earlier)
    "exactsubstr_dedup",     # ExactSubstr span dedup, md5 window keys
    "url_dedup",             # URL canonicalization + canonical-key groups
    "dsir_gumbel_sample",    # Gumbel-top-k DSIR resample
    "pareto_quality_sample",  # GPT-3 Pareto keep/drop over quality scores
    "stupid_backoff_lm",     # bigram Stupid Backoff LM scoring (CCNet filter)
    "perplexity_buckets",    # CCNet head/middle/tail NTILE cut per language
    "bm25_search",           # BM25 top-k retrieval over documents
    "pq_topk",               # IVF-PQ ADC top-k (16-byte codes, dist tables)
    "cheapest_supplier_per_part",  # Q2 shape: grouped-min + join-back
    "product_type_profit",   # Q9 shape: 5-way broadcast snowflake profit
    "priority_shipping_bands",  # Q12 shape: one-pass conditional bands
    "bulk_suppliers_for_parts",  # Q20 shape: nested semi-join chain
    "incremental_dedup",     # batch-vs-corpus hash-index dedup
    "incremental_minhash",   # batch-vs-corpus fuzzy dedup via band index
    "token_budget_mix",      # mixture weights -> per-source keep rates
    "bloom_decontam",        # bloom bitmap decontamination, zero-shuffle probe
    "ivfpq_topk",            # IVF cells + PQ codes + exact re-rank
    "part_heavy_hitters",    # skew diagnostic: exact top-k hot keys
    "trigram_lm",            # trigram Stupid Backoff, two backoff levels
    "column_summary_approx",  # A5 interactive tier: approx_percentile sketch
    "corpus_curation_v2",    # line-dedup -> surprisal -> CCNet cut -> split
    "minhash_dedup_det",     # oracle-checkable md5 MinHash+LSH tier
    "simhash_det",           # oracle-checkable 60-bit md5 simhash tier
    "ivf_topk_det",          # oracle-checkable fixed-point IVF search
    "semantic_dedup_det",    # oracle-checkable fixed-point SemDeDup
    "sole_blame_suppliers",  # Q21 shape: double correlation -> one agg
    "ks_acctbal_segments",   # exact two-sample KS (integer cross-products)
    "important_stock",       # Q11 shape: global-fraction HAVING threshold
    "mannwhitney_acctbal",   # exact tie-corrected rank-sum U + z
    "chi2_priority_status",  # contingency chi2 + Cramer's V, one reduction
    "hybrid_rrf_search",     # BM25 + cosine arms fused by reciprocal rank
    "sq8_topk",              # int8 scalar-quantized asymmetric L2 top-k
    "benford_extendedprice",  # Benford first-digit audit, exact digits
    "curriculum_order",      # staged curriculum serve order, md5 shuffle
    "corpus_composition",    # per-(source,lang) data-card table
    "rolling_zscore_purchases",  # trailing-window anomaly z, integer sums
    "mutual_info_priority_status",  # MI/H/NMI from one cell aggregation
    "label_cohesion",        # per-label centroid + mean-cosine report
    "winnow_fingerprints",   # MOSS winnowing, array-side window minima
    "winnow_overlap_pairs",  # MOSS match step, fp-bucket pair join
    "winsorized_acctbal",    # per-group percentile-clamped moments
    "distinctive_terms_en",  # Dunning G2 keyness, broadcast totals
    "source_overlap",        # cross-source shingle-leak matrix
    "grouped_ols_events",    # per-group closed-form OLS, one aggregation
    "js_divergence_en",      # unigram-distribution drift scalar
    "hll_distinct_orders",   # mergeable DataSketches HLL distinct tier
    "approx_top_flags",      # approx_top_k heavy-hitter sketch
]

# Everything above this index existed in BENCH_r04 — the r4-comparable
# subtotal sums exactly these queries.  Round-5 additions go BELOW the
# marker so every historical subtotal stays computable.
_R4_COMPARABLE_N = len(HEADLINE)

HEADLINE += [
    # new in round 5 (absent from BENCH_r04 and earlier)
    "bloom_decontam_det",    # oracle-checkable bloom bitmap decontamination
    "ann_recall_report",     # in-engine recall@k of IVF/SQ8 vs brute force
    "dedup_keep_best",       # CC clusters keep highest-quality member
    "corpus_diff",           # snapshot diff on (id, md5) relations
    "domain_quality_report",  # per-host pages/dup-ratio/quality/keep table
    "incremental_minhash_det",  # oracle-checkable md5 incremental fuzzy dedup
    "pq_topk_det",           # oracle-checkable fixed-point PQ ADC search
    "ivfpq_topk_det",        # oracle-checkable full IVF-PQ + exact re-rank
    "prefix_jaccard_pairs",  # PPJoin prefix-filter exact similarity join
    "cms_token_freq",        # count-min sketch point-frequency estimates

    # new in round 6 (absent from BENCH_r05 and earlier)
    "quantile_rollup_totalprice",  # mergeable histogram quantile rollup
    "dedup_recall_report",   # LSH/PPJoin recall+precision vs exhaustive
    "leakage_safe_split",    # cluster-keyed train/val/test assignment
    "memorization_risk",     # top-k duplicated windows, broadcast rebuild
    "decontam_spans",        # surgical held-out span removal
    "decontam_fraction",     # stateless streaming-gate batch path
    "hard_negatives",        # contrastive hard-negative mining
    "gopher_rules",          # Gopher quality-rule flags (map-only pass)
    "dedup_impact_sweep",    # threshold-sweep dedup planning report
    "embedding_outliers",    # per-label farthest-from-centroid audit
    "interleave_order",      # proportional stride-scheduled serve order
    "packing_efficiency",    # context-length padding planning sweep
    "pmi_collocations",      # PMI collocations over adjacent pairs
    "corpus_curation_v3",    # gate -> dedup -> interleave composite
    "decontam_window_sweep",  # gate-width contamination planning report
    "c4_rules",              # C4 cleanup flags (planted punctuation fixture)
    "shard_manifest",        # per-shard integrity counts + checksum
    "attribute_spans",       # training-data span attribution top-k
    "interleave_gate",       # serve-stream prefix mixture acceptance gate

    # new in round 7 (absent from BENCH_r06 and earlier)
    "interleave_order_sharded",      # per-shard serve order, no global sort
    "interleave_gate_sharded",       # per-shard prefix mixture gate
    "curriculum_order_sharded",      # per-shard curriculum stages + order
    "pack_sequences_sharded",        # per-shard contiguous-fill packing
    "incremental_clusters",          # batch merge into standing labels, no re-pair

    # new in round 8 (absent from BENCH_r07 and earlier)
    "incremental_clusters_banded",   # merge fed by the banded candidate tier
    "spearman_corr",                 # engine path: distributed midranks
    "spearman_matrix",               # 3-column spearman, one stacked rank pass
    "length_bucketed_batches",       # sorted batching, distributed total order

    # new in round 9 (absent from BENCH_r08 and earlier)
    "dist_shift_report",             # KS + Mann-Whitney from ONE prefix machine
    "kendall_tau_grouped",           # exact tau-b, O(m*n) grid/prefix tier

    # new in round 10 (absent from BENCH_r09 and earlier)
    "fuzzy_decontam_det",            # near-dup decontam, eval side broadcast
    "media_headers",                 # real container-header parse, pure JVM

    # new in round 11 (absent from BENCH_r10 and earlier)
    "audio_headers",                 # WAV construct->bytes->parse round trip
    "fuzzy_decontam_sweep",          # fuzzy-gate threshold planning report
    "lsh_config_sweep",              # banding-knob planning report
    "dim_truncation_recall",         # embedding-dimension recall sweep
    "line_collapse",                 # intra-doc repeated-line collapse
    "decontam_by_benchmark",         # per-benchmark contamination table

    # new in round 12 (absent from BENCH_r11 and earlier)
    "canonical_dedup",               # Unicode-canonical dedup keys
    "unigram_roundtrip",             # unigram-LM tokenizer train+encode gate
    "centroid_drift_recall",         # IVF quantizer-drift audit
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bdf-spark-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # per-call call-site capture for error enrichment costs ~4 py4j
        # round trips per F.* call on the driver — plan-build time that
        # serializes every query; plans/results identical without it
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from basic_data_fusion_spark.caching import release_cached

    qs = entry.queries()
    # One unmeasured warm-up execution per query (SPARK_GRAFT_WARMUP=0 to
    # disable): the first run of a heavy expression pipeline pays one-time
    # JVM JIT of its whole-stage-codegen'd methods (~4 s for the corpus
    # pipeline) that amortizes to zero at scale — steady-state is the
    # number comparable across engines and rounds.
    warmup = int(os.environ.get("SPARK_GRAFT_WARMUP", "1"))
    # The ~40-query round-over-round comparable core stays at best-of-3;
    # the extension set drops to best-of-2 (round-5 change: the full
    # 90-query × best-of-3 sweep ran ~15 min on the driver box and the
    # sustained load inflated untouched sub-second queries ~1.3× vs a
    # quiet box — shortening the sweep is the contention fix, and the
    # core set keeps the tighter estimator where comparisons matter).
    core_runs = max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3")))
    ext_runs = max(1, int(os.environ.get("SPARK_GRAFT_EXT_RUNS", "2")))
    core_set = set(HEADLINE[:39])
    timings: dict[str, float] = {}

    # Noise calibration (round-6 addition): this box drifts ±8-10%
    # UNIFORMLY between runs hours apart (SCALE.md "Round-5 bench
    # audit"), so raw cross-round subtotals conflate engine changes with
    # box state.  Measure a fixed, untouched control query FIRST
    # (flagship_merge — stable since round 1, never a tuning target) and
    # emit its best-of-3 as ``calibration``; a reader normalizes
    # per-query ratios by the calibration ratio before calling anything
    # a regression.  Runs before the sweep so later queries' JVM/cache
    # state can't leak into the control number.
    calibration = None
    cal_fn = entry.queries().get("flagship_merge")
    if cal_fn is not None:
        for _ in range(warmup):
            cal_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            cal_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        calibration = round(best, 4)

    # Shuffle-class calibration (round-9 addition): the broadcast-join
    # probe above tracks the scan/broadcast classes but NOT the
    # shuffle-heavy pair tier (banded dedup joins, CC, recall reports),
    # which drifts cross-session on its own axis (SCALE.md r8 recorded
    # the class ~1.2-1.3x above its r7 numbers at a FASTER broadcast
    # calibration, reverting hours later).  This probe is a fixed,
    # data-independent, seeded hash-relation self-join shaped like that
    # class — md5 bucket keys, sort-merge pair join pinned by hint,
    # distinct pair output — so pair-tier queries are read against THIS
    # anchor, not re-litigated per round.  Reported as
    # ``calibration_shuffle`` beside the broadcast anchor.
    from pyspark.sql import functions as F
    rel = (spark.range(400_000)
           .select(F.col("id"),
                   F.substring(F.md5(F.col("id").cast("string")), 1, 4)
                   .alias("bucket")))
    probe = (rel.alias("a")
             .join(rel.alias("b").hint("merge"), "bucket")
             .filter(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
             .distinct()
             .groupBy().agg(F.count(F.lit(1)).alias("n_pairs")))
    for _ in range(warmup):
        probe.write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        probe.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    calibration_shuffle = round(best, 4)
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        for _ in range(warmup):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        # clearCache before each measured run: drop DataFrame caches
        # persisted inside operators (LSH banding, shingle sets, …) so
        # every run starts cache-cold and earlier queries' leftovers
        # don't distort later timings.
        # time construction + execution together: iterative operators
        # (e.g. connected components) run driver-side actions while the
        # DataFrame is being BUILT, so timing only the final write would
        # underreport them. Best-of-R: single-shot timings on a shared
        # box occasionally absorb a GC pause or a competing process; the
        # minimum is the standard estimator of a query's intrinsic cost.
        runs = core_runs if name in core_set else ext_runs
        best = float("inf")
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        # documented operator-persist lifecycle: empty the registry
        # between queries so a 100-query sweep doesn't accumulate
        # driver-side handles (JVM entries were already clearCache'd)
        release_cached()

    total = round(sum(timings.values()), 4)
    r2_set = set(HEADLINE[:35])  # the queries BENCH_r01/r02 also measured
    r3_set = set(HEADLINE[:39])  # the queries BENCH_r03 also measured
    r4_set = set(HEADLINE[:_R4_COMPARABLE_N])  # queries BENCH_r04 measured
    summary = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        # fixed-control best-of-3 measured before the sweep; divide two
        # rounds' calibrations to get the box-drift factor between them
        "calibration": calibration,
        # fixed shuffle-class control (seeded md5 self-join): normalize
        # the pair-tier/dedup class by THIS anchor's cross-round ratio
        "calibration_shuffle": calibration_shuffle,
        # round-over-round comparability: the pre-round-3 / pre-round-4
        # / pre-round-5 headline subsets
        "subtotal_r02_comparable": round(
            sum(v for k, v in timings.items() if k in r2_set), 4),
        "subtotal_r03_comparable": round(
            sum(v for k, v in timings.items() if k in r3_set), 4),
        "subtotal_r04_comparable": round(
            sum(v for k, v in timings.items() if k in r4_set), 4),
    }
    # Emission order matters for the driver's tail capture (the r4
    # artifact lost its front half to truncation: one giant line put
    # "metric"/"value" 6 KB before the tail).  Print the full per-query
    # dict FIRST, then the compact summary as the LAST line of stdout —
    # whatever tail window the driver keeps, the final line always
    # parses and carries the headline numbers.  The full dict is also
    # written to bench_full.json beside this script for post-hoc
    # per-query comparison.
    full = dict(summary)
    full["queries"] = timings
    here = os.path.dirname(os.path.abspath(__file__))
    # Round-stamped copy (r9 verdict): bench_full.json is overwritten by
    # every run and the driver's BENCH tail truncates to ~57 of the
    # per-query timings, so cross-round per-query diffs depended on
    # whichever snapshot happened to be on disk.  Stamp each run with
    # the CURRENT round — inferred as max(BENCH_r*.json)+1, since the
    # driver writes BENCH_r{N}.json only after this script runs —
    # overridable with SPARK_GRAFT_ROUND.  Last same-round run wins:
    # the driver's close-out run is the final bench of a round, so the
    # stamped file it leaves IS the run of record the tail truncates.
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        seen = [int(m.group(1)) for f in os.listdir(here)
                if (m := re.match(r"BENCH_r(\d+)\.json$", f))]
        rnd = str(max(seen) + 1 if seen else 1)
    try:
        with open(os.path.join(here, "bench_full.json"), "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
        # the stamped file is the round's per-query record at the
        # DRIVER's scale — an ad-hoc smoke run at a toy sf must not
        # pre-write (or, worse, be committed as) the round of record,
        # so stamp only at the driver sf unless the round is explicit
        # tolerance compare, not float ==, against the regex-parsed sf
        # (r11 advisory); and an explicit-round run at a NON-driver sf
        # still stamps (intended: the operator asked for it) but warns
        # loudly so a toy-sf run isn't silently committed as the round
        # of record.
        at_driver_sf = abs(float(summary.get("sf", -1.0)) - 0.1) < 1e-9
        if os.environ.get("SPARK_GRAFT_ROUND") is not None \
                or at_driver_sf:
            if not at_driver_sf:
                print(f"WARNING: stamping bench_full_r{int(rnd):02d}.json "
                      f"at sf={summary.get('sf')} (driver sf is 0.1) — "
                      "this overwrites the round of record",
                      file=sys.stderr)
            stamped = os.path.join(here, f"bench_full_r{int(rnd):02d}.json")
            with open(stamped, "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
    except (OSError, ValueError):
        pass
    print(json.dumps(full))
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
