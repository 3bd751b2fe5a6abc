#!/usr/bin/env python
"""Regenerate PLANS.md: executed-plan excerpts for the flagship queries,
the evidence artifact behind SCALE.md's plan-shape claims."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PICK_NOTES = {
    "flagship_merge": "Pinned on first use: the action reads InMemoryTableScan, "
                      "and the cached relation's plan keeps the join: "
                      "PushedFilters reach the scan; dimension sides broadcast; "
                      "LEFT joins rewritten to INNER by null-rejecting predicates.",
    "participant_count": "Spoke predicates become LeftSemi joins (no fan-out) "
                         "on the spoke as filtered, with no key dedup; the "
                         "only hash exchange is the distinct count's.",
    "pricing_summary": "One shuffle: partial HashAggregate -> Exchange -> final "
                       "HashAggregate, all inside codegen spans.",
    "asof_latest_order": "Union + ONE Exchange feeding the Window; top-1 dedupe "
                         "collapses to WindowGroupLimit.",
    "minhash_dedup": "Banded LSH relation persisted (InMemoryTableScan on both "
                     "join sides) and signed from the pinned shingle sets, so "
                     "the text is spread and shingled once; shuffle keys are "
                     "(band,bucket) / id pairs, never text.",
    "corpus_curation": "One content-hash exchange for dedup; every later stage "
                       "is a JVM projection (no BatchEvalPython anywhere).",
    "late_shipment_priority": "EXISTS as LeftSemi: equi term is the shuffle key, "
                              "the 60-day lag rides as the join residual; no "
                              "outer fan-out, inner columns never materialize.",
    "latest_event_state": "Changelog compaction: rank-1 collapses to "
                          "WindowGroupLimit Partial BEFORE the exchange — "
                          "shuffle carries one row per (key, partition).",
    "order_status_scd2": "Both SCD2 window passes share ONE "
                         "hashpartitioning(custkey) exchange.",
    "market_share": "Seven-relation snowflake: every dimension broadcasts "
                    "(no SortMergeJoin), lineitem never shuffles for the "
                    "joins; the one exchange is the per-year aggregate.",
    "line_dedup": "Lines shuffle by md5(trim) for the distinct-doc count; "
                  "the banned relation broadcasts into a LeftAnti join; "
                  "re-assembly is one doc-id aggregation.",
    "dsir_weights": "Feature explosion aggregates straight to (doc,bucket); "
                    "bucket totals and the corpus total roll up from it "
                    "(exchange reuse), the ratio table broadcasts back.",
    "bm25_search": "Per-term df table and 1-row corpus stats broadcast; "
                   "top-k is TakeOrderedAndProject (partial per-partition "
                   "top-k), never a global sort.",
    "stupid_backoff_lm": "Bigram/unigram count tables roll up from one "
                         "pinned position-count table and join back to "
                         "the instance table (AQE picks the strategy); "
                         "one per-doc aggregation; no Python evaluator.",
    "pq_topk": "Codebooks constant-folded to one Literal; encode is a "
               "per-row projection (only the round-robin spread "
               "exchange); queries + distance tables broadcast into the "
               "ADC scan; per-query top-k via window rank.",
    "product_type_profit": "Q9 snowflake: part/supplier/nation all "
                           "broadcast, LIKE filter prunes the part "
                           "dimension before broadcast; lineitem never "
                           "shuffles for a join.",
    "bulk_suppliers_for_parts": "Q20 nested IN chain: both levels run as "
                                "semi joins; the grouped HAVING threshold "
                                "applies before any join-back.",
    "incremental_dedup": "Standing corpus reduces to DISTINCT hashes; "
                         "batch shuffles once on the hash; bodies never "
                         "shuffle.",
    "token_budget_mix": "One tokenize+count aggregation; rate table "
                        "broadcasts; keep predicate is map-side.",
    "ivfpq_topk": "L2 coarse cells + PQ codes from ONE staged corpus "
                  "projection (no self-join); queries + ADC tables "
                  "broadcast; exact re-rank joins only the k*refine "
                  "shortlist back to vectors.",
    "bloom_decontam": "Benchmark side folds to a fixed-size bitmap "
                      "(bit_or groupBy on word indexes); the corpus pass "
                      "is one zero-shuffle projection against the "
                      "bitmap literal.",
    "part_heavy_hitters": "Partial agg + TakeOrderedAndProject — the "
                          "skew report never globally sorts.",
    "important_stock": "Q11: both the threshold scalar and the filter "
                       "read the persisted per-part aggregate "
                       "(InMemoryTableScan x2) — ONE fact scan; the "
                       "nation-filtered supplier set probes as a "
                       "broadcast semi join.",
    "hybrid_rrf_search": "Both arms end in bounded TakeOrdered lists; "
                         "the RRF fuse is a broadcast-sized full-outer "
                         "join — corpus size never reaches the fusion.",
    "sq8_topk": "Per-dim min/max train in ONE aggregation (no explode); "
                "bounds + queries broadcast into the code scan; per-query "
                "top-k via window rank on the fixed-point ADC distance.",
    "rolling_zscore_purchases": "One per-key window exchange carries "
                                "integer-view sums; no second pass, no "
                                "Python evaluator.",
    "winnow_fingerprints": "Shingle-hash array materializes ONCE per row "
                           "behind a projection boundary (lambda bodies "
                           "get no CSE — inline reuse was O(m²) md5) from "
                           "tokens bound once (no size filter pushed "
                           "below it); the only explode is the winnowed "
                           "selection.",
    "mutual_info_priority_status": "Fact table reduces to R×C cells in "
                                   "the FIRST aggregation; marginals, "
                                   "totals and libm terms are all "
                                   "dimension-sized.",
    "source_overlap": "Corpus reduces to distinct (source, shingle-hash) "
                      "rows, tokenizing each document once; the pair "
                      "join shuffles hashes only; per-source totals "
                      "broadcast.",
    "grouped_ols_events": "ONE aggregation of fixed-point sufficient "
                          "statistics; fits are pure projections over "
                          "the grouped row.",
    # round-5 additions
    "winnow_overlap_pairs": "r6 bounded shape: fingerprints persist "
                            "once; a count-only two-phase countDistinct "
                            "df pass (state bounded at any skew) gates a "
                            "span-bounded collect for cold fps and a "
                            "distributed self-join for hot ones.",
    "bloom_decontam_det": "Same zero-shuffle probe as the fast tier — "
                          "md5-derived bit positions fold into the "
                          "bitmap literal; no join anywhere.",
    "ann_recall_report": "Exact top-k side is query-set-sized and "
                         "broadcasts into each arm's own plan; hit "
                         "counting is one (arm, query) aggregation.",
    "dedup_keep_best": "CC labels + broadcast sizes join the score "
                       "relation; ranking is one cluster-keyed window "
                       "whose partitions are bounded by clique size. "
                       "NOTE: this pin starts at the CC loop's "
                       "materialized edge set (Scan ExistingRDD) — "
                       "the r10 banded pair-tier FEED is upstream of "
                       "the driver-side fixed point and is pinned "
                       "separately as minhash_dedup_det (the same "
                       "relation).",
    "kendall_tau_grouped": "Lowcard grid tier: one cache-pinned "
                           "(group, x, y) cells relation feeds seven "
                           "consumers; concordance prefix counts come "
                           "from ONE partition-keyed Window plus a "
                           "broadcast totals join (no second pass).",
    "fuzzy_decontam_det": "Eval band keys + shingles broadcast at both "
                          "joins (the corpus never exchanges before "
                          "the AQE-managed final left join); best-match "
                          "top-1 collapses to WindowGroupLimit Partial "
                          "before its exchange; train-id scan reads "
                          "ONLY doc_id.",
    "fuzzy_decontam_sweep": "Same broadcast-probe candidate scan as the "
                            "fuzzy gate, cut once at min(thresholds); "
                            "the threshold explode runs on the LINK "
                            "relation only (never on bodies); totals "
                            "ride a 1-row broadcast crossJoin.",
    "corpus_diff": "Both snapshots reduce to (id, md5) before the "
                   "single full-outer hash join — bodies never "
                   "shuffle.",
    "domain_quality_report": "Host/canonical-URL derivation is "
                             "map-side; one id join to scores, one "
                             "host aggregation.",
    "incremental_minhash_det": "Standing band index probed by the new "
                               "batch only; raw-string buckets shuffle "
                               "in place of xxhash64 — same shape, "
                               "oracle-replayable keys.",
    "pq_topk_det": "Integer ADC quanta: codes and table entries are "
                   "BIGINT folds; the plan is the same broadcast-"
                   "table + window-rank shape as the fast tier.",
    "semantic_dedup": "Auto-scaled cell grid + two-level router at "
                      ">=64 cells: assignment scans sqrt(cells) supers "
                      "then one child list; within-cell pair join "
                      "shuffles on the cell key only.",
    # round-6 additions
    "prefix_jaccard_pairs": "r6 bounded df annotation: count-only "
                            "groupBy(shingle) (one long per key at any "
                            "skew) + a streamed join — the collect-fold "
                            "posting arrays are gone; shingle arrays "
                            "persist so the pipeline evaluates once.",
    "quantile_rollup_totalprice": "Null filter pushed to the scan; two "
                                  "bounded-state aggregations; the "
                                  "cumulative window runs over <=bins "
                                  "integer rows — data volume never "
                                  "reaches a sort.",
    "dedup_recall_report": "Truth set + 1-row totals broadcast into "
                           "each arm's own plan; the gate adds no "
                           "full-corpus shuffle of its own.",
    "leakage_safe_split": "CC cluster labels + a map-side md5 draw on "
                          "the cluster id; no shuffle beyond the "
                          "clustering it labels with.",
    "hll_distinct_orders": "Exact + sketch sides in ONE Expand-planned "
                           "aggregation pass over a single scan; the "
                           "band verdict is an in-row projection.",
    "memorization_risk": "Counting groups 16-byte md5 keys; the k "
                         "winners broadcast back into the corpus for "
                         "span rebuild — bodies never shuffle.",
    "decontam_spans": "Held-out window hashes broadcast into a "
                      "LeftSemi probe of the train windows; the "
                      "covered-token removal is the shared ExactSubstr "
                      "tail (one doc-id aggregation).",
    "decontam_fraction": "Stateless gate shape: one broadcast left "
                         "join on window hashes + one per-doc count "
                         "aggregation — zero state, the per-micro-"
                         "batch streaming plan verbatim.",
    "gopher_rules": "Map-only: arrays -> integer feature scalars -> "
                    "flags as THREE staged projections (each tree "
                    "evaluates once per row) — no Exchange, pipelines "
                    "with the scan.",
    "dedup_impact_sweep": "One PPJoin pair relation exploded by a "
                          "literal threshold array; two hash "
                          "aggregations + broadcast single-row "
                          "totals price every threshold in one scan.",
    "embedding_outliers": "Dimension-sized centroids broadcast back; "
                          "the embedding column is projected away "
                          "before the rank window, so the window "
                          "exchange moves (label,id,cosine) triples.",
    "interleave_order": "Per-source rank window + one global "
                        "serve-order sort over 3-column triples; "
                        "stride key is a projection, not a join.",
    "pmi_collocations": "One positional explode feeds both count "
                        "tables; unigram joins are vocab-sized; "
                        "top-k collapses to TakeOrderedAndProject.",
    "corpus_curation_v3": "Gate is map-only; dedup applies as a min-id "
                          "LeftSemi keep-set (bodies never shuffle by "
                          "content); interleave windows ride 3-column "
                          "triples.",
    "decontam_window_sweep": "(w, hash) triples explode against the "
                             "literal width array; held-out keys "
                             "broadcast into the probe; two hash "
                             "aggregations roll up the report.",
    "c4_rules": "Arrays -> scalars -> flags as staged map-only "
                "projections; the planted fixture is a doc_id CASE, "
                "no extra scan.",
    "shard_manifest": "Map-only (shard, tok, term) projection + one "
                      "16-group hash aggregation; commutative checksum "
                      "means no sort anywhere.",
    "interleave_order_sharded": "Every Window carries a partition "
                                "spec ((shard, source) rank, per-shard "
                                "serve order) — no relation through "
                                "one task; shard id is a map-side md5 "
                                "projection.",
    "pack_sequences_sharded": "Per-shard running token offsets: the "
                              "fill window partitions by the md5 "
                              "shard, pack ids compose as "
                              "shard_localpack.",
    "ks_acctbal_segments": "Merged ECDF as per-distinct-value counts "
                           "+ ONE distributed prefix-sum pass (both "
                           "group counters share the range shuffle); "
                           "no data-sized global window.",
    "acctbal_deciles": "NTILE from the distributed global rank "
                       "(integer-exact remainder-to-early-buckets); "
                       "n rides the offsets window; no single-partition "
                       "gather.",
    "canonical_dedup": "Unicode fold is ONE map-side translate/replace "
                       "projection; only (id, md5) pairs shuffle for "
                       "the group + hash-keyed join back — bodies "
                       "never move.",
    "unigram_roundtrip": "Viterbi DP runs once per DISTINCT word "
                         "(Arrow pass on the word table), never per "
                         "instance; join-back re-assembles docs from "
                         "posexplode positions.",
    "centroid_drift_recall": "One exact corpus scan shared across "
                             "arms; per-arm probes broadcast the "
                             "query cells; candidate counts ride the "
                             "assignment projection.",
}
MAX_LINES = 40


def main() -> None:
    import __spark_entry__ as entry
    from basic_data_fusion_spark.session import get_spark

    # 8 shuffle partitions, as the test suite pins them
    spark = get_spark("bdf-spark-dump-plans",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})

    out = ["# PLANS — executed-plan evidence for SCALE.md claims",
           "",
           "Generated from `.explain('formatted')`-style executed plans at sf0.001",
           "(same plan shapes as sf0.1; regenerate with `python scripts/dump_plans.py`).",
           "Guard tests in `tests/test_plan_shapes.py` assert the load-bearing",
           "properties so they cannot silently regress.",
           ""]
    qs = entry.queries()
    for name, note in PICK_NOTES.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        df.collect()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [line.rstrip() for line in plan.splitlines()]
        if len(lines) > MAX_LINES:
            extra = len(lines) - MAX_LINES
            lines = lines[:MAX_LINES] + [f"... ({extra} more lines)"]
        out.append(f"## {name}\n\n{note}\n\n```\n" + "\n".join(lines) + "\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
