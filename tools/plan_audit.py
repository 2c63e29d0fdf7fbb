"""Physical-plan audit across the whole query registry.

For every query in __spark_entry__.queries(), builds the plan at the
given sf_dir and reports the scale-relevant physical signals:

- exchanges: shuffle count (hash/range partitionings)
- bcast: broadcast joins (dimension strategy working)
- python: Arrow/pandas stages (should exist ONLY where vectorized
  math needs them)
- scans / pushed: parquet scans and whether any carries PushedFilters
- topk: TakeOrderedAndProject (true top-k instead of global sort)
- nlj: BroadcastNestedLoopJoin occurrences — expected ONLY for
  1-row broadcast crossJoins (scalar subquery / query-vector
  patterns); anything else is a red flag
- uw: unpartitioned Window nodes (whole input funnels through ONE
  task — the round-2 doc_rank_fusion scale-killer class). Hard fail.
- eager: Spark jobs executed DURING plan construction. Hard fail
  UNLESS the query is in EAGER_OK below: an unadjudicated eager query
  breaks the lazy-build contract and hides its data-sized subplan
  from every other column of this audit (the round-5
  attribution_markov_removal blind spot). The allowlisted queries
  run exactly two adjudicated job classes at build time:
  (a) localCheckpoint(eager=True) of a multi-consumer intermediate —
  the deliberate materialize-once pattern that stops an expensive
  subtree re-executing per consumer (its own subplan was audited when
  the checkpoint was introduced; see each query's docstring), and
  (b) bounded allreduces whose size is fixed by construction
  (16-vector PQ codebook, 64-value power-iteration sums, 32
  partition counts, 2K-long bloom bitset) — never data-sized.
  Queries relying on plain table scans stay job-free because
  catalog.load_table passes explicit schemas (no parquet
  footer-inference job).

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if any plan contains a CartesianProduct, an unpartitioned
Window, or runs non-allowlisted jobs at construction time.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from se_data_pipeline_spark.session import get_spark

# Adjudicated constructor-time jobs (see module docstring). Value =
# why the jobs are bounded/intended. ANY other query with build-time
# jobs fails the audit.
_CKPT = "eager localCheckpoint: multi-consumer subtree materialized once"
_SHINGLE = "shared checkpointed shingle frame (8-consumer reuse, r6)"
EAGER_OK = {
    "attribution_shapley": _CKPT + " (per-user coalition rollup)",
    "bloom_pruned_urgent_revenue": "bounded collect: 2K-long bloom bitset",
    "conversion_path_length": _CKPT + " (path-length histogram)",
    "customer_interorder_hazard": _CKPT + " (week-grain at-risk frame)",
    "daily_revenue_mann_kendall": _CKPT + " (calendar-bounded day frame)",
    "dedup_connected_components": "iterative Pregel loop: localCheckpoint "
    "per round cuts lineage growth",
    "dedup_incremental_new_shard": _SHINGLE,
    "dedup_method_recall_report": _SHINGLE,
    "doc_dsir_selection": "bounded collect: 1024-bucket hashed "
    "importance estimator (DSIR pass 1)",
    "doc_heaps_law_fit": _CKPT + " (token-count frame)",
    "doc_stable_ids": "bounded collect: 32 per-partition counts "
    "(distributed prefix sum)",
    "embedding_intrinsic_dimension": "bounded collect: fixed 50-query "
    "kNN sample",
    "embedding_matryoshka_fidelity": "bounded collect: label centroids",
    "multimodal_phash_pairs": _CKPT + " (aHash fingerprint frame: "
    "band explode + both verify sides)",
    "embedding_power_iteration": "bounded allreduce: 64 per-dim sums "
    "per step",
    "embedding_pq_adc_topk": "bounded collect: 16-vector PQ codebook",
    "embedding_pq_codes": "bounded collect: 16-vector PQ codebook",
    "embedding_pq_train_step": "bounded collect: 16-vector PQ codebook",
    "pq_distortion_report": "bounded collect: 16-vector PQ codebook",
    "events_adstock_regression": _CKPT + " (day-grain banded frame)",
    "events_forecast_backtest": _CKPT + " (daily series reused by 3 "
    "forecasters)",
    "events_value_tail_index": _CKPT + " (top-k order statistics)",
    "jaccard_prefix_filter_pairs": _SHINGLE,
    "part_pagerank": _CKPT + " (edge list re-joined by 3 unrolled "
    "PageRank iterations)",
    "leakage_safe_splits": "iterative cluster-label loop: "
    "localCheckpoint per round",
    "orders_interrupted_time_series": _CKPT + " (pre/post day frames)",
    "orders_littles_law_check": _CKPT + " (daily WIP frame, two "
    "independent measurements)",
    "orders_seasonal_decompose": _CKPT + " (day frame: MA + residual "
    "consumers)",
    "part_graph_triangles": "eager localCheckpoint: edge list reused "
    "by 8 consumers (wedge join)",
    "revenue_gini_jackknife": _CKPT + " (sorted share frame + delete-1)",
    "revenue_periodogram": _CKPT + " (day series x frequency grid)",
    "session_type_cooccurrence_lift": _CKPT + " (session-type sets)",
    "sorted_neighborhood_pairs": _SHINGLE,
    "supplier_part_pagerank": _CKPT + " (edge list re-joined by 2 "
    "unrolled iterations, r7) + node-count scalar for the teleport "
    "term",
    "users_to_date_curve": _CKPT + " ((day,user) distinct + day-grain "
    "daily frame, r8 — collapses 4 fact scans to 1; the checkpoints "
    "are lazy but AQE materializes their shuffle stages at toRdd "
    "time, which is what the eager counter sees)",
    # r10 store-LIFECYCLE queries: the build/revise writes ARE the
    # subject under oracle test (store in a scratch dir per call,
    # serving.py module docstring) — batch-bounded jobs by
    # construction, plus bounded collects (1 query vector, n_cells
    # centroids, 1-row totals/correction scalars)
    "bm25_served_parity": "store lifecycle under test: build + "
    "revise writes (batch-bounded) + 1-row correction collects",
    "ivf_served_recall": "store lifecycle under test: index build "
    "write + bounded collects (1 query vector, n_cells centroids)",
    "hybrid_served": "store lifecycle under test: both leg stores "
    "built per call + bounded collects (query vector, centroids)",
    "phrase_served_topk": "store lifecycle under test: positional "
    "store build (batch-bounded write) + K-row term-bucket collect",
    # r11 positional-store lifecycle + retrieval-surface queries:
    # same adjudication — the build/revise/delete/compact/stream
    # writes ARE the subject under oracle test, batch-bounded
    "phrase_served_parity": "store lifecycle under test: build + "
    "revise + delete writes (batch-bounded) + K-row bucket collect",
    "phrase_served_compacted": "store lifecycle under test: "
    "parity lifecycle + whole-store compaction swap",
    "phrase_stream_maintained": "store lifecycle under test: "
    "availableNow micro-batches write the store (exactly-once by "
    "layout), then one pruned serve",
    "proximity_served_topk": "store lifecycle under test: positional "
    "store build (batch-bounded write) + 2-row term-bucket collect",
    "and_ranked_served_topk": "store lifecycle under test: "
    "positional store build (batch-bounded write) + K-row collect",
    "ivf_revised_recall": "store lifecycle under test: index build "
    "+ revise writes + bounded collects (query vector, centroids, "
    "1-row batch-max scalars)",
    "bq_served_topk": "store lifecycle under test: index build "
    "+ delete tombstone write + 1-row qcode collect",
    "hybrid_served_recall": "store lifecycle under test: both leg "
    "stores built per call + bounded collects (query vector, "
    "centroids); 3 probe/fusion rounds over the same stores",
    "dedup_index_served": "store lifecycle under test: shingle "
    "index build + revise + delete writes (batch-bounded), then one "
    "asymmetric probe join",
    "ivf_bq_funnel_served": "store lifecycle under test: index "
    "build + bounded collects (query vector, centroids, 1-row "
    "q-code eval)",
    "semantic_dedup_canonical_corpus": "iterative Pregel loop "
    "(shared _min_label_components): localCheckpoint per round",
    # r12 IVF-PQ / filtered-ANN / streamed-funnel lifecycle queries:
    # same adjudication as the r10/r11 store lifecycles above
    "ivf_pq_funnel_served": "store lifecycle under test: pq index "
    "build + revise writes (batch-bounded) + bounded collects "
    "(query vector, centroids, 16-vector codebook, count guard)",
    "ivf_filtered_recall": "store lifecycle under test: attr-"
    "carrying index build + bounded collects (query head row, "
    "centroids); 4 probe rounds over the same store",
    "phrase_snippets_served": "store lifecycle under test: "
    "positional store build (batch-bounded write) + K-row bucket "
    "collect; the snippet fetch joins a broadcast 10-row pool",
    "bm25_phrase_boost_served": "store lifecycle under test: "
    "frequency + positional store builds (batch-bounded writes) + "
    "K-row bucket collects; rescoring joins a broadcast pool",
    "ordered_near_served_topk": "store lifecycle under test: "
    "positional store build (batch-bounded write) + 2-row "
    "term-bucket collect",
    "index_screen_recall_report": "store lifecycle under test: "
    "shingle + minhash index builds (batch-bounded writes), then "
    "two asymmetric probe joins",
    "lsh_index_served": "store lifecycle under test: minhash band "
    "index build + revise + delete writes (batch-bounded), then one "
    "asymmetric band-bucket probe join",
    "ivf_funnel_stream_maintained": "store lifecycle under test: "
    "index build + availableNow micro-batches + offline revision "
    "(all batch-bounded) + bounded collects (query vector, "
    "centroids, q-code eval)",
}


def _top_level_groups(s: str) -> int:
    """Count top-level [...] groups in a plan-node label."""
    depth = groups = 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
    return groups


def count_unpartitioned_windows(plan: str) -> int:
    """WindowExec prints `Window [exprs], [part], [order]` when both
    specs are set, and a 2-group form when one is empty:
    `Window [exprs], [order]` (unpartitioned — the bad case) or
    `Window [exprs], [part]` (partitioned, unordered — fine). The two
    are distinguished by ASC/DESC markers in the trailing group
    (verified against Spark 4.1). Also flags WindowGroupLimit with an
    empty partition list."""
    n = 0
    for line in plan.splitlines():
        label = line.lstrip(" :+-*(0123456789)")
        if label.startswith("Window ") and _top_level_groups(label) < 3:
            tail = label[label.rindex("["):]
            if " ASC " in tail or " DESC " in tail:
                n += 1
        if label.startswith("WindowGroupLimit []"):
            n += 1
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    tracker = spark.sparkContext.statusTracker()
    bad = []
    print(f"{'query':<36} exch bcast py scans pushed topk nlj uw eager")
    for name, fn in sorted(entrymod.queries().items()):
        jobs_before = len(tracker.getJobIdsForGroup(None))
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # audit must not die on one query
            print(f"{name:<36} ERROR {type(exc).__name__}")
            bad.append(name)
            continue
        eager = len(tracker.getJobIdsForGroup(None)) - jobs_before
        exch = plan.count("Exchange ")
        bcast = plan.count("BroadcastHashJoin")
        py = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        scans = plan.count("FileScan")
        pushed = "y" if "PushedFilters: [" in plan and not all(
            seg.startswith("]")
            for seg in plan.split("PushedFilters: [")[1:]
        ) else "-"
        topk = "y" if "TakeOrderedAndProject" in plan else "-"
        nlj = plan.count("BroadcastNestedLoopJoin")
        cart = "CartesianProduct" in plan
        uw = count_unpartitioned_windows(plan)
        eager_bad = eager > 0 and name not in EAGER_OK
        if cart or uw or eager_bad:
            bad.append(name)
        eager_col = (
            f"{eager}*" if eager and name in EAGER_OK else str(eager)
        )
        print(
            f"{name:<36} {exch:>4} {bcast:>5} {py:>2} {scans:>5} "
            f"{pushed:>6} {topk:>4} {nlj:>3} {uw:>2} {eager_col:>5}"
            f"{'  CARTESIAN!' if cart else ''}"
            f"{'  UNPARTITIONED-WINDOW!' if uw else ''}"
            f"{'  EAGER-JOBS!' if eager_bad else ''}"
        )
    if bad:
        print(f"FAILED: {bad}")
        return 1
    print("no cartesian products, no unpartitioned windows, no "
          "unadjudicated eager plan-build jobs (counts marked '*' are "
          "EAGER_OK-allowlisted); audit complete")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
