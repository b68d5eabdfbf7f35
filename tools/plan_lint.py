"""Registry-wide physical-plan hygiene lint — the systematic version of
the per-query pins in tests/test_plans.py.

Walks EVERY registry query, builds its executed plan at the given sf
dir, and flags the three classic scale-killers:

- ``CartesianProduct`` anywhere (an unconditioned cross join of two
  real frames never survives a 100x scale-up);
- ``BroadcastNestedLoopJoin`` outside the allowlist (legitimate for a
  1-row scalar broadcast or a tiny theta-joined legend dim; lethal
  between two data-sized inputs);
- ``Exchange SinglePartition`` / unpartitioned ``Window`` outside the
  allowlist (legitimate only for constant-size frames: calendar days/
  months, scalar totals, constant-k offsets of distributed_ntile).

Allowlist entries are (query, pattern) pairs with the reason inline —
adding one is a REVIEWED decision, not a suppression. Ops whose
construction performs heavy side work (sinks, streams, staged scans)
are built like any other — this tool is run out-of-band, not in the
pytest suite, precisely so the full surface stays covered.

Usage: python tools/plan_lint.py [sf_dir] [query ...]
Exit code 1 if any un-allowlisted finding survives.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query name, plan substring) -> reason. A finding is suppressed iff
# its (name, pattern) key is here.
ALLOW: dict[tuple[str, str], str] = {
    # theta/tolerance joins against a tiny legend dim — the documented
    # BNLJ contract (SURVEY 2.B join_theta_tolerance)
    ("join_theta_tolerance", "BroadcastNestedLoopJoin"): "legend dim ±5 tolerance",
    # r12: the analysis-page gender match — 2-row male/female legend
    # broadcast, ±5 per channel (reference test.py:36-39)
    ("html_extract_analysis", "BroadcastNestedLoopJoin"):
        "2-row gender legend ±5 tolerance",
    ("join_range_band", "BroadcastNestedLoopJoin"): "band join vs tiny bounds dim",
    # 1-row scalar broadcasts (totals, thresholds, vocab arrays)
    ("important_stock_q11", "BroadcastNestedLoopJoin"): "1-row total cross join",
    ("pareto_customer_share", "BroadcastNestedLoopJoin"): "1-row total",
    ("oov_rate_vocab", "BroadcastNestedLoopJoin"): "1-row vocab array",
    ("decontaminate_ngram", "BroadcastNestedLoopJoin"): "1-row probe-gram array",
    ("idle_customers_segment", "BroadcastNestedLoopJoin"): "1-row scalar avg",
    ("sales_seasonality", "BroadcastNestedLoopJoin"): "1-row total",
    ("decile_lift_table", "BroadcastNestedLoopJoin"): "1-row total",
    ("skew_diagnose_report", "BroadcastNestedLoopJoin"): "1-row totals",
    ("scan_parquet", "BroadcastNestedLoopJoin"): "1-row per-table counts",
    ("salient_terms_tfidf", "BroadcastNestedLoopJoin"): "1-row corpus count",
    ("similarity_topk", "BroadcastNestedLoopJoin"): "probe-vector row",
    # r11: the 8 quantized probe vectors broadcast over one corpus
    # scan (the similarity_topk shape; flips to a block equi-join
    # past ~100 probes)
    ("decontaminate_embedding", "BroadcastNestedLoopJoin"):
        "8 quantized probe vectors",
    ("knn_join_ivf", "BroadcastNestedLoopJoin"): "centroid array row",
    # r8 oracle exports: 32-row plane / 16-row centroid broadcasts and
    # the 16-row seed-rank window (the corpus-sized pick is a
    # distributed TakeOrdered, not a window)
    ("srp_bucket_export", "BroadcastNestedLoopJoin"): "32-row SRP plane set",
    ("ivf_assign_export", "BroadcastNestedLoopJoin"): "16-row centroid set",
    ("ivf_assign_export", "Window"): "16-row seed-rank frame",
    ("ivf_probe_export", "BroadcastNestedLoopJoin"): "16-row centroid set",
    ("ivf_probe_export", "Window"): "16-row seed-rank frame",
    ("cluster_semantic_kmeans", "BroadcastNestedLoopJoin"): "centroid array row",
    # r10 kmeans anchor: the 8-row hash_spread_seeds rank window and
    # the 8-row quantized-centroid broadcast (assign_cells shape)
    ("kmeans_assign_export", "Window"): "8-row seed-rank frame",
    ("kmeans_assign_export", "BroadcastNestedLoopJoin"):
        "8-row quantized centroid set",
    # r10 Lloyd's update: inherits assign's plan (same 8-row frames)
    ("kmeans_update_export", "Window"): "8-row seed-rank frame",
    ("kmeans_update_export", "BroadcastNestedLoopJoin"):
        "8-row quantized centroid set",
    # r8 PQ family: the seed-rank window runs on the 8/16-row
    # hash_spread_seeds frame (the corpus-sized pick is a distributed
    # TakeOrdered); ivf_pq_search's BNLJ is assign_cells/probe_cells
    # broadcasting the 16-row centroid set, same as the ivf exports
    ("pq_adc_topk", "Window"): "32-row codebook-rank frame",
    ("ivf_pq_search", "Window"): "16/32-row seed-rank frames",
    ("ivf_pq_search", "BroadcastNestedLoopJoin"): "16-row centroid set",
    # scalar aggregate -> 1-row final exchange, like the other
    # 1-row-result analytics
    ("forecast_revenue_q6", "SinglePartition"): "1-row result",
    # r9 routing/candidate exports: every frame here is a planning
    # constant — the 512-row calibration sample (self-pairs via BNLJ),
    # the 16-row centroid broadcasts, the 16-row curve's cumulative
    # window, and the 1-row total/decision aggregates
    ("knn_route_export", "BroadcastNestedLoopJoin"):
        "512-row sample self-pairs + 16-row centroid/1-row decision",
    ("knn_route_export", "Window"): "16-row seed-rank + curve frames",
    ("knn_route_export", "SinglePartition"): "1-row total/decision aggs",
    ("ivf_candidates_export", "BroadcastNestedLoopJoin"):
        "16-row centroid set",
    ("ivf_candidates_export", "Window"): "16-row seed-rank frame",
    # temperature mixing: the 1-row min(n_src) broadcast onto the
    # source-count frame
    ("mix_sqrt_temperature", "BroadcastNestedLoopJoin"): "1-row n_min",
    ("mix_sqrt_temperature", "SinglePartition"): "1-row n_min agg",
    # r10 BM25: the 1-row (N, Σdl) corpus-stats aggregate broadcast
    # onto the query-term tf frame (the salient_terms_tfidf shape)
    ("search_bm25_topk", "BroadcastNestedLoopJoin"): "1-row (N, Σdl) stats",
    ("search_bm25_topk", "SinglePartition"): "1-row corpus-stats agg",
    # r10 perplexity filter: the 1-row vocab-size (V) broadcast onto
    # the scored bigram frame — same scalar-subquery shape
    ("doc_perplexity_bigram", "BroadcastNestedLoopJoin"): "1-row vocab size",
    ("doc_perplexity_bigram", "SinglePartition"): "1-row vocab-size agg",
    # r10 oversampling: the 1-row max(n_src) broadcast onto the
    # source-count frame (the mix_sqrt_temperature shape)
    ("mix_upsample_epochs", "BroadcastNestedLoopJoin"): "1-row n_max",
    ("mix_upsample_epochs", "SinglePartition"): "1-row n_max agg",
    # PageRank and knn_graph_mutual need no entries: the graph build's
    # constant-size frames (seed-rank window, centroid broadcast) and
    # the 1-row node-count broadcast execute at construction behind
    # eager localCheckpoints, so the returned plans read LogicalRDDs
    # only (r15: the pair-kernel rewrite moved the graph's own tiny
    # frames behind its topk checkpoint too)
    # source vocabulary rank: the node-id window runs on the DISTINCT
    # source set — tiny by construction (mixture vocabularies are
    # human-scale), same class as the seed-rank frames
    ("source_mirror_communities", "SinglePartition"):
        "source-vocabulary rank frame",
    ("source_mirror_communities", "Window"): "source-vocabulary rank frame",
    # r12 coverage curve: now the distributed two-level prefix sum
    # (global_rank + sum_col) — the only unpartitioned window and its
    # exchange run on the 16-row partition-offsets frame (constant,
    # num_parts), never on the vocab; plus the 1-row token-total
    # broadcast. The r10 vocab-sized-window rationale is GONE.
    ("vocab_coverage_curve", "SinglePartition"): "16-row offsets frame",
    ("vocab_coverage_curve", "Window"): "16-row offsets frame",
    ("vocab_coverage_curve", "BroadcastNestedLoopJoin"): "1-row token total",
    # r11 sequence packing: the bucket-offset stage of the two-level
    # prefix sum — the unpartitioned window and its exchange run on the
    # <=257-row bucket-sum frame (PACK_OFFSET_BUCKETS is a constant),
    # never on data; the 1-row max(doc_id) broadcast sizes the buckets
    ("pack_sequences", "SinglePartition"): "<=257-row bucket-offset frame",
    ("pack_sequences", "Window"): "<=257-row bucket-offset frame",
    ("pack_sequences", "BroadcastNestedLoopJoin"): "1-row max(doc_id) scalar",
    ("pack_sequences_report", "SinglePartition"): "<=257-row bucket-offset frame",
    ("pack_sequences_report", "Window"): "<=257-row bucket-offset frame",
    ("pack_sequences_report", "BroadcastNestedLoopJoin"): "1-row max(doc_id) scalar",
    # r8 session-2: same constant-size frames — the 32-row codebook
    # rank window, the 16-row centroid broadcasts inside
    # assign_cells/probe_cells, and the 8-probe-row brute-force arm
    # of the recall report (the similarity_topk allowlist pattern)
    ("pq_rerank_topk", "Window"): "32-row codebook-rank frame",
    ("ann_recall_report", "Window"): "16/32-row seed-rank frames",
    ("ann_recall_report", "BroadcastNestedLoopJoin"):
        "probe rows (exact arm) + 16-row centroid set",
    ("stream_anomaly_alerts", "BroadcastNestedLoopJoin"): "per-type stats rows",
    # calendar/constant-size frames: unpartitioned windows and single
    # -partition exchanges over days/months/deciles/offsets frames
    ("ewma_revenue_daily", "SinglePartition"): "days frame",
    ("ewma_revenue_daily", "Window"): "days frame",
    ("mom_revenue_growth", "SinglePartition"): "months frame",
    ("mom_revenue_growth", "Window"): "months frame",
    ("cumulative_distinct_users", "SinglePartition"): "days frame",
    ("cumulative_distinct_users", "Window"): "days frame",
    ("open_orders_timeline", "SinglePartition"): "months delta frame",
    ("open_orders_timeline", "Window"): "months delta frame",
    ("rolling_distinct_users", "SinglePartition"): "days sketch frame",
    ("rolling_distinct_users", "Window"): "days sketch frame",
    ("date_spine_gapfill", "SinglePartition"): "bounds row explode",
    ("events_anomaly_zscore", "Window"): "per-type daily frame",
    ("stream_anomaly_alerts", "Window"): "per-type daily frame",
    ("change_point_detect", "Window"): "per-type daily frame",
    ("sales_seasonality", "SinglePartition"): "12-row frame",
    ("decile_lift_table", "SinglePartition"): "decile offsets (distributed_ntile)",
    ("decile_lift_table", "Window"): "10-row gains frame",
    ("pareto_customer_share", "SinglePartition"): "16-row offsets frame",
    ("pareto_customer_share", "Window"): "offsets frame",
    ("quality_bin_sample", "SinglePartition"): "decile offsets (distributed_ntile)",
    ("quality_bin_sample", "Window"): "offsets frame",
    ("rfm_segmentation", "SinglePartition"): "quintile offsets (distributed_ntile)",
    ("rfm_segmentation", "Window"): "offsets frame",
    ("pipeline_customer_features", "SinglePartition"): "quintile offsets",
    ("pipeline_customer_features", "Window"): "offsets frame",
    ("pipeline_customer_features", "BroadcastNestedLoopJoin"): "1-row total",
    ("mode_per_group", "Window"): "group-sized aggregate frame",
    ("agg_heavy_hitters", "SinglePartition"): "top-k limit",
    ("skew_diagnose_report", "SinglePartition"): "top-10 limit",
    ("event_transitions", "Window"): "user-partitioned lag",
    ("funnel_conversion", "SinglePartition"): "3-row funnel",
    ("table_profile", "SinglePartition"): "6-row profile",
    ("lake_health_report", "SinglePartition"): "10-row report",
    ("scan_parquet", "SinglePartition"): "per-table count rows",
    ("subquery_not_in_nullaware", "SinglePartition"): "three scalar counts",
    ("subquery_scalar", "SinglePartition"): "scalar subquery",
    ("top_supplier_by_revenue", "SinglePartition"): "scalar max",
    ("avg_qty_joinback_small", "SinglePartition"): "1-row result",
    ("idle_customers_segment", "SinglePartition"): "scalar avg",
    ("disjunctive_predicate_scan", "SinglePartition"): "1-row result",
    ("salient_terms_tfidf", "SinglePartition"): "1-row corpus count",
    ("decontaminate_ngram", "SinglePartition"): "probe-gram fold",
    ("stream_anomaly_alerts", "SinglePartition"): "per-type stats",
    # adjudicated in the first full lint run (all 1-row scalar shapes)
    ("corpus_clean_incremental", "BroadcastNestedLoopJoin"): "split-id scalar theta",
    ("corpus_clean_incremental", "SinglePartition"): "split-id scalar",
    ("fill_forward_locf", "BroadcastNestedLoopJoin"): "types x broadcast spine",
    ("fill_forward_locf", "SinglePartition"): "bounds row",
    ("funnel_conversion", "BroadcastNestedLoopJoin"): "1-row step aggregates",
    ("important_stock_q11", "SinglePartition"): "1-row total",
    ("join_dpp_partitioned", "SinglePartition"): "above-avg scalar filter",
    ("segment_migration_matrix", "SinglePartition"): "quintile offsets (distributed_ntile)",
    ("segment_migration_matrix", "Window"): "offsets frame",
}

# Context-tightened exemptions (post-review fix, r9): these ALLOW keys
# additionally require EVERY occurrence of the pattern to sit in the
# stated plan context — the substring must appear within the window of
# plan text that follows each occurrence. Without this, an allowlist
# entry keyed only by (query, operator) would silently accept a future
# DATA-SIZED exchange introduced into the same query's plan.
ALLOW_CONTEXT: dict[tuple[str, str], str] = {}

_PATTERN_TEXT = {"SinglePartition": "Exchange SinglePartition"}


def _context_ok(plan: str, key: tuple[str, str]) -> bool:
    """True when every occurrence of key's pattern has the required
    context substring as its DIRECT child — i.e. the context text
    appears after the occurrence but BEFORE any further Exchange node
    (and within ~600 chars, covering deep indentation). Checking only
    'nearby' would let a rogue data-sized exchange stacked just above
    the legitimate one borrow its neighbor's context (post-review
    fix). No context rule => pass."""
    ctx = ALLOW_CONTEXT.get(key)
    if ctx is None:
        return True
    node = _PATTERN_TEXT.get(key[1], key[1])
    for seg in plan.split(node)[1:]:
        head = seg[:600]
        nxt = head.find("Exchange")
        if nxt != -1:
            head = head[:nxt]
        if ctx not in head:
            return False
    return True


SKIP_PREFIXES = (
    # streaming ops RUN a query at construction; sinks write data; the
    # staged scans rewrite fixtures. Their plan properties are pinned
    # individually in tests/ — linting re-runs them wholesale for no
    # new signal.
    "stream_",
    "sink_",
    "scan_",
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from etl_dagster_service_crawler_spark.session import get_spark

    spark = get_spark(app_name="plan-lint")
    qs = entrymod.queries()
    findings: list[str] = []
    used_allow: set[tuple[str, str]] = set()
    checked = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        if not only and name.startswith(SKIP_PREFIXES):
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            findings.append(f"{name}: plan build failed: {type(e).__name__}: {e}")
            continue
        checked += 1
        for pattern in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if pattern in plan:
                if (name, pattern) in ALLOW:
                    used_allow.add((name, pattern))
                else:
                    findings.append(f"{name}: {pattern} (not allowlisted)")
        if "Exchange SinglePartition" in plan:
            key = (name, "SinglePartition")
            if key in ALLOW and _context_ok(plan, key):
                used_allow.add(key)
            elif key in ALLOW:
                # the entry was consulted — a context violation must
                # not ALSO report it as unused/prunable
                used_allow.add(key)
                findings.append(
                    f"{name}: Exchange SinglePartition outside its "
                    f"allowlisted context ({ALLOW_CONTEXT[key]!r})"
                )
            else:
                findings.append(f"{name}: Exchange SinglePartition (not allowlisted)")
        # unpartitioned Window: 'Window [' ... 'windowspecdefinition(' with
        # no partition columns shows as ordering-only spec
        if "Window [" in plan and (name, "Window") in ALLOW:
            used_allow.add((name, "Window"))
        elif "Window [" in plan:
            for seg in plan.split("Window [")[1:]:
                head = seg.split("]", 1)[0]
                if "windowspecdefinition(" in head:
                    spec = head.split("windowspecdefinition(", 1)[1]
                    # partitioned specs start with the partition cols;
                    # unpartitioned ones start directly with the order spec
                    if spec.lstrip().startswith(("ASC", "DESC")) or " ASC" in spec.split(",", 1)[0] or " DESC" in spec.split(",", 1)[0]:
                        findings.append(
                            f"{name}: unpartitioned Window (not allowlisted)"
                        )
                        break

    print(f"checked {checked} queries; findings: {len(findings)}")
    for f in findings:
        print(" ", f)
    if not only:
        # keep the allowlist honest: an entry no plan exercises is
        # stale (op renamed/rewritten) and should be removed
        streaming_skipped = {
            k for k in ALLOW if k[0].startswith(SKIP_PREFIXES)
        }
        unused = sorted(set(ALLOW) - used_allow - streaming_skipped)
        if unused:
            print(f"unused allowlist entries ({len(unused)}) — prune:")
            for k in unused:
                print("  ", k)
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
