"""Regenerate PLANS.md: formatted physical plans for the headline queries.

Run from the repo root:  python tools/dump_plans.py  [sf_dir]

The point of the artifact is plan review at a glance — is the filter
pushed down, is the dim broadcast, is top-k a TakeOrderedAndProject, does
anything fall off whole-stage codegen — without spinning up a session.
tests/test_plan_shapes.py pins the load-bearing shapes; this file is the
human-readable companion.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from starryskyqueryengine_spark import catalog  # noqa: E402
from starryskyqueryengine_spark.session import get_spark  # noqa: E402

# query name -> one-line "what to look for" note
HEADLINERS = {
    "flagship_multifeed": "ONE parquet scan feeding all 32 feed predicates (no per-feed rescan)",
    "t1_topk": "TakeOrderedAndProject — per-partition heap, no global sort",
    "t2_keyset_page": "cursor predicate in PushedFilters, key in PartitionFilters",
    "j1_broadcast_lookup": "BroadcastHashJoin for the profile dim, stream side unshuffled",
    "q5_local_supplier_volume": "all dims broadcast; single shuffle between the fact tables",
    "q6_revenue_delta": "entire WHERE clause in PushedFilters; no shuffle before the 1-row agg",
    "dedup_minhash_lsh": "signature explode -> codegen hash aggregate; band bucket equi-join (no quadratic pair space)",
    "dedup_containment": "same inverted-index blocking as the Jaccard path; ONE shuffle on the shingle key, directed pair output",
    "cross_source_dup_matrix": "banded LSH pipeline unchanged; source attach joins hit the pair set, never the corpus; |sources|^2-bounded agg",
    "range_join_click_attribution": "temporal bucketing turns the pure range predicate into an equi-join (no BroadcastNestedLoopJoin)",
    "sessionize_native": "SessionWindow state operator after one shuffle on user_id",
    "tfidf_top_terms": "vocabulary + corpus-count sides broadcast; shuffles only on the term aggregations",
    "multifeed_datadriven": "conditions as broadcast DATA: plan size constant at any feed count (compare flagship_multifeed)",
    "q13_customer_distribution": "orders aggregated BEFORE the join — one row per customer crosses the shuffle",
    "knn_centroid_assign": "broadcast centroids + unrolled codegen dot; argmax via max_by, no per-vector window sort",
    "q19_disjunctive_pred": "OR-of-ANDs factored by Catalyst: per-side disjunctions pushed into BOTH scans, residual on the join",
    "q22_dormant_customers": "NOT EXISTS -> LeftAnti on the date-pruned orders scan; scalar AVG as a 1-row broadcast, never a collect",
    "q18_large_orders": "quantity aggregate + threshold BELOW the joins — shrink ~30x before dimensions attach",
    "decontaminate_overlap": "benchmark shingle set broadcast; corpus explodes once and aggregates on one shuffle (never doc x doc)",
    "quality_filter_funnel": "whole funnel = ONE scan of conditional aggregates, map-side combinable to a single row",
    "mixture_sample": "per-source rates a tiny broadcast side; the corpus is ONE filtered pass, payload never shuffles",
    "shuffle_shard_manifest": "one hash-partition exchange on shard + per-shard sort — the shard writer's layout, nothing extra",
    "line_dedup_stats": "explode -> codegen HashAggregate on packed bigint arg-min; shuffle carries one record per DISTINCT line",
    "span_dedup_stats": "shingle shuffle = 16 bytes/token (hash + packed pos, never text); interval union = one window per doc_id",
    "chunk_documents": "RAG chunker rides the scan: explode+projection, ZERO exchanges",
    "corpus_overview": "lang x source x total in ONE Expand pass + one aggregation, never a union of scans",
    "q8_market_share": "part/supplier/nation/region broadcast; ONE real shuffle (orders-lineitem); CASE market share inside the same agg",
    "q15_top_supplier": "revenue subtree computed once; scalar MAX joins back as a 1-row broadcast filter, never a collect",
    "q17_small_quantity_revenue": "per-part AVG aggregated BEFORE the join — one row per part crosses the shuffle",
    "q21_waiting_supplier": "EXISTS semi + NOT EXISTS anti share the orderkey exchange; inequality rides the join condition",
    "bm25_search": "df restricted to broadcast query terms; two term aggregations only; top-k is TakeOrderedAndProject",
    "semantic_dedup": "broadcast centroids -> argmax assign -> ONE shuffle on centroid_id -> per-cell BLAS kernel (N^2/k, never N^2)",
    "dsir_importance_weights": "both n-gram distribution tables bounded by bucket count -> broadcast; corpus does two hash aggs, no window",
    "quality_bucket_sample": "tercile cutoffs from the 10^4-row VALUE histogram, broadcast back — no NTILE global sort over the corpus",
    "winnow_fingerprints": "rightmost-min winnowing via packed-bigint arg-min in ONE codegen window; one shuffle on doc_id",
    "source_kl_divergence": "corpus work = two hash aggs; KL sum runs on the broadcast |sources| x 4096 grid, size-independent of the corpus",
    "q2_min_cost_supplier": "per-(part,supplier) cost + per-part MIN both aggregate BEFORE the join-back; broadcast LeftSemi prunes lineitem BELOW both aggregates (selective part filter first); part/supplier/nation broadcast",
    "q11_important_stock": "global-total threshold = 1-row broadcast against the per-part value table; one lineitem shuffle total",
    "q12_priority_lateness": "CASE grouping key + both conditional SUMs in ONE aggregate pass; date filter in PushedFilters",
    "q20_excess_supply": "part filter and dominant-supplier membership as LeftSemi joins; one (suppkey,partkey) shuffle shared by both aggregates",
    "zorder_skipping_scan": "Morton-code layout: the scan's file list comes from the min/max manifest — 5 of 16 files for the 2-D box",
    "ann_ivf_indexed_topk": "lists scan with PartitionFilters on cell; no base-side MapInPandas (compare ann_ivf_fixed_topk)",
    "bm25_indexed_search": "probe of the incremental BM25 index (Bm25IncrementalIndex): ONE postings scan with PartitionFilters on term_bucket, df a window count over it; NO query-time tokenization (compare bm25_search)",
    "html_extract_text": "every strip/unescape pass a codegen regexp_replace riding the scan; zero exchanges",
    "mm_jpeg_roundtrip": "two Arrow-batched mapInPandas hops (encode/decode), zero shuffle; JVM never touches pixel bytes",
    "s1_datasource_scan": "Python DataSource scan: 4 input partitions = 4 concurrent executor-side page windows, zero driver rows",
    "pagerank_part_supplier": "per-iteration: broadcast the node-sized contribution table into the cached edge scan + one map-side-combined agg",
    "profile_documents": "whole profile = ONE scan + ONE aggregation; N count(DISTINCT) share a single Expand; report rows exploded from the 1-row agg",
    "trend_segment_spend": "groupwise OLS = one aggregation pair after the join; regression math on O(groups) rows, no window",
    "funnel_view_click_purchase": "each funnel stage: type-filter in PushedFilters + BroadcastHashJoin of the prior user-sized stage",
    "outlier_orders_mad": "median/MAD stat tables broadcast back into the fact scan; orders shuffles only for the percentile aggregates",
    "embedding_random_projection": "JL 64->16 entirely inside codegen higher-order functions: zero Exchange, zero Python",
    "gapfill_user_daily": "calendar spine explode + forward-fill window share ONE (user, day) sort; spine bounded by span, not events",
    "rolling_7d_active_users": "windowed distinct via contribute-explode: two hash shuffles, no range join, no per-day passes",
    "sssp_supplier_3hop": "per relaxation round: broadcast the node-sized distance table into the cached edge scan + min-combine",
    "expectations_documents": "every rule a conditional sum in ONE aggregate; uniqueness folds into the same pass via the Expand",
    "anomaly_daily_zscore": "three windowed moments share ONE Window node and one sort; one scan of events",
    "unimax_allocation": "water-filling solved as windows over the |sources|-row totals table: ONE corpus scan total",
    "scd2_priority_history": "three windows (tie-break, change filter, interval close) share one (custkey x ts) sort",
    "cohort_retention": "distinct-activity shuffle doubles as the dedup; cohort table broadcast back",
    "window_rank_family": "seven rank-family functions in ONE Window node on one shared sort",
    "hybrid_rrf_search": "both legs cut to K by TakeOrderedAndProject; fusion windows/join run on leg-K-sized inputs only",
    "pq_encode": "one Arrow-batched kernel pass (ArrowEvalPython/mapInPandas) — no join, no shuffle; codebook rides the closure",
    "ann_pq_adc_topk": "distance = literal LUT arrays indexed by stored codes; TakeOrderedAndProject cut; float embeddings never re-read",
    "countmin_frequency": "sketch build is ONE hash aggregate with partial_count (map-side combine to <= depth*width rows per task)",
    "url_canonical_dedup": "canonicalization all codegen (no Python eval); dedup one partial->final hash aggregate",
    "pipeline_rag_retrieval": "chunker explode + two chunk-token aggregations + broadcast query vector; fusion bounded by leg K",
    "mm_scene_detect": "Arrow decode kernels; lag window partitioned by media_id (clip-sized state)",
    "mm_image_phash_neardup": "two Arrow codec hops -> tiny cached hash table; band self-join + popcount verify all JVM-side",
    "bloom_prefilter_upsert": "bit positions via codegen xxhash64 both sides; exact anti-join runs on the maybe-dup slice only",
    "skew_salted_join": "dim exploded x16 on salt; hot key spreads over (key, salt) reducers; aggregate map-side partial",
    "text_multi_pattern_scan": "ONE Arrow-batched pass for N patterns (broadcast automaton); no per-pattern rescan",
    "mm_audio_fingerprint_neardup": "WAV round trip -> 32 contour bits; same exact banded join as the image hash",
    "mm_video_fingerprint_neardup": "O(1)-seek Y4M frame extraction -> luma contour; banded join JVM-side",
    "pipeline_multimodal_curation": "phash pair plan + one DISTINCT + anti-join on the id/geometry projection",
    "soft_dedup_weights": "one shuffle on the content hash; window COUNT; text dropped before the exchange",
    "acid_schema_evolution": "per-version time-travel reads with the version's OWN logged schema",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-dump", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = catalog.get_queries()

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Auto-generated by `tools/dump_plans.py` against `{sf_dir}`.",
        "Shapes that matter at 100 TB are pinned by `tests/test_plan_shapes.py`",
        "and `tests/test_analytics.py`; this file is the readable companion.",
        "",
    ]
    for name, note in HEADLINERS.items():
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out += [f"## {name}", "", f"**Look for:** {note}", "", "```", plan.rstrip(), "```", ""]
        spark.catalog.clearCache()

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
