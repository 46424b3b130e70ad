"""Central query registry: name → (Spark callable, DuckDB oracle SQL).

The single source of truth consumed by `__spark_entry__.py`
(driver contract), `bench.py`, and the local parity tests
(tests/test_oracle_parity.py replicates the driver's check so
mismatches surface before a round ends).

Every entry's Spark callable takes (spark, sf_dir) and returns a
DataFrame whose column NAMES match the oracle SQL exactly (the driver
hash-compares columns sorted by name). Entries with `oracle=None` are
genuinely non-SQL-expressible and get the driver's weaker rows-only
check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from data_framework_spark.dedup import exact as dedup_exact_mod
from data_framework_spark.dedup import minhash as dedup_minhash_mod
from data_framework_spark.dedup import ngram as dedup_ngram_mod
from data_framework_spark.dedup import clusters as dedup_clusters_mod
from data_framework_spark.dedup import simhash as dedup_simhash_mod
from data_framework_spark.dedup import spans as spans_mod
from data_framework_spark.functions import bpe as bpe_mod
from data_framework_spark.functions import chunking as chunking_mod
from data_framework_spark.functions import corpus as corpus_mod
from data_framework_spark.functions import drift as drift_mod
from data_framework_spark.functions import lm as lm_mod
from data_framework_spark.functions import heavy_hitters as hh_mod
from data_framework_spark.functions import semistructured as semi_mod
from data_framework_spark.functions import retrieval as retrieval_mod
from data_framework_spark.functions import sampling as sampling_mod
from data_framework_spark.functions import text as text_mod
from data_framework_spark.multimodal import binary_ops as multimodal_mod
from data_framework_spark.operators import lineslice_query
from data_framework_spark.operators import (
    aggregates,
    analytics,
    graph,
    incremental,
    asof,
    bucketed,
    dataset_query,
    profile,
    rangejoin,
    raster_queries,
    relational,
    relational_final,
    relational_more,
    resample,
    skew,
    slicing,
    windows,
)
from data_framework_spark.plans import distributed_label as distlabel_plan
from data_framework_spark.plans import structures as structures_plan
from data_framework_spark.sources import array_ingest
from data_framework_spark.sources import formats as formats_mod
from data_framework_spark.similarity import ann as ann_mod
from data_framework_spark.similarity import ivf as ivf_mod
from data_framework_spark.similarity import ivfpq as ivfpq_mod
from data_framework_spark.similarity import pq as pq_mod
from data_framework_spark.similarity import semantic as semantic_mod
from data_framework_spark.similarity import sq as sq_mod
from data_framework_spark.streaming import sketches as stream_sketches
from data_framework_spark.streaming import stateful as stream_stateful
from data_framework_spark.streaming import windows as stream_windows


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    #: Route keys (ann.cached_route) under which THIS query's own
    #: result plan is persisted by some consumer (a recall contract,
    #: a composed query). The bench MUST evict these keys immediately
    #: before timing this query, or Spark's CacheManager substitutes
    #: the InMemoryRelation and the timing measures a ~100-row cache
    #: scan — the round-5 memoized-route bug, reintroduced twice via
    #: hand-maintained bench maps; this annotation is the structural
    #: fix (r9 verdict ask 6). Routes a query merely CONSUMES (the
    #: contracts' internal reuse) are deliberately NOT declared here.
    cached_routes: tuple[str, ...] = ()


#: cached_route keys that are internal composition baselines only —
#: their build plan is NOT any standalone registry query, so no bench
#: eviction applies (evicting them would change the sanctioned
#: contracts'-internal-reuse regime). Every cached_route key in the
#: codebase must appear either in some Query.cached_routes or here;
#: tests/test_round10.py enforces the partition.
COMPOSITION_ROUTES: tuple[str, ...] = (
    "exact_l2_k5",
    # the shared 8-phase island-chain upstream (smoothing → flux →
    # smoothed jy) consumed by the three find_structures queries (r13
    # verdict ask 4); its build is not any standalone query's own plan
    "island_family_fields",
)


QUERIES: dict[str, Query] = {
    # --- reference surface: slicing (SURVEY.md §2.2) ---
    "timeslice_events": Query(
        slicing.q_timeslice_events,
        slicing.Q_TIMESLICE_EVENTS_SQL,
        "inclusive time-range filter (_timeslice, statmeshvar.py:95-100)",
    ),
    "zoom_lineitem": Query(
        slicing.q_zoom_lineitem,
        slicing.Q_ZOOM_LINEITEM_SQL,
        "inclusive sorted-bounds box filter (_zoom, statmeshvar.py:102-109)",
    ),
    "select_vars_substring": Query(
        slicing.q_select_vars_substring,
        slicing.Q_SELECT_VARS_SUBSTRING_SQL,
        "case-sensitive substring variable selection (vpicdataset.py:206-213)",
    ),
    "array_ingest_roundtrip": Query(
        array_ingest.q_array_ingest_roundtrip,
        array_ingest.Q_ARRAY_INGEST_ROUNDTRIP_SQL,
        "array-source scan: get_vars filter + degenerate-dim squeeze + "
        "long-format explosion + export/restore (vpicdataset.py:142-230)",
    ),
    # --- reference surface: aggregates (SURVEY.md §2.4) ---
    "dataset_api_events": Query(
        dataset_query.q_dataset_api_events,
        dataset_query.Q_DATASET_API_EVENTS_SQL,
        "Dataset API composition: construct + add_var/add_param + "
        "ndslice (inclusive time, unsorted zoom) + get_vars lookup + "
        "most-inclusive bounds as constant columns",
    ),
    "bounds_events": Query(
        aggregates.q_bounds_events,
        aggregates.Q_BOUNDS_EVENTS_SQL,
        "per-variable [min,max] bounds (dataset.py:152-181, documented intent)",
    ),
    "sigma_threshold_lineitem": Query(
        aggregates.q_sigma_threshold_lineitem,
        aggregates.Q_SIGMA_THRESHOLD_LINEITEM_SQL,
        "mean + n·stddev_pop outlier threshold (vpicdataset.py:486-487)",
    ),
    "label_extrema_events": Query(
        aggregates.q_label_extrema_events,
        aggregates.Q_LABEL_EXTREMA_EVENTS_SQL,
        "per-label extrema + argmax position (vpicdataset.py:493-501)",
    ),
    "bounds_lineitem": Query(
        aggregates.q_bounds_lineitem,
        aggregates.Q_BOUNDS_LINEITEM_SQL,
        "per-variable bounds, events-independent hedge (dataset.py:152-181)",
    ),
    "label_extrema_lineitem": Query(
        aggregates.q_label_extrema_lineitem,
        aggregates.Q_LABEL_EXTREMA_LINEITEM_SQL,
        "per-label extrema + arg positions, events-independent hedge",
    ),
    # --- reference surface: raster tile kernels (SURVEY.md §2.5/§2.9) ---
    "gaussian_smooth_grid": Query(
        raster_queries.q_gaussian_smooth_grid,
        raster_queries.Q_GAUSSIAN_SMOOTH_GRID_SQL,
        "σ=1 separable Gaussian, reflect boundary (vpicdataset.py:352-369)",
    ),
    "extrema_filter_grid": Query(
        raster_queries.q_extrema_filter_grid,
        raster_queries.Q_EXTREMA_FILTER_GRID_SQL,
        "10×10 sliding max/min filter, reflect (vpicdataset.py:484-485)",
    ),
    "gap_fill_grid": Query(
        raster_queries.q_gap_fill_grid,
        raster_queries.Q_GAP_FILL_GRID_SQL,
        "np.roll wraparound 1-px gap closer (vpicdataset.py:71-113)",
    ),
    "dilate_grid": Query(
        raster_queries.q_dilate_grid,
        raster_queries.Q_DILATE_GRID_SQL,
        "one-step cross-footprint binary dilation (vpicdataset.py:449-451)",
    ),
    "flood_label_grid": Query(
        raster_queries.q_flood_label_grid,
        raster_queries.Q_FLOOD_LABEL_GRID_SQL,
        "scan-order connected-component labels (vpicdataset.py:490-491)",
    ),
    "flood_region_grid": Query(
        raster_queries.q_flood_region_grid,
        raster_queries.Q_FLOOD_REGION_GRID_SQL,
        "flood fill from seed over equal values (vpicdataset.py:470-471)",
    ),
    "distributed_label_contract": Query(
        distlabel_plan.q_distributed_label_contract,
        distlabel_plan.Q_DISTRIBUTED_LABEL_CONTRACT_SQL,
        "tile-stitch distributed CCL on a 9-tile procedural grid: "
        "component census + label-pid checksum vs pinned literals "
        "(r12 verdict ask 5 — the route q_flood_label_grid's "
        "single-tile grids never exercise)",
    ),
    "contours_grid": Query(
        raster_queries.q_contours_grid,
        raster_queries.Q_CONTOURS_GRID_SQL,
        "marching-squares contour points at a level (vpicdataset.py:383-384)",
    ),
    "find_structures_island": Query(
        structures_plan.q_find_structures_island,
        None,
        "full 10-step find_structures pipeline on the island-chain field "
        "(vpicdataset.py:295-533); rows-only — not SQL-expressible",
    ),
    # --- reference surface: window kernels (SURVEY.md §2.4/2.5) ---
    "running_sum_events": Query(
        windows.q_running_sum_events,
        windows.Q_RUNNING_SUM_EVENTS_SQL,
        "per-series prefix sum (np.cumsum, vpicdataset.py:287)",
    ),
    "gradient_events": Query(
        windows.q_gradient_events,
        windows.Q_GRADIENT_EVENTS_SQL,
        "np.gradient central difference w/ one-sided edges (vpicdataset.py:378-379)",
    ),
    "fluxfn_grid": Query(
        windows.q_fluxfn_grid,
        windows.Q_FLUXFN_GRID_SQL,
        "calc_fluxfn two chained cumsums on a 2-D grid (vpicdataset.py:286-291)",
    ),
    "interp_events": Query(
        resample.q_interp_events,
        resample.Q_INTERP_EVENTS_SQL,
        "per-series linear interpolation onto a regular grid (§2.9 analog)",
    ),
    "line_slice_linear": Query(
        lineslice_query.q_line_slice_linear,
        lineslice_query.Q_LINE_SLICE_LINEAR_SQL,
        "bilinear interpolating line slice (statmeshvar.py:111-200)",
    ),
    "line_slice_nearest": Query(
        lineslice_query.q_line_slice_nearest,
        lineslice_query.Q_LINE_SLICE_NEAREST_SQL,
        "nearest-neighbor line slice (statmeshvar.py 'nearest')",
    ),
    "multimodal_features": Query(
        multimodal_mod.q_multimodal_features,
        multimodal_mod.Q_MULTIMODAL_FEATURES_SQL,
        "binary-asset decode kernel: n_bytes + md5 digest per payload",
    ),
    "multimodal_resize_plan": Query(
        multimodal_mod.q_multimodal_resize_plan,
        multimodal_mod.Q_MULTIMODAL_RESIZE_PLAN_SQL,
        "metadata-only bounded-resize planner (payload never read)",
    ),
    "multimodal_frame_sample": Query(
        multimodal_mod.q_multimodal_frame_sample,
        multimodal_mod.Q_MULTIMODAL_FRAME_SAMPLE_SQL,
        "video frame-sampling index explosion (decode-kernel prelude)",
    ),
    "tumbling_window_events": Query(
        stream_windows.q_tumbling_window_events,
        stream_windows.Q_TUMBLING_WINDOW_EVENTS_SQL,
        "tumbling-window agg (batch-equivalent of the streaming plan)",
    ),
    # --- extension layer: relational (SURVEY.md §7 phase 5) ---
    "sliding_window_events": Query(
        stream_windows.q_sliding_window_events,
        stream_windows.Q_SLIDING_WINDOW_EVENTS_SQL,
        "sliding-window agg (1h window / 30m slide)",
    ),
    "session_window_events": Query(
        stream_windows.q_session_window_events,
        stream_windows.Q_SESSION_WINDOW_EVENTS_SQL,
        "native session_window gap aggregation per user",
    ),
    "stateful_user_totals_live": Query(
        stream_stateful.q_stateful_user_totals_live,
        stream_stateful.Q_STATEFUL_USER_TOTALS_LIVE_SQL,
        "custom stateful streaming op (applyInPandasWithState) run "
        "end-to-end over a 3-chunk replay; final state vs batch oracle",
    ),
    "streaming_dedup_events": Query(
        stream_stateful.q_streaming_dedup_events,
        stream_stateful.Q_STREAMING_DEDUP_EVENTS_SQL,
        "streaming exact dedup (dropDuplicates state across "
        "micro-batches) over a 3-chunk replay vs batch DISTINCT",
    ),
    "streaming_interval_join": Query(
        stream_stateful.q_streaming_interval_join,
        stream_stateful.Q_STREAMING_INTERVAL_JOIN_SQL,
        "stream-stream watermarked interval join over the 3-chunk "
        "replay vs the batch interval join",
    ),
    "format_roundtrip": Query(
        formats_mod.q_format_roundtrip,
        formats_mod.Q_FORMAT_ROUNDTRIP_SQL,
        "CSV + JSON sink/source round-trip, schema-on-read, "
        "joined and verified against the parquet originals",
    ),
    "json_props_events": Query(
        semi_mod.q_json_props_events,
        semi_mod.Q_JSON_PROPS_EVENTS_SQL,
        "JSON property extraction + bucketed profile",
    ),
    "tpch_q1": Query(relational.tpch_q1, relational.TPCH_Q1_SQL, "pricing summary"),
    "tpch_q3": Query(relational.tpch_q3, relational.TPCH_Q3_SQL, "shipping priority top-10"),
    "tpch_q5": Query(relational.tpch_q5, relational.TPCH_Q5_SQL, "local supplier revenue"),
    "tpch_q6": Query(relational.tpch_q6, relational.TPCH_Q6_SQL, "forecast revenue"),
    "top_k_orders": Query(
        relational.top_k_orders, relational.TOP_K_ORDERS_SQL, "deterministic top-k"
    ),
    "group_rollup": Query(
        relational.group_rollup, relational.GROUP_ROLLUP_SQL, "ROLLUP grouping sets"
    ),
    "tpch_q4_semijoin": Query(
        relational_more.tpch_q4_semijoin,
        relational_more.TPCH_Q4_SEMIJOIN_SQL,
        "order priorities with a late line (LEFT SEMI / EXISTS)",
    ),
    "tpch_q7_volume": Query(
        relational_more.tpch_q7_volume,
        relational_more.TPCH_Q7_VOLUME_SQL,
        "nation-pair shipping volume by year (dim joined twice)",
    ),
    "tpch_q8_market_share": Query(
        relational_more.tpch_q8_market_share,
        relational_more.TPCH_Q8_MARKET_SHARE_SQL,
        "national market share (conditional agg over 6-way join)",
    ),
    "tpch_q10_returns": Query(
        relational_more.tpch_q10_returns,
        relational_more.TPCH_Q10_RETURNS_SQL,
        "top-20 customers by returned revenue",
    ),
    "tpch_q13_custdist": Query(
        relational_more.tpch_q13_custdist,
        relational_more.TPCH_Q13_CUSTDIST_SQL,
        "customer order-count distribution (LEFT OUTER join)",
    ),
    "tpch_q14_promo": Query(
        relational_more.tpch_q14_promo,
        relational_more.TPCH_Q14_PROMO_SQL,
        "promotion revenue share (conditional agg)",
    ),
    "tpch_q15_top_supplier": Query(
        relational_more.tpch_q15_top_supplier,
        relational_more.TPCH_Q15_TOP_SUPPLIER_SQL,
        "max-revenue supplier (scalar subquery reuse)",
    ),
    "tpch_q17_small_qty": Query(
        relational_more.tpch_q17_small_qty,
        relational_more.TPCH_Q17_SMALL_QTY_SQL,
        "small-quantity revenue (correlated avg, decorrelated)",
    ),
    "tpch_q18_large_orders": Query(
        relational_more.tpch_q18_large_orders,
        relational_more.TPCH_Q18_LARGE_ORDERS_SQL,
        "large-volume orders (GROUP BY + HAVING feeding a join)",
    ),
    "tpch_q19_disjunctive": Query(
        relational_more.tpch_q19_disjunctive,
        relational_more.TPCH_Q19_DISJUNCTIVE_SQL,
        "OR-of-ANDs join predicate revenue",
    ),
    "tpch_q22_idle_customers": Query(
        relational_more.tpch_q22_idle_customers,
        relational_more.TPCH_Q22_IDLE_CUSTOMERS_SQL,
        "well-funded inactive customers (LEFT ANTI join)",
    ),
    "tpch_q9_profit": Query(
        relational_more.tpch_q9_profit,
        relational_more.TPCH_Q9_PROFIT_SQL,
        "product-type profit by nation/year (5-way join, 3 broadcasts)",
    ),
    "tpch_q21_waiting": Query(
        relational_more.tpch_q21_waiting,
        relational_more.TPCH_Q21_WAITING_SQL,
        "sole-late-supplier detection (EXISTS + NOT EXISTS self-joins)",
    ),
    "tpch_q11_important_parts": Query(
        relational_more.tpch_q11_important_parts,
        relational_more.TPCH_Q11_IMPORTANT_PARTS_SQL,
        "per-part value above a global-total fraction (self-referential scalar)",
    ),
    "tpch_q2_min_cost_supplier": Query(
        relational_final.tpch_q2_min_cost_supplier,
        relational_final.TPCH_Q2_MIN_COST_SUPPLIER_SQL,
        "correlated min-cost supplier over derived partsupp (Q2 shape)",
    ),
    "tpch_q12_ship_priority": Query(
        relational_final.tpch_q12_ship_priority,
        relational_final.TPCH_Q12_SHIP_PRIORITY_SQL,
        "conditional priority counts by derived ship-delay class (Q12 shape)",
    ),
    "tpch_q16_supplier_count": Query(
        relational_final.tpch_q16_supplier_count,
        relational_final.TPCH_Q16_SUPPLIER_COUNT_SQL,
        "COUNT(DISTINCT) per part attrs with NOT-IN anti filter (Q16 shape)",
    ),
    "tpch_q20_excess_suppliers": Query(
        relational_final.tpch_q20_excess_suppliers,
        relational_final.TPCH_Q20_EXCESS_SUPPLIERS_SQL,
        "nested-IN excess-volume supplier narrowing (Q20 shape)",
    ),
    "distinct_suppliers_by_brand": Query(
        relational_more.distinct_suppliers_by_brand,
        relational_more.DISTINCT_SUPPLIERS_BY_BRAND_SQL,
        "multi-DISTINCT aggregation per brand",
    ),
    "set_ops_customers": Query(
        relational_more.set_ops_customers,
        relational_more.SET_OPS_CUSTOMERS_SQL,
        "UNION / INTERSECT / EXCEPT cardinalities",
    ),
    "bucketed_join_lineitem": Query(
        bucketed.q_bucketed_join_lineitem,
        bucketed.Q_BUCKETED_JOIN_LINEITEM_SQL,
        "co-located orderkey join via bucketBy layout (zero exchanges)",
    ),
    "sketch_accuracy_events": Query(
        bucketed.q_sketch_accuracy_events,
        bucketed.Q_SKETCH_ACCURACY_EVENTS_SQL,
        "HLL++/approx-percentile accuracy contract vs exact, "
        "tolerance booleans hash-checked",
    ),
    "profile_percentiles": Query(
        profile.q_profile_percentiles,
        profile.Q_PROFILE_PERCENTILES_SQL,
        "exact percentile profiling per group (p50/p90/p99)",
    ),
    "moving_average_events": Query(
        profile.q_moving_average_events,
        profile.Q_MOVING_AVERAGE_EVENTS_SQL,
        "bounded ROWS-frame moving average/max per user",
    ),
    "cube_orders": Query(
        profile.q_cube_orders,
        profile.Q_CUBE_ORDERS_SQL,
        "CUBE multi-level aggregation with grouping() labels",
    ),
    "pivot_events": Query(
        profile.q_pivot_events,
        profile.Q_PIVOT_EVENTS_SQL,
        "pivot with pinned vocabulary vs FILTERed conditional aggs",
    ),
    "asof_attribution": Query(
        asof.q_asof_attribution,
        asof.Q_ASOF_ATTRIBUTION_SQL,
        "as-of join (union-marker + carry-forward window) vs DuckDB's "
        "native ASOF JOIN",
    ),
    "range_join_clicks": Query(
        rangejoin.q_range_join_clicks,
        rangejoin.Q_RANGE_JOIN_CLICKS_SQL,
        "bucketed interval join (bucket-quantized equi-join + exact "
        "post-filter) vs direct range predicate",
    ),
    "skew_salted_agg": Query(
        skew.q_skew_salted_agg,
        skew.Q_SKEW_SALTED_AGG_SQL,
        "salted two-stage exact count-distinct over 5 hot keys",
    ),
    "scalar_fns_events": Query(
        skew.q_scalar_fns_events,
        skew.Q_SCALAR_FNS_EVENTS_SQL,
        "scalar/vector math surface: norm, unit vector, sign, grid "
        "spacing + uniformity (SURVEY.md §2.8)",
    ),
    "sessionize_events": Query(
        relational.sessionize_events,
        relational.SESSIONIZE_EVENTS_SQL,
        "gap-based sessionization (lag + running sum)",
    ),
    # --- extension layer: LLM-data-pipeline ops (SURVEY.md §7 phase 5) ---
    "text_stats": Query(
        text_mod.q_text_stats,
        text_mod.Q_TEXT_STATS_SQL,
        "token counts, quality score, fingerprint per document",
    ),
    "lang_profile": Query(
        text_mod.q_lang_profile,
        text_mod.Q_LANG_PROFILE_SQL,
        "per-language corpus profile",
    ),
    "lang_id": Query(
        text_mod.q_lang_id,
        text_mod.Q_LANG_ID_SQL,
        "n-gram-heuristic language identification (signature-gram "
        "scores, deterministic argmax)",
    ),
    "winnow_fingerprint": Query(
        text_mod.q_winnow_fingerprint,
        text_mod.Q_WINNOW_FINGERPRINT_SQL,
        "rolling-hash winnowing document fingerprint",
    ),
    "token_regex_profile": Query(
        text_mod.q_token_regex_profile,
        text_mod.Q_TOKEN_REGEX_PROFILE_SQL,
        "regex tokenization profile (alpha/digit runs)",
    ),
    "corpus_mix": Query(
        sampling_mod.q_corpus_mix,
        sampling_mod.Q_CORPUS_MIX_SQL,
        "deterministic hash-based stratified sampling (3-tier corpus "
        "mixture by source)",
    ),
    "pack_sequences": Query(
        sampling_mod.q_pack_sequences,
        sampling_mod.Q_PACK_SEQUENCES_SQL,
        "sequence packing: fixed-budget contiguous-fill binning via "
        "exclusive prefix sums per stratum",
    ),
    "dedup_exact": Query(
        dedup_exact_mod.q_dedup_exact,
        dedup_exact_mod.Q_DEDUP_EXACT_SQL,
        "exact dedup via md5 fingerprint groupBy",
    ),
    "dedup_minhash": Query(
        dedup_minhash_mod.q_minhash_dedup,
        dedup_minhash_mod.Q_MINHASH_DEDUP_SQL,
        "minhash-signature dedup groups (linear output)",
    ),
    "minhash_near_dup_pairs": Query(
        dedup_minhash_mod.q_minhash_near_dups,
        dedup_minhash_mod.Q_MINHASH_NEAR_DUPS_SQL,
        "probe-set minhash+LSH pairs verified by exact jaccard",
    ),
    "dedup_clusters": Query(
        dedup_clusters_mod.q_dedup_clusters,
        dedup_clusters_mod.clusters_sql(),
        "connected components over the near-dup graph (iterative "
        "min-label propagation vs recursive-CTE closure)",
    ),
    "dedup_simhash": Query(
        dedup_simhash_mod.q_simhash_dedup,
        dedup_simhash_mod.Q_SIMHASH_DEDUP_SQL,
        "simhash-signature dedup groups (32-bit, md5-derived)",
    ),
    "simhash_near_dups": Query(
        dedup_simhash_mod.q_simhash_near_dups,
        dedup_simhash_mod.Q_SIMHASH_NEAR_DUPS_SQL,
        "hamming-≤3 simhash pairs via byte-band LSH (probe set)",
    ),
    "ngram_jaccard_pairs": Query(
        dedup_ngram_mod.q_ngram_jaccard_pairs,
        dedup_ngram_mod.Q_NGRAM_JACCARD_PAIRS_SQL,
        "exact char-trigram Jaccard pairs (probe set)",
    ),
    "ann_lsh_topk": Query(
        ann_mod.q_ann_lsh_topk,
        ann_mod.Q_ANN_LSH_TOPK_SQL,
        "sign-LSH bucketed approximate top-k neighbors",
        cached_routes=("lsh_topk",),
    ),
    "ann_ivf_topk": Query(
        ivf_mod.q_ann_ivf_topk,
        ivf_mod.Q_ANN_IVF_TOPK_SQL,
        "inverted-file (IVF) approximate top-k: sampled coarse "
        "quantizer, nprobe cell search",
        cached_routes=("ivf_topk",),
    ),
    "ivf_persist_roundtrip": Query(
        ivf_mod.q_ivf_persist_roundtrip,
        ivf_mod.Q_ANN_IVF_TOPK_SQL,
        "IVF index persisted to parquet (centroids + cell-partitioned "
        "inverted lists) and searched after reload — same oracle as "
        "the in-memory build; cold=rebuild, warm=reload in bench",
    ),
    "cosine_topk": Query(
        ann_mod.q_cosine_topk,
        ann_mod.Q_COSINE_TOPK_SQL,
        "brute-force cosine top-k neighbors",
        cached_routes=("cosine_topk",),
    ),
    "embedding_near_dups": Query(
        ann_mod.q_embedding_near_dups,
        ann_mod.Q_EMBEDDING_NEAR_DUPS_SQL,
        "embedding-cosine near-duplicate pairs (exact blocked GEMM)",
    ),
    "embedding_dedup_lsh": Query(
        ann_mod.q_embedding_dedup_lsh,
        ann_mod.Q_EMBEDDING_DEDUP_LSH_SQL,
        "duplicate embeddings via sign-LSH bands + in-bucket GEMM "
        "(structural recall for colinear twins, logged candidate pruning)",
    ),
    "partitioned_prune_roundtrip": Query(
        formats_mod.q_partitioned_prune_roundtrip,
        formats_mod.Q_PARTITIONED_PRUNE_ROUNDTRIP_SQL,
        "hive-partitioned parquet write + partition-pruned read-back",
    ),
    "ann_hamming_rerank": Query(
        ann_mod.q_ann_hamming_rerank,
        ann_mod.Q_ANN_HAMMING_RERANK_SQL,
        "two-stage ANN: 24-bit signature Hamming scan + exact top-100 "
        "cosine re-rank (compress-then-rerank)",
        cached_routes=("hamming_rerank",),
    ),
    "ann_recall_contract": Query(
        ann_mod.q_ann_recall_contract,
        ann_mod.Q_ANN_RECALL_CONTRACT_SQL,
        "recall@5 of each approximate ANN route vs the exact baseline, "
        "with floor booleans the oracle states as literal TRUE",
    ),
    # --- corpus curation (extension: training-data pipeline, round 3) ---
    "quality_filter": Query(
        corpus_mod.q_quality_filter,
        corpus_mod.Q_QUALITY_FILTER_SQL,
        "Gopher-style rule filter: per-source pass counts + stopword frac",
    ),
    "repetition_filter": Query(
        corpus_mod.q_repetition_filter,
        corpus_mod.Q_REPETITION_FILTER_SQL,
        "repetitious-text detection: top-token frequency ratio per doc",
    ),
    "tfidf_top_terms": Query(
        corpus_mod.q_tfidf_top_terms,
        corpus_mod.Q_TFIDF_TOP_TERMS_SQL,
        "top-5 TF-IDF terms per source",
    ),
    "shard_assign": Query(
        corpus_mod.q_shard_assign,
        corpus_mod.Q_SHARD_ASSIGN_SQL,
        "deterministic md5 shard assignment + balance accounting",
    ),
    "contamination_check": Query(
        corpus_mod.q_contamination_check,
        corpus_mod.Q_CONTAMINATION_CHECK_SQL,
        "cross-source exact-dup overlap (decontamination accounting)",
    ),
    "bigram_topk": Query(
        corpus_mod.q_bigram_topk,
        corpus_mod.Q_BIGRAM_TOPK_SQL,
        "corpus top-20 word bigrams, array-domain n-gram build",
    ),
    "label_centroids": Query(
        corpus_mod.q_label_centroids,
        corpus_mod.Q_LABEL_CENTROIDS_SQL,
        "per-label embedding centroid norm via positional aggregation",
    ),
    # --- round-3 late additions (driver-checked on next rotation) ---
    "orc_roundtrip": Query(
        formats_mod.q_orc_roundtrip,
        formats_mod.Q_ORC_ROUNDTRIP_SQL,
        "ORC sink/source round-trip vs parquet original",
    ),
    "rolling_median_events": Query(
        profile.q_rolling_median_events,
        profile.Q_ROLLING_MEDIAN_EVENTS_SQL,
        "per-user rolling median over trailing 10 events (exact "
        "interpolated percentile per bounded frame)",
    ),
    "hll_union_contract_events": Query(
        bucketed.q_hll_union_contract_events,
        bucketed.Q_HLL_UNION_CONTRACT_EVENTS_SQL,
        "DataSketches HLL accuracy + union-merge contract "
        "(per-type and merged-global estimates vs exact)",
    ),
    "tiled_gaussian_grid": Query(
        raster_queries.q_tiled_gaussian_grid,
        raster_queries.Q_TILED_GAUSSIAN_GRID_SQL,
        "halo-exchange tiled Gaussian: scale path for oversized "
        "single-timestep grids, bit-identical to the whole-grid kernel",
    ),
    "benchmark_decontam": Query(
        corpus_mod.q_benchmark_decontam,
        corpus_mod.Q_BENCHMARK_DECONTAM_SQL,
        "train-vs-benchmark decontamination: sliding-shingle overlap "
        "against a deterministic held-out slice, broadcast-join shaped",
    ),
    "dup_ngram_fraction": Query(
        corpus_mod.q_dup_ngram_fraction,
        corpus_mod.Q_DUP_NGRAM_FRACTION_SQL,
        "within-doc duplicate-trigram fraction (Gopher repetition rule), "
        "array-domain, shuffle-free per-doc pass",
    ),
    # --- round-5 additions ---
    "find_structures_contract": Query(
        structures_plan.q_find_structures_contract,
        structures_plan.Q_FIND_STRUCTURES_CONTRACT_SQL,
        "hash-checked invariants of the flagship find_structures "
        "pipeline on the golden island-chain field: X/O counts + "
        "coordinates (4dp), per-output nonzero-cell counts, flux range "
        "— oracle states the pinned literals",
    ),
    "curation_funnel": Query(
        corpus_mod.q_curation_funnel,
        corpus_mod.Q_CURATION_FUNNEL_SQL,
        "end-to-end curation pipeline: quality → repetition/dup-ngram → "
        "minhash dedup (cluster reps) → benchmark decontam → shard, with "
        "per-stage survivor counts per source",
    ),
    "curation_funnel_mat": Query(
        corpus_mod.q_curation_funnel_mat,
        corpus_mod.Q_CURATION_FUNNEL_SQL,
        "the curation funnel with its per-doc feature projection "
        "materialized as a scratch parquet feature table instead of an "
        "in-memory persist — the documented 100 TB shape, same oracle",
    ),
    "find_structures_multi8": Query(
        structures_plan.q_find_structures_multi8,
        structures_plan.Q_FIND_STRUCTURES_MULTI8_SQL,
        "find_structures over 8 phase-shifted timesteps (multi-t mode, "
        "per-t parallel kernels); per-t X/O census + X coords vs "
        "pinned literals",
    ),
    "weighted_sample": Query(
        sampling_mod.q_weighted_sample,
        sampling_mod.Q_WEIGHTED_SAMPLE_SQL,
        "deterministic weighted sampling (Efraimidis-Spirakis keys "
        "from md5-derived uniforms), global top-200 without a full "
        "sort",
    ),
    "heavy_hitters": Query(
        hh_mod.q_heavy_hitters,
        hh_mod.Q_HEAVY_HITTERS_SQL,
        "exact heavy hitters (count > n/50) via per-partition "
        "Misra-Gries summaries + candidate-only exact re-count; "
        "hash-equal to the oracle's full GROUP BY/HAVING",
    ),
    "pii_scrub": Query(
        corpus_mod.q_pii_scrub,
        corpus_mod.Q_PII_SCRUB_SQL,
        "PII redaction accounting: email/phone match counts + "
        "post-scrub integrity checksum over a deterministically "
        "augmented corpus (per-row JVM regex, shuffle-free)",
    ),
    "compaction_roundtrip": Query(
        formats_mod.q_compaction_roundtrip,
        formats_mod.Q_COMPACTION_ROUNDTRIP_SQL,
        "small-files compaction: 64 fragments → 4 range-sorted files "
        "on ts; exact file counts + content checksums vs the source "
        "table",
    ),
    "dedup_incremental": Query(
        dedup_exact_mod.q_dedup_incremental,
        dedup_exact_mod.Q_DEDUP_INCREMENTAL_SQL,
        "incremental cross-batch dedup: new batch vs historical "
        "fingerprint/signature sets (exact md5 + minhash), per-source "
        "arriving/dup/survivor accounting",
    ),
    "ivf_recall_contract": Query(
        ivf_mod.q_ivf_recall_contract,
        ivf_mod.Q_IVF_RECALL_CONTRACT_SQL,
        "recall@5 of the IVF route vs the exact baseline, floor "
        "boolean stated as literal TRUE in the oracle",
    ),
    "halo_smooth_multi_t": Query(
        raster_queries.q_halo_smooth_multi_t,
        raster_queries.Q_HALO_SMOOTH_MULTI_T_SQL,
        "halo-exchange tiled Gaussian over 8 oversized timesteps "
        "(160 concurrent stencil patches); per-t checksums vs pinned "
        "literals",
    ),
    "chunk_documents": Query(
        chunking_mod.q_chunk_documents,
        chunking_mod.Q_CHUNK_DOCUMENTS_SQL,
        "overlapping fixed-window token chunking (32-token windows, "
        "stride 24) with per-chunk md5 hash — shuffle-free flatMap",
    ),
    "chunk_dedup": Query(
        chunking_mod.q_chunk_dedup,
        chunking_mod.Q_CHUNK_DEDUP_SQL,
        "chunk-level exact-dedup accounting per source (boilerplate "
        "detection below document granularity)",
    ),
    "stratified_split": Query(
        chunking_mod.q_stratified_split,
        chunking_mod.Q_STRATIFIED_SPLIT_SQL,
        "deterministic md5 train/val/test split + cross-split "
        "exact-dup leakage audit",
    ),
    "unigram_logprob": Query(
        lm_mod.q_unigram_logprob,
        lm_mod.Q_UNIGRAM_LOGPROB_SQL,
        "per-doc unigram-LM mean log-probability (CCNet-style "
        "perplexity quality signal; broadcast vocabulary)",
    ),
    "zipf_fit": Query(
        lm_mod.q_zipf_fit,
        lm_mod.Q_ZIPF_FIT_SQL,
        "Zipf-law OLS fit over top terms (regr_slope/regr_r2) — "
        "corpus-health diagnostic",
    ),
    "semantic_dedup": Query(
        semantic_mod.q_semantic_dedup,
        semantic_mod.Q_SEMANTIC_DEDUP_SQL,
        "SemDeDup-style semantic dedup: deterministic centroid "
        "clustering + within-cluster cosine dup accounting",
    ),
    "semantic_dedup_scaled": Query(
        semantic_mod.q_semantic_dedup_scaled,
        semantic_mod.Q_SEMANTIC_DEDUP_SCALED_SQL,
        "semantic dedup under the K~N/const scaling policy "
        "(K=ceil(N/64), oracle re-derives K from its own count) — "
        "the linear-scale path the fixed-K contract documents",
    ),
    "domain_mix": Query(
        sampling_mod.q_domain_mix,
        sampling_mod.Q_DOMAIN_MIX_SQL,
        "temperature-weighted domain sampling weights "
        "(p^0.7 renormalized) + epochs-at-budget report",
    ),
    "ks_drift": Query(
        drift_mod.q_ks_drift,
        drift_mod.Q_KS_DRIFT_SQL,
        "per-source two-sample KS drift vs rest-of-corpus over the "
        "bucketized length distribution — ingest-quality monitor",
    ),
    "cluster_purity": Query(
        semantic_mod.q_cluster_purity,
        semantic_mod.Q_CLUSTER_PURITY_SQL,
        "external cluster-validity check: majority-label purity of "
        "the semantic clusters vs embedding labels",
    ),
    "cdc_chunks": Query(
        chunking_mod.q_cdc_chunks,
        chunking_mod.Q_CDC_CHUNKS_SQL,
        "content-defined chunking (gear-style local-hash boundaries, "
        "edit-resistant) + per-source chunk dedup accounting",
    ),
    "snapshot_diff": Query(
        formats_mod.q_snapshot_diff,
        formats_mod.Q_SNAPSHOT_DIFF_SQL,
        "corpus snapshot diff (CDC accounting): added/removed/changed/"
        "unchanged per source via full-outer fingerprint join, snapshot "
        "B written to and read back from parquet",
    ),
    "heaps_fit": Query(
        lm_mod.q_heaps_fit,
        lm_mod.Q_HEAPS_FIT_SQL,
        "Heaps-law vocabulary-growth fit over doc_id prefixes "
        "(first-occurrence banding, no per-prefix distinct scans)",
    ),
    "k_anonymity": Query(
        corpus_mod.q_k_anonymity,
        corpus_mod.Q_K_ANONYMITY_SQL,
        "k-anonymity audit over (source, lang, length-bucket) "
        "quasi-identifiers — re-identification risk accounting",
    ),
    "streaming_heavy_hitters": Query(
        stream_sketches.q_streaming_heavy_hitters,
        stream_sketches.Q_STREAMING_HEAVY_HITTERS_SQL,
        "streaming Misra-Gries heavy hitters: per-bucket sketch state "
        "across micro-batches + exact re-count, vs GROUP BY/HAVING",
    ),
    "pagerank_neardup": Query(
        graph.q_pagerank_neardup,
        graph.Q_PAGERANK_NEARDUP_SQL,
        "PageRank over the symmetric embedding near-dup graph, 5 "
        "synchronous iterations (iterative dataflow, per-iteration "
        "persist), vs 5 unrolled CTEs",
    ),
    "pq_codes": Query(
        pq_mod.q_pq_codes,
        pq_mod.Q_PQ_CODES_SQL,
        "product quantization (Jegou et al. 2011): per-subspace "
        "codebook assignment counts + mean quantization error — the "
        "memory side of an IVF-PQ index, one Arrow-batched pass",
    ),
    "pq_adc_topk": Query(
        pq_mod.q_pq_adc_topk,
        pq_mod.Q_PQ_ADC_TOPK_SQL,
        "PQ asymmetric-distance search: top-5 L2 neighbors scored "
        "entirely through the compressed code table + broadcast "
        "query lookup tables — the IVF-PQ search side",
    ),
    "bpe_merges": Query(
        bpe_mod.q_bpe_merges,
        bpe_mod.Q_BPE_MERGES_SQL,
        "BPE vocabulary induction: first 6 merges learned over the "
        "word-frequency table (one corpus aggregate collected once, "
        "merges learned on the driver), vs 6 unrolled merge CTEs",
    ),
    "bpe_tokenize": Query(
        bpe_mod.q_bpe_tokenize,
        bpe_mod.Q_BPE_TOKENIZE_SQL,
        "BPE apply side: corpus tokenization accounting after the "
        "learned merges — chars, tokens, fertility (chars/token), "
        "induced symbol-vocabulary size",
    ),
    "pagerank_neardup_lsh": Query(
        graph.q_pagerank_neardup_lsh,
        graph.Q_PAGERANK_NEARDUP_SQL,
        "PageRank with the edge list from the sign-LSH banded route "
        "(the 100 TB scale path) — same oracle as the exact route "
        "because the LSH parameters recover the exact edge set on "
        "this corpus (measured, test-pinned)",
    ),
    "multimodal_embed_topk": Query(
        multimodal_mod.q_multimodal_embed_topk,
        multimodal_mod.Q_MULTIMODAL_EMBED_TOPK_SQL,
        "binary assets -> Arrow-batched encode kernel -> exact cosine "
        "top-5 retrieval; the whole path is in the oracle hash",
    ),
    "text_normalize": Query(
        text_mod.q_text_normalize,
        text_mod.Q_TEXT_NORMALIZE_SQL,
        "normalization accounting (lowercase/strip/collapse) with "
        "per-source shrink fractions — JVM regex, shuffle-free",
    ),
    "incremental_agg_refresh": Query(
        incremental.q_incremental_agg_refresh,
        incremental.Q_INCREMENTAL_AGG_REFRESH_SQL,
        "materialized-view maintenance: partial-state merge of "
        "historical+new batches, hash-equal to full recompute",
    ),
    "funnel_stages": Query(
        analytics.q_funnel_stages,
        analytics.Q_FUNNEL_STAGES_SQL,
        "strictly-ordered conversion funnel (signup>view>click>"
        "purchase, each stage after the previous stage's earliest "
        "qualifier) with step conversion rates",
    ),
    "rolling_zscore": Query(
        analytics.q_rolling_zscore,
        analytics.Q_ROLLING_ZSCORE_SQL,
        "per-series trailing-window z-score anomaly accounting — the "
        "windowed upgrade of the reference's global 3-sigma threshold",
    ),
    "bm25_topk": Query(
        retrieval_mod.q_bm25_topk,
        retrieval_mod.Q_BM25_TOPK_SQL,
        "BM25 top-20 retrieval for a fixed query: row-local tf via "
        "codegen array filters (no explode), corpus stats as one "
        "broadcast row, written-order score expression",
    ),
    "bm25_postings_topk": Query(
        retrieval_mod.q_bm25_postings_topk,
        retrieval_mod.Q_BM25_TOPK_SQL,
        "BM25 via a materialized inverted index (explode -> postings, "
        "broadcast query-term prune, written-order contribution fold) "
        "— the ad-hoc/many-term route; same oracle as bm25_topk",
    ),
    "dup_span_extract": Query(
        spans_mod.q_dup_span_extract,
        spans_mod.Q_DUP_SPAN_EXTRACT_SQL,
        "exact-substring duplicate spans (Lee et al. 2022 output "
        "shape): k-gram collision marking + gaps-and-islands merge "
        "into maximal per-doc duplicated token ranges",
    ),
    "sq8_quantize": Query(
        sq_mod.q_sq8_quantize,
        sq_mod.Q_SQ8_QUANTIZE_SQL,
        "int8 scalar quantization audit: per-dimension grid scale, "
        "codes used, mean/max reconstruction error — the 4x memory "
        "tier beside IVF and PQ; two linear passes, broadcast stats",
    ),
    # -- round 8: the composed vector index + tokenizer roundtrip ---
    "ivfpq_persist_topk": Query(
        ivfpq_mod.q_ivfpq_persist_topk,
        ivfpq_mod.Q_IVFPQ_PERSIST_TOPK_SQL,
        "IVFADC (Jegou 2011 SIV): coarse-cell prune + residual PQ "
        "codes + ADC scoring, answered from the parquet-persisted "
        "cell-partitioned index — the composed production vector "
        "index the round-7 IVF/PQ pieces exist to build",
        cached_routes=("ivfpq_topk",),
    ),
    "ivfpq_recall_contract": Query(
        ivfpq_mod.q_ivfpq_recall_contract,
        ivfpq_mod.Q_IVFPQ_RECALL_CONTRACT_SQL,
        "recall@5 of the IVFADC route vs the exact squared-L2 "
        "baseline, shared recall_vs_exact arithmetic + per-SF "
        "calibrated floor (isotropic-corpus caveat documented)",
    ),
    "bpe_detok_roundtrip": Query(
        bpe_mod.q_bpe_detok_roundtrip,
        bpe_mod.Q_BPE_DETOK_ROUNDTRIP_SQL,
        "tokenizer decode audit: apply the learned BPE merges, "
        "invert (symbol concat), join back to the corpus — per-doc "
        "token counts + genuine roundtrip-equality recomputation",
    ),
    # -- round 9: exact-refine over the persisted vector index ---
    "ivfpq_refine_topk": Query(
        ivfpq_mod.q_ivfpq_refine_topk,
        ivfpq_mod.Q_IVFPQ_REFINE_TOPK_SQL,
        "faiss-style refine: top-100 ADC shortlist from the persisted "
        "IVFADC index re-ranked by exact L2 over a bounded broadcast "
        "fetch of only those float vectors (r8 verdict ask 4)",
        cached_routes=("ivfpq_refine_topk",),
    ),
    "ivfpq_refine_recall": Query(
        ivfpq_mod.q_ivfpq_refine_recall,
        ivfpq_mod.Q_IVFPQ_REFINE_RECALL_SQL,
        "recall@5 of the refined route vs exact squared-L2, shared "
        "recall_vs_exact arithmetic + per-SF calibrated floor",
    ),
    "bm25_adhoc_topk": Query(
        retrieval_mod.q_bm25_adhoc_topk,
        retrieval_mod.Q_BM25_ADHOC_TOPK_SQL,
        "a second, differently-sized term set (4 terms) against the "
        "SAME persisted postings index — proves ad-hoc reuse without "
        "rebuild (r8 verdict ask 5)",
    ),
    "bpe_heldout_coverage": Query(
        bpe_mod.q_bpe_heldout_coverage,
        bpe_mod.Q_BPE_HELDOUT_COVERAGE_SQL,
        "held-out tokenizer audit: merges learned on the train word "
        "slice applied to hash-held-out words unseen at train time — "
        "UNK-free coverage + held-out fertility (r8 verdict ask 7)",
    ),
    "ivfpq_nprobe_curve": Query(
        ivfpq_mod.q_ivfpq_nprobe_curve,
        ivfpq_mod.Q_IVFPQ_NPROBE_CURVE_SQL,
        "recall@5 vs nprobe (1/2/4/8 of 16 cells) over the same "
        "persisted index — quantifies the cell-coverage knob the "
        "refine floor notes name",
    ),
    # --- round-10 additions (driver-checked on the next rotation) ---
    "bpe_batched_merges": Query(
        bpe_mod.q_bpe_batched_merges,
        bpe_mod.Q_BPE_BATCHED_MERGES_SQL,
        "batched BPE trainer (r9 verdict ask 5): per pass ONE pair "
        "recount over the collected word table selects up to 4 "
        "symbol-disjoint merges applied together",
    ),
    "pq_train_gain": Query(
        pq_mod.q_pq_train_gain,
        pq_mod.Q_PQ_TRAIN_GAIN_SQL,
        "training-gain contract: mean quantization error of the "
        "sampled seed codebooks vs the Lloyd-trained ones, plus the "
        "beats_seed boolean — both regimes re-derived from scratch "
        "in the oracle (r9 verdict ask 3 as a permanent pin)",
    ),
}

# The driver's correctness harness verifies only the FIRST 50 registry
# entries in insertion order. To keep cumulative hard-signal coverage
# fresh, the least-recently-driver-verified entries are hoisted to the
# front each round. STALENESS BUDGET (r9 verdict ask 7): no query's
# driver row may be older than 3 rounds, and net registry additions
# stay <= 3-4/round so the 50-slot window can service the budget; each
# round's window arithmetic below is derived from that budget.
#
# Round-18 rotation (the r17 verdict's top-ranked ask — the r17
# window did NOT rotate, so the r16 comment's named debt aged one
# more round; at r18 the past-budget set is 16@r13 + 44@r14 = 60
# queries for 50 slots, and the TOUCH policy additionally demands
# driver rows for the r17-rewritten paths, 22 of which have none).
# Composition, in priority order:
# (a) the FULL 16-query last-green-r13 cohort (5 rounds stale, may
#     not be deferred again; includes 4 r17-rewritten paths:
#     semantic_dedup, cluster_purity, pagerank_neardup,
#     funnel_stages), registry order;
# (b) the 18 remaining r17-rewritten/touched paths with no r17
#     driver row (TOUCH policy: plan/kernel change outranks merely-
#     old rows) — 9 from the r14 cohort (minhash_near_dup_pairs,
#     dedup_clusters, ivf_persist_roundtrip, halo_smooth_multi_t +
#     the 5-query ivfpq family) and
#     9 from the r15 cohort (sketch/hll splits, simhash pair
#     enumeration, the pq widens, pagerank_neardup_lsh,
#     semantic_dedup_scaled), registry order within each;
# (c) 6 slots reserved for the paths round 18 itself plans to touch
#     (streaming block ×4, benchmark_decontam, and
#     tpch_q2_min_cost_supplier — the last also r14-stale);
# (d) the FIRST 10 of the remaining r14 cohort in registry order.
# 16 + 18 + 6 + 10 = exactly 50.
#
# After this window: staleness histogram is 50@r18 / 50@r17 / 36@r15
# / 24@r14. The 24-query r14 remainder (tpch_q8_market_share onward
# in registry order, minus the rows serviced here) is the named debt
# that must LEAD the next rotation; the r15 block follows. The
# r17-touched trio already driver-certified in r17
# (dedup_incremental, chunk_dedup, dup_span_extract) and the
# r17-green curation/ann rows deliberately yield their slots to the
# stale cohorts.
#
# Retire-or-keep: registry stays FLAT at 160 — optimization rounds
# change no contracts, only plans; every rewrite is oracle-pinned.
_VERIFY_FIRST: list[str] = [
    # -- (a) the full last-green-r13 cohort, registry order --
    "stratified_split",
    "unigram_logprob",
    "zipf_fit",
    "semantic_dedup",
    "domain_mix",
    "ks_drift",
    "cluster_purity",
    "cdc_chunks",
    "snapshot_diff",
    "k_anonymity",
    "pagerank_neardup",
    "multimodal_embed_topk",
    "text_normalize",
    "incremental_agg_refresh",
    "funnel_stages",
    "bpe_detok_roundtrip",
    # -- (b) r17-rewritten paths without an r17 driver row --
    # r14-stale members, registry order:
    "minhash_near_dup_pairs",
    "dedup_clusters",
    "ivf_persist_roundtrip",
    "halo_smooth_multi_t",
    "ivfpq_persist_topk",
    "ivfpq_recall_contract",
    "ivfpq_refine_topk",
    "ivfpq_refine_recall",
    "ivfpq_nprobe_curve",
    # r15-stale members, registry order:
    "sketch_accuracy_events",
    "hll_union_contract_events",
    "dedup_simhash",
    "simhash_near_dups",
    "semantic_dedup_scaled",
    "pq_codes",
    "pq_adc_topk",
    "pagerank_neardup_lsh",
    "pq_train_gain",
    # -- (c) round-18 planned-touch reservations --
    "stateful_user_totals_live",
    "streaming_dedup_events",
    "streaming_interval_join",
    "streaming_heavy_hitters",
    "benchmark_decontam",
    "tpch_q2_min_cost_supplier",
    # -- (d) first 10 of the remaining r14 cohort, registry order --
    "distributed_label_contract",
    "json_props_events",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "top_k_orders",
    "group_rollup",
    "tpch_q4_semijoin",
    "tpch_q7_volume",
]

QUERIES = {
    **{k: QUERIES[k] for k in _VERIFY_FIRST},
    **{k: v for k, v in QUERIES.items() if k not in _VERIFY_FIRST},
}


def _with_conventions(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the runtime session conventions (UTC TZ, nanosAsLong) before
    the query body runs — the driver calls these on a vanilla session,
    and the pin must not depend on which table a query happens to load
    first (round-4 advisory)."""
    from data_framework_spark.session import ensure_session_conventions

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_conventions(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_conventions(q.fn) for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
