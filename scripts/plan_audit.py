"""Generate PLANS.md: formatted physical plans of representative
queries with the scale-relevant observations called out.

Run: python scripts/plan_audit.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from f1_data_engineering_spark.operators import analytics as AN
from f1_data_engineering_spark.operators import analytics2 as A2
from f1_data_engineering_spark.operators import analytics3 as A3
from f1_data_engineering_spark.operators import decontam as DC
from f1_data_engineering_spark.operators import f1_fixture_queries as FX
from f1_data_engineering_spark.operators import textops as TX2
from f1_data_engineering_spark.operators import dedup as DD
from f1_data_engineering_spark.operators import graphops as GR
from f1_data_engineering_spark.operators import curation as CU
from f1_data_engineering_spark.operators import layout as LY
from f1_data_engineering_spark.operators import merge as MG
from f1_data_engineering_spark.operators import profiling as PF
from f1_data_engineering_spark.operators import relational as R
from f1_data_engineering_spark.operators import similarity as SIM
from f1_data_engineering_spark.operators import timeops as TO
from f1_data_engineering_spark.operators import trainprep as TP
from f1_data_engineering_spark.operators import analytics5 as A5
from f1_data_engineering_spark.plans import count_exchanges, physical_plan
from f1_data_engineering_spark.session import get_spark

SF = "/root/testdata/sf0.1"

AUDIT = [
    (
        "q1_pricing_summary",
        R.q1_pricing_summary,
        "Scan with pushed shipdate filter + 7/11 column ReadSchema → "
        "partial hash agg → single exchange on 2 keys → final agg → sort. "
        "The shuffle moves pre-aggregated partials only.",
    ),
    (
        "q6_forecast_revenue",
        R.q6_forecast_revenue,
        "All four predicates in PushedFilters; the aggregate is scan-side "
        "partial + single-row exchange — the pure-pushdown shape.",
    ),
    (
        "revenue_by_nation",
        R.revenue_by_nation,
        "lineitem⋈orders shuffle-joins on orderkey; customer and nation "
        "broadcast (no fact-side shuffle for the dims); AQE may demote the "
        "orders join to broadcast at small SF.",
    ),
    (
        "range_join_events_orders",
        R.range_join_events_orders,
        "Bucketized interval join: explode to ≤2 week buckets → equi join "
        "on bucket + residual band filter. No BroadcastNestedLoopJoin in "
        "the plan — the theta join never materializes.",
    ),
    (
        "minhash_lsh_pairs",
        DD.minhash_lsh_pairs,
        "Signature build is a map-only scan stage (md5 per token + affine "
        "transforms); banding joins are equi joins on (band, key); the "
        "cached signature table is reused by three consumers.",
    ),
    (
        "ann_bruteforce_topk",
        SIM.ann_bruteforce_topk,
        "Query vectors broadcast; cosine runs in the scan stage; ranking "
        "is a per-query window on k·q rows.",
    ),
    (
        "lsh_multiprobe_ann",
        SIM.lsh_multiprobe_ann,
        "IVF shape: probe cells exploded to literal bucket keys → "
        "broadcast hash join on the bucket (corpus side never shuffles); "
        "only probed cells' vectors are ever scored.",
    ),
    (
        "profile_orders",
        PF.profile_orders,
        "Single scan feeds one hash aggregate (Expand for the exact "
        "distinct counts) → 1-row exchange → stack unpivot. Column stats "
        "without a second pass.",
    ),
    (
        "stratified_sample_orders",
        PF.stratified_sample_orders,
        "Zero-exchange plan: the md5 keep-predicate is evaluated in the "
        "scan stage; no shuffle, no sort, no rand() — deterministic "
        "sample at scan bandwidth.",
    ),
    (
        "decontaminate_ngrams",
        DC.decontaminate_ngrams,
        "Eval n-gram set is built once and BROADCAST; the train corpus "
        "streams past it (no shuffle ever touches document bodies) — the "
        "only exchange carries (doc_id, hit-count) partial aggregates.",
    ),
    (
        "scd2_customer_merge",
        MG.scd2_customer_merge,
        "MERGE as ONE full-outer shuffle join + Generate(inline): each "
        "joined row expands to 0-2 version rows by expression — no "
        "UNION re-scan of the dimension per MERGE branch.",
    ),
    (
        "zorder_tile_stats",
        LY.zorder_tile_stats,
        "Bounds agg broadcasts a single row back onto the scan; quantize "
        "+ bit-interleave run scan-side; one hash aggregate on the tile. "
        "The write path would range-partition on the same z key.",
    ),
    (
        "compaction_plan",
        LY.compaction_plan,
        "Operates on the file LISTING (rows ∝ file count): inventory agg "
        "→ per-partition window cumsum → bin agg. Windows partition by "
        "the table partition, so plans for different partitions "
        "parallelize and bins never cross partition boundaries.",
    ),
    (
        "numeric_corr_matrix",
        PF.numeric_corr_matrix,
        "Whole correlation matrix from ONE scan: every decimal moment "
        "(n, Σx, Σx², Σxy for all pairs) partial-aggregates map-side, the "
        "exchange carries a single row, and the pair expansion is a "
        "plan-time explode of that row — vs one job per pair for a "
        "df.stat.corr loop.",
    ),
    (
        "inverted_index",
        TX2.inverted_index,
        "Explode → (term, doc) hash agg (map-side combined) → per-term "
        "window for champions → per-term rollup. The full posting list "
        "never materializes into an array; only K champions per term do.",
    ),
    (
        "orderkey_islands",
        AN.orderkey_islands,
        "Two-level gaps-and-islands: bucket-partitioned window does the "
        "heavy detection; the single unpartitioned window runs over the "
        "ISLAND list only (rows ∝ islands, not keys) — no global sort of "
        "the key universe.",
    ),
    (
        "grouping_sets_revenue",
        AN.grouping_sets_revenue,
        "One Expand (3 grouping sets) → single hash aggregate + one "
        "exchange of pre-aggregated partials — three aggregation levels "
        "for one scan.",
    ),
    (
        "embedding_quantize_int8",
        SIM.embedding_quantize_int8,
        "Zero-exchange map-only plan: array transform/aggregate exprs in "
        "the scan stage (JVM codegen), sort only for presentation — at "
        "scale this is scan-bandwidth-bound compression.",
    ),
    (
        "latest_event_state",
        TO.latest_event_state,
        "Last-write-wins snapshot: ONE exchange on the key feeds a single "
        "window pass computing both row_number and the per-key count — no "
        "self-join, no second aggregate.",
    ),
    (
        "daily_order_spine",
        AN.daily_order_spine,
        "Calendar spine from a 1-row aggregate exploded plan-side; per-day "
        "partials are the only full-data shuffle; the rolling window runs "
        "over days (metadata-sized).",
    ),
    (
        "variant_props_rollup",
        R.variant_props_rollup,
        "VARIANT path: parse_json once in the scan stage, binary "
        "variant_get extraction (no re-parse per field), then a plain "
        "partial-aggregated rollup.",
    ),
    (
        "event_funnel",
        A2.event_funnel,
        "Conditional re-aggregation: three user_id-keyed aggregates "
        "chained by joins on the same key — one partitioning layout "
        "end to end; the final agg is a single-row reduce.",
    ),
    (
        "countmin_sketch",
        A2.countmin_sketch,
        "Sketch build: explode ×4 stays in the scan stage; partial "
        "hash agg collapses each partition to ≤256 cells BEFORE the "
        "exchange — constant shuffle volume at any input size.",
    ),
    (
        "priority_sample_orders",
        A2.priority_sample_orders,
        "Weighted sample: priorities computed scan-side, "
        "TakeOrderedAndProject keeps a k-row heap per partition and "
        "merges k·partitions rows at the driver — no global sort.",
    ),
    (
        "ivf_ann",
        SIM.ivf_ann,
        "IVF search: cell assignment is one broadcast pass (16-row "
        "centroid BNLJ fan-out + max-struct hash aggregate, no corpus "
        "window); candidates come from a broadcast equi join on the "
        "cell id — each query touches nprobe/NLIST of the corpus.",
    ),
    (
        "bm25_rank",
        TX2.bm25_rank,
        "Ranked retrieval: postings = tokenize → filter to query terms "
        "→ groupBy, so the shuffled tf table is query-sized; df and "
        "corpus stats broadcast; one window over the matched docs only.",
    ),
    (
        "lm_perplexity",
        TX2.lm_perplexity,
        "Bigram LM: bigrams built scan-side from the token array (no "
        "positional self-join); model (vocab²-bounded) broadcasts into "
        "the scoring join; per-doc sums aggregate exactly in decimal.",
    ),
    (
        "scd2_point_in_time",
        MG.scd2_point_in_time,
        "As-of version join: the temporal predicate is a residual "
        "filter on the custkey hash join — per-key version selection, "
        "never a dimension-wide range join.",
    ),
    (
        "segment_dedup_clean",
        DD.segment_dedup_clean,
        "Dedup TRANSFORM: first-occurrence survival via one window "
        "hash-partitioned by the 60-bit segment hash, then one doc_id "
        "aggregate for reassembly — two shuffles, both inherent (the "
        "output IS the cleaned corpus). No cartesian anywhere.",
    ),
    (
        "gopher_rules",
        TX2.gopher_rules,
        "Five rules scan-side in one projection; the top-token rule is "
        "two hash aggregates over (doc_id, token-hash) — 8-byte keys — "
        "joined back on doc_id; rollup output is source-cardinality.",
    ),
    (
        "dsir_importance_weights",
        TP.dsir_importance_weights,
        "Bucket LMs are feature-space-sized tables broadcast into the "
        "per-(doc, bucket) scoring aggregate; decimal-exact log sums; "
        "the only corpus-sized shuffle carries (doc_id, bucket, count).",
    ),
    (
        "stride_downsample",
        R.stride_downsample,
        "O7 two-level global row-numbering: bucket-partitioned "
        "row_number (no single-partition WindowExec) + broadcast "
        "bucket-offset join; the bucket-count aggregate is the only "
        "extra job and is metadata-sized.",
    ),
    (
        "f1_weather_trends",
        FX.f1_weather_trends,
        "Round-4 rewrite: the tick flag uses the same two-level "
        "bucketed row_number as stride_downsample — bucket-partitioned "
        "window + broadcast offsets, no partition-less WindowExec and "
        "no separate count() scan; safe for a concatenated "
        "multi-season weather table.",
    ),
    (
        "sliding_zscore_anomaly",
        A3.sliding_zscore_anomaly,
        "One exchange on user_id feeds a single WindowExec computing "
        "count/Σv/Σv² over the trailing-20 frame in one pass; the "
        "z-score and both filters are codegen'd projections on top — "
        "no joins, no second shuffle.",
    ),
    (
        "mad_outlier_events",
        A3.mad_outlier_events,
        "Two grouped exact percentiles on the bounded event_type key, "
        "each re-entering the fact scan as a BROADCAST hash join; the "
        "final census aggregates map-side.  At an unbounded key the "
        "percentile swaps for approx_percentile (mergeable t-digest).",
    ),
    (
        "pareto_frontier_orders",
        A3.pareto_frontier_orders,
        "Date-partitioned row_number prunes to one champion per date "
        "BEFORE the global running-max window, so the partition-less "
        "WindowExec sees only |distinct dates| rows (calendar-bounded); "
        "dominance compares exact DECIMAL(12,2).",
    ),
    (
        "term_cooccurrence_pmi",
        TX2.term_cooccurrence_pmi,
        "Top-40 vocabulary via TakeOrderedAndProject (no global sort), "
        "broadcast into the doc-term scan; the co-occurrence self-join "
        "shuffles ≤40 rows per doc and the pair aggregate is "
        "|vocab|²-bounded with map-side combine.",
    ),
    (
        "triangle_count_trade",
        GR.triangle_count_trade,
        "Edge build: two broadcast dim joins + one fact equi-join, then a "
        "16-byte-key pair aggregate; the ≤625 edges are cogrouped with "
        "nation on one constant key and counted in one applyInPandas "
        "task — no nested loop, no per-round join.",
    ),
    (
        "semdedup_prune",
        SIM.semdedup_prune,
        "Cell assignment is ONE broadcast pass + max-struct hash aggregate "
        "(map-side partials); candidate pairs come from a cell equi-join of "
        "the cached assigned table against itself; the prune decision is a "
        "per-vector MAX — no pairwise matrix is ever materialized.",
    ),
    (
        "exact_substring_dup",
        DD.exact_substring_dup,
        "Windows are hashed to 60-bit ints inside the scan stage (spread "
        "first: compute-bound per char, so parallelism comes from rows); "
        "both the occurrence aggregate and the dup semi-join carry 8-byte "
        "keys only — window TEXT never shuffles.",
    ),
    (
        "bfs_hops_trade",
        GR.bfs_hops_trade,
        "Same distributed edge build as the triangles; sparsification "
        "and every BFS hop run in the one cogrouped applyInPandas task, "
        "so the plan has one FlatMapCoGroupsInPandas and no per-hop "
        "join or checkpoint.",
    ),
    (
        "cc_star_contraction",
        GR.cc_star_contraction,
        "Each star round is two aggregate+join passes over the current "
        "edge set (per-node min via hash aggregate, neighbors rejoined — "
        "no per-node neighbor arrays); rounds are O(log² n) in component "
        "size, and the fixpoint check is a 1-row checksum aggregate.",
    ),
    (
        "training_shard_manifest",
        TP.training_shard_manifest,
        "Row-local md5 shard assignment inside the scan, then ONE "
        "map-side-combined hash aggregate onto 8 shard keys — no window, "
        "no sort before the 8-row output.",
    ),
    (
        "curation_pipeline",
        CU.curation_pipeline,
        "Four curation stages in ONE plan: the quality/fingerprint scan "
        "is cached and fans out to every stage; exact dedup is one "
        "window on the 16-byte fp; the LSH band join shuffles K-long "
        "signatures (never text); eval grams broadcast into the "
        "contamination join; the five per-source rollups reunite via "
        "broadcast joins on the tiny source key.",
    ),
    (
        "kmv_set_ops",
        A5.kmv_set_ops,
        "Two-level bottom-K: the (g, salt)-partitioned window prunes to "
        "≤16·64 candidates per group BEFORE the per-group rank — no "
        "unbounded single-partition sort; pair merges and estimates run "
        "on K-row sketches only (the exact audit columns are the one "
        "corpus-sized leg, dropped in production).",
    ),
    (
        "bloom_prune_stats",
        A5.bloom_prune_stats,
        "Filter build is one bit_or hash aggregate onto ≤133 word keys "
        "(map-side partials OR locally); every probe leg joins the "
        "133-row table via BroadcastHashJoin — the materialized runtime-"
        "filter plan; the truth leg is a distinct-project + broadcast "
        "join, no fact-fact shuffle anywhere.",
    ),
    (
        "weighted_systematic_sample",
        A5.weighted_systematic_sample,
        "Global cumsum without a global window: cumsum windows partition "
        "by the 64 hash-prefix buckets, bucket totals collect (64 rows) "
        "and broadcast back as prefix offsets; selection is integer "
        "floor-div arithmetic in the scan stage.",
    ),
    (
        "moment_stats",
        A5.moment_stats,
        "Two-level sorted fold: level 1 folds within (group, id%64) "
        "buckets — per-task arrays bounded at n_g/64 — level 2 folds 64 "
        "bucket sums; replaces the per-group collect_list whose arrays "
        "grow with the corpus (measured 10.2 s → 3.1 s at sf0.1).",
    ),
    (
        "snapshot_diff",
        MG.snapshot_diff,
        "ONE full-outer SortMergeJoin on the key classifies every row "
        "into its CDC change type; the aggregate is map-side combined "
        "onto (segment, change_type). Bucket both snapshots on the key "
        "(sources/bucketed.py) and the exchange disappears.",
    ),
]

from f1_data_engineering_spark.operators import analytics4 as A4  # noqa: E402

AUDIT += [
    (
        "hll_distinct_users",
        A4.hll_distinct_users,
        "Sketch build = ONE hash aggregate on (group, bucket) with "
        "map-side partials — ≤256 rows per group per task cross the "
        "shuffle regardless of input size; everything downstream "
        "(merge row, fold, estimate) runs on the O(groups × 256) "
        "register relation.",
    ),
    (
        "skew_join_salted",
        A4.skew_join_salted,
        "The join keys are (custkey, salt): the fact side hashes to 8 "
        "salts, the dim side is exploded 8× with literal salts — a hot "
        "customer's rows spread over 8 reducers.  Same result as the "
        "plain join (the oracle IS the plain join).",
    ),
    (
        "equidepth_bins",
        A4.equidepth_bins,
        "Exact global NTILE without the single-partition-window "
        "anti-pattern: RangePartitioning exchange on the sort key, "
        "per-partition row_number (every Window partitioned by __pid), "
        "broadcast offset arithmetic, then one hash aggregate per bin. "
        "No stage materializes more than one range partition's rows.",
    ),
    (
        "winsorized_stats",
        A4.winsorized_stats,
        "Exact distributed percentiles: range exchange + pinned "
        "per-partition ranks + a 4-rank filter per group feed the lerp; "
        "the stats pass is one broadcast join (group → p01/p99) + one "
        "hash aggregate with sorted-fold sums.  No per-group "
        "collect_list of the raw values.",
    ),
    (
        "negative_sampling_pairs",
        A4.negative_sampling_pairs,
        "Candidate pool = global top-(K+max_pos) by hash via "
        "TakeOrderedAndProject (distributed per-partition top-k, no "
        "single-partition window); anchors × pool is a broadcast "
        "cross-join bounded by the pool size; positives excluded with a "
        "LEFT ANTI join; per-anchor ranking windows on anchor_id.",
    ),
]

from f1_data_engineering_spark.operators import analytics7 as A7  # noqa: E402
from f1_data_engineering_spark.streaming import join_stream as JSP  # noqa: E402

AUDIT += [
    (
        "cusum_event_drift",
        A7.cusum_event_drift,
        "CUSUM without a driver loop: ONE map-combinable hourly rollup "
        "is the only corpus-sized aggregate; the detector is two ordered "
        "windows (running sum + running min of integer deviations) over "
        "the hours×types relation, every window partitioned by "
        "event_type — never a single global partition.",
    ),
    (
        "view_purchase_outer",
        JSP.view_purchase_outer,
        "Outer interval join keys on user_id first (both sides hash-"
        "partition once); the time-range predicate prunes inside the "
        "partition.  The same predicate is the streaming form's state-"
        "eviction bound — batch plan and stream plan share the shape.",
    ),
    (
        "bpe_encode_corpus",
        TP.bpe_encode_corpus,
        "Tokenizer application: the merge chain runs on the distinct "
        "vocabulary (Zipf-small, cached); the corpus is scanned ONCE — "
        "explode → equi-join word→counts → per-doc hash aggregate; no "
        "symbol array crosses a shuffle.",
    ),
]


def _dml_mor_read_probe(spark, sf):
    """Internal plan of the merge-on-read path: a snapshot read over a
    lake carrying a deletion vector.  (The registered dml_* queries
    return PINNED local summaries — their interesting plans are the
    internal scans like this one.)"""
    import os
    import tempfile

    from f1_data_engineering_spark.sources import dml as DML
    from f1_data_engineering_spark.sources import versioned as V

    t = os.path.join(tempfile.mkdtemp(prefix="plan_dml_"), "orders_lake")
    orders = R.load_table(spark, sf, "orders")
    V.write_versioned(
        orders.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
    )
    DML.delete_where_mor(spark, t, "o_orderkey % 4 = 1")
    return V.read_versioned(spark, t)


AUDIT += [
    (
        "dml_mor_snapshot_read (internal probe)",
        _dml_mor_read_probe,
        "Merge-on-read: the snapshot scan anti-joins the deletion-vector "
        "sidecar on (owning file, row position).  The DV side is "
        "O(MoR-deleted rows) — a BroadcastHashJoin LeftAnti riding the "
        "parquet scan, so deletes cost one broadcast probe per row, "
        "never a shuffle; compaction materializes the DVs away and the "
        "anti-join disappears from the plan entirely.",
    ),
    (
        "simhash_near_dup_pairs",
        DD.simhash_near_dup_pairs,
        "Banded Hamming join: the one-long-per-doc signature frame "
        "explodes to 4 15-bit band keys and self-joins as a HASH EQUI "
        "join on (band, key) — only band collisions materialize, never "
        "the n² pair space; the popcount filter is scan-side on the "
        "joined rows. Lossless for Hamming ≤ 3 by pigeonhole (the "
        "brute-force oracle re-proves it per run).",
    ),
    (
        "epoch_shuffle_plan",
        TP.epoch_shuffle_plan,
        "Seeded-hash epoch permutation: shard = hash % N evaluated "
        "scan-side (hash-balanced, no global rank), position = "
        "row_number over a shard-partitioned window — ONE exchange on "
        "the shard key, per-shard sort only. No rand(), no global sort, "
        "bit-reproducible per epoch.",
    ),
]


def main() -> None:
    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    out = [
        "# PLANS — physical-plan audit (sf0.1, AQE on)",
        "",
        "Generated by `scripts/plan_audit.py`. Complementary hard checks "
        "live in `tests/test_plans.py` (pushdown/pruning/broadcast/"
        "no-nested-loop assertions run in CI).",
        "",
    ]
    for name, fn, note in AUDIT:
        df = fn(spark, SF)
        plan = physical_plan(df, "formatted")
        # keep the operator tree + the scan details, drop column id noise
        plan = re.sub(r"#\d+L?", "", plan)
        out.append(f"## {name}")
        out.append("")
        out.append(note)
        out.append("")
        out.append(f"Shuffle exchanges in static plan: {count_exchanges(df)}")
        out.append("")
        out.append("```")
        out.append(plan.strip()[:4000])
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
