"""Regenerate PLANS.md: the physical plans of the flagship queries with
commentary on why each is the plan we want at 100 TB.

Usage: python scripts/dump_plans.py [sf_dir]  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_audio_classification_spark.plans.introspect import formatted_plan
from big_data_audio_classification_spark.registry import all_queries
from big_data_audio_classification_spark.session import get_spark

# (query, what to look for in the plan)
SHOWCASE = [
    (
        "pricing_summary",
        "One parquet scan with the shipdate filter PUSHED into it "
        "(PushedFilters) and only 7 of 11 columns read (ReadSchema); "
        "partial_ then final HashAggregate around a single exchange — "
        "map-side combine means the shuffle carries 6 groups, not 600k "
        "rows. The whole pipeline is one WholeStageCodegen span.",
    ),
    (
        "join_inner_revenue_by_nation",
        "TPC-H Q5 shape: region filter applied then BROADCAST to nation, "
        "nation broadcast to customer — every dimension join is a "
        "BroadcastHashJoin; the only exchange on the fact side is the "
        "final group-by. No fact-fact shuffle at any SF where dims fit "
        "the broadcast threshold.",
    ),
    (
        "tpch_q3_shipping_priority",
        "Both date filters reach their scans; the ORDER BY + LIMIT "
        "plans as TakeOrderedAndProject (per-partition top-10 merged on "
        "the driver) — a global sort exchange never appears.",
    ),
    (
        "join_asof_purchase_click",
        "As-of join via union + window carry-forward: ONE exchange "
        "(hashpartitioning on user_id), one sort within partitions, "
        "zero row explosion — contrast with the naive range-join-then-"
        "prune which is quadratic per user.",
    ),
    (
        "dedup_minhash_keep_first",
        "Linear-output LSH dedup: explode -> two hash aggregates -> one "
        "band-keyed SortMergeJoin -> final aggregate. Document text "
        "never shuffles (only digests and band keys move); no pair "
        "materialization anywhere in the plan.",
    ),
    (
        "sim_ivf_topk",
        "IVF ANN: centroids BROADCAST for assignment (map-only), then "
        "candidate↔probe pairing is an EQUI-join on cell_id — the plan "
        "contains no CartesianProduct/BroadcastNestedLoopJoin over the "
        "corpus.",
    ),
    (
        "curation_token_budget_select",
        "Two-phase global running sum: the only unpartitioned window "
        "runs over the ~100-row bin ledger; the data-sized window is "
        "partitioned by qbin (hashpartitioning on qbin in the "
        "exchange), so selection parallelizes across bins.",
    ),
    (
        "scale_dpp_partitioned_join",
        "Dynamic partition pruning: the fact scan's PartitionFilters "
        "carry a dynamicpruningexpression — the dim filter on a "
        "non-join column prunes fact partitions at RUNTIME.",
    ),
    (
        "dedup_prefix_filter_join",
        "Exact set-similarity join with NO cross join anywhere: "
        "candidate generation is a hash equi-join on the 60-bit "
        "shingle hash restricted to rarest-shingle prefixes, "
        "verification two more equi-joins keyed on doc id; the "
        "posting table is materialized once (localCheckpoint) and "
        "fans out to all four consumers.",
    ),
    (
        "retrieval_bm25_topk",
        "BM25: the term filter sits directly on the exploded postings "
        "(only query-term postings survive into the shuffle), df and "
        "corpus stats arrive via BroadcastHashJoin / 1-row broadcast "
        "nested loop, and the global top-k is TakeOrderedAndProject — "
        "a per-partition heap, not a full sort.",
    ),
    (
        "events_gap_islands_sessions",
        "Sessionization in ONE exchange: both windows (lag, running "
        "break count) and the final (user, session) aggregate share "
        "the same hashpartitioning(user_id) — Catalyst plans a single "
        "shuffle for the whole operator.",
    ),
    (
        "er_blocked_fuzzy_parts",
        "Blocked record linkage with exact-collapse-before-fuzzy-verify: "
        "records first aggregate to (block, distinct name, multiplicity); "
        "the equi-join on the block key pairs DISTINCT NAMES only, and "
        "record-pair statistics are recovered by multiplicity weighting "
        "— 10x records left the verify cost unchanged (SURVEY §9). No "
        "CartesianProduct/BroadcastNestedLoopJoin anywhere.",
    ),
    (
        "stats_mann_whitney_u",
        "Distributed exact rank statistic: ties collapse in a "
        "groupBy(v); cumulative counts run in a window PARTITIONED BY "
        "the range bucket (parallel local prefix sums); bucket offsets "
        "come from a broadcast triangular join over <=256 rows. No "
        "'Exchange SinglePartition -> Window' appears — the shape that "
        "single-node rank tests force and this plan removes.",
    ),
    (
        "events_ewma_deviation",
        "Bounded-state EWMA: one hashpartitioning(user_id) exchange is "
        "shared by the row_number, the 64-row sliding collect_list "
        "frame, and the final per-user aggregate; the Horner fold over "
        "the frame is a codegen'd higher-order function — no Python, "
        "no unbounded window state, no second shuffle.",
    ),
    (
        "stats_psi_drift",
        "Drift monitor: ONE scan histograms baseline and current "
        "periods together (conditional partial_sums, map-side "
        "combined); the per-type totals window and the final PSI/JSD "
        "aggregate both run over the <= |types| x 10 histogram rows, "
        "never the events; the (min,max) bounds arrive as a 1-row "
        "broadcast.",
    ),
    (
        "stats_median_ci",
        "Order statistics WITHOUT a global sort: the fact is binned "
        "against a broadcast (min,max), the only unpartitioned window "
        "runs over the <=1024-row bin LEDGER, and the fact-sized "
        "row_number window is PARTITIONED BY bin — the oracle's "
        "ROW_NUMBER-over-everything shape (Exchange SinglePartition -> "
        "Sort) never appears.",
    ),
    (
        "events_rolling_active_users",
        "Rolling distinct actives via bounded fan-out: Generate "
        "(sequence+explode, a x7 row multiplier) replaces the naive "
        "|days| x |user-days| range join — no NestedLoopJoin in the "
        "plan; the observed-day spine and the final DAU/WAU pairing "
        "arrive as BroadcastHashJoins, and both distinct counts are "
        "ordinary partial-aggregated exchanges.",
    ),
    (
        "stats_poisson_bootstrap_ci",
        "Resampling in ONE pass: Generate(explode) multiplies each "
        "order by the 64 replicates, but partial_sum on the replicate "
        "key folds the blow-up back to 64 partials per task BEFORE the "
        "exchange — the shuffle carries 64 rows per map task, never "
        "the x64 fact. ReadSchema shows only (o_orderkey, o_totalprice) "
        "leave the scan; the LCG weights are codegen'd integer "
        "arithmetic, no Python, no RNG state.",
    ),
    (
        "ml_decision_stump",
        "XGBoost-approx split finding: the feature range arrives as a "
        "1-row BroadcastNestedLoopJoin, the fact folds into a <=128-bin "
        "partial-aggregated histogram, and every downstream window/"
        "argmin runs over those 128 rows — TakeOrderedAndProject picks "
        "the best split; no fact-sized sort or window anywhere.",
    ),
    (
        "stats_cuped_adjustment",
        "CUPED covariate adjustment: the purchase predicate is PUSHED "
        "into the events scan (PushedFilters) with only (user_id, ts, "
        "value) read; ONE user-grain combine is partial-aggregated "
        "map-side, the 2-row arm frame carries the six sufficient "
        "statistics, and theta / adjusted means / variance reduction "
        "are scalar algebra behind a 1-row broadcast — no window, no "
        "second fact pass.",
    ),
    (
        "ml_logistic_irls_step",
        "Distributed GLM as a query: ONE lineitem-free scan of orders "
        "folds the fact table into nine integer-exact moments via "
        "partial_ HashAggregate (map-side combine), and the 3x3 Newton "
        "solve is pure projection algebra over the single moment row — "
        "per-row coefficients never exist, so a logistic step at 100 TB "
        "is exactly one scan + a 1-row exchange.",
    ),
    (
        "warehouse_cdc_apply",
        "APPLY CHANGES: the change stream folds FIRST via "
        "partial_max_by on the key (no window over the raw stream — "
        "the compaction happens map-side before the exchange), and the "
        "only row-level join is the single full-outer snapshot merge; "
        "the outcome census is one more keyed aggregate.",
    ),
    (
        "agg_kmv_distinct",
        "Mergeable bottom-k sketch: the hash-distinct collapses "
        "map-side, then TakeOrderedAndProject picks the k smallest per "
        "partition and merges — there is NO global sort of hash values "
        "anywhere; the exact-distinct companion rides the same scan "
        "shape and attaches as a 1-row broadcast.",
    ),
    (
        "ml_scaling_curve",
        "A whole learning curve from one scan: per-bucket integer "
        "moments partial-aggregate to 10 rows, the cumulative window "
        "runs over that 10-row frame (never the fact table), and every "
        "fit AND its holdout MSE are projection algebra — four nested "
        "training fractions, zero re-scans.",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dump-plans")
    qs = all_queries()
    out = [
        "# PLANS — flagship physical plans, annotated",
        "",
        "Generated by `python scripts/dump_plans.py` (explain('formatted') at "
        f"`{sf_dir}`). Each plan is the shape asserted in tests/test_plans.py — "
        "regenerate after changing an operator.",
        "",
    ]
    for name, why in SHOWCASE:
        plan = formatted_plan(qs[name].fn(spark, sf_dir))
        # keep the physical-plan tree + the scan details, drop the long
        # per-node field dumps beyond what the commentary references
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
