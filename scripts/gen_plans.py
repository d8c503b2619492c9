"""Regenerate PLANS.md — formatted-explain excerpts for flagship
queries with the scale rationale next to the actual plan, so the
100 TB claims are checkable against what Catalyst really builds.

Run:  python scripts/gen_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from real_estate_etl_dev_spark.planview import explain_formatted  # noqa: E402
from real_estate_etl_dev_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_PLANS_SF_DIR", "/root/testdata/sf0.001")

# (query, what to look for in the plan)
SHOWCASE = [
    (
        "embedding_centroids",
        "posexplode multiplies rows by dim, but partial_avg combines "
        "MAP-SIDE before the exchange — the shuffle carries |labels|*dim "
        "partials per task, not |vectors|*dim rows.",
    ),
    (
        "doc_decontaminate",
        "Eval suite collapses to distinct 8-grams and BROADCASTS into a "
        "left-semi probe of the exploded corpus grams — the corpus side "
        "is never shuffled on the gram key.",
    ),
    (
        "monthly_order_counts",
        "Scan reads ONE column (ReadSchema) and the partial_count runs "
        "map-side before the 24-key exchange; the month keys are bounded, "
        "so the sort runs in one task after Coalesce(1) — no range exchange.",
    ),
    (
        "revenue_by_nation",
        "nation broadcasts (bounded dim); the customer join is left to "
        "AQE — no forced hint on an SF-scaling table; the 25 nation rows "
        "sort in one task.",
    ),
    (
        "latest_order_per_customer",
        "Top-1-per-group as ONE window shuffle (rank over o_custkey), "
        "not the agg+self-join two-shuffle shape.",
    ),
    (
        "merge_scd1",
        "The whole SCD-1 field policy is ONE full-outer SortMergeJoin on "
        "url plus the stacked projections of the staged merge kernel "
        "— no per-key probes, no second pass.  The query drops "
        "the change log, so no change struct is built.",
    ),
    (
        "asof_error_click",
        "As-of join with NO join operator: unionByName, one "
        "hashpartitioning exchange on user_id, in-partition sort, "
        "running last(ignorenulls).",
    ),
    (
        "rolling_7d_revenue",
        "The RANGE window consumes the DAILY aggregate — the "
        "SinglePartition sort sits above a HashAggregate that bounds "
        "rows to ~one per calendar day at any SF.",
    ),
    (
        "dedup_exact_groups",
        "Exact dedup keyed on md5(text): one exchange on the content "
        "hash; duplicate classes land on one reducer; pair growth "
        "is linear in corpus size.",
    ),
    (
        "price_band_join",
        "Inequality join against a 5-row bands dim plans as "
        "BroadcastNestedLoopJoin — the fact table never shuffles; only "
        "the 5-key re-aggregation exchanges.",
    ),
    (
        "orders_keyset_page",
        "Keyset pagination: the seek predicate reaches the parquet scan "
        "as PushedFilters — no OFFSET scan-and-discard, no global sort.",
    ),
    (
        "tag_reconcile",
        "The second merge engine: ONE full-outer join on the compound "
        "(property_id, name) key replaces the reference's per-property "
        "ORM loop.",
    ),
    (
        "hash_split_counts",
        "Deterministic train/val/test split: the md5-bucket assignment "
        "is a map-only projection — no shuffle, no RNG — followed only "
        "by the count aggregation.",
    ),
    (
        "dedup_minhash_pairs",
        "MinHash recall gate: the banding is ONE equality exchange on "
        "(band_idx, band_val) with JVM-side pair expansion; the planted "
        "ground-truth side is tiny by construction and broadcasts.",
    ),
    (
        "dedup_bucket_audit",
        "The bucket-cap observable: both audits are "
        "groupBy-count histograms over the same banding exchange as the "
        "pair operators — no joins, no pair expansion, safe to run on "
        "any corpus before committing to a capped dedup pass.",
    ),
    (
        "misc_extraction_cases",
        "Twenty scalar outputs, ONE column read (ReadSchema prunes "
        "orders to o_orderkey), Python confined to the Arrow-batched "
        "html UDF, single range-partition exchange for the output sort.",
    ),
    (
        "doc_pack_assignments",
        "Sequence packing: the running-sum window exchanges ONCE on "
        "(lang, shard) and the pack rollup reuses that partitioning — "
        "no second data shuffle (subset hash partitioning satisfies "
        "the rollup's clustered distribution).",
    ),
    (
        "dedup_incremental_against_corpus",
        "Cross-batch dedup: the corpus collapses to DISTINCT content "
        "hashes BELOW the join (HashAggregate under the join build "
        "side), so join state is |unique texts|; AQE broadcasts it at "
        "this SF and falls back to a hash join when it outgrows the "
        "threshold.",
    ),
    (
        "cms_heavy_hitters_users",
        "Engine-native count-min sketch: the build is explode + "
        "groupBy(d,b) with MAP-SIDE partial_count (each task ships at "
        "most depth*width cells, never raw keys); the probe joins the "
        "bounded cell table via BroadcastHashJoin — no sort-merge, no "
        "Python worker anywhere.",
    ),
    (
        "doc_repetition_scores",
        "Within-doc repetition: duplicate-bigram fraction as pure "
        "codegen array expressions (transform over an index sequence + "
        "array_distinct) — map-only per doc, one bounded 5-key rollup, "
        "no UDF anywhere.",
    ),
    (
        "price_mad_outliers",
        "ONE scan, ONE hash exchange: every window shares the group "
        "partitioning and the median/MAD scalars propagate via "
        "unbounded-frame window max — no self-join, no broadcast, no "
        "re-scan (the naive three-frame form scans orders three times).",
    ),
    (
        "dedup_setsim_prefix",
        "Prefix-filter set-similarity: candidates come from single-token "
        "equality on xxhash64-hashed rarest-first prefix tokens (8-byte "
        "shuffle rows — sizes + hashed token, never the token arrays or "
        "strings), pruned in-join by the exact-rational PPJoin "
        "positional bound, then sets re-join by id for exact "
        "verification; the ranked aggregation feeding all four plan "
        "consumers is checkpoint-pinned once — no all-pairs product "
        "anywhere.",
    ),
    (
        "setsim_bucket_audit",
        "The PPJoin tier's occupancy observable: the SAME prefix "
        "expansion as the join (shared helper, rational bound in-plan), "
        "one groupBy(ptok) occupancy agg, corpus-constant totals "
        "attached via a 1-row broadcast combine — no window over the "
        "expansion, no second tokenization.",
    ),
    (
        "trade_graph_pagerank",
        "Iterative PageRank as a DAG of per-round plans: one edge join "
        "keyed by src + one keyed agg on dst per round, rank/degree "
        "frames checkpointed so no round re-derives its predecessors; "
        "top-30 is a TakeOrderedAndProject.",
    ),
    (
        "merge_scd2_intervals",
        "SCD-2: closed history is a pass-through filter with NO "
        "exchange; the open slice joins the updates ONCE and each row "
        "explodes inline (Generate) into its 1-or-2 output intervals.",
    ),
    (
        "local_supplier_volume",
        "TPC-H Q5: region restricts to ONE key and broadcasts through "
        "nation into customer BEFORE the fact joins; the co-nation "
        "equality rides inside the supplier join condition, never a "
        "post-join filter.",
    ),
    (
        "dedup_setsim_hybrid",
        "Hot-token hybrid (r08): the occupancy-filtered hot-token table "
        "broadcasts into an anti-join (cold prefix rows keep the exact "
        "PPJoin with its hashed 8-byte candidate keys) and a semi-join "
        "(hot docs route to capped set-MinHash banding); both tiers' "
        "candidates union into ONE shared exact-Jaccard verify — the "
        "quadratic hot mass never reaches a join.",
    ),
    (
        "embedding_ann_recall_cost",
        "ANN operating curve (r08): corpus∪queries signed ONCE at the "
        "widest signature (checkpoint-pinned decimal folds), each sweep "
        "point derives its bucket by bit-masking; all 7 points union "
        "into one tall candidates frame folded by a single grouped "
        "aggregation — |points| linear passes, no per-point scalar "
        "combines.",
    ),
    (
        "customer_order_distribution_q13",
        "TPC-H Q13 (r08): exclusion predicate pushed to the orders "
        "scan; ONE custkey shuffle feeds both the outer join and the "
        "per-customer count (partitioning reuse); the histogram agg "
        "collapses to a few dozen count-classes.",
    ),
    (
        "product_profit_q9",
        "TPC-H Q9 (r09, derived partsupp): the six-table profit chain "
        "plans as FOUR BroadcastHashJoins on the lineitem stream — "
        "part ('%rod%' pushed to its scan), the composite-key derived "
        "partsupp, supplier⋈nation, then orders; the only exchanges "
        "are partsupp's defining distinct, the (nation, year) group, "
        "and the output sort.  At 100 TB AQE swaps partsupp/orders to "
        "shuffle joins, partsupp reusing its defining exchange.",
    ),
    (
        "min_cost_supplier_q2",
        "TPC-H Q2 (r09): the correlated per-part min-cost subquery "
        "decorrelated into an aggregate over the candidate frame, "
        "broadcast BACK over that same frame — the base table is "
        "never re-scanned and every join side is a broadcast; the "
        "(size, type) predicates reach the part scan.",
    ),
    (
        "token_budget_bpe",
        "BPE budgeting (r09): the 18-rule merge chain compiles to "
        "nested JVM replace() calls inside whole-stage codegen — the "
        "tokenizer costs zero exchanges; the single hashpartitioning "
        "exchange is the per-language cumulative window, shared by "
        "both budget columns.",
    ),
    (
        "dedup_setsim_prefix_zipf",
        "Zipfian PPJoin (r10): the SAME prefix plan as the dense "
        "fixture — rarest-first rank broadcast, candidate shuffle on "
        "xxhash64(ptok) — but the vocabulary is realistic, so the "
        "equality join's fan-out concentrates on genuinely-shared "
        "rare tokens (audit: hottest bucket 4 docs vs the dense "
        "fixture's 403).  The corpus itself is derived map-side from "
        "the parquet scan: LCG token synthesis is pure codegen "
        "string work, no fixture files.",
    ),
    (
        "seq_pack_bpe_windows",
        "Sequence packing (r10; fold swapped r12): the sequential "
        "next-fit recurrence runs as an F.aggregate LEFT FOLD over "
        "each (lang, shard, counter) group's sorted collect_list — "
        "ObjectHashAggregate + one exchange on the group key, zero "
        "Python, state bounded by the shard.  Since r12 the fold is "
        "next_fit_windows (scalar running state, one small-struct "
        "append per CLOSED window — the measured-quadratic per-doc "
        "array accumulator is gone) and it emits per-window "
        "aggregates directly, so the former explode->re-group second "
        "hash aggregate no longer appears in the plan.  The BPE "
        "tokenizer rides the same scan project as token_budget_bpe.",
    ),
    (
        "dedup_minhash_pairs_zipf",
        "MinHash banding on the Zipfian corpus (built r10, registered "
        "r12): the SAME "
        "banded-bucket equality join as the certified dense twin, "
        "but long-tail shingles make band buckets sparse, so bucket "
        "mass concentrates on true duplicates; the recall gate's "
        "planted J=1 copies collide deterministically on every band.",
    ),
    (
        "dedup_semantic_kmeans",
        "SemDeDup on data-derived clusters (built r11, registered "
        "r12): the "
        "exact-decimal Lloyd loop unrolls into the plan — per round "
        "one broadcast join of k*dim centroid cells on pos plus two "
        "keyed exchanges, lineage truncated per round by "
        "localCheckpoint — and feeds a within-cluster pair join "
        "whose quadratic term is bounded per cluster (k grows with "
        "the corpus at scale); the corpus is checkpoint-pinned ONCE "
        "for the loop's 4-joins-per-round and the pair stage alike.",
    ),
    (
        "corpus_curation_funnel",
        "End-to-end curation funnel (built r12, REGISTERED r14 — catalog "
        "row `corpus_curation_funnel`): "
        "quality gate, exact dedup, and decontamination ride as boolean "
        "flags through ONE pass — one window exchange on the content "
        "fingerprint (the exact-dedup stage), the DISTINCT eval grams "
        "broadcast into a left-semi probe of the exploded corpus grams "
        "(the corpus is never shuffled on the gram key), one lang "
        "rollup.  The per-stage survivor counts come free from "
        "conditional sums, not from re-running the stages.",
    ),
    (
        "dsir_importance_select",
        "DSIR importance selection (built r12, REGISTERED r14 — catalog "
        "row `dsir_importance_select`): "
        "hashed-n-gram importance scoring as one gram explode into a "
        "BUCKET-bounded aggregate (512 partials per task, map-side "
        "combine), the integer λ weight table broadcast back into the "
        "raw gram stream, one doc-keyed aggregation, and a per-lang "
        "top-k that plans as a rank-limited window (WindowGroupLimit) "
        "— the corpus is never shuffled on the gram or bucket key.",
    ),
    (
        "bpe_learn_merges",
        "BPE merge learning (built r11, registered r13): tokenizer "
        "TRAINING as an unrolled loop — per round one map-side "
        "tokenize + pair explode into a vocabulary-bounded hash-agg "
        "exchange (map-side combine: the shuffle carries pair "
        "partials, never corpus rows), a TakeOrderedAndProject(1) "
        "argmax, and the "
        "1-row broadcast scalar-combine feeding a map-side replace "
        "pass; corpus state is localCheckpoint-pinned between rounds "
        "so round k+1 starts from materialized strings.",
    ),
]

_TRIM = re.compile(r", \[plan_id=\d+\]| \[id=#\d+\]")


def trimmed_plan(df, max_lines: int = 40) -> str:
    txt = explain_formatted(df)
    # keep the operator tree + the interesting scan details, drop the
    # per-operator field dumps beyond the cap
    lines = txt.splitlines()
    out, in_details = [], False
    for ln in lines:
        if ln.startswith("("):  # details section starts
            in_details = True
        if not in_details:
            out.append(_TRIM.sub("", ln.rstrip()))
        else:
            if any(
                key in ln
                for key in ("Scan parquet", "PushedFilters", "ReadSchema", "Location")
            ) and "Location" not in ln:
                out.append(_TRIM.sub("", ln.rstrip()))
    return "\n".join(out[:max_lines])


def main() -> None:
    spark = get_spark("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    parts = [
        "# PLANS — what Catalyst actually builds for the flagship queries\n",
        "Generated by `python scripts/gen_plans.py` (re-run after plan "
        "changes; `tests/test_plan_shapes.py` pins the invariants, this "
        "file shows them). Executed-plan excerpts at "
        f"`{SF_DIR}`; AQE final plans may differ only in partition "
        "coalescing.\n",
    ]
    for name, note in SHOWCASE:
        df = CATALOG[name].fn(spark, SF_DIR)
        parts.append(f"## {name}\n\n{note}\n\n```\n{trimmed_plan(df)}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(parts))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
