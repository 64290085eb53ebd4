"""Write EXPLAINS.md: formatted physical plans for a representative
query set, so plan quality (broadcasts, pushed filters, codegen spans,
absence of row-wise Python) is inspectable as an artifact instead of
only being asserted piecewise in tests/test_plans.py.

The set covers one plan per operator family whose 100 TB story hinges
on a specific physical shape:

Usage: python tools/explain_audit.py          # writes /root/repo/EXPLAINS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
from real_time_data_pipeline_for_restaurant_analytics_spark.session import get_spark

SF = "/root/testdata/sf0.01"

# (query, what the plan must show and why it matters at 100 TB)
AUDIT = [
    ("q01_pricing_summary", "Filter pushed to the parquet scan "
     "(PushedFilters on l_shipdate), pruned ReadSchema, partial "
     "HashAggregate before the exchange — the canonical scan→agg shape."),
    ("q03_revenue_by_region", "Star join: all three dims broadcast "
     "(BroadcastHashJoin ×3, no SortMergeJoin) — fact never shuffles "
     "on a join key."),
    ("q21_minhash_lsh_candidates", "Signature kernel is pure map-side "
     "(no join, no Python); the only exchanges are the band groupBy "
     "and the pair aggregation — dedup cost rides collisions, not n²."),
    ("q33_salted_join_segments", "Skew-safe join: the salt explode on "
     "the build side, equi-join on (key, salt), de-salted aggregate."),
    ("q44_token_packing", "Partitioned-window packing: no single-"
     "reducer global window; running sums stay inside hash partitions."),
    ("q70_bloom_pruned_semi_join", "Bloom mask evaluated as an in-plan "
     "literal filter before the join — probe rows drop at the scan."),
    ("q88_zorder_layout", "Stats-derived interleave bits ride in as a "
     "1-row broadcast cross; z-value math is whole-stage codegen."),
    ("q108_image_decode_stats", "Multimodal decode is ArrowEvalPython/"
     "MapInPandas (vectorized batches), never BatchEvalPython."),
    ("q146_png_decode_stats", "Compressed-codec decode (PNG inflate + "
     "unfilter) keeps the exact q108 plan shape: two MapInPandas "
     "stages plus the deliberate 8-byte-ids RoundRobin fan-out "
     "(spread_ids, round 10 — full decode parallelism at any corpus "
     "split count); payload bytes still never exchange."),
    ("q115_simhash64_pairs", "Production-width simhash: banding + "
     "value-level WindowGroupLimit cap run map-side before the "
     "candidate shuffle."),
    ("q133_fuzzy_blocked_match", "Vocabulary fold then block equi-join "
     "— levenshtein filter inside the join stage, broadcast block "
     "allowlist."),
    ("q134_event_pagerank", "Iterative graph state: edge list folded "
     "once (checkpoint boundary), per-iteration joins broadcast the "
     "node-sized score vector."),
    ("q136_containment_verified", "Verified containment dedup: LSH "
     "candidate pairs first, shingle-intersection joins restricted to "
     "the candidate list — exact math never touches non-candidates."),
    ("q137_compaction_plan", "Compaction planner: one window + one "
     "aggregate over file METADATA rows; no data-proportional "
     "exchange anywhere in the plan."),
    ("q138_bpe_train_batched", "Batched BPE round: candidate ranking "
     "over a bounded frame, blocking anti-join, and the accepted "
     "batch riding into the vocabulary rewrite as ONE broadcast "
     "array cross — per-round work bounded by the pair vocabulary, "
     "M rules per pass."),
    ("q139_hard_negatives_ivf", "IVF-bucketed mining: probed-cell "
     "equi-join (BroadcastHashJoin on cell, no BNLJ/cross), banded "
     "filter inside the join stage, per-query window rank on the "
     "candidate set only."),
    ("q140_quality_classifier", "Classifier inference as pure scan "
     "throughput: tokenize→hash→weight→fold in one map-side "
     "projection — no join, no Python, no data-proportional "
     "exchange."),
    ("q141_passage_scrub", "Passage-scrub rewrite: explode → "
     "md5-keyed partial-agg MIN (map-side combine before the "
     "exchange) → equi-join back on the passage hash — size-adaptive: "
     "AQE broadcasts the vocabulary at gate scale (seen here) and "
     "degrades to a shuffle join once the vocabulary outgrows the "
     "threshold, since it scales with the corpus — → one doc-keyed "
     "reassembly aggregate. Never a pairwise operator at any size."),
    ("q160_ivfpq_recall_audit", "Composed IVF-PQ serving path: the "
     "trained codebook (k×dim, collected once — bounded) rides in as "
     "broadcasts; candidate generation is a probed-cell equi-join "
     "(never all-pairs), ADC distances are in-plan array math "
     "(aggregate/zip_with, no UDF), and the brute-force side exists "
     "only as the recall-audit measuring stick on the bounded query "
     "set."),
    ("q161_duplicate_key_audit", "Post-merge QA audit: the clean "
     "build is the production full-outer merge on the business key "
     "(one shuffle), the audit itself a partial-agg HAVING count>1 — "
     "dimension-shaped input, no second scan of the raw batch."),
    ("q162_repetition_filter", "Intra-doc repetition signals: "
     "n-grams built INSIDE the row (zip_with over slices — no "
     "explode before counting), one (doc,gram)-keyed exchange per "
     "n-gram order with partial counts; whole-stage codegen "
     "end-to-end, no Python."),
    ("q163_unicode_canonicalize", "Unicode canonicalization: control "
     "strip + whitespace collapse stay JVM regex codegen; ONLY the "
     "NFC step (no Spark built-in) is Python, as one Arrow-batched "
     "mapInPandas MAP — no exchange anywhere before the presentation "
     "sort, so pushdown/pruning/partitioning pass straight through."),
    ("q166_prefix_filter_jaccard_join", "Exact set-similarity join "
     "at scale: the candidate join is an EQUI-join on the prefix "
     "token (hash join, length filter riding as a post-condition — "
     "never BNLJ/cartesian); the df table and window share the "
     "(doc)-keyed shuffle; verification joins only the pruned "
     "candidate set back to the shingle table."),
    ("q168_ivfpq_serving_topk", "IVF-PQ SERVING path alone (no "
     "brute-force leg anywhere in the plan): sampled-trained "
     "codebooks ride as broadcasts, candidate generation is the "
     "probed-cell equi-join, ADC distance is in-plan array math, and "
     "the only window is the per-query top-k on the probed "
     "candidates — selectivity-bounded at any corpus size."),
    ("q171_dsir_importance_resample", "DSIR data selection: one "
     "doc×bucket count shuffle, the two 4096-row multinomials "
     "broadcast back (BroadcastHashJoin, never a corpus-side "
     "shuffle), per-doc weight as a partial-agg sum, and selection "
     "via a window partitioned by SOURCE — no single-partition "
     "global sort in the plan."),
]


def main() -> None:
    spark = get_spark(app_name="explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out = [
        "# EXPLAINS — formatted physical plans for the flagship operator shapes",
        "",
        "Generated by `tools/explain_audit.py` at sf0.01 (plan shapes are",
        "scale-invariant; AQE may re-plan exchanges at runtime). Each entry",
        "states the property the plan must exhibit — the same properties",
        "tests/test_plans.py pins — so a reviewer can see the broadcast /",
        "pushdown / codegen structure directly.",
        "",
    ]
    for name, why in AUDIT:
        df = qs[name].build(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Why this shape matters:** {why}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
        print("explained", name, flush=True)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print("wrote", path)


if __name__ == "__main__":
    main()
