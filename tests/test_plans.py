"""Physical-plan quality gates.

Correctness oracles can't see a plan regression (a lost broadcast, a
filter that stopped pushing down) — these pin the plan shapes the
100 TB design depends on. An audit of all 35 queries (round 1) found
no CartesianProduct / SortMergeJoin / row-wise Python anywhere except
the two documented O(n²) exactness kernels (q23/q24, broadcast
nested-loop by construction).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name].build(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q03_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "q03_revenue_by_region")
    assert plan.count("BroadcastHashJoin") == 3  # customer, nation, region
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_minhash_kernel_is_mapside(spark):
    # signature generation must not join or pre-aggregate: the only
    # shuffles are the band groupBy and the final pair aggregation.
    plan = _plan(spark, "q21_minhash_lsh_candidates")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan  # no row-wise Python


def test_q30_multimodal_uses_arrow_not_rowwise_python(spark):
    plan = _plan(spark, "q30_multimodal_metadata")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


# q23/q24: documented O(n²) exactness kernels (broadcast nested-loop by
# construction). q68 composes the q24 kernel: its broadcast side is the
# bounded query set, so the nested loop is O(corpus × n_queries), not
# corpus². q48: 1-row scalar combine — the corpus COUNT(*) joins
# back as a broadcast cross of a single aggregate row (the declarative
# replacement for a driver-side .count()), not a data-sized cross join.
_QUADRATIC_BY_DESIGN = (
    "q23_embedding_near_dup",
    "q24_ann_bruteforce_topk",
    "q68_knn_label_vote",
    # q102 composes the q24 kernel twice (full + truncated vectors);
    # both crosses broadcast the bounded query set, O(corpus × queries)
    "q102_truncation_recall",
    # q121 is the q24 kernel with a similarity band: broadcast side is
    # the guarded bounded query set, O(corpus × queries); scale path
    # documented as the same rank over LSH/IVF buckets
    "q121_hard_negative_mining",
    # q124 composes the q24 exact kernel (the audit's reference answer)
    # plus per-level 1-row scalar crosses for hits/possible — the q114
    # audit shape for the IVF index
    "q124_ivf_recall_audit",
    # q126's ADC scan is O(corpus × bounded queries) LUT lookups (q24's
    # guarded broadcast shape, minus the per-pair vector math) plus two
    # 1-row codebook crosses; the IVF coarse quantizer bounds the scan
    # at scale (IVF-PQ composition, documented on the operator)
    "q126_pq_adc_topk",
    # q160 composes q124 + q126 end to end: the probed-cell ADC serving
    # path is selectivity-bounded, but the RECALL AUDIT side is the
    # q24 exact kernel (bounded query set broadcast against the corpus
    # — the measuring stick, gate-scale only) plus 1-row codebook
    # crosses, same exemption class as q124/q126.
    "q160_ivfpq_recall_audit",
)
_SCALAR_CROSS_OK = (
    "q48_tfidf_top_terms",
    "q82_equidepth_histogram",
    # q95: pair join ON source1 < source2 over the per-source signature
    # frame — |sources|² rows by construction (sources are a tiny enum),
    # non-equi ⇒ BNLJ is the intended tiny cross, not a data-sized one.
    "q95_source_minhash_similarity",
    # q96: documented 1-row user-total broadcast cross (scalar combine).
    "q96_event_cooccurrence",
    # q88: stats-derived bit width rides in as a 1-row broadcast cross
    # (the declarative replacement for a driver .collect() of max keys).
    "q88_zorder_layout",
    # q99: two scalar median crosses — each broadcast side is a single
    # aggregate row (the declarative replacement for driver .collect()).
    "q99_mad_anomalies",
    # q114: candidate-count total rides in as a 1-row broadcast cross.
    "q114_lsh_recall_audit",
    # q132/q138: each round's accepted-merge batch (≤M rows; one rule
    # per round for q132) rides into the vocabulary rewrite as a 1-row
    # broadcast ARRAY cross (collect_list over a bounded frame — the
    # q88/q99 declarative scalar pattern; state frames are
    # checkpointed vocabulary-sized).
    "q132_bpe_encode_stats",
    "q138_bpe_train_batched",
    # q92/q168: the (trained) PQ codebook rides into the corpus coding
    # pass (and q168's query LUT pass) as a 1-row broadcast cross
    # (k×dim scalar state — q160's audited pattern); q168's candidate
    # generation itself is the probed-cell equi-join.
    "q92_pq_codes",
    "q168_ivfpq_serving_topk",
    # q171: the two corpus token totals (tt, tr) ride into the per-doc
    # scoring as a 1-row broadcast cross (the q48/q96 scalar-combine
    # pattern); the bucket join itself is the broadcast EQUI-join on b.
    "q171_dsir_importance_resample",
)


@pytest.mark.parametrize(
    "name",
    sorted(n for n in QUERIES if n not in _QUADRATIC_BY_DESIGN),
)
def test_no_accidental_quadratic_or_rowwise_plans(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} went quadratic"
    if name not in _SCALAR_CROSS_OK:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} lost its equi-join"
    assert "BatchEvalPython" not in plan, f"{name} fell back to row-wise Python"


@pytest.mark.parametrize(
    "name,expr,budget",
    [
        # round-4 plan audit: CollapseProject inlines aliased expensive
        # expressions into every reference — these pin the evaluated-
        # occurrence counts so a refactor can't silently reintroduce
        # O(refs × cost) duplication (q47 was at 22 splits/row).
        ("q21_minhash_lsh_candidates", "split(", 2),
        ("q21_minhash_lsh_candidates", "md5(", 6),
        ("q47_weighted_mixture", "split(", 14),
        ("q95_source_minhash_similarity", "split(", 4),
        ("q100_passage_dedup", "split(", 2),
        # round-13: q162 is map-only — the per-order run fold must
        # evaluate ONCE each (2 sorts, 2 folds), not once per
        # downstream reference.
        ("q162_repetition_filter", "array_sort(", 2),
        ("q162_repetition_filter", "aggregate(", 2),
    ],
)
def test_expression_duplication_budget(spark, name, expr, budget):
    df = QUERIES[name].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n = plan.count(expr)
    assert n <= budget, (
        f"{name}: {expr!r} appears {n}× in the optimized plan "
        f"(budget {budget}) — an aliased expensive expression is being "
        f"re-evaluated; let-bind it (see dedup.let_array)"
    )


def test_simhash64_md5_budget(spark):
    """q115's fingerprint fold, pinned on ``simhash64``'s own optimized
    plan: q115's pair kernel checkpoints its value frame, which hides
    the fold from the query plan. Two md5 calls per token (the lo and
    hi halves) — not one per fingerprint bit."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
        simhash64,
    )

    docs = load(spark, SF_SMOKE, "documents")
    plan = simhash64(docs, "doc_id", "text")._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") <= 2, plan.count("md5(")


def test_scrub_family_exchange_budget(spark):
    """Round-8 (verdict item 8): the scrub/sampler kernels carry
    LITERAL shuffle budgets, not just prose claims (the q140
    treatment). passage_scrub = 3 hash Exchanges (ph-keyed canonical
    MIN, ph-keyed join-back, doc-keyed reassembly); the incremental
    variant adds exactly one more (the base-vocabulary distinct);
    token_budget_sample = 1 (the source-keyed rank walk). Every
    Exchange must be hash-partitioned on a documented key — no
    SinglePartition round-trips, no extra shuffles smuggled in by a
    refactor."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
        passage_scrub,
        passage_scrub_incremental,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f", "web"), (2, "a b c x y z", "news")],
        "doc_id long, text string, source string",
    )

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        return [
            ln
            for ln in plan.splitlines()
            if "Exchange" in ln and "Reused" not in ln
        ]

    ex141 = exchanges(passage_scrub(docs, w=3))
    assert len(ex141) == 3, ex141
    assert sum("hashpartitioning(ph" in ln for ln in ex141) == 2
    assert sum("hashpartitioning(doc_id" in ln for ln in ex141) == 1

    ex142 = exchanges(
        passage_scrub_incremental(docs, docs.filter("doc_id = 2"), w=3)
    )
    assert len(ex142) == 4, ex142
    assert sum("hashpartitioning(ph" in ln for ln in ex142) == 3
    assert sum("hashpartitioning(doc_id" in ln for ln in ex142) == 1

    ex143 = exchanges(token_budget_sample(docs, 5))
    assert len(ex143) == 1, ex143
    assert "hashpartitioning(source" in ex143[0]

    for ex in (ex141, ex142, ex143):
        assert all("SinglePartition" not in ln for ln in ex)


def test_q76_exact_percentile_matches_numpy(spark):
    """Spark's exact percentile == numpy linear interpolation on the
    same values (the definition both engines implement)."""
    import numpy as np

    vals = [100, 250, 250, 400, 999, 1337, 20000]
    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    got = df.agg(
        F.expr("percentile(cents, array(0.25D, 0.5D, 0.9D))").alias("qs")
    ).collect()[0]["qs"]
    want = np.percentile(np.array(vals, dtype=np.float64), [25, 50, 90]).tolist()
    assert got == pytest.approx(want, abs=1e-9)


def test_repetition_signals_hand_computed(spark):
    """q162 (round-12): Gopher-style repetition signals on hand-built
    docs — a stutter doc, a clean doc, and a single-token doc (no
    2-grams at all; the left joins must default, not drop)."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import (
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # top 2-gram 'a b' ×3 of 5
            (2, "x y z w"),              # all grams unique
            (3, "only"),                 # 1 token: no grams, no pairs
            (4, "go go go stop"),        # adjacent stutter ×2
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(docs).collect()}

    r1 = got[1]  # n_chars=11; 'a b' len 3, count 3 → 9/11 chars
    assert (r1.top2_gram, r1.top2_count) == ("a b", 3)
    assert r1.top2_permille == 3 * 3 * 1000 // 11
    # duplicated 3-grams: 'a b a' ×2 + 'b a b' ×2 → 4*5=20 chars / 11
    assert r1.dup3_permille == 20 * 1000 // 11
    assert not r1.keep

    r2 = got[2]
    assert r2.top2_count == 1 and r2.dup3_permille == 0
    assert r2.adj_rep_permille == 0 and r2.keep

    r3 = got[3]
    assert (r3.n_tokens, r3.top2_count, r3.top2_gram) == (1, 0, "")
    assert (r3.top2_permille, r3.dup3_permille, r3.adj_rep_permille) == (0, 0, 0)
    assert r3.keep

    r4 = got[4]  # pairs: (go,go)(go,go)(go,stop) → 2/3
    assert r4.adj_rep_permille == 2000 // 3
    assert not r4.keep


def test_canonicalize_text_hand_computed(spark):
    """q163 (round-12): NFC composes the decomposed sequence (length
    shrinks, md5 equals the precomposed form's), controls strip then
    collapse, pure-ASCII rows pass through byte-identical."""
    import hashlib

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.text import (
        canonicalize_text,
    )

    docs = spark.createDataFrame(
        [
            (1, "cafe\u0301 au lait"),  # explicit decomposed      # decomposed é → composes
            (2, "a\x07b  c\x1f "),           # controls + collapse + trim
            (3, "plain ascii"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in canonicalize_text(docs).collect()}

    r1 = got[1]
    assert (r1.n_chars_raw, r1.n_chars_canon) == (13, 12)
    assert r1.canon_md5 == hashlib.md5("caf\u00e9 au lait".encode()).hexdigest()

    r2 = got[2]  # 'a b  c  ' → 'a b c'
    assert (r2.n_chars_raw, r2.n_chars_canon, r2.collapsed) == (8, 5, True)
    assert r2.canon_md5 == hashlib.md5(b"a b c").hexdigest()

    r3 = got[3]
    assert not r3.collapsed
    assert r3.n_chars_raw == r3.n_chars_canon == 11
    assert r3.canon_md5 == hashlib.md5(b"plain ascii").hexdigest()
