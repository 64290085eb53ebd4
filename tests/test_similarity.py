"""ANN invariants beyond the oracle hash checks.

Since round 4 the LSH and IVF paths carry full DuckDB oracles (integer
bucket/probe determinization), but the oracle replays the same
algorithm — these pin the contracts an identical-replay can't:

- IVF with n_probe == n_cells is an exhaustive scan ⇒ must equal the
  brute-force top-k exactly.
- Every (query, neighbor) the LSH path returns must carry the same
  cosine the exact kernel computes (re-rank is exact within buckets).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load
from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
    brute_force_topk,
    hard_negative_mining_ivf,
    ivf_topk,
    lsh_bucket_ann,
)

from .conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_full_probe_equals_brute_force(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    n_cells = 8
    ivf = ivf_topk(emb, k=5, n_cells=n_cells, n_probe=n_cells, query_max_id=10)
    qids = [r[0] for r in emb.select("vec_id").filter("vec_id < 10").collect()]
    bf = brute_force_topk(emb, query_filter=F.col("vec_id").isin(qids), k=5)
    assert _rows(ivf) == _rows(bf)


def test_ivf_hard_negatives_full_probe_equals_banded_brute_force(spark):
    """q139's contract: with n_probe == n_cells the IVF candidate set
    is exhaustive, so the banded rank must reproduce q121's guarded
    broadcast-cross miner exactly — proving the bucketed path changes
    only the candidate GENERATION, never the mining semantics."""
    emb = load(spark, SF_SMOKE, "embeddings")
    ivf = hard_negative_mining_ivf(emb, n_cells=8, n_probe=8, query_max_id=10)
    brute = brute_force_topk(
        emb, query_filter=F.col("vec_id") < 10, k=5, band=(0.25, 0.85)
    )
    assert _rows(ivf) == _rows(brute)


def test_lsh_scores_match_exact_kernel(spark):
    emb = load(spark, SF_SMOKE, "embeddings")
    lsh = lsh_bucket_ann(emb, k=3)
    qids = [r["query_id"] for r in lsh.select("query_id").distinct().collect()]
    assert qids, "LSH produced no candidates at smoke scale"
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_r"]
        for r in brute_force_topk(
            emb, query_filter=F.col("vec_id").isin(qids), k=len(qids) + 10_000
        ).collect()
    }
    for r in lsh.collect():
        assert abs(exact[(r["query_id"], r["neighbor_id"])] - r["cos_r"]) < 1e-9


def test_label_centroids_exact_small(spark):
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        label_centroids,
    )

    df = spark.createDataFrame(
        [(0, [1.0, -2.0], 7), (1, [3.0, 0.0], 7), (2, [10.0, 10.0], 8)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r.label, r.pos): r for r in label_centroids(df).collect()}
    # label 7: mean of (1,3)=2.0 and (-2,0)=-1.0 → micro units
    assert got[(7, 0)].centroid_micro == 2_000_000
    assert got[(7, 1)].centroid_micro == -1_000_000
    assert got[(7, 0)].n_vectors == 2
    assert got[(8, 0)].centroid_micro == 10_000_000


def test_knn_label_vote_majority_and_tiebreak(spark):
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        knn_label_vote,
    )

    # query 0 at origin-ish; neighbors: two of label 1 close, one of
    # label 2 close, rest far — k=3 majority must be label 1
    rows = [
        (0, [1.0, 0.0], 9),
        (1, [0.99, 0.1], 1),
        (2, [0.98, 0.12], 1),
        (3, [0.97, 0.2], 2),
        (4, [-1.0, 0.0], 2),
        (5, [-0.9, 0.1], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = knn_label_vote(df, k=3, query_filter=F.col("vec_id") == 0).collect()
    assert len(got) == 1
    assert got[0].predicted_label == 1 and got[0].votes == 2
    assert got[0].query_label == 9 and not got[0].correct


def test_kmeans_lloyd_matches_numpy_replay(spark):
    """The Spark Lloyd loop == an independent numpy replay of the same
    deterministic recipe (micro-quantize, lowest-id init, integer
    distances, floor-division centroids) on separated synthetic data."""
    import numpy as np

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        kmeans_lloyd,
    )

    rng = np.random.RandomState(7)
    groups = [rng.normal(loc, 0.05, size=(20, 4)) for loc in (-2.0, 0.0, 2.0)]
    vecs = np.concatenate(groups)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        r["cluster"]: (r["n_vectors"], int(r["inertia"]))
        for r in kmeans_lloyd(df, k=3, n_iter=2).collect()
    }

    # numpy replay of the identical integer recipe
    # the DataFrame column is array<float>: quantize what Spark stores
    # (float32-rounded values), not the original float64s
    em = np.floor(vecs.astype(np.float32).astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    cents = em[:3].copy()
    for it in range(2):
        d = ((em[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # first-min tie-break, same as struct min
        if it < 1:
            cents = np.stack(
                [
                    np.floor(em[assign == c].sum(axis=0) / (assign == c).sum())
                    for c in sorted(set(assign.tolist()))
                ]
            ).astype(np.int64)
    want = {
        c: ((assign == c).sum(), int(d[assign == c, c].sum()))
        for c in sorted(set(assign.tolist()))
    }
    assert got == want


def test_broadcast_query_side_guard_fails_loudly(spark):
    """Round-5 guard: the brute-force query set is broadcast, so an
    unbounded query_filter must raise before the cross join launches
    instead of broadcasting the corpus."""
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="broadcast"):
        brute_force_topk(emb, query_filter=F.lit(True), max_query_rows=10)
    # bounded predicate under the cap: unchanged behavior
    out = brute_force_topk(emb, query_filter=F.col("vec_id") < 3, k=2, max_query_rows=10)
    assert out.filter("rank = 1").count() == 3


def test_hard_negative_band_excludes_duplicates_and_easy(spark):
    """Round-6 q121: a planted exact duplicate (cos=1.0, a false
    negative if mined) and an orthogonal vector (cos=0, no training
    signal) must both fall outside the [lo, hi) band; the mid-band
    vector is the hard negative that survives."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # query
        (1, [1.0, 0.0, 0.0, 0.0]),   # exact dup -> cos 1.0, excluded (>= hi)
        (2, [1.0, 1.0, 0.0, 0.0]),   # cos ~0.707, the hard negative
        (3, [0.0, 0.0, 1.0, 0.0]),   # orthogonal -> cos 0, excluded (< lo)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(
        emb, query_filter=F.col("vec_id").isin([0]), k=5, band=(0.25, 0.85)
    ).collect()
    assert [(r.query_id, r.neighbor_id) for r in out] == [(0, 2)]
    assert 0.25 <= out[0].cos_r < 0.85


def test_ivf_recall_audit_monotone_and_full_probe_perfect(spark):
    """Round-6 q124: recall must be non-decreasing in n_probe, and
    probing EVERY cell must reproduce brute force exactly
    (recall_permille = 1000) — the audit's own sanity anchor."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        ivf_recall_audit,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    rows = ivf_recall_audit(
        emb, n_cells=8, probe_levels=(1, 4, 8), query_max_id=20
    ).collect()
    recalls = [r.recall_permille for r in sorted(rows, key=lambda r: r.n_probe)]
    assert recalls == sorted(recalls)  # monotone in n_probe
    assert recalls[-1] == 1000  # n_probe == n_cells ≡ brute force
    assert all(r.possible == rows[0].possible for r in rows)


def test_pq_adc_exact_when_every_vector_is_a_centroid(spark):
    """Round-6 q126: with n_codes >= corpus size every vector's code is
    itself (assignment distance 0), so the ADC distance degenerates to
    the EXACT int8-grid squared L2 between query and neighbor — the
    ADC lookup algebra is pinned against a direct computation, not a
    replay of itself."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        pq_adc_topk,
    )

    # 4 vectors, dim 4, n_sub 2 — distinct in every subspace, and
    # max_abs = 127 so the int8 grid is the identity (qv == v)
    vecs = [
        (0, [1.0, 2.0, 3.0, 127.0]),
        (1, [5.0, 1.0, 8.0, 127.0]),
        (2, [2.0, 2.0, 4.0, 127.0]),
        (3, [9.0, 9.0, 9.0, 127.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = pq_adc_topk(
        emb, k=3, n_sub=2, n_codes=4, query_filter=F.col("vec_id") == 0
    ).collect()

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    want = sorted(
        (sq(vecs[0][1], v), i) for i, v in vecs if i != 0
    )
    got = [(r.adc_dist, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(int(d), i) for d, i in want]


def test_ivfpq_composed_audit_shape_and_bounds(spark):
    """q160's composed IVF-PQ path: structural invariants (permille
    arithmetic, bounds, scanned monotone in n_probe — a probe-p
    candidate set is a subset of probe-p') plus a regression PIN of
    refined-recall monotonicity on the deterministic sf0.001 fixture.
    (Monotonicity is not a theorem — a deeper probe can displace
    shortlist members via better ADC but worse exact rank — so the
    last assert is a data pin, not an invariant claim.)"""
    from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        ivf_pq_recall_audit,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    rows = ivf_pq_recall_audit(
        emb, probe_levels=(1, 2, 4), query_max_id=20
    ).collect()
    assert [r.n_probe for r in rows] == [1, 2, 4]
    possible = rows[0].possible
    assert possible == 20 * 5
    for r in rows:
        assert 0 <= r.hits_adc <= possible
        assert 0 <= r.hits_refined <= possible
        assert r.recall_adc_permille == r.hits_adc * 1000 // possible
        assert r.recall_refined_permille == r.hits_refined * 1000 // possible
    assert [r.scanned for r in rows] == sorted(r.scanned for r in rows)
    assert (
        rows[0].hits_refined <= rows[1].hits_refined <= rows[2].hits_refined
    )


def test_equidistant_centroids_tie_to_the_lowest_id(spark):
    """Vector 2 sits at equal integer distance from centroids 0 and 1.
    The one argmin (nearest_centroids) must pick the lower id whatever
    the literal order, and so must the two kernels built on it: the
    IVF probe order (q34's cell_rank) and the k-means assignment."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.similarity import (
        centroids_sql,
        ivf_scored_candidates,
        kmeans_assignments,
        nearest_centroids,
    )

    rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = centroids_sql([(1, [-1, 0]), (0, [1, 0])])  # higher id first
    tie = spark.range(1).select(
        F.expr(f"{nearest_centroids('array(0L, 1L)', cents, 2)}").alias("o")
    ).first()["o"]
    assert [(r["d"], r["c"]) for r in tie] == [(2, 0), (2, 1)]

    scored = ivf_scored_candidates(emb, n_cells=2, n_probe=2, query_max_id=3)
    rank = {(r.query_id, r.neighbor_id): r.cell_rank for r in scored.collect()}
    # query 2 probes cell 0 first; vector 2 itself lives in cell 0, so
    # query 0 (whose nearest cell is 0) meets it at cell_rank 1
    assert rank[(2, 0)] == 1 and rank[(2, 1)] == 2
    assert rank[(0, 2)] == 1 and rank[(1, 2)] == 2

    assigned = kmeans_assignments(emb, k=2, n_iter=1)
    assert {r.vec_id: r.cluster for r in assigned.collect()} == {0: 0, 1: 1, 2: 0}
