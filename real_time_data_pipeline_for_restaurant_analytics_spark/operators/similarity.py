"""Similarity search over embedding columns (`array<float>`).

Two tiers, as a 100 TB pipeline needs:

- brute-force cosine top-k: the exactness baseline. dot/norm are
  computed with ``zip_with`` + ``aggregate`` — JVM-side higher-order
  functions, sequential left fold, so DuckDB's ``list_sum`` over the
  same element order reproduces the doubles bit-for-bit.
- LSH-bucketed (random hyperplane) ANN: sign-bit sketch from
  md5-derived deterministic integer hyperplanes → candidates only join
  within a bucket. Linear-ish candidate generation; re-rank candidates
  with the exact kernel. Bucket bits are signs of integer dots, so
  membership is engine-exact and the DuckDB oracle replays it.

Every query is built from five shared primitives: the integer grids
(:func:`micro_ints`, :func:`nano_ints`, :func:`_int8_base`), the
nearest-centroid argmin (:func:`nearest_centroids`), the hyperplane
sketch (:func:`sketch_bucket`), the PQ codebook/codes and the top-k
rank by raw cosine (:func:`_top_k_by_cos`) — one implementation each,
with one DuckDB twin each where the oracle needs it.

Embedding near-dup (cosine >= threshold pairs) lives here too — it's
the "embedding-cosine near-dup" tier of the dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from .dedup import spread


def _dot(a: str, b: str, dim: int | None = None) -> Column:
    """Left-to-right dot product in double (order-stable).

    With ``dim`` known, the sum is unrolled into literal-index
    expressions — bit-identical to the sequential fold (same IEEE
    operation sequence: 0.0+x0 == x0, then left-to-right adds) but
    compiled by whole-stage codegen instead of interpreting a lambda
    per element. On the O(n²) exactness kernels that's ~10× the
    throughput of `aggregate(zip_with(...))`, which Catalyst never
    compiles. Falls back to the fold when dim is unknown."""
    if dim is not None:
        out: Column = F.col(a)[0].cast("double") * F.col(b)[0].cast("double")
        for k in range(1, dim):
            out = out + F.col(a)[k].cast("double") * F.col(b)[k].cast("double")
        return out
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str, dim: int | None = None) -> Column:
    if dim is not None:
        sq: Column = F.col(a)[0].cast("double") * F.col(a)[0].cast("double")
        for k in range(1, dim):
            sq = sq + F.col(a)[k].cast("double") * F.col(a)[k].cast("double")
        return F.sqrt(sq)
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def _to_double(vec_col: str) -> Column:
    """Float array → double array, cast ONCE per row. The pair kernels
    otherwise pay 2×dim casts per PAIR; pre-casting at the base
    projection measured 4× on the q23 all-pairs kernel (6.6s→1.6s at
    sf0.1). Numerically identical: cast-then-multiply is the same IEEE
    op sequence, and the DuckDB oracles already cast upfront."""
    return F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")


def _dot_d(a: str, b: str) -> Column:
    """Dot of two PRE-CAST double arrays as a single zip_with+aggregate
    fold — the same left-to-right add sequence as ``_dot`` and DuckDB's
    ``list_sum``, so results are bit-identical. Preferred over the
    unrolled form in interpreted contexts (the output side of a
    BroadcastNestedLoopJoin never enters whole-stage codegen, where
    one specialized fold node beats 129 virtual Expression.eval calls
    ~2×; with the casts hoisted the combined win is ~4×)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _vec_dim(emb: DataFrame, vec_col: str) -> int | None:
    """Fixed embedding dimensionality, peeked from one row at plan-build
    time (limit-1 scan, ~ms). None on an empty table → callers fall
    back to the interpreted fold, which handles any length."""
    row = emb.select(F.size(vec_col).alias("d")).limit(1).first()
    return None if row is None else int(row["d"])


def cosine_pairs(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All-pairs cosine similarity (id1 < id2). O(n²) — the exactness
    kernel; wrap it behind LSH/blocking for scale."""
    base = spread(emb, id_col).select(
        F.col(id_col), _to_double(vec_col).alias("v"), _norm(vec_col).alias("nrm")
    )
    a = base.select(F.col(id_col).alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1"))
    b = base.select(F.col(id_col).alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2", (_dot_d("v1", "v2") / (F.col("n1") * F.col("n2"))).alias("cos_sim")
        )
    )


DEFAULT_MAX_QUERY_ROWS = 10_000


def _assert_bounded_query_side(q: DataFrame, id_col: str, max_query_rows: int) -> None:
    """Fail loudly BEFORE the broadcast cross join launches: the query
    set is broadcast, so an unbounded ``query_filter`` would broadcast
    a corpus (driver OOM at scale, silent slowness below it). The
    probe is ``limit(N+1).count()`` over ONLY the id column — column
    pruning + the pushed predicate + the limit make it a bounded
    short-circuit scan even when the predicate itself is unbounded."""
    n = q.select(id_col).limit(max_query_rows + 1).count()
    if n > max_query_rows:
        raise ValueError(
            f"query side has > {max_query_rows} rows but is broadcast; "
            "an unbounded query_filter would broadcast the corpus — "
            "tighten the predicate or raise max_query_rows explicitly"
        )


def _top_k_by_cos(
    scored: DataFrame, k: int, band: tuple[float, float] | None = None
) -> DataFrame:
    """Top-k per query of a (query_id, neighbor_id, cos_sim) frame:
    rank on the RAW cosine with a (cos DESC, neighbor_id) tie-break,
    keep rank <= k, emit cos rounded to 6 dp as ``cos_r``. Ranking on
    the unrounded value keeps two neighbors whose cosines differ only
    past the 6th decimal in exact order (the oracles rank the same
    way). ``band=(lo, hi)`` keeps only ``lo <= cos < hi`` BEFORE the
    rank — the hard-negative-mining shape (q121, q139)."""
    from pyspark.sql import Window

    if band is not None:
        lo, hi = band
        scored = scored.filter((F.col("cos_sim") >= lo) & (F.col("cos_sim") < hi))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_r"))
    )


def _micro_ranked(topk: DataFrame) -> DataFrame:
    """A registered top-k's output contract: BIGINT rank and the
    6-dp cosine in micro-units (floor(x·1e6 + 0.5)), in rank order."""
    return topk.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.floor(F.col("cos_r") * 1000000 + F.lit(0.5)).cast("bigint").alias("cos_micro"),
    ).orderBy("query_id", "rank")


def brute_force_topk(
    emb: DataFrame,
    query_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for the query rows selected by the
    predicate Column ``query_filter`` — the predicate keeps the whole
    plan declarative (no driver-side collect of ids that the filter
    itself already expresses; an id list is ``F.col(id).isin(ids)``).

    ``max_query_rows`` guards the broadcast: the query side must be
    small by CONSTRUCTION (that's what makes brute-force linear, not
    quadratic); a predicate matching more rows than the cap fails
    loudly up front instead of broadcasting a corpus.

    ``band=(lo, hi)`` restricts candidates to ``lo <= cos < hi``
    BEFORE ranking — hard-negative mining for contrastive training
    (q121): above ``hi`` a candidate is probably a positive or
    near-duplicate (a false negative that poisons the loss), below
    ``lo`` it teaches nothing. None is plain nearest-neighbor top-k
    (q24). One kernel, two consumers: a fix to the fold, tie-break, or
    guard lands in both. At corpus scale the same band + rank runs over
    IVF candidate cells instead (:func:`hard_negative_mining_ivf`,
    q139) — hard negatives live near the query."""
    base = spread(emb, id_col).select(
        F.col(id_col), _to_double(vec_col).alias("v"), _norm(vec_col).alias("nrm")
    )
    _assert_bounded_query_side(emb.filter(query_filter), id_col, max_query_rows)
    q = base.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = base.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot_d("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    return _top_k_by_cos(scored, k, band)


def truncation_recall(
    emb: DataFrame,
    trunc_dim: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
) -> DataFrame:
    """Dimension-truncation retrieval quality audit (the Matryoshka /
    cheap-prefix question): per query, how many of the exact top-k
    cosine neighbors under the FULL vector survive when retrieval uses
    only the first ``trunc_dim`` components. recall_permille ≈ 1000
    means prefix-truncated vectors are safe for first-stage retrieval
    (4× less memory/bandwidth at trunc 64→16); low values mean the
    tail dims carry the geometry and truncation would silently degrade
    every downstream dedup/dedup-lift/ANN consumer.

    ONE bounded brute-force pass (round 14, guide §2.2/§3): the full
    and truncated cosine are computed side-by-side on the SAME
    broadcast-cross frame (formerly two corpus scans + two crossJoins
    + a sort-merge join of the two top-k frames), and the two rankings
    are two windows over one query_id exchange. A (query, neighbor)
    pair is an overlap hit iff rank_full <= k AND rank_trunc <= k —
    both ranks live on the same row, so the old top-k∩top-k join is a
    per-query conditional sum. Deterministic: both rankings use the
    exact double fold + (cos desc, id) tie-break that q24 hash-proves
    engine-identical (the truncated norm/dot run on the sliced array,
    the same IEEE sequence as scoring a pre-sliced corpus).
    """
    from pyspark.sql import Window

    pred = query_filter if query_filter is not None else F.col(id_col) < 10
    sliced = f"slice({vec_col}, 1, {trunc_dim})"
    base = spread(emb, id_col).select(
        F.col(id_col),
        _to_double(vec_col).alias("v"),
        _norm(vec_col).alias("nrm"),
        _to_double(sliced).alias("tv"),
        _norm(sliced).alias("tn"),
    )
    _assert_bounded_query_side(emb.filter(pred), id_col, DEFAULT_MAX_QUERY_ROWS)
    q = base.filter(pred).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"), F.col("nrm").alias("qn"),
        F.col("tv").alias("qtv"), F.col("tn").alias("qtn"),
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"), F.col("nrm").alias("cn"),
        F.col("tv").alias("ctv"), F.col("tn").alias("ctn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot_d("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos_full"),
            (_dot_d("qtv", "ctv") / (F.col("qtn") * F.col("ctn"))).alias("cos_tr"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("cos_full"), "neighbor_id")
    wt = Window.partitionBy("query_id").orderBy(F.desc("cos_tr"), "neighbor_id")
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return (
        ranked.filter(F.col("rf") <= k)
        .groupBy("query_id")
        .agg(
            F.sum((F.col("rt") <= k).cast("long")).cast("bigint").alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            # integer floor-div, NOT double-divide-then-truncate: double
            # division re-rounds (666.9999... vs 667) and the oracle's
            # CAST rounds half-even — integer `div` on both sides makes
            # any k hash-stable, not just divisors of 1000.
            F.expr(f"(CAST(n_overlap AS BIGINT) * 1000) div {k}").alias(
                "recall_permille"
            ),
        )
    )


def _truncation_oracle(trunc_dim: int = 16, k: int = 5, query_max_id: int = 10) -> str:
    def ranked(vec_expr: str, name: str) -> str:
        return f"""
{name}_base AS (
  SELECT vec_id,
         list_transform({vec_expr}, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform({vec_expr},
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), {name}_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos_sim
  FROM {name}_base q JOIN {name}_base c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {query_max_id}
), {name}_top AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM {name}_scored)
  WHERE rk <= {k}
)"""

    return f"""
WITH {ranked("embedding", "full")},
{ranked(f"embedding[1:{trunc_dim}]", "tr")}
SELECT f.query_id,
       CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(t.neighbor_id) * 1000 // {k} AS BIGINT) AS recall_permille
FROM full_top f
LEFT JOIN tr_top t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
"""


@register(
    "q102_truncation_recall",
    oracle=_truncation_oracle(),
    doc="Dimension-truncation retrieval audit (Matryoshka check): "
    "top-5 exact cosine neighbors by the 16-dim prefix vs the full "
    "64-dim vector, per-query overlap and recall permille — decides "
    "whether prefix-truncated vectors are safe for first-stage "
    "retrieval. Two bounded brute-force passes, k×queries-sized join.",
)
def q102_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return truncation_recall(emb).orderBy("query_id")


N_PLANES = 8


def _plane_component(p: int, j: int) -> int:
    """Deterministic pseudo-random INTEGER hyperplane component in
    [-1000, 1000], derived from md5 so any engine can reproduce it.
    Integer (not the former /1000.0 float): the sign of an integer dot
    against nano-quantized vectors is exact cross-engine, which is
    what lets q25 carry a real DuckDB oracle instead of rows-only."""
    import hashlib

    h = int(hashlib.md5(f"{p}|{j}".encode()).hexdigest()[:8], 16)
    return h % 2001 - 1000


def hyperplanes(dim: int, n_planes: int = N_PLANES) -> list[list[int]]:
    return [[_plane_component(p, j) for j in range(dim)] for p in range(n_planes)]


def sql_bigint_array(vals) -> str:
    """``array(...)`` SQL literal of BIGINTs as ONE expression string.
    The Column-object equivalent (`F.array(*[F.lit(v) ...])`) costs one
    Py4J round trip per element — at k×dim literals that is seconds of
    DRIVER-side plan build per query (measured ~7 s on the 16×64 IVF
    centroids), for an identical physical plan."""
    return "array(" + ", ".join(f"{int(v)}L" for v in vals) + ")"


def _grid(vec_col: str, scale: str) -> Column:
    return F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT))"
    )


def nano_ints(vec_col: str) -> Column:
    """Vector elements as nano-unit BIGINTs (floor(x·1e9 + 0.5)) —
    the exact-arithmetic representation every determinized kernel
    shares. |x| < 4.6 fits any downstream dot used here."""
    return _grid(vec_col, "1000000000.0")


def micro_ints(vec_col: str) -> Column:
    """Vector elements as micro-unit BIGINTs (floor(x·1e6 + 0.5)) — the
    grid of the IVF cells, k-means and the JL projection: |term| <
    2^44 and a 64-dim squared-L2 sum < 2^50, exact in BIGINT."""
    return _grid(vec_col, "1000000.0")


def sketch_bucket(vec: str, planes: list[list[int]]) -> str:
    """Hyperplane sketch of the BIGINT array ``vec`` as one SQL sum:
    bit p = [Σ vec[i]·planes[p][i] ≥ 0]. A pure integer fold, so bucket
    membership is engine-exact; :func:`_duck_sketch_bucket` is the
    DuckDB twin. Callers cast (and guard) the sum."""
    return " + ".join(
        f"(CASE WHEN aggregate(zip_with({vec}, {sql_bigint_array(w)},"
        f" (x, y) -> x * y), 0L, (a, v) -> a + v) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )


def _duck_sketch_bucket(vec: str, planes: list[list[int]], dim: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}),"
        f" kk -> {vec}[kk] * ([{', '.join(str(x) for x in w)}])[kk])) >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )


def _sq_l2(a: str, b: str) -> str:
    """Exact squared L2 between two BIGINT arrays as one SQL fold."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0L, (s, v) -> s + v)"


def centroids_sql(cents) -> str:
    """Literal centroids ``[(id, ints)]`` as ONE SQL array of
    (cent_id, csub) structs — the element shape of the PQ codebook
    column, so literal and broadcast centroids feed the same argmin.
    One string, not Column objects (see sql_bigint_array)."""
    return "array(" + ", ".join(
        f"named_struct('cent_id', {int(c)}L, 'csub', {sql_bigint_array(v)})"
        for c, v in cents
    ) + ")"


def _first_centroids(df: DataFrame, id_col: str, grid: Column, n: int) -> str:
    """:func:`centroids_sql` of the ``grid`` vectors of ids < n — the
    deterministic coarse centroids (in production they come from an
    offline k-means and are equally a small literal list). One small
    collect at plan build."""
    rows = df.filter(F.col(id_col) < n).select(F.col(id_col), grid).collect()
    return centroids_sql((r[0], r[1]) for r in rows)


def nearest_centroids(vec: str, cents: str, n: int = 1) -> str:
    """The ``n`` nearest centroids of the BIGINT array ``vec`` as an
    SQL array of (d, c) structs sorted by (d, c): ``d`` is the integer
    squared L2 distance, ``c`` the centroid id, so ties go to the
    lowest id in every engine. ``cents`` is an SQL array of
    (cent_id, csub) structs: a :func:`centroids_sql` literal or a
    broadcast codebook column. The one argmin behind the IVF cells
    (q34, q124, q139, q160, q168), the k-means assignment (q79, q87)
    and the PQ codes (q92, q126, q160, q168); n = 1 is a linear
    ``array_min``, not a sort."""
    dists = (
        f"transform({cents}, c -> struct({_sq_l2(vec, 'c.csub')} AS d,"
        " CAST(c.cent_id AS BIGINT) AS c))"
    )
    if n == 1:
        return f"array(array_min({dists}))"
    return f"slice(array_sort({dists}), 1, {n})"


def lsh_bucket_ann(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket bit p = [Σ nano(v)·w_p ≥ 0]
    over n_planes fixed integer planes; candidates pair within
    buckets; exact cosine re-rank inside the bucket. At scale the
    bucket join replaces the O(n²) cross join with O(collisions).

    Bucket decisions are pure integer arithmetic (nano vectors ×
    integer weights: |term| < 2^40, 64-dim sum < 2^46), so bucket
    membership is engine-exact — DuckDB replays it bit-for-bit."""
    bucket_terms = sketch_bucket("nv", hyperplanes(dim, n_planes))
    bucketed = spread(emb, id_col).select(
        F.col(id_col), _to_double(vec_col).alias("v"), _norm(vec_col).alias("nrm"),
        nano_ints(vec_col).alias("nv"),
    ).select(
        F.col(id_col), "v", "nrm",
        # dim guard INSIDE the bucket expression (can't be pruned): a
        # vector whose length differs from `dim` would zip_with-pad
        # with NULLs here while the DuckDB oracle's list_sum skips
        # NULLs — a silent cross-engine bucket divergence. Fail loudly
        # per-row instead; zero extra jobs.
        F.expr(
            f"CAST(IF(size(nv) = {dim}, ({bucket_terms}), "
            f"raise_error('lsh_bucket_ann: embedding length <> dim={dim}')) AS INT)"
        ).alias("bucket"),
    )
    # Bucket-equi self-join. (The q21-style groupBy-bucket pair
    # expansion was tried and is slower here: each member's 64-dim
    # vector gets duplicated n-1 times inside the bucket array,
    # and the sketch kernel being only n_planes dots per vector makes
    # the double evaluation across join sides the cheaper trade.)
    a = bucketed.select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"), "bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"),
        F.col("bucket").alias("bucket2"),
    )
    scored = (
        a.join(b, (F.col("bucket") == F.col("bucket2")) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id",
            "neighbor_id",
            (_dot_d("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    return _top_k_by_cos(scored, k)


def ivf_scored_candidates(
    emb: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    query_max_id: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The shared IVF kernel: coarse-quantize vectors into cells,
    probe the `n_probe` nearest cells per query, exact cosine over the
    probed cells' members — returning the UNRANKED candidate frame
    (query_id, neighbor_id, cell_rank, cos_sim). ``cell_rank`` is the
    probe order of the cell the neighbor lives in (1 = the query's
    nearest cell), so a consumer can slice any probe depth <= n_probe
    from ONE scored frame — :func:`ivf_topk` ranks it at full depth;
    :func:`ivf_recall_audit` slices per level without recomputing the
    assignment (a neighbor appears under exactly one cell, so
    cell_rank is unique per pair).

    The coarse centroids here are the first `n_cells` corpus vectors
    (:func:`_first_centroids`). Cell assignment is
    :func:`nearest_centroids` over micro-quantized vectors (|term| <
    2^44, 64-dim sum < 2^50 — exact in BIGINT, ties to the lower cell
    id), so probe-set membership is engine-exact and q34 carries a
    real DuckDB oracle. The assignment is a narrow map; the only
    shuffle is the probe-cell join, whose volume is corpus/n_cells ×
    n_probe on average — the linear-scan term drops by n_probe/n_cells
    at equal recall knobs. With ``n_probe == n_cells`` the result
    equals brute force exactly (pinned by a test).
    """
    cents = _first_centroids(emb, id_col, micro_ints(vec_col), n_cells)
    base = spread(emb, id_col).select(
        F.col(id_col),
        _to_double(vec_col).alias("v"),
        _norm(vec_col).alias("nrm"),
        micro_ints(vec_col).alias("vm"),
    )
    # coalesce makes the cell expression provably NON-NULL, so Catalyst
    # cannot add an isnotnull(join key) filter — which it would push
    # BELOW the spread() exchange, re-evaluating the entire n_cells-way
    # argmin in the (often 2-partition) scan stage: measured 2x the
    # whole kernel's cost, serialized on the scan's parallelism. The
    # fallback -1 is unreachable (n_cells >= 1 ⇒ the argmin array is
    # never empty).
    assigned = base.withColumn(
        "cell", F.coalesce(F.expr(f"{nearest_centroids('vm', cents)}[0].c"), F.lit(-1))
    ).drop("vm")
    probes = (
        base.filter(F.col(id_col) < query_max_id)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.posexplode(
                F.expr(f"{nearest_centroids('vm', cents, n_probe)}.c")
            ).alias("_cell_pos", "cell"),
        )
    )
    return (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (F.col("_cell_pos") + 1).cast("int").alias("cell_rank"),
            (_dot_d("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("cos_sim"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    query_max_id: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: rank :func:`ivf_scored_candidates` by
    (cos DESC, neighbor_id) per query and keep k — see the kernel's
    docstring for the determinism and scale contract. With
    ``n_probe == n_cells`` the result equals brute force exactly
    (pinned by a test)."""
    scored = ivf_scored_candidates(emb, n_cells, n_probe, query_max_id, id_col, vec_col)
    return _top_k_by_cos(scored, k)


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------

_DUCK_COS_BASE = """
base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
"""

# the brute-force cosine of queries vec_id < 10 against the corpus —
# the candidate frame of the q24, q68 and q121 oracles
_DUCK_BF_SCORED = f"""
WITH {_DUCK_COS_BASE},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos_sim
  FROM base q JOIN base c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 10
)"""


@register(
    "q23_embedding_near_dup",
    oracle=f"""
WITH {_DUCK_COS_BASE}
SELECT a.vec_id AS id1, b.vec_id AS id2,
       CAST(FLOOR(list_sum(list_transform(generate_series(1, len(a.v)),
            i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 1000000 + 0.5) AS BIGINT) AS cos_micro
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
      / (a.nrm * b.nrm) >= 0.4
ORDER BY id1, id2
""",
    doc="Embedding-cosine near-dup pairs (threshold 0.4; exactness kernel "
    "of ANN). Similarity emitted as micro-units BIGINT: both engines "
    "compute the identical sequential-fold double, so floor(x*1e6+0.5) "
    "is hash-stable (DECIMAL outputs are not — round-1 lesson).",
)
def q23_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        cosine_pairs(emb)
        .filter(F.col("cos_sim") >= 0.4)
        .select(
            "id1",
            "id2",
            F.floor(F.col("cos_sim") * 1000000 + F.lit(0.5)).cast("bigint").alias("cos_micro"),
        )
        .orderBy("id1", "id2")
    )


@register(
    "q24_ann_bruteforce_topk",
    oracle=f"""{_DUCK_BF_SCORED}, ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank,
         CAST(FLOOR(round(cos_sim, 6) * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_micro FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="Brute-force cosine top-5 neighbors for query vectors (ANN "
    "baseline). Query rows are selected by a predicate pushed into the "
    "plan (no driver-side id collect); similarity in micro-units BIGINT.",
)
def q24_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _micro_ranked(brute_force_topk(emb, F.col("vec_id") < 10, k=5))


def _ivf_ctes(n_cells: int) -> str:
    """The DuckDB replay of the IVF cell assignment shared by the q34,
    q139 and q124 oracles: micro grid, the first ``n_cells`` vectors as
    centroids, every vector's cells ranked by (d2, cell) and its
    nearest cell — ``ranked_cells`` and ``assigned``."""
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS vm
  FROM embeddings
), cents AS (
  SELECT vec_id AS cell, vm AS cm FROM base WHERE vec_id < {n_cells}
), dists AS (
  SELECT b.vec_id, c.cell,
         list_sum(list_transform(generate_series(1, len(b.vm)),
              kk -> (b.vm[kk] - c.cm[kk]) * (b.vm[kk] - c.cm[kk]))) AS d2
  FROM base b CROSS JOIN cents c
), ranked_cells AS (
  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk
  FROM dists
), assigned AS (
  SELECT vec_id, cell FROM ranked_cells WHERE rnk = 1
)"""


def _ivf_oracle(
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    query_max_id: int = 10,
    band: tuple[float, float] | None = None,
) -> str:
    band_where = (
        f"WHERE cos_raw >= {band[0]} AND cos_raw < {band[1]}" if band else ""
    )
    return f"""{_ivf_ctes(n_cells)}, probes AS (
  SELECT vec_id AS query_id, cell FROM ranked_cells
  WHERE rnk <= {n_probe} AND vec_id < {query_max_id}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos_raw
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.query_id
  JOIN base q ON q.vec_id = p.query_id
  JOIN base c ON c.vec_id = a.vec_id
), banded AS (
  SELECT query_id, neighbor_id, cos_raw, round(cos_raw, 6) AS cos_r
  FROM scored {band_where}
), ranked AS (
  -- rank on the RAW cosine (ADVICE r7): the Spark side (ivf_topk /
  -- hard_negative_mining_ivf) windows on unrounded cos_sim, so
  -- ranking the oracle on the 6-dp-rounded value would order two
  -- in-band neighbors differently when their cosines differ only
  -- past the 6th decimal. cos_micro stays derived from cos_r.
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS rank,
         CAST(FLOOR(cos_r * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM banded
)
SELECT query_id, neighbor_id, rank, cos_micro FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register(
    "q34_ann_ivf_topk",
    oracle=_ivf_oracle(),
    doc="IVF-cell ANN top-k (coarse quantizer + n_probe cell scan; the "
    "other 100TB scale path next to LSH). Cell assignment is integer "
    "squared-L2 over micro-quantized vectors (kmeans_lloyd recipe), so "
    "probe membership is engine-exact and the whole path hash-checks "
    "against DuckDB; exactness vs brute force additionally pinned by "
    "test_ivf_full_probe_equals_brute_force.",
)
def q34_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _micro_ranked(ivf_topk(emb, k=5))


def _lsh_oracle(k: int = 5, n_planes: int = N_PLANES, dim: int = 64) -> str:
    bucket_terms = _duck_sketch_bucket("nv", hyperplanes(dim, n_planes), dim)
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)) AS nv
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v, nrm, {bucket_terms} AS bucket FROM base
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos_r
  FROM bucketed q JOIN bucketed c
    ON q.bucket = c.bucket AND q.vec_id != c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS BIGINT) AS rank,
         CAST(FLOOR(cos_r * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_micro FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register(
    "q25_ann_lsh_topk",
    oracle=_lsh_oracle(),
    doc="LSH-bucketed ANN top-k (random-hyperplane sketch; the 100TB "
    "scale path). Bucket bits are signs of integer dots (nano-quantized "
    "vectors × integer planes), so bucket membership is engine-exact "
    "and the path hash-checks against DuckDB end-to-end.",
)
def q25_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _micro_ranked(lsh_bucket_ann(emb, k=5))


def quantize_int8_stats(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector int8 quantization audit: symmetric scale
    (max_abs/127), round-half-up quantize, reconstruction error.

    Entirely map-side JVM higher-order functions — the quantize +
    error fold never leaves the row, so this costs one corpus scan and
    zero shuffles at any scale (the 100 TB pre-step before shipping
    int8 embeddings to an ANN index). Error stats are emitted in
    micro-units BIGINT: both engines run the identical sequential
    fold, so floor(x*1e6+0.5) is hash-stable.

    Quantization is floor(v/scale + 0.5) — explicit round-half-up,
    because engines disagree on round()'s half-even/half-up choice.
    """
    base = spread(emb, id_col).select(
        F.col(id_col), F.col(vec_col).alias("v"), _max_abs(vec_col).alias("max_abs")
    )
    err_sum = F.expr(
        "aggregate(transform(v, x -> abs(floor(CAST(x AS DOUBLE) / (max_abs / 127.0) + 0.5)"
        " * (max_abs / 127.0) - CAST(x AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
    )
    return base.select(
        F.col(id_col),
        F.size("v").cast("bigint").alias("n_dims"),
        F.floor(F.col("max_abs") * 1000000 + F.lit(0.5)).cast("bigint").alias("max_abs_micro"),
        F.when(F.col("max_abs") == 0, F.lit(0))
        .otherwise(F.floor(err_sum / F.size("v") * 1000000 + F.lit(0.5)))
        .cast("bigint")
        .alias("mean_err_micro"),
    )


@register(
    "q57_embedding_quantize_int8",
    oracle="""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
  FROM embeddings
)
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS n_dims,
       CAST(FLOOR(max_abs * 1000000 + 0.5) AS BIGINT) AS max_abs_micro,
       CASE WHEN max_abs = 0 THEN 0
            ELSE CAST(FLOOR(list_sum(list_transform(v,
                 x -> abs(floor(x / (max_abs / 127.0) + 0.5) * (max_abs / 127.0) - x)))
                 / len(v) * 1000000 + 0.5) AS BIGINT)
       END AS mean_err_micro
FROM base ORDER BY vec_id
""",
    doc="Int8 symmetric-quantization audit per embedding: max-abs "
    "scale and mean reconstruction error (micro-units) — map-side "
    "fold, zero shuffles.",
)
def q57_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return quantize_int8_stats(emb).orderBy("vec_id")


_N_HYPERPLANES = 8
_DIM = 64


def _hyperplane_weights() -> list[list[int]]:
    """Deterministic integer hyperplane weights from md5 — computed
    once in Python and inlined as literals into BOTH the Spark plan
    and the DuckDB oracle, so the sketch is identical by construction
    (and costs no per-row hashing)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{h}|{k}".encode()).hexdigest()[:4], 16) - 32768
            for k in range(_DIM)
        ]
        for h in range(_N_HYPERPLANES)
    ]


def _max_abs(vec_col: str) -> Column:
    """Max |element| of a vector column (exact, order-insensitive)."""
    return F.expr(
        f"aggregate(transform({vec_col}, x -> abs(CAST(x AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> greatest(acc, v))"
    )


def _quantized(vec_col: str, max_abs_col: str) -> Column:
    """Int8 symmetric quantization as an integer array (same math as
    quantize_int8_stats): q_i = floor(v_i / (max_abs/127) + 0.5).
    Integer output ⇒ every downstream sign/bucket/distance decision is
    exact cross-engine. ``max_abs_col`` must be a precomputed column:
    referencing the fold inside the transform lambda would re-run it
    per element."""
    return F.expr(
        f"CASE WHEN {max_abs_col} = 0"
        f" THEN transform({vec_col}, x -> CAST(0 AS BIGINT))"
        f" ELSE transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) /"
        f" ({max_abs_col} / 127.0) + 0.5) AS BIGINT)) END"
    )


def _int8_base(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, qv): the shared q57 int8-quantized grid every PQ stage
    runs on — one corpus scan, map-side only."""
    return (
        spread(emb, id_col)
        .select(F.col(id_col), F.col(vec_col).alias("v"), _max_abs(vec_col).alias("_ma"))
        .select(F.col(id_col), _quantized("v", "_ma").alias("qv"))
    )


def ann_int8_lsh_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
) -> DataFrame:
    """ANN over the int8 grid: int8-quantize, integer hyperplane
    sketch (:func:`sketch_bucket` with 16-bit md5 planes) → 256
    buckets, candidates = same-bucket pairs, exact double-cosine
    re-rank (the q24-proven fold).

    Like q25's nano-grid sketch, every bucket decision is integer
    arithmetic, so DuckDB reproduces membership bit-for-bit and the
    whole ANN path is hash-checked. Unlike q25 (and
    :func:`_top_k_by_cos`) the rank orders on the 6-dp ROUNDED cosine,
    which its hash carries. Scale shape is unchanged: sketch is
    map-side, candidates come from a bucket equi-join (volume =
    corpus/256 per query on average)."""
    from pyspark.sql import Window

    bucket = sketch_bucket("qv", _hyperplane_weights())
    base = (
        spread(emb, id_col)
        .select(
            F.col(id_col),
            _to_double(vec_col).alias("v"),
            _norm(vec_col).alias("nrm"),
            _max_abs(vec_col).alias("_ma"),
        )
        .select(id_col, "v", "nrm", _quantized("v", "_ma").alias("qv"))
        .select(id_col, "v", "nrm", F.expr(f"CAST(({bucket}) AS INT)").alias("bucket"))
    )
    pred = query_filter if query_filter is not None else F.col(id_col) < 10
    q = base.filter(pred).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv_"),
        F.col("nrm").alias("qn"),
        "bucket",
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv_"),
        F.col("nrm").alias("cn"),
        "bucket",
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot_d("qv_", "cv_") / (F.col("qn") * F.col("cn")), 6).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.floor(F.col("cos_r") * 1000000 + F.lit(0.5)).cast("bigint").alias("cos_micro"),
        )
    )


def _int8_lsh_oracle() -> str:
    bucket_terms = _duck_sketch_bucket("qv", _hyperplane_weights(), _DIM)
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
  FROM embeddings
), quant AS (
  SELECT vec_id, v, nrm,
         CASE WHEN max_abs = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x / (max_abs / 127.0) + 0.5) AS BIGINT))
         END AS qv
  FROM base
), bucketed AS (
  SELECT vec_id, v, nrm, {bucket_terms} AS bucket FROM quant
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos_r
  FROM bucketed q JOIN bucketed c
    ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < 10
), ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id) AS BIGINT) AS rank,
         CAST(FLOOR(cos_r * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM scored
)
SELECT query_id, neighbor_id, rank, cos_micro FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@register(
    "q63_ann_int8_lsh_topk",
    oracle=_int8_lsh_oracle(),
    doc="Quantized-LSH ANN on the int8 grid: int8 vectors + integer "
    "hyperplane sketch (256 buckets) + exact cosine re-rank — q25's "
    "scale shape on the grid the PQ path shares, with the same "
    "hash-checked integer-sign bucket stage.",
)
def q63_ann_int8_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return ann_int8_lsh_topk(emb, k=5).orderBy("query_id", "rank")


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean embedding (the k-means/IVF "train the coarse
    quantizer" step, and the class-prototype builder for prototype
    classification).

    Engine-exact by construction: each element is nano-quantized to
    BIGINT up front (floor(x·1e9 + 0.5), the q63 trick), so the
    per-(label, dim) sum is integer arithmetic — no float summation
    order to disagree on. posexplode → groupBy(label, pos) shuffles
    rows×dims pairs, but map-side partial aggregation collapses each
    task's contribution to labels×dims before the exchange, so the
    shuffle is tiny at any corpus size. Mean emitted in micro-units.
    """
    exploded = emb.select(
        F.col(label_col).cast("bigint").alias("label"),
        F.posexplode(nano_ints(vec_col)).alias("pos", "en"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.sum("en").alias("sum_nano"))
        .select(
            "label",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            F.floor(F.col("sum_nano").cast("double") / (F.col("n_vectors") * 1000.0))
            .cast("bigint")
            .alias("centroid_micro"),
        )
    )


@register(
    "q67_label_centroids",
    oracle="""
WITH q AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         unnest(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT))) AS en
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(floor(CAST(SUM(en) AS DOUBLE) / (COUNT(*) * 1000.0)) AS BIGINT) AS centroid_micro
FROM q GROUP BY label, pos ORDER BY label, pos
""",
    doc="Per-label embedding centroids (mean vector per class) with "
    "integer-exact math: nano-quantized elements summed as BIGINT, "
    "posexplode + partial-agg groupBy — the coarse-quantizer training "
    "step of IVF, hash-checkable cross-engine.",
)
def q67_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return label_centroids(emb).orderBy("label", "pos")


def knn_label_vote(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_filter: Column | None = None,
) -> DataFrame:
    """kNN majority-vote classification: exact top-k neighbors per
    query (the q24 kernel), then the modal neighbor label (ties to the
    smallest label) with the query's own label for an accuracy read.

    The top-k set is tiny (queries × k), so the label join broadcasts
    it against the corpus; the vote count and argmax are window ops
    partitioned by query — no additional corpus shuffle."""
    from pyspark.sql import Window

    pred = query_filter if query_filter is not None else F.col(id_col) < 10
    topk = brute_force_topk(emb, pred, k=k)
    labels = emb.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl"))
    votes = (
        F.broadcast(topk.select("query_id", "neighbor_id"))
        .join(labels, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), "_nl")
    best = votes.withColumn("_vr", F.row_number().over(w)).filter(F.col("_vr") == 1)
    qlab = emb.filter(pred).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("_ql")
    )
    return best.join(qlab, "query_id").select(
        "query_id",
        F.col("_nl").cast("bigint").alias("predicted_label"),
        F.col("votes").cast("bigint").alias("votes"),
        F.col("_ql").cast("bigint").alias("query_label"),
        (F.col("_nl") == F.col("_ql")).alias("correct"),
    )


@register(
    "q68_knn_label_vote",
    oracle=f"""{_DUCK_BF_SCORED}, ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
), votes AS (
  SELECT r.query_id, e.label, COUNT(*) AS votes
  FROM ranked r JOIN embeddings e ON r.neighbor_id = e.vec_id
  WHERE r.rank <= 10 GROUP BY r.query_id, e.label
), best AS (
  SELECT query_id, label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
  FROM votes
)
SELECT b.query_id, CAST(b.label AS BIGINT) AS predicted_label,
       CAST(b.votes AS BIGINT) AS votes,
       CAST(q.label AS BIGINT) AS query_label,
       b.label = q.label AS correct
FROM best b JOIN embeddings q ON b.query_id = q.vec_id
WHERE b.vr = 1 ORDER BY b.query_id
""",
    doc="kNN majority-label vote (k=10) over exact cosine neighbors: "
    "per query the modal neighbor label, vote count, and whether it "
    "matches the query's own label — the label-propagation/eval "
    "composition of the ANN surface.",
)
def q68_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return knn_label_vote(emb, k=10).orderBy("query_id")


_KM_K = 8
_KM_ITERS = 2


def _km_assign(base: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Assign each vector to its nearest centroid — entirely map-side:
    :func:`nearest_centroids` against the centroids inlined as one
    literal (k×dim ints, a few KB), so assignment is one projection
    over the corpus, cluster id = the centroid's list index, ties to
    the lowest id. NO shuffle and no join — the only corpus-sized
    exchange in a Lloyd round is the k×dim recompute aggregate."""
    best = F.expr(f"{nearest_centroids('em', centroids_sql(enumerate(centroids)))}[0]")
    return base.withColumn("_best", best).select(
        "vec_id", "em", F.col("_best.c").alias("cluster"), F.col("_best.d").alias("d")
    )


def kmeans_assignments(
    emb: DataFrame, k: int = _KM_K, n_iter: int = _KM_ITERS,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """The Lloyd loop of kmeans_lloyd, stopping at the final
    assignment relation (vec_id, em, cluster, d) — reused by the
    semantic-dedup stage, which needs per-vector clusters rather than
    the per-cluster summary. See kmeans_lloyd for the determinism and
    scale contract."""
    base = spread(emb, id_col).select(
        F.col(id_col).alias("vec_id"), micro_ints(vec_col).alias("em")
    )
    init = base.orderBy("vec_id").limit(k).collect()  # k rows: the init-point read
    centroids = [list(r["em"]) for r in init]
    assigned = _km_assign(base, centroids)
    for _ in range(n_iter - 1):
        by_dim = (
            assigned.select("cluster", F.posexplode("em").alias("pos", "e"))
            .groupBy("cluster", "pos")
            .agg(F.sum("e").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cluster", "pos",
                F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint").alias("cm"),
            )
        )
        rows = by_dim.collect()  # k×dim ints — the Lloyd sync point
        cmap: dict[int, dict[int, int]] = {}
        for r in rows:
            cmap.setdefault(r["cluster"], {})[r["pos"]] = r["cm"]
        centroids = [
            [cmap[c][p] for p in sorted(cmap[c])] for c in sorted(cmap)
        ]
        assigned = _km_assign(base, centroids)
    return assigned


def kmeans_lloyd(
    emb: DataFrame, k: int = _KM_K, n_iter: int = _KM_ITERS,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over micro-quantized embeddings — the training
    loop behind the IVF coarse quantizer (q34) and the label centroids
    (q67), engine-exact by construction.

    Determinism: elements quantized to BIGINT micro-units up front;
    init = the k lowest ids' vectors; distances are integer sums (no
    float order sensitivity); recomputed centroids are
    floor(int_sum / n) via one IEEE division of exact ints. So every
    iteration is bit-reproducible across engines — the DuckDB oracle
    replays the identical unrolled iterations.

    Scale shape per round: assignment is map-side (centroids are a
    literal, see _km_assign); the recompute groupBy(cluster, pos)
    shuffles only k×dim rows after map-side partial aggregation; the
    driver collects k×dim ints (KBs) to rebuild the literal — the
    inherent sync point of an iterative algorithm (same pattern as the
    connected-components rounds, dedup.py). Corpus text/vectors are
    never shuffled."""
    assigned = kmeans_assignments(emb, k, n_iter, id_col, vec_col)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.col("d").cast("decimal(38,0)")).cast("decimal(38,0)")
            .cast("string")
            .alias("inertia"),
        )
        .orderBy("cluster")
    )


def _km_oracle_ctes() -> str:
    """The WITH-clause prefix that replays the unrolled Lloyd
    iterations in DuckDB, ending with the final assignment relation
    a{iters-1}(vec_id, cluster, d). Shared by the q79 summary oracle
    and the q87 semantic-dedup oracle."""
    k, iters = _KM_K, _KM_ITERS
    head = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS em
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(generate_series(0, len(em) - 1)) AS pos, unnest(em) AS e
  FROM base
),
c0 AS (
  SELECT CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster, pos, e AS cm
  FROM ex WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
)"""
    steps = []
    for i in range(iters):
        prev_c = f"c{i}"
        steps.append(f""",
d{i} AS (
  SELECT ex.vec_id, c.cluster, SUM((ex.e - c.cm) * (ex.e - c.cm)) AS d
  FROM ex JOIN {prev_c} c ON ex.pos = c.pos
  GROUP BY 1, 2
),
a{i} AS (
  SELECT vec_id, cluster, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn FROM d{i}
  ) WHERE rn = 1
)""")
        if i < iters - 1:
            steps.append(f""",
c{i + 1} AS (
  SELECT a.cluster, ex.pos,
         CAST(floor(CAST(SUM(ex.e) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
  FROM a{i} a JOIN ex ON a.vec_id = ex.vec_id
  GROUP BY 1, 2
)""")
    return head + "".join(steps)


def _kmeans_oracle() -> str:
    return _km_oracle_ctes() + f"""
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(CAST(SUM(d) AS DECIMAL(38,0)) AS VARCHAR) AS inertia
FROM a{_KM_ITERS - 1} GROUP BY cluster ORDER BY cluster
"""


@register(
    "q79_kmeans_lloyd",
    oracle=_kmeans_oracle(),
    doc=f"Lloyd k-means (k={_KM_K}, {_KM_ITERS} unrolled iterations) over "
    "micro-quantized embeddings — the IVF coarse-quantizer TRAINING loop, "
    "made engine-exact (integer distances, floor-division centroids, "
    "lowest-id init) so the DuckDB oracle replays the identical "
    "iterations; per-cluster sizes + inertia. Assignment is map-side "
    "against literal centroids; each round shuffles only k×dim rows.",
)
def q79_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_lloyd(load(spark, sf_dir, "embeddings"))


_JL_OUT_DIM = 16


def _jl_signs(out_dim: int = _JL_OUT_DIM, in_dim: int = _DIM) -> list[list[int]]:
    """Deterministic +-1 Rademacher sign matrix from md5 — generated
    once in Python and inlined as literals into BOTH engines (the
    _hyperplane_weights convention), so the projection is identical by
    construction and costs no per-row hashing."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:4], 16) % 2 == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    out_dim: int = _JL_OUT_DIM,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (dim 64 -> 16) with a
    Rademacher +-1 matrix — the standard cheapening step before ANN /
    clustering when the embedding dim dominates cost (distances are
    preserved within (1+-eps) w.h.p.; Achlioptas 2003 shows +-1
    entries suffice, no Gaussians needed).

    Components are micro-quantized to BIGINT first (the q23
    floor(x*1e6+0.5) convention), so each output coordinate is an
    EXACT integer signed sum — hash-stable, no float accumulation
    order to disagree on. Entirely map-side: the sign matrix rides as
    array literals through whole-stage codegen; the only shuffle is
    the final presentation sort. Emits one row per (vec, out-dim) plus
    the per-vector JL distortion read: ratio_milli =
    floor(|proj|^2 * in_dim * 1000 / (out_dim * |orig|^2)) — ~1000
    when the embedding geometry survives the projection."""
    signs = _jl_signs(out_dim)
    d = spread(emb, id_col).select(F.col(id_col), micro_ints(vec_col).alias("m"))
    proj_structs = ", ".join(
        f"struct(CAST({j} AS BIGINT) AS out_dim,"
        f" aggregate(zip_with(m, {sql_bigint_array(row)}, (x, y) -> x * y),"
        f" 0L, (a, v) -> a + v) AS proj_micro)"
        for j, row in enumerate(signs)
    )
    d = d.select(
        id_col,
        F.expr(f"array({proj_structs})").alias("p"),
        F.expr("aggregate(m, 0L, (acc, x) -> acc + x * x)").alias("orig_sq"),
    )
    return (
        d.select(
            id_col,
            F.explode("p").alias("pp"),
            (
                F.expr(
                    "aggregate(p, 0L, (acc, s) -> acc + s.proj_micro * s.proj_micro)"
                )
                * _DIM * 1000
            ).alias("proj_sq_scaled"),
            "orig_sq",
        )
        .select(
            F.col(id_col),
            F.col("pp.out_dim").alias("out_dim"),
            F.col("pp.proj_micro").alias("proj_micro"),
            F.when(F.col("orig_sq") == 0, F.lit(0))
            .otherwise(F.expr(f"proj_sq_scaled DIV (orig_sq * {out_dim})"))
            .cast("bigint")
            .alias("distortion_milli"),
        )
        .orderBy(id_col, "out_dim")
    )


def _jl_oracle() -> str:
    signs = _jl_signs()
    vals = ",\n  ".join(
        "({}, [{}])".format(j, ", ".join(str(s) for s in row))
        for j, row in enumerate(signs)
    )
    return f"""
WITH m AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS m
  FROM embeddings
),
signs(j, s) AS (VALUES
  {vals}
),
proj AS (
  SELECT m.vec_id, CAST(signs.j AS BIGINT) AS out_dim,
         CAST(list_sum(list_transform(generate_series(1, {_DIM}),
              i -> m.m[i] * signs.s[i])) AS BIGINT) AS proj_micro
  FROM m CROSS JOIN signs
),
norms AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(m, x -> x * x)) AS BIGINT) AS orig_sq
  FROM m
),
psum AS (
  SELECT vec_id, CAST(SUM(proj_micro * proj_micro) AS BIGINT) AS proj_sq FROM proj GROUP BY vec_id
)
SELECT p.vec_id, p.out_dim, p.proj_micro,
       CAST(CASE WHEN n.orig_sq = 0 THEN 0
                 ELSE (ps.proj_sq * {_DIM} * 1000) // (n.orig_sq * {_JL_OUT_DIM})
            END AS BIGINT) AS distortion_milli
FROM proj p JOIN norms n USING (vec_id) JOIN psum ps USING (vec_id)
ORDER BY p.vec_id, p.out_dim
"""


@register(
    "q86_jl_projection",
    oracle=_jl_oracle(),
    doc=f"Johnson-Lindenstrauss Rademacher projection {_DIM}->{_JL_OUT_DIM} "
    "over micro-quantized embeddings — exact integer signed sums "
    "(hash-stable by construction), sign matrix inlined as literals in "
    "both engines, entirely map-side; per-vector distortion_milli "
    "reads ~1000 when distances survive, the cheapening step before "
    "ANN/clustering when dim dominates cost.",
)
def q86_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jl_project(load(spark, sf_dir, "embeddings"))


_SEMDEDUP_TAU = 0.4


def semantic_dedup(
    emb: DataFrame, tau: float = _SEMDEDUP_TAU,
    k: int = _KM_K, n_iter: int = _KM_ITERS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus with k-means, then look for near-duplicate
    cosine pairs ONLY within each cluster, and drop every vector that
    has a kept (lower-id) near-neighbor in its cluster.

    This is the scale story of embedding dedup: the q23 all-pairs
    kernel is O(n^2) over the corpus; clustering first makes the pair
    stage O(sum of cluster_size^2) — with balanced clusters an
    n/k-fold reduction — while catching the same semantic duplicates,
    which land in the same cluster by construction. The pair stage is
    a cluster-keyed equi-self-join (shuffle on cluster id, quadratic
    only within a cluster — the LSH-bucket shape, with the q21 cap
    story available if a cluster degenerates).

    Determinism: assignments come from the engine-exact Lloyd loop
    (kmeans_assignments); dot products and squared norms are exact
    integer sums over micro-quantized components; cosine divides those
    exact ints in IEEE doubles (both engines: identical inputs ->
    identical result). Emits one row per vector: cluster, is_kept, and
    the id of the kept duplicate it lost to (or NULL).

    ``k`` is plan-structural (a literal ``limit(k)`` init read and
    k×dim centroid literals per Lloyd round), so the q87 oracle
    replays the same unrolled loop."""
    assigned = kmeans_assignments(emb, k, n_iter)
    nsq = F.expr("aggregate(em, 0L, (acc, x) -> acc + x * x)")
    # Materialize the final assignment once: it feeds three plan
    # branches (both self-join sides + the keep/drop projection), and
    # each would otherwise re-run the k×dim argmin per row. Persisting
    # assignments is also what the production pipeline does — they are
    # the clustering's output artifact, not a transient.
    a = (
        assigned.select("vec_id", "cluster", "em")
        .withColumn("nsq", nsq)
        .localCheckpoint()
    )
    left = a.select(
        F.col("cluster"),
        F.col("vec_id").alias("keep_id"),
        F.col("em").alias("em_a"),
        F.col("nsq").alias("nsq_a"),
    )
    right = a.select(
        F.col("cluster"),
        F.col("vec_id").alias("drop_id"),
        F.col("em").alias("em_b"),
        F.col("nsq").alias("nsq_b"),
    )
    dot = F.aggregate(
        F.zip_with("em_a", "em_b", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dup_pairs = (
        left.join(right, on="cluster")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .withColumn("cos_sim", dot / (F.sqrt("nsq_a") * F.sqrt("nsq_b")))
        .filter(F.col("cos_sim") >= tau)
        .groupBy("drop_id")
        .agg(F.min("keep_id").alias("dup_of"))
    )
    return (
        a.select("vec_id", "cluster")
        .join(dup_pairs, a.vec_id == dup_pairs.drop_id, "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("dup_of").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_kept"),
            F.col("dup_of").cast("bigint"),
        )
        .orderBy("vec_id")
    )


def _semdedup_oracle() -> str:
    last = f"a{_KM_ITERS - 1}"
    return _km_oracle_ctes() + f""",
nv AS (
  SELECT b.vec_id, a.cluster, b.em,
         CAST(list_sum(list_transform(b.em, x -> x * x)) AS BIGINT) AS nsq
  FROM base b JOIN {last} a USING (vec_id)
),
dups AS (
  SELECT y.vec_id AS drop_id, CAST(MIN(x.vec_id) AS BIGINT) AS dup_of
  FROM nv x JOIN nv y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE CAST(list_sum(list_transform(generate_series(1, len(x.em)),
             i -> x.em[i] * y.em[i])) AS DOUBLE)
        / (sqrt(x.nsq) * sqrt(y.nsq)) >= {_SEMDEDUP_TAU}
  GROUP BY y.vec_id
)
SELECT nv.vec_id, nv.cluster,
       CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept,
       d.dup_of
FROM nv LEFT JOIN dups d ON nv.vec_id = d.drop_id
ORDER BY nv.vec_id
"""


@register(
    "q87_semantic_dedup",
    oracle=_semdedup_oracle(),
    doc=f"SemDeDup-style semantic dedup: k-means cluster (k={_KM_K}, "
    "engine-exact Lloyd), then cosine near-dup pairs ONLY within each "
    "cluster (cluster-keyed self-join — O(sum cluster_size^2), the "
    "n/k-fold reduction over the q23 all-pairs kernel), drop vectors "
    "with a kept lower-id neighbor at tau=0.4; per-vector keep flag + "
    "dup_of witness, exact integer dots over micro-quantized vectors.",
)
def q87_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(load(spark, sf_dir, "embeddings"))


_PQ_M = 4  # subspaces per vector
_PQ_K = 4  # codebook size per subspace; training set = vec_id < _PQ_K
# IVF-PQ codebook training (q160, q168): Lloyd rounds over the bounded
# sample vec_id < _PQ_TRAIN_MAX_ID
_PQ_TRAIN_ROUNDS = 2
_PQ_TRAIN_MAX_ID = 2000


def _pq_slice(sub: int) -> str:
    """Subspace mc.m of the row's int8 vector qv — the subvector every
    PQ code argmin and LUT entry is measured from."""
    return f"slice(qv, CAST(mc.m AS INT) * {sub} + 1, {sub})"


def _pq_subvector_pieces(n_sub: int, sub: int) -> Column:
    """The qv→subvector splitter shared by the codebook builder and
    the trainer: array of (m, sub) structs."""
    return F.array(
        *[
            F.struct(
                F.lit(mi).cast("bigint").alias("m"),
                F.slice("qv", mi * sub + 1, sub).alias("sub"),
            )
            for mi in range(n_sub)
        ]
    )


def _pq_codebook(base: DataFrame, id_col: str, n_sub: int, sub: int, n_codes: int) -> DataFrame:
    """ONE-row codebook frame: cb[m].cents = subspace m's centroids,
    cent_id-sorted (array index == code — the LUT addressing
    contract). Trained as the first ``n_codes`` vectors' subvectors
    (:func:`_pq_train_codebook` is the real trainer); broadcast by
    every consumer."""
    pieces = _pq_subvector_pieces(n_sub, sub)
    return (
        base.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("cent_id"), F.explode(pieces).alias("p"))
        .groupBy(F.col("p.m").alias("m"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("cent_id"), F.col("p.sub").alias("csub")))
            ).alias("cents")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("m", "cents"))).alias("cb"))
    )


def _pq_best_expr(sub: int) -> Column:
    """best[m+1] = (d, c): the nearest code c of subspace m for the
    row's qv against the broadcast ``cb`` column and its squared
    error d — map-side, one :func:`nearest_centroids` per subspace."""
    return F.expr(f"transform(cb, mc -> {nearest_centroids(_pq_slice(sub), 'mc.cents')}[0])")


def _pq_lut_expr(sub: int) -> Column:
    """Flat query LUT: lut[m * n_codes + code + 1] = exact subspace
    distance of the row's qv to that centroid."""
    return F.expr(
        f"flatten(transform(cb, mc -> transform(mc.cents, c -> {_sq_l2(_pq_slice(sub), 'c.csub')})))"
    )


def pq_assign_codes(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = _PQ_M,
    k: int = _PQ_K,
) -> DataFrame:
    """Product-quantization code assignment: split each int8-quantized
    vector into ``n_sub`` subvectors and map each to its nearest
    codebook entry (integer L2), emitting (id, m, code, sqerr).

    PQ is the memory layer under disk-scale ANN (IVF-PQ): 64 float
    dims collapse to ``n_sub`` byte codes. The whole assignment is
    engine-exact because it runs on the int8-quantized grid (the q57
    kernel) — distances are BIGINT folds with no float tie ambiguity.

    Scale shape: the codebook (:func:`_pq_codebook`: the first ``k``
    vectors' subvectors — q79's Lloyd loop is the real trainer) is ONE
    broadcast row; assignment is then a map-side ``array_min`` over k
    candidates per subspace (:func:`_pq_best_expr`, the same argmin as
    q126/q168's codes). One corpus scan, zero shuffles for the
    assignment itself; (sqerr, code) order breaks ties to the lowest
    code deterministically.
    """
    dim = _vec_dim(emb, vec_col) or n_sub
    sub = dim // n_sub
    base = _int8_base(emb, id_col, vec_col)
    cb = _pq_codebook(base, id_col, n_sub, sub, k)
    return (
        base.crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col),
            F.posexplode(_pq_best_expr(sub)).alias("m", "b"),
        )
        .select(
            F.col(id_col),
            F.col("m").cast("bigint").alias("m"),
            F.col("b.c").alias("code"),
            F.col("b.d").alias("sqerr"),
        )
    )


# the int8 grid (the q57 quantizer) as DuckDB CTEs base → q(vec_id, qv):
# the head of every PQ oracle (q92, q126, q160, q168)
_DUCK_INT8 = """
WITH base AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma,
         embedding AS e
  FROM embeddings
), q AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e,
                   x -> CAST(floor(CAST(x AS DOUBLE) / (ma / 127.0) + 0.5) AS BIGINT))
         END AS qv
  FROM base
)"""

# q92/q126: every vector's distance d to each of the _PQ_K codebook
# entries (the first _PQ_K vectors' subvectors) in each subspace
_PQ_CTES = f"""{_DUCK_INT8}, subs AS (
  SELECT vec_id, m, qv[(16 * m + 1):(16 * m + 16)] AS sub
  FROM q, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m)
), cents AS (
  SELECT vec_id AS cent_id, m, sub AS csub FROM subs WHERE vec_id < {_PQ_K}
), d AS (
  SELECT s.vec_id, s.m, c.cent_id,
         CAST(list_sum(list_transform(generate_series(1, 16),
              i -> (s.sub[i] - c.csub[i]) * (s.sub[i] - c.csub[i]))) AS BIGINT) AS dist
  FROM subs s JOIN cents c ON s.m = c.m
)"""


@register(
    "q92_pq_codes",
    oracle=f"""{_PQ_CTES}
SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(cent_id AS BIGINT) AS code, dist AS sqerr
FROM d
QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cent_id) = 1
ORDER BY vec_id, m
""",
    doc="Product-quantization code assignment: int8-quantized vectors "
    "split into 4 subspaces, each mapped to its nearest of 4 codebook "
    "entries by integer L2 — broadcast codebook, map-side array_min "
    "argmin, zero assignment shuffles. The memory layer of IVF-PQ ANN.",
)
def q92_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return pq_assign_codes(emb).orderBy("vec_id", "m")


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k search (q126): the QUERY path over
# the q92 memory layer — FAISS's ADC scan re-expressed declaratively.
# The query stays un-quantized-to-codes (asymmetric): per subspace it
# precomputes a k_codes-entry lookup table of exact squared distances
# to every centroid, and a database vector's approximate distance is
# just n_sub table lookups summed — the reason PQ search reads BYTES
# per vector instead of floats. Everything runs on the q57 int8 grid,
# so distances are BIGINT folds (engine-exact, hash-checkable).
#
# Scale shape: codebook = ONE broadcast row; corpus codes = one scan,
# ZERO shuffles (argmin inside whole-stage codegen); the LUT frame is
# queries × n_sub × k_codes rows, broadcast (bounded by the same
# loud guard as q24); the ADC scan is O(corpus × queries) lookups with
# NO per-pair vector math, then one top-k window partitioned by query.
# At 100 TB you put the q34 IVF coarse quantizer in front (probe
# cells → ADC only candidates) — that composition is IVF-PQ; the ADC
# kernel is identical.
# ---------------------------------------------------------------------------


def _pq_train_codebook(
    base: DataFrame,
    id_col: str,
    n_sub: int,
    sub: int,
    n_codes: int,
) -> DataFrame:
    """PQ codebook TRAINING: per-subspace Lloyd refinement of the
    first-``n_codes``-vectors init, ``_PQ_TRAIN_ROUNDS`` iterations —
    the q79 k-means recipe applied to each of the ``n_sub`` subvector
    spaces at once (cluster key = (m, code)). Engine-exact like q79:
    integer distances, centroids = floor(int_sum / n) via one IEEE
    division, argmin ties to the lowest code, an emptied code keeps its
    previous centroid. Returns the trained codebook as ONE one-row
    broadcastable frame (the `cb` contract of :func:`_pq_codebook`).

    Round 14 (guide §1.2/§5): the loop runs ON THE DRIVER over the
    collected sample. ``base`` here is always the bounded training
    sample (_PQ_TRAIN_MAX_ID rows × dim int8 values ≈ 128 KB — a
    bounded driver sync like q79's k×dim collect, O(1) in the corpus),
    yet the distributed formulation cost ~10 Spark jobs per query — a
    4M-row assign join, two shuffles and a localCheckpoint PER ROUND —
    and was ~4.5 s of each of q160's/q168's ~8 s at sf0.1
    (bench_logs/ivfpq_probe.txt). This is also how PQ training deploys
    (FAISS trains codebooks in-process on a fixed-size sample; only
    encode/search distribute). The arithmetic is replayed exactly:
    integer squared-L2 in int64, argmin ties to the lowest code,
    centroid update = floor of ONE IEEE-754 double division
    (numpy float64 division ≡ JVM double division), an emptied code
    keeps its previous centroid — the DuckDB oracle CTE chain and the
    old distributed loop produce byte-identical codebooks (driver-hash
    checked: q160/q168 green at sf0.01 and sf0.1).

    The trained codebook returns as a one-row PURE-JVM literal frame
    (``range(1).select(expr(...))`` — the :func:`centroids_sql`
    inlining recipe; a createDataFrame would be a Python-RDD relation,
    guide §4) so every consumer broadcast stays plan-identical.
    """
    import numpy as np

    spark = base.sparkSession
    rows = base.select(F.col(id_col).cast("bigint").alias("_id"), "qv").collect()
    vecs = sorted((int(r["_id"]), [int(x) for x in r["qv"]]) for r in rows)
    x = np.asarray([v for _, v in vecs], dtype=np.int64)  # (N, dim)
    # init: the first n_codes vectors' subvectors (code = vector id),
    # codes ascending — index order below IS code order, so argmin's
    # first-minimum rule ties to the lowest code
    codes = [i for i, _ in vecs if i < n_codes]
    by_id = {i: v for i, v in vecs}
    # cent[m]: (K, sub) int64, row k = centroid of codes[k]
    cent = [
        np.asarray([by_id[c][m * sub : (m + 1) * sub] for c in codes], dtype=np.int64)
        for m in range(n_sub)
    ]
    for _ in range(_PQ_TRAIN_ROUNDS):
        for m in range(n_sub):
            xm = x[:, m * sub : (m + 1) * sub]  # (N, sub)
            diff = xm[:, None, :] - cent[m][None, :, :]  # (N, K, sub)
            assign = (diff * diff).sum(axis=2).argmin(axis=1)  # (N,)
            sums = np.zeros((len(codes), sub), dtype=np.int64)
            np.add.at(sums, assign, xm)
            counts = np.bincount(assign, minlength=len(codes)).astype(np.int64)
            # recompute: floor(int_sum / n) via ONE IEEE float64
            # division per element (numpy ≡ JVM double division); an
            # emptied code keeps its previous centroid
            nonempty = counts > 0
            updated = np.floor(
                sums[nonempty].astype(np.float64) / counts[nonempty, None]
            ).astype(np.int64)
            nxt = cent[m].copy()
            nxt[nonempty] = updated
            cent[m] = nxt
    cb_sql = ", ".join(
        f"named_struct('m', {m}L, 'cents', {centroids_sql(zip(codes, cent[m]))})"
        for m in range(n_sub)
    )
    return spark.range(1).select(F.expr(f"array({cb_sql})").alias("cb"))


def _pq_adc_expr(n_sub: int, n_codes: int) -> Column:
    """ADC distance: n_sub LUT lookups summed — bytes per database
    vector, no per-pair vector math."""
    return F.expr(
        f"aggregate(zip_with(codes, sequence(CAST(0 AS BIGINT), CAST({n_sub - 1} AS BIGINT)),"
        f" (code, m) -> element_at(lut, CAST(m * {n_codes} + code + 1 AS INT))),"
        " CAST(0 AS BIGINT), (s, x) -> s + x)"
    )


def pq_adc_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = _PQ_M,
    n_codes: int = _PQ_K,
    query_filter: Column | None = None,
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Approximate top-k neighbors by PQ asymmetric distance: rank
    database vectors by Σ_m LUT[m][code_m] where LUT holds the query's
    exact subspace distances to each centroid and code_m is the
    database vector's q92 code. Deterministic tie-break (adc_dist,
    neighbor_id); codebook = the same first-``n_codes`` training rows
    as q92 so the two queries share one quantizer."""
    from pyspark.sql import Window

    if query_filter is None:
        raise ValueError("pass query_filter (the bounded query predicate)")
    dim = _vec_dim(emb, vec_col) or 64
    sub = dim // n_sub
    base = _int8_base(emb, id_col, vec_col)
    # codebook: ONE row; cb[m].cents = that subspace's centroids,
    # cent_id-sorted (array index == code, the LUT addressing contract)
    cb = _pq_codebook(base, id_col, n_sub, sub, n_codes)
    # corpus codes, WIDE (codes[m+1] = argmin code) — map-side only
    coded = base.crossJoin(F.broadcast(cb)).select(
        F.col(id_col).alias("neighbor_id"), _pq_best_expr(sub).getField("c").alias("codes")
    )
    # query LUT, flat: lut[m * n_codes + code + 1] = subspace distance
    _assert_bounded_query_side(emb.filter(query_filter), id_col, max_query_rows)
    queries = (
        base.filter(query_filter)
        .crossJoin(F.broadcast(cb))
        .select(F.col(id_col).alias("query_id"), _pq_lut_expr(sub).alias("lut"))
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(coded)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pq_adc_expr(n_sub, n_codes).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"), "adc_dist")
    )


_PQ_ADC_ORACLE = f"""{_PQ_CTES}, codes AS (
  SELECT vec_id, m, cent_id AS code FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cent_id) = 1
), lut AS (
  SELECT vec_id AS query_id, m, cent_id AS code, dist AS pdist
  FROM d WHERE vec_id < 10
), adc AS (
  SELECT l.query_id, co.vec_id AS neighbor_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.code
  WHERE co.vec_id <> l.query_id
  GROUP BY l.query_id, co.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
            AS BIGINT) AS rank,
       adc_dist
FROM adc
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) <= 5
ORDER BY query_id, rank
"""


@register(
    "q126_pq_adc_topk",
    oracle=_PQ_ADC_ORACLE,
    doc="PQ asymmetric-distance (ADC) top-k search over the q92 codes: "
    "per-query LUT of exact subspace distances to each centroid "
    "(broadcast), database vectors ranked by n_sub table lookups "
    "summed — bytes per vector, no per-pair float math. The query "
    "path of IVF-PQ (put the q34 coarse quantizer in front at scale).",
)
def q126_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, query_filter=F.col("vec_id") < 10).orderBy(
        "query_id", "rank"
    )


@register(
    "q121_hard_negative_mining",
    oracle=f"""{_DUCK_BF_SCORED}, banded AS (
  SELECT * FROM scored WHERE cos_sim >= 0.25 AND cos_sim < 0.85
), ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank,
         CAST(FLOOR(round(cos_sim, 6) * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM banded
)
SELECT query_id, neighbor_id, rank, cos_micro FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
    doc="Hard-negative mining for contrastive training: per query, "
    "top-5 candidates with cosine in [0.25, 0.85) — hard enough to "
    "teach, below the near-dup band that would poison the loss with "
    "false negatives; q24's engine-exact kernel with the banded "
    "filter, scale path = the same rank over LSH/IVF buckets.",
)
def q121_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _micro_ranked(
        brute_force_topk(emb, F.col("vec_id") < 10, k=5, band=(0.25, 0.85))
    )


def hard_negative_mining_ivf(
    emb: DataFrame,
    k: int = 5,
    lo: float = 0.25,
    hi: float = 0.85,
    n_cells: int = 16,
    n_probe: int = 4,
    query_max_id: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining over IVF candidate cells — the registered
    100 TB path of q121's banded :func:`brute_force_topk`: hard
    negatives lie NEAR the query by construction (cosine in
    [lo, hi) is the upper tail of the similarity distribution), so the
    probed-cell candidate set of the IVF index is the band's natural
    superset and the guarded O(corpus × queries) broadcast cross is
    unnecessary. Same banded filter + (cos DESC, id) rank as q121,
    applied to :func:`ivf_scored_candidates` — the join is the
    equi-join on cell id (shuffle volume ≈ corpus × n_probe/n_cells),
    with NO BroadcastNestedLoopJoin anywhere (plan-gated), and the
    recall trade is measured, not guessed, by q124's audit. With
    ``n_probe == n_cells`` the output equals q121 exactly (pinned)."""
    scored = ivf_scored_candidates(emb, n_cells, n_probe, query_max_id, id_col, vec_col)
    return _top_k_by_cos(scored, k, band=(lo, hi))


@register(
    "q139_hard_negatives_ivf",
    oracle=_ivf_oracle(band=(0.25, 0.85)),
    doc="Hard-negative mining over IVF candidate cells — q121's "
    "registered scale path: the [0.25, 0.85) cosine band + top-5 rank "
    "runs on the probed-cell equi-join candidates instead of the "
    "guarded broadcast cross (hard negatives live near the query, so "
    "the probe set is the band's natural superset); shuffle volume "
    "drops by ~n_probe/n_cells and the plan carries no "
    "BroadcastNestedLoopJoin. Oracle: the q34 IVF CTE chain with the "
    "band applied before ranking.",
)
def q139_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return _micro_ranked(hard_negative_mining_ivf(emb))


def ivf_recall_audit(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    probe_levels: tuple[int, ...] = (1, 2, 4, 8),
    query_max_id: int = 50,
) -> DataFrame:
    """Measured recall@k of IVF ANN per ``n_probe`` against EXACT
    brute-force top-k — the q114 pattern (measure, don't trust the
    formula) applied to the embedding index: the evidence that decides
    the n_probe/n_cells trade instead of the IVF rule of thumb.

    One exact pass (the q24 kernel over a bounded query set,
    checkpointed so the sweep reuses it) + ONE IVF kernel pass: cell
    assignment, probe ranking, and candidate scoring run once at the
    DEEPEST probe level (:func:`ivf_scored_candidates` keeps each
    candidate's ``cell_rank``), and every level is sliced from that
    ONE checkpointed frame in a SINGLE pass (round 14, guide §2.4 —
    the q160 fold): per level p, the old plan's row_number over the
    cell_rank<=p subset equals a running conditional count over one
    shared (desc cos_sim, neighbor_id) sort, the exact-baseline
    membership attaches once as a broadcast flag, and one
    conditional-sum aggregation + ``stack`` unpivot yields every
    level's counters — one window exchange and one aggregation job
    instead of a window + join + agg PER LEVEL. Per level,
    recall_permille = |IVF∩exact| * 1000 // |exact|. Run at gate
    scale or on a query sample — the exact side is the audit's cost,
    exactly as in the LSH audit (q114)."""
    from pyspark.sql import Window

    exact = (
        brute_force_topk(emb, F.col("vec_id") < query_max_id, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    possible = exact.agg(F.count(F.lit(1)).cast("bigint").alias("possible"))
    scored = ivf_scored_candidates(
        emb, n_cells=n_cells, n_probe=max(probe_levels), query_max_id=query_max_id
    ).localCheckpoint()
    wrun = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("cos_sim"), "neighbor_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_lvl = {p: (F.col("cell_rank") <= p).cast("long") for p in probe_levels}
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "cell_rank",
        *[F.sum(in_lvl[p]).over(wrun).alias(f"rank_{p}") for p in probe_levels],
    ).join(
        F.broadcast(exact.withColumn("_hit", F.lit(1).cast("long"))),
        ["query_id", "neighbor_id"],
        "left",
    ).withColumn("_hit", F.coalesce("_hit", F.lit(0).cast("long")))
    zero = F.lit(0).cast("bigint")
    agg = ranked.agg(
        *[
            F.coalesce(
                F.sum(
                    ((F.col("cell_rank") <= p) & (F.col(f"rank_{p}") <= k)).cast("long")
                    * F.col("_hit")
                ),
                zero,
            ).alias(f"hits_{p}")
            for p in probe_levels
        ]
    )
    stack = ", ".join(
        f"CAST({p} AS BIGINT), CAST(hits_{p} AS BIGINT), possible,"
        f" CAST((hits_{p} * 1000) div possible AS BIGINT)"
        for p in probe_levels
    )
    return (
        agg.crossJoin(F.broadcast(possible))
        .select(
            F.expr(
                f"stack({len(probe_levels)}, {stack})"
                " AS (n_probe, hits, possible, recall_permille)"
            )
        )
        .orderBy("n_probe")
    )


def _ivf_recall_oracle(
    k: int = 5, n_cells: int = 16,
    probe_levels: tuple[int, ...] = (1, 2, 4, 8), query_max_id: int = 50,
) -> str:
    levels = ", ".join(str(p) for p in probe_levels)
    return f"""{_ivf_ctes(n_cells)}, exact_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos_sim
  FROM base q JOIN base c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {query_max_id}
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM exact_scored
  ) WHERE rank <= {k}
), levels AS (SELECT unnest([{levels}]) AS n_probe),
probes AS (
  SELECT l.n_probe, rc.vec_id AS query_id, rc.cell
  FROM ranked_cells rc JOIN levels l ON rc.rnk <= l.n_probe
  WHERE rc.vec_id < {query_max_id}
), ivf_scored AS (
  SELECT p.n_probe, p.query_id, a.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.v)),
              i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos_sim
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.vec_id != p.query_id
  JOIN base q ON q.vec_id = p.query_id
  JOIN base c ON c.vec_id = a.vec_id
), ivf_topk AS (
  SELECT n_probe, query_id, neighbor_id FROM (
    SELECT n_probe, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM ivf_scored
  ) WHERE rank <= {k}
), hits AS (
  SELECT i.n_probe, CAST(COUNT(*) AS BIGINT) AS hits
  FROM ivf_topk i JOIN exact e
    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
  GROUP BY i.n_probe
), possible AS (SELECT CAST(COUNT(*) AS BIGINT) AS possible FROM exact)
SELECT CAST(l.n_probe AS BIGINT) AS n_probe,
       COALESCE(h.hits, 0) AS hits, p.possible,
       CAST((COALESCE(h.hits, 0) * 1000) // p.possible AS BIGINT) AS recall_permille
FROM levels l LEFT JOIN hits h ON l.n_probe = h.n_probe CROSS JOIN possible p
ORDER BY n_probe
"""


@register(
    "q124_ivf_recall_audit",
    oracle=_ivf_recall_oracle(),
    doc="IVF tuning audit: measured recall@5 of the probed-cell search "
    "vs exact brute force at n_probe = 1/2/4/8 (n_cells=16, 50-query "
    "set) — the q114 measure-don't-trust-the-formula pattern for the "
    "embedding index; the exact side is the audit's cost, run at gate "
    "scale or on a query sample.",
)
def q124_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_recall_audit(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q160: IVF-PQ composed END TO END (round-12 verdict item 2). The parts
# are individually green — coarse quantizer (q34), PQ codes (q92), ADC
# ranking (q126), measured-recall audit (q124) — but production ANN
# deploys them as ONE path: probe the n_probe nearest coarse cells,
# then rank ONLY the probed cells' members by ADC table lookups. This
# query runs that composed path and measures its recall@k against an
# exact full-scan baseline at several n_probe settings, with the
# scanned-candidate count per level — the actual recall-vs-cost curve
# an operator tunes at 100 TB.
#
# Everything runs on the shared q57 int8 grid (coarse cells, PQ
# codebook, ADC, and the exact baseline alike), so every distance is a
# BIGINT fold — engine-exact, no float-tie ambiguity, full DuckDB
# oracle. The audit isolates exactly the two losses IVF-PQ introduces
# (probe loss + code loss) on the quantizer's own metric space; q124
# separately audits the coarse probe against float cosine.
#
# Scale shape: ONE corpus scan assigns cells + codes map-side (the
# codebook is one broadcast row; the cell centroids are inlined
# literals, n_cells × dim ints). The only corpus shuffle is the
# probe-cell join, volume ≈ corpus/n_cells × n_probe × |queries| —
# candidates carry (cell_rank, codes) BYTES, never vectors. The exact
# baseline is the audit's cost (gate scale / query sample only), as in
# q114/q124. All probe levels slice ONE checkpointed candidate frame
# (a probe-p candidate set is exactly cell_rank <= p).
# ---------------------------------------------------------------------------


def _ivf_pq_scored(
    emb: DataFrame,
    n_cells: int,
    maxp: int,
    n_sub: int,
    n_codes: int,
    query_max_id: int,
    id_col: str,
    vec_col: str,
    max_query_rows: int,
) -> tuple[DataFrame, DataFrame]:
    """The probe→ADC candidate construction shared by the serving
    path (q168: this IS the query) and the recall audit (q160: this
    plus an exact full-scan baseline). Returns ``(base, scored)``:
    the int8-grid corpus frame and the candidate frame (query_id,
    neighbor_id, cell_rank ≤ ``maxp``, adc_dist) — cells assigned and
    PQ codes computed in ONE map-side corpus pass, queries' LUT+probe
    lists broadcast, candidates carrying code BYTES only (vectors
    never shuffle).

    The PQ codebook trains on a BOUNDED deterministic sample
    (``{id} < _PQ_TRAIN_MAX_ID`` — round-13): Lloyd over the full corpus
    made the 10× wall 10× (28 s of q168's 26 s sf1.0 wall was
    training), and it is also just not how PQ deploys — FAISS trains
    codebooks on a fixed-size sample (~100k vectors) regardless of
    corpus size, then encodes everything. Training cost is now O(1)
    in the corpus; the corpus pays exactly one encode pass. The
    DuckDB oracle samples identically (pext CTE), so results stay
    engine-exact at every scale."""
    dim = _vec_dim(emb, vec_col) or 64
    sub = dim // n_sub
    base = _int8_base(emb, id_col, vec_col)
    # the encode is CPU-dense (coarse argmin + per-subspace code argmin
    # ≈ thousands of arithmetic lambda ops per row, ~1 ms/row measured)
    # over a ~300 B/row frame: when the scan yields fewer splits than
    # the work wants (the single-row-group fixture caps the map at 1-2
    # tasks), ONE narrow shuffle of (id, int8 grid) buys the encode —
    # and the audit's full-scan baseline — real parallelism. Width is
    # sized to ~512 rows/task (≈0.5 s of encode), never past the core
    # count: a 2k-row corpus gets 3 tasks, not 32 empty-ish ones. The
    # count is a parquet-metadata job (no projection evaluated). At
    # 100 TB file splits already exceed cores and this is a no-op.
    # ADVICE r13: check the split count FIRST — `want` is capped at
    # `cores`, so when the scan already yields >= cores splits no
    # repartition can result and the sizing count() job is skipped
    # entirely (the 100 TB case). The count only runs on small scans,
    # where it is one cheap job.
    cores = emb.sparkSession.sparkContext.defaultParallelism
    nparts = base.rdd.getNumPartitions()
    if nparts < cores:
        want = int(min(cores, max(1, base.count() // 512)))
        if nparts < want:
            base = base.repartition(want)

    # coarse centroids: the first n_cells int8 vectors, inlined as
    # literals (the q34 recipe). int8 grid: |term| <= 254^2, 64-dim
    # sum < 2^23 — exact in BIGINT.
    cents = _first_centroids(base, id_col, F.col("qv"), n_cells)
    cb = _pq_train_codebook(
        base.filter(F.col(id_col) < _PQ_TRAIN_MAX_ID), id_col, n_sub, sub, n_codes
    )
    # index side: ONE corpus pass — cell + PQ codes, both map-side
    # (coalesce: see ivf_scored_candidates — keeps the join key
    # provably non-null so the argmin isn't pushed below the exchange)
    coded = (
        base.crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.coalesce(F.expr(f"{nearest_centroids('qv', cents)}[0].c"), F.lit(-1)).alias("cell"),
            _pq_best_expr(sub).getField("c").alias("codes"),
        )
    )
    # query side: LUT + probe list, bounded + broadcast
    _assert_bounded_query_side(
        emb.filter(F.col(id_col) < query_max_id), id_col, max_query_rows
    )
    probes = (
        base.filter(F.col(id_col) < query_max_id)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col).alias("query_id"),
            _pq_lut_expr(sub).alias("lut"),
            F.posexplode(F.expr(f"{nearest_centroids('qv', cents, maxp)}.c")).alias(
                "_pos", "cell"
            ),
        )
        .select(
            "query_id", "lut", (F.col("_pos") + 1).cast("int").alias("cell_rank"), "cell"
        )
    )
    scored = (
        F.broadcast(probes)
        .join(coded, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "cell_rank",
            _pq_adc_expr(n_sub, n_codes).alias("adc_dist"),
        )
    )
    return base, scored


def ivf_pq_topk(
    emb: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 32,
    query_max_id: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """The IVF-PQ SERVING path (round-13, verdict item 2): coarse-probe
    the ``n_probe`` nearest cells, ADC-rank only those cells' members
    from their 8-byte PQ codes, return the top-``k`` per query —
    probe→ADC alone, no exact baseline, no refine. This is the shape
    actually deployed at 100 TB (the full scan exists only inside the
    q160 audit twin, exactly as q20 is q21's audit): cost per query is
    ≈ corpus/n_cells × n_probe code reads, and the candidate frame
    carries (cell_rank, codes) bytes — the corpus vectors are read
    once at index build and never again. Returns (query_id,
    neighbor_id, adc_rank, adc_dist), integer-exact on the shared
    int8 grid so the DuckDB oracle replays it value-for-value."""
    from pyspark.sql import Window

    _, scored = _ivf_pq_scored(
        emb,
        n_cells,
        n_probe,
        n_sub,
        n_codes,
        query_max_id,
        id_col,
        vec_col,
        max_query_rows,
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("adc_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("adc_rank") <= k)
        .select("query_id", "neighbor_id", "adc_rank", "adc_dist")
    )


def ivf_pq_recall_audit(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    probe_levels: tuple[int, ...] = (1, 2, 4),
    n_sub: int = 8,
    n_codes: int = 32,
    refine_r: int = 100,
    query_max_id: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Measured recall@k and scan cost of the composed IVF-PQ path
    per ``n_probe``: coarse-probe → ADC-rank candidates → exact
    refine of the top-``refine_r`` shortlist → top-k, versus exact
    integer-L2 top-k over the same int8 grid. Returns one row per
    probe level: (n_probe, scanned, hits_adc, hits_refined, possible,
    recall_adc_permille, recall_refined_permille) — the ADC column
    exposes the raw code loss, the refined column the deployed
    accuracy after the vectors-on-disk re-rank (FAISS's refine
    stage: ADC shortlists from BYTES, then only queries × refine_r
    full vectors are read back). The PQ config here is a production
    shape (8 subspaces × 32 codes = 8 bytes/vector, 16× compression)
    rather than q92/q126's didactic 4×4. The serving path itself is
    :func:`ivf_pq_topk` (q168); this audit is its recall/cost twin."""
    from pyspark.sql import Window

    base, scored = _ivf_pq_scored(
        emb,
        n_cells,
        max(probe_levels),
        n_sub,
        n_codes,
        query_max_id,
        id_col,
        vec_col,
        max_query_rows,
    )
    # all probe levels slice this ONE materialized candidate frame
    # (a probe-p candidate set is exactly cell_rank <= p)
    scored = scored.localCheckpoint()
    # exact baseline: full-scan integer L2 on the same grid — the
    # audit's cost, gate-scale/query-sample only (q114/q124 pattern)
    qside = base.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("qqv")
    )
    d2 = F.expr(_sq_l2("qqv", "qv"))
    we = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        F.broadcast(qside)
        .crossJoin(base.select(F.col(id_col).alias("neighbor_id"), "qv"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    # ---- all probe levels in ONE pass over the candidate frame
    # (round 14, guide §2.4: the per-level loop re-scanned `scored`
    # 3× and planned 9 aggregation jobs + 6 broadcasts; at corpus
    # scale the candidate frame is the big side, so the loop tripled
    # the heavy pass). Per level p, the old plan's row_number over the
    # cell_rank<=p SUBSET equals a running conditional count over ONE
    # window sorted the same way: rank_p(r) = Σ_{r' ≤ r} (cell_rank<=p)
    # with (adc_dist, neighbor_id) a strict total order per query —
    # identical because row_number of a filtered frame IS the running
    # count of filter-passers in sort order. All three level ranks
    # share one sort (same partition key + order → one exchange), the
    # exact-baseline membership attaches once as a broadcast flag, and
    # one conditional-sum aggregation yields every level's counters.
    neigh_vecs = base.select(F.col(id_col).alias("neighbor_id"), "qv")
    wrun = (
        Window.partitionBy("query_id")
        .orderBy("adc_dist", "neighbor_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_lvl = {p: (F.col("cell_rank") <= p).cast("long") for p in probe_levels}
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "cell_rank",
        *[F.sum(in_lvl[p]).over(wrun).alias(f"rank_{p}") for p in probe_levels],
    )
    # exact-baseline membership as a broadcast flag (queries × k rows)
    ranked = ranked.join(
        F.broadcast(exact.withColumn("_hit", F.lit(1).cast("long"))),
        ["query_id", "neighbor_id"],
        "left",
    ).withColumn("_hit", F.coalesce("_hit", F.lit(0).cast("long")))
    # refine: read back ONLY the union of the levels' shortlists and
    # re-rank by exact integer L2 (the same fold as the baseline) —
    # still queries × refine_r vector reads per level, not a rescan.
    # A row is in level p's shortlist iff cell_rank<=p AND rank_p<=R;
    # the per-level refined rank is the same running-count identity
    # over the (d2, neighbor_id) order.
    short_pred = None
    for p in probe_levels:
        c = (F.col("cell_rank") <= p) & (F.col(f"rank_{p}") <= refine_r)
        short_pred = c if short_pred is None else (short_pred | c)
    shortlist = ranked.filter(short_pred).select(
        "query_id", "neighbor_id", "cell_rank", "_hit",
        *[f"rank_{p}" for p in probe_levels],
    )
    wref = (
        Window.partitionBy("query_id")
        .orderBy("d2", "neighbor_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_short = {
        p: ((F.col("cell_rank") <= p) & (F.col(f"rank_{p}") <= refine_r)).cast("long")
        for p in probe_levels
    }
    refined = (
        F.broadcast(shortlist)
        .join(neigh_vecs, "neighbor_id")
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id", "neighbor_id", "cell_rank", "_hit",
            *[f"rank_{p}" for p in probe_levels],
            d2.alias("d2"),
        )
        .select(
            "query_id", "neighbor_id", "cell_rank", "_hit",
            *[f"rank_{p}" for p in probe_levels],
            *[F.sum(in_short[p]).over(wref).alias(f"rrank_{p}") for p in probe_levels],
        )
    )
    # one aggregation per frame: scanned + ADC hits from `ranked`,
    # refined hits from `refined`, possible from `exact`
    # coalesce(sum, 0): the old per-level count() of an empty frame
    # was 0, a sum over an empty frame is NULL — keep value parity
    zero = F.lit(0).cast("bigint")
    agg_adc = ranked.agg(
        *[F.coalesce(F.sum(in_lvl[p]), zero).alias(f"scanned_{p}") for p in probe_levels],
        *[
            # min(k, refine_r): the old plan took rank<=k FROM the
            # rank<=refine_r shortlist, so both caps apply
            F.coalesce(
                F.sum(
                    (
                        (F.col("cell_rank") <= p)
                        & (F.col(f"rank_{p}") <= min(k, refine_r))
                    ).cast("long")
                    * F.col("_hit")
                ),
                zero,
            ).alias(f"hits_adc_{p}")
            for p in probe_levels
        ],
    )
    agg_ref = refined.agg(
        *[
            F.coalesce(
                F.sum(
                    in_short[p]
                    * (F.col(f"rrank_{p}") <= k).cast("long")
                    * F.col("_hit")
                ),
                zero,
            ).alias(f"hits_ref_{p}")
            for p in probe_levels
        ]
    )
    possible = exact.agg(F.count(F.lit(1)).cast("bigint").alias("possible"))
    flat = (
        agg_adc.crossJoin(F.broadcast(agg_ref))
        .crossJoin(F.broadcast(possible))
    )
    # unpivot to one row per probe level (stack keeps the exact
    # column math of the old per-level rows)
    stack = ", ".join(
        f"CAST({p} AS BIGINT), CAST(scanned_{p} AS BIGINT), "
        f"CAST(hits_adc_{p} AS BIGINT), CAST(hits_ref_{p} AS BIGINT)"
        for p in probe_levels
    )
    out = flat.select(
        F.expr(
            f"stack({len(probe_levels)}, {stack}) AS "
            "(n_probe, scanned, hits_adc, hits_refined)"
        ),
        "possible",
    ).select(
        "n_probe",
        "scanned",
        "hits_adc",
        "hits_refined",
        "possible",
        F.expr("CAST((hits_adc * 1000) div possible AS BIGINT)").alias(
            "recall_adc_permille"
        ),
        F.expr("CAST((hits_refined * 1000) div possible AS BIGINT)").alias(
            "recall_refined_permille"
        ),
    )
    return out.orderBy("n_probe")


def _ivf_pq_ctes(
    n_cells: int,
    maxp: int,
    n_sub: int,
    n_codes: int,
    query_max_id: int,
    sub: int,
    dim: int,
) -> str:
    """The DuckDB CTE chain shared by the q160 and q168 oracles:
    int8 grid → coarse cells → per-query ranked cells → PQ training
    (on the bounded ``pext`` sample, vec_id < ``_PQ_TRAIN_MAX_ID`` —
    mirroring the Spark side's FAISS-style fixed training sample) →
    codes → per-query LUTs → the ``adc`` candidate frame (query_id,
    neighbor_id, cell_rank ≤ ``maxp``, adc_dist). Callers append
    their own tail after the closing paren."""
    # unrolled per-subspace Lloyd refinement (the q79 oracle pattern):
    # pc{i} = the codebook after i rounds; an emptied code keeps its
    # previous centroid via the LEFT JOIN + COALESCE. Training reads
    # ONLY pext; the final assignment (d/codes) covers all of pex.
    train = ""
    for i in range(_PQ_TRAIN_ROUNDS):
        train += f""", pd{i} AS (
  SELECT s.vec_id, s.m, c.code, SUM((s.e - c.cm) * (s.e - c.cm)) AS d
  FROM pext s JOIN pc{i} c ON s.m = c.m AND s.pos = c.pos
  GROUP BY 1, 2, 3
), pa{i} AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM pd{i}
  ) WHERE rn = 1
), pc{i + 1} AS (
  SELECT c.m, c.code, c.pos, COALESCE(n.cm, c.cm) AS cm
  FROM pc{i} c LEFT JOIN (
    SELECT a.m, a.code, e.pos,
           CAST(floor(CAST(SUM(e.e) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
    FROM pa{i} a JOIN pext e ON a.vec_id = e.vec_id AND a.m = e.m
    GROUP BY 1, 2, 3
  ) n ON c.m = n.m AND c.code = n.code AND c.pos = n.pos
)"""
    pc_final = f"pc{_PQ_TRAIN_ROUNDS}"
    return f"""{_DUCK_INT8}, cellc AS (
  SELECT vec_id AS cell, qv AS cqv FROM q WHERE vec_id < {n_cells}
), celld AS (
  SELECT b.vec_id, c.cell,
         CAST(list_sum(list_transform(generate_series(1, {dim}),
              i -> (b.qv[i] - c.cqv[i]) * (b.qv[i] - c.cqv[i]))) AS BIGINT) AS d2
  FROM q b CROSS JOIN cellc c
), ranked_cells AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rnk
  FROM celld
), assigned AS (
  SELECT vec_id, cell FROM ranked_cells WHERE rnk = 1
), subs AS (
  SELECT vec_id, m, qv[({sub} * m + 1):({sub} * m + {sub})] AS sub
  FROM q, (SELECT unnest(generate_series(0, {n_sub - 1})) AS m)
), pex AS (
  SELECT vec_id, m, unnest(generate_series(1, {sub})) AS pos, unnest(sub) AS e
  FROM subs
), pext AS (
  SELECT * FROM pex WHERE vec_id < {_PQ_TRAIN_MAX_ID}
), pc0 AS (
  SELECT m, vec_id AS code, pos, e AS cm FROM pex WHERE vec_id < {n_codes}
){train}, d AS (
  SELECT s.vec_id, s.m, c.code AS cent_id,
         CAST(SUM((s.e - c.cm) * (s.e - c.cm)) AS BIGINT) AS dist
  FROM pex s JOIN {pc_final} c ON s.m = c.m AND s.pos = c.pos
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, m, cent_id AS code FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cent_id) = 1
), lut AS (
  SELECT vec_id AS query_id, m, cent_id AS code, dist AS pdist
  FROM d WHERE vec_id < {query_max_id}
), adc AS (
  SELECT rc.vec_id AS query_id, a.vec_id AS neighbor_id, rc.rnk AS cell_rank,
         CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
  FROM ranked_cells rc
  JOIN assigned a ON a.cell = rc.cell AND a.vec_id <> rc.vec_id
  JOIN codes co ON co.vec_id = a.vec_id
  JOIN lut l ON l.query_id = rc.vec_id AND l.m = co.m AND l.code = co.code
  WHERE rc.vec_id < {query_max_id} AND rc.rnk <= {maxp}
  GROUP BY 1, 2, 3
)"""


def _ivf_pq_recall_oracle(
    k: int = 5,
    n_cells: int = 16,
    probe_levels: tuple[int, ...] = (1, 2, 4),
    n_sub: int = 8,
    n_codes: int = 32,
    refine_r: int = 100,
    query_max_id: int = 50,
    sub: int = 8,
    dim: int = 64,
) -> str:
    levels = ", ".join(str(p) for p in probe_levels)
    common = _ivf_pq_ctes(
        n_cells, max(probe_levels), n_sub, n_codes, query_max_id, sub, dim
    )
    return f"""{common}, exact_d AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, {dim}),
              i -> (qq.qv[i] - c.qv[i]) * (qq.qv[i] - c.qv[i]))) AS BIGINT) AS d2
  FROM q qq JOIN q c ON qq.vec_id <> c.vec_id
  WHERE qq.vec_id < {query_max_id}
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
    FROM exact_d
  ) WHERE rank <= {k}
), levels AS (SELECT unnest([{levels}]) AS n_probe),
shortlist AS (
  SELECT l.n_probe, a.query_id, a.neighbor_id,
         row_number() OVER (PARTITION BY l.n_probe, a.query_id
                            ORDER BY a.adc_dist, a.neighbor_id) AS rank
  FROM adc a JOIN levels l ON a.cell_rank <= l.n_probe
  QUALIFY row_number() OVER (PARTITION BY l.n_probe, a.query_id
                             ORDER BY a.adc_dist, a.neighbor_id) <= {refine_r}
), hits_adc AS (
  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS hits_adc
  FROM shortlist i JOIN exact e
    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
  WHERE i.rank <= {k}
  GROUP BY n_probe
), refined AS (
  SELECT s.n_probe, s.query_id, s.neighbor_id,
         row_number() OVER (PARTITION BY s.n_probe, s.query_id
                            ORDER BY ed.d2, s.neighbor_id) AS rank
  FROM shortlist s JOIN exact_d ed
    ON ed.query_id = s.query_id AND ed.neighbor_id = s.neighbor_id
), hits_refined AS (
  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS hits_refined
  FROM refined r JOIN exact e
    ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
  WHERE r.rank <= {k}
  GROUP BY n_probe
), scanned AS (
  SELECT l.n_probe, CAST(COUNT(*) AS BIGINT) AS scanned
  FROM adc a JOIN levels l ON a.cell_rank <= l.n_probe
  GROUP BY l.n_probe
), possible AS (SELECT CAST(COUNT(*) AS BIGINT) AS possible FROM exact)
SELECT CAST(l.n_probe AS BIGINT) AS n_probe,
       COALESCE(s.scanned, 0) AS scanned,
       COALESCE(ha.hits_adc, 0) AS hits_adc,
       COALESCE(hr.hits_refined, 0) AS hits_refined,
       p.possible,
       CAST((COALESCE(ha.hits_adc, 0) * 1000) // p.possible AS BIGINT)
           AS recall_adc_permille,
       CAST((COALESCE(hr.hits_refined, 0) * 1000) // p.possible AS BIGINT)
           AS recall_refined_permille
FROM levels l
LEFT JOIN scanned s ON l.n_probe = s.n_probe
LEFT JOIN hits_adc ha ON l.n_probe = ha.n_probe
LEFT JOIN hits_refined hr ON l.n_probe = hr.n_probe
CROSS JOIN possible p
ORDER BY n_probe
"""


@register(
    "q160_ivfpq_recall_audit",
    oracle=_ivf_pq_recall_oracle(),
    doc="IVF-PQ composed end to end — coarse-probe the nearest cells, "
    "ADC-rank only the probed cells' members (8 subspaces × 32 codes "
    "= 8 bytes/vector), exact-refine the top-20 shortlist — with "
    "measured recall@5 (raw-ADC and refined) and scanned-candidate "
    "count per n_probe (1/2/4) against an exact full-scan integer-L2 "
    "baseline on the same int8 grid. The production ANN deployment "
    "shape (q34 coarse + q92 codes + q126 ADC + FAISS-style refine "
    "under one q124-style audit): the recall-vs-cost curve that tunes "
    "n_probe at 100 TB, engine-exact end to end.",
)
def q160_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_pq_recall_audit(load(spark, sf_dir, "embeddings"))


def _ivf_pq_serving_oracle(
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 32,
    query_max_id: int = 50,
    sub: int = 8,
    dim: int = 64,
) -> str:
    common = _ivf_pq_ctes(
        n_cells, n_probe, n_sub, n_codes, query_max_id, sub, dim
    )
    return f"""{common}, ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rnk
  FROM adc WHERE cell_rank <= {n_probe}
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS adc_rank, adc_dist
FROM ranked WHERE rnk <= {k}
ORDER BY query_id, adc_rank
"""


@register(
    "q168_ivfpq_serving_topk",
    oracle=_ivf_pq_serving_oracle(),
    doc="The IVF-PQ SERVING path in isolation (round-13): coarse-probe "
    "the 2 nearest cells, ADC-rank only those cells' members from "
    "their 8-byte PQ codes, emit top-5 per query — probe→ADC alone, "
    "no exact baseline, no refine. q160 stays the audit twin that "
    "measures this path's recall against the full scan (the q20/q21 "
    "pattern); registering the serving shape separately is what the "
    "bench actually deploys at 100 TB: per-query cost ≈ corpus/16 × 2 "
    "code reads, candidates carry (cell_rank, codes) bytes, the "
    "corpus vectors are scanned exactly once at index build. "
    "Integer-exact on the shared int8 grid, fully DuckDB-oracled.",
)
def q168_ivfpq_serving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_pq_topk(load(spark, sf_dir, "embeddings")).orderBy(
        "query_id", "adc_rank"
    )
