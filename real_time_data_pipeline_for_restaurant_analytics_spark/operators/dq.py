"""Data-quality audit operators.

The reference's QA practice is manual probe SELECTs sprinkled through
the scripts (`02:50,83,262-264,347`, row counts at `03:164,285`, the
duplicate-key audit at `menu_proc.sql:310` — SURVEY §5). This module
is that practice systematized: declarative checks that run as plain
aggregates (one pass per table, map-side partials) and return
violation/profile rows instead of eyeballed result grids.

- column profile: null counts, distinct counts, min/max per column —
  one pass, no per-column jobs.
- referential orphans (q45): FK→PK orphan counts from one left join
  per relationship; at scale the join broadcasts the parent key set
  when small, else shuffles on the key like any equi-join.
- uniqueness: delegated to operators/merge.duplicate_key_audit (A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.casts import ppm_floor
from ..registry import register


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass per-column profile: rows, nulls, distincts, min, max
    (stringly-typed min/max so heterogeneous columns stack)."""
    total = F.count(F.lit(1))
    pieces = []
    for c in cols:
        pieces.append(
            F.struct(
                F.lit(c).alias("col_name"),
                total.alias("n_rows"),
                F.count(F.when(F.col(c).isNull(), 1)).alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
            )
        )
    agg = df.agg(F.array(*pieces).alias("p"))
    return agg.select(F.explode("p").alias("p")).select("p.*")


@register(
    "q45_dq_referential",
    oracle="""
SELECT 'events.user_id->customer' AS relationship,
       (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL) AS n_children,
       (SELECT COUNT(*) FROM events e WHERE e.user_id IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
       (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL),
       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
ORDER BY relationship
""",
    doc="Referential-integrity audit over the star schema: FK->PK orphan "
    "counts via anti-joins (the reference's probe-SELECT QA, systematized).",
)
def q45_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = [
        ("events.user_id->customer", load(spark, sf_dir, "events"), "user_id",
         load(spark, sf_dir, "customer"), "c_custkey"),
        ("lineitem.l_orderkey->orders", load(spark, sf_dir, "lineitem"), "l_orderkey",
         load(spark, sf_dir, "orders"), "o_orderkey"),
        ("orders.o_custkey->customer", load(spark, sf_dir, "orders"), "o_custkey",
         load(spark, sf_dir, "customer"), "c_custkey"),
    ]
    out = None
    for name, child, fk, parent, pk in rels:
        kids = child.filter(F.col(fk).isNotNull()).select(fk)
        parents = (
            parent.select(F.col(pk).alias(fk)).distinct().withColumn("_has", F.lit(1))
        )
        # one pass: count children and missing parents together (the
        # 1x1 crossJoin alternative plans as a nested-loop join)
        row = (
            kids.join(parents, on=fk, how="left")
            .agg(
                F.count(F.lit(1)).alias("n_children"),
                F.count(F.when(F.col("_has").isNull(), 1)).alias("n_orphans"),
            )
            .select(F.lit(name).alias("relationship"), "n_children", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


@register(
    "q46_dq_profile",
    oracle="""
SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*),
       COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
       COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
ORDER BY col_name
""",
    doc="One-pass column profile (nulls/distincts/min/max) — the probe-"
    "SELECT inspection habit as a single aggregate.",
)
def q46_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return column_profile(o, ["o_custkey", "o_orderpriority", "o_orderstatus"]).orderBy(
        "col_name"
    )


_N_BUCKETS = 10


def equidepth_histogram(df: DataFrame, val_col: str, n_buckets: int = _N_BUCKETS) -> DataFrame:
    """Equi-depth histogram WITHOUT a global sort: the ntile() shape
    funnels the whole relation through one reducer (the q44 round-1
    lesson), so instead (1) boundary quantiles come from the exact
    percentile aggregate — a mergeable map-side-combined state, one
    tiny shuffle; (2) the single boundary row broadcast-crosses back
    (the q48 scalar-combine pattern) and bucket assignment is a
    map-side comparison sum; (3) one vocabulary-sized groupBy(bucket).
    Depths are approximately equal (exact up to boundary ties and
    interpolation), which is what a profiling histogram needs."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    arr = ", ".join(f"{p}D" for p in probs)
    bnds = df.agg(F.expr(f"percentile({val_col}, array({arr}))").alias("bnds"))
    bucket = F.lit(1)
    for i in range(n_buckets - 1):
        bucket = bucket + (F.col(val_col).cast("double") > F.col("bnds")[i]).cast("int")
    return (
        df.crossJoin(F.broadcast(bnds))
        .select(bucket.cast("bigint").alias("bucket"), F.col(val_col))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.min(val_col).cast("bigint").alias("min_val"),
            F.max(val_col).cast("bigint").alias("max_val"),
        )
        .orderBy("bucket")
    )


def _hist_oracle() -> str:
    probs = [i / _N_BUCKETS for i in range(1, _N_BUCKETS)]
    arr = ", ".join(str(p) for p in probs)
    terms = " + ".join(
        f"(CASE WHEN CAST(cents AS DOUBLE) > q[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(_N_BUCKETS - 1)
    )
    return f"""
WITH v AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents FROM orders),
b AS (SELECT quantile_cont(CAST(cents AS DOUBLE), [{arr}]) AS q FROM v)
SELECT CAST(1 + {terms} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(MIN(cents) AS BIGINT) AS min_val,
       CAST(MAX(cents) AS BIGINT) AS max_val
FROM v CROSS JOIN b
GROUP BY 1 ORDER BY bucket
"""


def volume_anomalies(
    events: DataFrame, ts_col: str = "ts", type_col: str = "event_type",
    z_threshold: int = 2, trailing: int = 7, min_history: int = 3,
) -> DataFrame:
    """Daily-volume anomaly flags per event type: is today's count more
    than `z_threshold` sample standard deviations from the trailing
    `trailing`-day mean? The pipeline-health monitor that catches a
    broken producer or a duplicating replay before it poisons a day of
    training data.

    The z-test is EXACT INTEGER arithmetic — no floats anywhere, so it
    is hash-stable by construction.  With x = today, and (cnt, s, ss) =
    count/sum/sum-of-squares over the trailing frame:

        z^2 > T^2
        <=> (x - s/cnt)^2 * (cnt-1) / (ss - s^2/cnt) > T^2
        <=> (cnt*x - s)^2 * (cnt-1) > T^2 * cnt * (cnt*ss - s^2)

    both sides BIGINT (daily counts up to ~1e9 stay inside 64 bits for
    week-long frames; beyond that, widen the squared terms to
    DECIMAL(38,0) — the comparison, not the output, so hash stability
    is unaffected).  Scale shape: one groupBy(type, day) whose shuffle
    carries per-task partial counts (days x types rows, not events),
    then a window over the tiny daily relation partitioned by type —
    never a global sort."""
    daily = (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.to_date(ts_col).alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-trailing, -1)
    )
    x = F.col("n_events")
    cnt = F.count(x).over(w).cast("bigint")
    s = F.sum(x).over(w).cast("bigint")
    ss = F.sum(x * x).over(w).cast("bigint")
    dev = cnt * x - s
    lhs = dev * dev * (cnt - 1)
    rhs = F.lit(z_threshold * z_threshold) * cnt * (cnt * ss - s * s)
    return (
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            cnt.alias("trailing_days"),
            F.coalesce(s, F.lit(0)).alias("trailing_sum"),
            F.when((cnt >= min_history) & (lhs > rhs), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "q85_volume_anomalies",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
framed AS (
  SELECT event_type, day, n_events,
         CAST(COUNT(n_events) OVER w AS BIGINT) AS cnt,
         CAST(SUM(n_events) OVER w AS BIGINT) AS s,
         CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
       cnt AS trailing_days,
       COALESCE(s, 0) AS trailing_sum,
       CAST(CASE WHEN cnt >= 3
                  AND (cnt*n_events - s) * (cnt*n_events - s) * (cnt - 1)
                      > 4 * cnt * (cnt*ss - s*s)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM framed ORDER BY event_type, day
""",
    doc="Daily event-volume anomaly flags (|z| > 2 vs the trailing "
    "7-day window) in EXACT integer arithmetic — (cnt*x-s)^2*(cnt-1) "
    "> 4*cnt*(cnt*ss-s^2) — the pipeline-health monitor; shuffle "
    "carries daily partials, window runs over the tiny daily relation.",
)
def q85_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return volume_anomalies(load(spark, sf_dir, "events"))


def vector_profile(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group embedding-column health profile: vector counts, dim
    drift, NaN/null payloads, zero vectors, and norm spread — the
    column_profile idea extended to `array<float>` columns, which the
    training pipeline must gate before any ANN/dedup stage trusts them.

    Everything is one map-side fold per vector (size / isnan-count /
    micro-quantized squared norm) followed by a single group-count
    aggregate — no shuffle carries vectors, only the per-vector scalar
    triple. Norms travel as exact integer micro^2 units (components
    micro-quantized with the q23 floor(x*1e6+0.5) convention, then
    squared and summed: <= ~6e12 per vector, BIGINT-safe), and the
    group mean is exact integer division, so the output is hash-stable
    across engines."""
    q = f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
    per_vec = emb.select(
        F.col(group_col),
        F.size(vec_col).cast("bigint").alias("dim"),
        F.expr(
            f"aggregate({vec_col}, 0L, (acc, x) -> acc + CAST(isnan(x) AS BIGINT))"
        ).alias("n_nan"),
        F.expr(f"aggregate({q}, 0L, (acc, x) -> acc + x * x)").alias("norm_sq"),
    )
    return (
        per_vec.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.countDistinct("dim").cast("bigint").alias("n_distinct_dims"),
            F.sum((F.col("n_nan") > 0).cast("bigint")).alias("n_with_nan"),
            F.sum((F.col("norm_sq") == 0).cast("bigint")).alias("n_zero_vecs"),
            F.min("norm_sq").alias("min_norm_sq_micro2"),
            F.max("norm_sq").alias("max_norm_sq_micro2"),
            F.expr("sum(norm_sq) DIV count(1)").alias("avg_norm_sq_micro2"),
        )
        .orderBy(group_col)
    )


@register(
    "q83_vector_dq_profile",
    oracle="""
WITH per_vec AS (
  SELECT label,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(list_sum(list_transform(embedding, x -> CAST(isnan(x) AS BIGINT))) AS BIGINT) AS n_nan,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   * CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS norm_sq
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
       CAST(SUM(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
       CAST(SUM(CASE WHEN norm_sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
       CAST(MIN(norm_sq) AS BIGINT) AS min_norm_sq_micro2,
       CAST(MAX(norm_sq) AS BIGINT) AS max_norm_sq_micro2,
       CAST(SUM(norm_sq) // COUNT(*) AS BIGINT) AS avg_norm_sq_micro2
FROM per_vec GROUP BY label ORDER BY label
""",
    doc="Embedding-column health profile per label: dim drift, NaN "
    "payloads, zero vectors, micro^2-integer norm spread — the DQ gate "
    "an ANN/dedup stage needs before trusting a vector column; one "
    "map-side fold per vector, shuffle carries only scalar triples.",
)
def q83_vector_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vector_profile(load(spark, sf_dir, "embeddings"))


@register(
    "q82_equidepth_histogram",
    oracle=_hist_oracle(),
    doc="Equi-depth (decile) histogram of order value WITHOUT a global "
    "sort: mergeable exact-percentile boundaries + scalar broadcast-"
    "cross + map-side bucket assignment — the scale-safe replacement "
    "for ntile() profiling; per-bucket count/min/max in exact cents.",
)
def q82_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("bigint").alias("cents")
    )
    return equidepth_histogram(o, "cents")


def partition_fingerprints(
    df: DataFrame, part_col: Column, content_cols: list[str]
) -> DataFrame:
    """Per-partition content fingerprint for incremental-pipeline
    change detection: which day-partitions changed since the last run
    (and therefore need their rollups recomputed — the q50 incremental
    fold's invalidation input, and the batch analog of the reference's
    copy_history idempotence ledger, `06 Menu Entity.sql:78-79`).

    The fingerprint is (n_rows, h_sum, h_min, h_max) over h =
    md5(row-content) first 8 hex as BIGINT — every component is an
    ordinary commutative partial aggregate, so the scan is one pass
    and the shuffle carries 4 integers per partition. Deliberately NOT
    md5(string_agg(...)): an order-dependent digest needs a per-
    partition sort and a collect_list whose memory is the partition
    size; the component form is mergeable at any scale and
    order-insensitive by construction. A matching fingerprint is
    overwhelming (not cryptographic) evidence of unchanged content —
    the right trade for cache invalidation.

    NULL content is encoded positionally as the '<null>' sentinel:
    concat_ws would silently SKIP a NULL column, making ('a', NULL,
    'b') and ('a', 'b', NULL) hash identically — and the DuckDB twin
    (where || with NULL nulls the whole row hash) diverge.
    """
    row_h = F.expr(
        "CAST(conv(substring(md5(concat_ws('|', "
        + ", ".join(f"coalesce(CAST({c} AS STRING), '<null>')" for c in content_cols)
        + ")), 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        df.select(part_col.alias("part"), row_h.alias("h"))
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("h_sum"),
            F.min("h").cast("bigint").alias("h_min"),
            F.max("h").cast("bigint").alias("h_max"),
        )
        .orderBy("part")
    )


@register(
    "q97_partition_fingerprints",
    oracle="""
WITH h AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS part,
         CAST(('0x' || substr(md5(
              coalesce(CAST(o_orderkey AS VARCHAR), '<null>') || '|' ||
              coalesce(CAST(o_custkey AS VARCHAR), '<null>') || '|' ||
              coalesce(CAST(o_orderstatus AS VARCHAR), '<null>') || '|' ||
              coalesce(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), '<null>') || '|' ||
              coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')), 1, 8)) AS BIGINT) AS h
  FROM orders
)
SELECT part,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(h) AS BIGINT) AS h_sum,
       CAST(MIN(h) AS BIGINT) AS h_min,
       CAST(MAX(h) AS BIGINT) AS h_max
FROM h GROUP BY part ORDER BY part
""",
    doc="Month-partition content fingerprints over orders "
    "(n_rows/h_sum/h_min/h_max of per-row md5-derived ints) — "
    "mergeable order-insensitive change detection for incremental "
    "recomputes; one scan, 4 integers per partition on the shuffle.",
)
def q97_partition_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return partition_fingerprints(
        o,
        F.date_format("o_orderdate", "yyyy-MM"),
        ["o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)", "o_orderpriority"],
    )


@register(
    "q99_mad_anomalies",
    oracle="""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), med AS (
  SELECT CAST(FLOOR(quantile_cont(n_events, 0.5) * 1000 + 0.5) AS BIGINT) AS med_milli
  FROM daily
), dev AS (
  SELECT d.day, d.n_events, abs(1000 * d.n_events - m.med_milli) AS dev_milli
  FROM daily d, med m
), mad AS (
  SELECT CAST(FLOOR(quantile_cont(dev_milli, 0.5) + 0.5) AS BIGINT) AS mad_milli FROM dev
)
SELECT dev.day, dev.n_events,
       CAST(dev.dev_milli AS BIGINT) AS dev_milli,
       CAST(CASE WHEN dev.dev_milli > 3 * mad.mad_milli THEN 1 ELSE 0 END AS BIGINT)
         AS is_anomaly
FROM dev, mad ORDER BY dev.day
""",
    doc="Robust daily-volume anomaly screen: median/MAD instead of "
    "mean/stddev (q85's z-scores break when the anomaly itself inflates "
    "the stddev; MAD has a 50% breakdown point). Exact interpolated "
    "percentiles over integer milli-units on both engines; per-day "
    "counts are one partial aggregate, the two medians reduce a "
    "days-sized frame, scalars ride back via broadcast cross join.",
)
def q99_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # daily feeds FOUR lineage branches (med, dev, dev-inside-mad,
    # final) — without a cut each branch re-scans events. The frame is
    # days-sized, so the checkpoint is ~free and the corpus scan runs
    # once (the q115/q95 recipe; q99's only real cost is that scan).
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    ).localCheckpoint()
    med = daily.agg(
        F.floor(F.expr("percentile(n_events, 0.5)") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("med_milli")
    )
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day",
        "n_events",
        F.abs(F.lit(1000) * F.col("n_events") - F.col("med_milli")).alias("dev_milli"),
    )
    mad = dev.agg(
        F.floor(F.expr("percentile(dev_milli, 0.5)") + F.lit(0.5))
        .cast("bigint")
        .alias("mad_milli")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n_events",
            F.col("dev_milli").cast("bigint").alias("dev_milli"),
            F.when(F.col("dev_milli") > 3 * F.col("mad_milli"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


def distribution_drift(
    events: DataFrame,
    metric_col: str = "value",
    ts_col: str = "ts",
    split_ts: str = "2024-01-16 00:00:00",
    bin_width: float = 25.0,
    n_bins: int = 20,
) -> DataFrame:
    """Distribution-drift monitor between two time periods — the
    PSI/KS-family check a training-data pipeline runs before admitting
    a new crawl batch, in integer-exact form: fixed-width-bin the
    metric, compare the reference period (before ``split_ts``) against
    the current one as per-bin shares in ppm, and carry the total
    variation distance (Σ|Δ|/2, the L1 drift score) on every row.

    PSI's log-ratio term is IEEE-log dependent and NOT cross-engine
    stable, so the registered score is TVD over the same bins — the
    monitoring decision (alert when score > threshold) is equivalent;
    swap in the log term downstream if PSI units are required.

    Scale shape: one corpus scan folds to a ≤ ``n_bins``-row frame
    (conditional counts ride one partial-aggregated shuffle keyed by
    bin); the share/TVD windows run unpartitioned on that aggregated
    frame, so the single-partition exchange moves ``n_bins`` rows, not
    events. Period split is a row-local predicate — at 100 TB with
    date-partitioned storage, partition pruning serves each side.
    """
    b = (
        F.least(F.floor(F.col(metric_col) / F.lit(bin_width)), F.lit(n_bins - 1))
        .cast("int")
        .alias("bin_id")
    )
    is_ref = F.col(ts_col) < F.lit(split_ts).cast("timestamp")
    binned = events.select(
        b,
        F.when(is_ref, F.lit(1)).otherwise(F.lit(0)).alias("ref1"),
        F.when(is_ref, F.lit(0)).otherwise(F.lit(1)).alias("cur1"),
    )
    agg = binned.groupBy("bin_id").agg(
        F.sum("ref1").cast("bigint").alias("ref_n"),
        F.sum("cur1").cast("bigint").alias("cur_n"),
    )
    w = Window.partitionBy()
    shares = agg.select(
        "bin_id",
        "ref_n",
        "cur_n",
        ppm_floor(F.col("ref_n"), F.sum("ref_n").over(w)).alias("ref_ppm"),
        ppm_floor(F.col("cur_n"), F.sum("cur_n").over(w)).alias("cur_ppm"),
    ).withColumn("delta_ppm", F.col("cur_ppm") - F.col("ref_ppm"))
    return (
        shares.withColumn(
            # FLOOR on both sides: Spark's bigint cast truncates while
            # DuckDB's rounds, so a bare /2 diverges whenever the
            # absolute-delta sum is odd (review finding; the verified
            # scales all happened to land even).
            "tvd_ppm",
            F.floor(F.sum(F.abs(F.col("delta_ppm"))).over(w) / 2).cast("bigint"),
        )
        .select("bin_id", "ref_n", "cur_n", "ref_ppm", "cur_ppm", "delta_ppm", "tvd_ppm")
        .orderBy("bin_id")
    )


@register(
    "q131_distribution_drift",
    oracle="""
WITH binned AS (
  SELECT CAST(least(floor(value / 25.0), 19) AS INT) AS bin_id,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ref1,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS cur1
  FROM events
), agg AS (
  SELECT bin_id, CAST(SUM(ref1) AS BIGINT) AS ref_n, CAST(SUM(cur1) AS BIGINT) AS cur_n
  FROM binned GROUP BY bin_id
), shares AS (
  SELECT bin_id, ref_n, cur_n,
         CAST(FLOOR(CAST(ref_n AS DECIMAL(20,6)) * 1000000 / SUM(ref_n) OVER ()) AS BIGINT)
           AS ref_ppm,
         CAST(FLOOR(CAST(cur_n AS DECIMAL(20,6)) * 1000000 / SUM(cur_n) OVER ()) AS BIGINT)
           AS cur_ppm
  FROM agg
)
SELECT bin_id, ref_n, cur_n, ref_ppm, cur_ppm,
       cur_ppm - ref_ppm AS delta_ppm,
       CAST(FLOOR(SUM(ABS(cur_ppm - ref_ppm)) OVER () / 2) AS BIGINT) AS tvd_ppm
FROM shares
ORDER BY bin_id
""",
    doc="Distribution-drift monitor: fixed-bin shares of the event "
    "value metric in a reference vs current period (split mid-month), "
    "per-bin delta and the total-variation drift score in ppm — the "
    "PSI-family admission check for a new data batch, integer-exact; "
    "one corpus scan to a bins-sized frame, windows on that frame only.",
)
def q131_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distribution_drift(load(spark, sf_dir, "events"))
