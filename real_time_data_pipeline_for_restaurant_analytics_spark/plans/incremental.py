"""Batch-SQL-expressible views of the incremental operators
(SURVEY §2.5 C1-C5).

The reference's heart is the stream→MERGE loop: SCD1 upserts into the
clean layer (`order_proc.sql:96-195`) and SCD2 versioning into the
dims (`order_proc.sql:195-303`). The *stateful* merge library lives in
``operators/merge.py`` (tested against golden day-01/day-02 fixtures);
the two queries here express the same semantics as pure relational
plans over an event history, so the driver's DuckDB oracle can verify
the versioning math value-for-value:

- q17: SCD1 "latest snapshot" — what the clean table holds after
  replaying all change records.
- q18: SCD2 "full version history" — eff_start/eff_end/is_current
  as the dim would hold after replaying the history in order,
  UNGUARDED: every change record opens a new version even when the
  tracked attributes are identical to the previous one (the LEAD
  formulation has no change guard). ``apply_scd2`` additionally
  applies the reference's guarded-merge no-op branch, so a history
  with repeated-identical attributes yields FEWER versions there —
  q18 verifies the validity-interval algebra (eff_start/eff_end
  chaining, is_current), q17/the golden SCD fixtures verify the
  guard. (Review r8: the old text overclaimed "same semantics".)

Treating `events` as the change feed: user_id = business key,
ts = change timestamp, (event_type, value) = tracked attributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@register(
    "q17_scd1_latest_snapshot",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, event_type, CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS value,
         strftime(ts, '{_TS_FMT_DUCK}') AS updated_at,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, updated_at FROM ranked WHERE rn = 1 ORDER BY user_id
""",
    doc="SCD1 upsert result: latest attribute tuple per business key (C3 as a plan).",
)
def q17_scd1_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select(
            "user_id",
            "event_type",
            F.col("value").cast("decimal(18,6)").cast("string").alias("value"),
            F.date_format("ts", _TS_FMT_SPARK).alias("updated_at"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


@register(
    "q18_scd2_version_history",
    oracle=f"""
SELECT user_id,
       event_type,
       CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS value,
       strftime(ts, '{_TS_FMT_DUCK}') AS eff_start,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '{_TS_FMT_DUCK}') AS eff_end,
       CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            THEN TRUE ELSE FALSE END AS is_current,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version_no
FROM events
ORDER BY user_id, version_no
""",
    doc="SCD2 dim content after replaying the change history (C4 as a plan).",
)
def q18_scd2_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lead_ts = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_type",
        F.col("value").cast("decimal(18,6)").cast("string").alias("value"),
        F.date_format("ts", _TS_FMT_SPARK).alias("eff_start"),
        F.date_format(lead_ts, _TS_FMT_SPARK).alias("eff_end"),
        lead_ts.isNull().alias("is_current"),
        F.row_number().over(w).cast("bigint").alias("version_no"),
    ).orderBy("user_id", "version_no")


def merge_additive_aggregate(
    state: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Fold a partial aggregate into running state: union + re-reduce.
    Works for any algebraic measures (sums/counts — all non-key
    columns are summed). This is incremental materialized-view
    maintenance: each refresh shuffles only the delta's keyspace, not
    the full history — the aggregate twin of the SCD1 merge.
    """
    measures = [c for c in delta.columns if c not in keys]
    both = delta if state is None else state.unionByName(delta)
    return both.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in measures]
    )


@register(
    "q50_incremental_rollup",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(24,6)) AS VARCHAR) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
""",
    doc="Incremental aggregate maintenance: per-day partial aggregates "
    "folded into running state day by day; result must equal (and is "
    "oracle-checked against) the one-shot full aggregate.",
)
def q50_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    # ONE scan + ONE shuffle builds every day's partial aggregate
    # (the refresh-batch inputs); the fact table is never read again.
    # localCheckpoint materializes them so the fold below reuses the
    # tiny partial frame instead of re-scanning 100 TB per day — the
    # scale-correct replay of N daily refreshes.
    partials = (
        e.groupBy("day", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .localCheckpoint()
    )
    days = sorted(r[0] for r in partials.select("day").distinct().collect())
    state = None
    for i, d in enumerate(days):
        delta = partials.filter(F.col("day") == F.lit(d)).drop("day")
        state = merge_additive_aggregate(state, delta, ["user_id"])
        # Production folds persist state per refresh; replaying N
        # refreshes in one process, a per-day checkpoint would run N
        # sequential materialization jobs. Cutting lineage every 8
        # folds keeps the plan depth bounded (the compaction-interval
        # pattern) at 1/8th the job count — the between-checkpoint
        # chain is 8 cheap union+reduce steps over key-sized frames.
        if (i + 1) % 8 == 0:
            state = state.localCheckpoint()
    return state.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_value").cast("decimal(24,6)").cast("string").alias("sum_value"),
    ).orderBy("user_id")


@register(
    "q161_duplicate_key_audit",
    oracle="""
WITH clean AS (
  SELECT c_custkey AS customer_id,
         CASE WHEN c_custkey % 10 IN (0, 3)
              THEN 'MOVED-' || c_mktsegment ELSE c_mktsegment END AS segment
  FROM customer
),
corrupt AS (
  SELECT * FROM clean
  UNION ALL SELECT * FROM clean WHERE customer_id % 7 = 0
  UNION ALL SELECT * FROM clean WHERE customer_id % 13 = 0
  UNION ALL SELECT * FROM clean WHERE customer_id % 13 = 0
),
post_merge_audit AS (
  SELECT customer_id, COUNT(*) AS n_rows, MIN(segment) AS segment
  FROM clean GROUP BY customer_id HAVING COUNT(*) > 1
),
injected_audit AS (
  SELECT customer_id, COUNT(*) AS n_rows, MIN(segment) AS segment
  FROM corrupt GROUP BY customer_id HAVING COUNT(*) > 1
)
SELECT 'post_merge' AS table_state, * FROM post_merge_audit
UNION ALL
SELECT 'injected' AS table_state, * FROM injected_audit
ORDER BY table_state, customer_id
""",
    doc="A4 duplicate-surrogate-key audit (the reference's one "
    "systematic QA probe, `menu_proc.sql:310`: SELECT menu_id .. "
    "GROUP BY menu_id HAVING COUNT(*) > 1) registered under the "
    "driver hash. A clean table is built by the REAL production "
    "operators — latest_per_key (C6, the in-batch dedup: every "
    "k%20==0 day-2 row also carries a stale earlier-timestamp copy "
    "with a 'STALE-' segment that must LOSE) then merge_upsert (C3, "
    "day-2 re-segments k%10 IN (0,3) to 'MOVED-') — and audited "
    "twice: post-merge (must be EMPTY under the hash: zero "
    "'post_merge' rows — if the merge ever fabricated a duplicate "
    "key, extra rows appear and the hash breaks) and after an "
    "injected double-apply corruption (k%7 once, k%13 twice → "
    "n_rows 2/3/4 at the lcm) that exercises the non-empty branch. "
    "The audited segment value rides along, pinning that the dedup "
    "winner and the day-2 merge both landed.",
)
def q161_duplicate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import duplicate_key_audit, latest_per_key, merge_upsert

    t1 = F.lit("2024-06-01 08:00:00").cast("timestamp")
    t2 = F.lit("2024-06-02 08:00:00").cast("timestamp")
    key, attrs = ["customer_id"], ["name", "segment"]

    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    day1 = base.withColumn("modified_ts", t1)
    clean1 = merge_upsert(None, day1, key, attrs)

    # Day-2 drop: k%10 IN (0,3) re-segmented; every k%20==0 key ALSO
    # ships a stale earlier copy the C6 dedup must discard.
    changed = day1.filter((F.col("customer_id") % 10).isin(0, 3)).select(
        "customer_id",
        "name",
        F.concat(F.lit("MOVED-"), F.col("segment")).alias("segment"),
        t2.alias("modified_ts"),
    )
    stale = changed.filter(F.col("customer_id") % 20 == 0).select(
        "customer_id",
        "name",
        F.concat(F.lit("STALE-"), F.col("segment")).alias("segment"),
        (t2 - F.expr("INTERVAL 1 HOUR")).alias("modified_ts"),
    )
    day2 = changed.unionByName(stale)
    # one agg job, not a count() plus a distinct().count() (guide
    # §1.2); customer_id is the non-null c_custkey, so COUNT(DISTINCT)
    # equals the distinct-row count here, and the same job asserts it
    s = day2.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct(*key).alias("n_keys"),
        F.count(F.when(F.col("customer_id").isNull(), 1)).alias("n_null_keys"),
    ).collect()[0]
    n_raw, n_keys = s["n_raw"], s["n_keys"]
    assert s["n_null_keys"] == 0, (
        f"day-2 batch has {s['n_null_keys']} NULL customer_id rows — "
        "COUNT(DISTINCT) would skip them and n_keys would undercount"
    )
    assert n_raw > n_keys, (
        f"day-2 batch has no physical in-batch duplicates "
        f"({n_raw} rows over {n_keys} keys) — the C6 guard was not exercised"
    )
    batch = latest_per_key(day2, key, [F.col("modified_ts").desc_nulls_last()])
    clean2 = merge_upsert(
        clean1, batch, key, attrs, modified_col="modified_ts", batch_ts=t2
    ).localCheckpoint()  # one materialization; audits + injection reuse it

    # Injected double-apply corruption: k%7 re-applied once, k%13
    # twice — n_rows 2 / 3 (and 4 where both divide).
    corrupt = (
        clean2.unionByName(clean2.filter(F.col("customer_id") % 7 == 0))
        .unionByName(clean2.filter(F.col("customer_id") % 13 == 0))
        .unionByName(clean2.filter(F.col("customer_id") % 13 == 0))
    )

    def audited(df: DataFrame, state: str) -> DataFrame:
        seg = df.groupBy(*key).agg(F.min("segment").alias("segment"))
        return (
            duplicate_key_audit(df, key)
            .join(seg, key, "inner")
            .select(
                F.lit(state).alias("table_state"),
                *key,
                "n_rows",
                "segment",
            )
        )

    return (
        audited(clean2, "post_merge")
        .unionByName(audited(corrupt, "injected"))
        .orderBy("table_state", "customer_id")
    )
