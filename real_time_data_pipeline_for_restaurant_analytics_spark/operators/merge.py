"""Incremental merge library: SCD1 upsert, SCD2 versioning, and
snapshot change-feeds (SURVEY §2.5 C1-C7) — the heart of the
reference pipeline, re-expressed as deterministic DataFrame
transforms.

The reference drives these with Snowflake MERGE + streams
(`order_proc.sql:96-309`, `02 Location Entity.sql:84-345`). OSS Spark
without Delta has no MERGE INTO, so each merge is a join+union
snapshot rewrite: pure, testable, and at scale each is one shuffle on
the business key (exactly what a Delta MERGE costs on the matched
partition set — here the table is rewritten, which is the right
trade below ~TB dims; above that you'd swap the storage layer for
Delta/Iceberg and keep these same semantics).

Semantics carried over from the reference:
- change-guarded updates: a matched row is touched ONLY if some
  tracked attribute differs null-safely (`order_proc.sql:139-142`,
  eqNullSafe ≡ Snowflake EQUAL_NULL, P10).
- batch dedup before merge (C6/C7): Snowflake MERGE errors on
  duplicate source keys; we keep latest-per-key by a deterministic
  ordering column.
- SCD2 three-branch merge (C4): close-out / new-version / first
  insert, with `created_col` mirroring v3's `eff_start = CREATED_DT`
  on first insert (`order_proc.sql:300`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SCD2_COLS = ("eff_start_date", "eff_end_date", "is_current")


def _null_safe_any_diff(left: str, right: str, attrs: list[str]) -> Column:
    """NOT EQUAL_NULL(t.a, s.a) OR ... — the reference's update guard
    (`order_item_proc.sql:128,188`)."""
    cond = F.lit(False)
    for a in attrs:
        cond = cond | ~F.col(f"{left}.{a}").eqNullSafe(F.col(f"{right}.{a}"))
    return cond


def latest_per_key(df: DataFrame, key: list[str], order_by: list[Column]) -> DataFrame:
    """Batch dedup (C6): keep one row per business key, latest by
    order_by (descending-priority columns supplied by the caller).

    A deterministic all-column hash rides as the FINAL tie-break
    (review r8): with a constant fallback order (no created_col) or
    ties on the ordering column, row_number previously picked
    whichever row the shuffle delivered first — rerun-unstable, and
    under the SCD2 change guard a flipped winner fabricates a spurious
    close-out + version. The hash makes the pick value-determined
    (identical duplicate rows tie harmlessly — either is the same
    row)."""
    tiebreak = F.xxhash64(*[F.col(c) for c in df.columns])
    w = Window.partitionBy(*key).orderBy(*order_by, tiebreak)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def duplicate_key_audit(df: DataFrame, key: list[str]) -> DataFrame:
    """Surrogate/business-key uniqueness audit (A4): keys appearing
    more than once — the reference's post-merge sanity check
    ``SELECT menu_id .. GROUP BY menu_id HAVING COUNT(*) > 1``
    (`menu_proc.sql:310`). Empty result = healthy table."""
    return (
        df.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def merge_upsert(
    target: DataFrame | None,
    source: DataFrame,
    key: list[str],
    attrs: list[str],
    modified_col: str | None = None,
    batch_ts: Column | None = None,
) -> DataFrame:
    """SCD1 guarded upsert (C3): the clean-layer MERGE.

    - matched + any attr differs (null-safe)  → take source attrs
      (and stamp ``modified_col`` = batch_ts when given)
    - matched + identical                     → keep target row
    - not matched                             → insert source row

    Returns the new snapshot with target's column order. One shuffle
    (full outer join on the key); map-side change guard.
    """
    if target is None:
        return source
    cols = target.columns
    src_cols = source.columns
    # presence via lit(True) MARKER columns, never key nullability
    # (review r8): the join condition is eqNullSafe precisely so NULL
    # business keys match (the EQUAL_NULL contract pinned by
    # test_null_business_keys_survive_all_merge_ops), but
    # `t.key.isNotNull()` reads a NULL-key TARGET row as "not matched"
    # and wipes its attributes with the absent source side — the marker
    # is null exactly when the join side is absent, for any key value.
    t = target.withColumn("__t_mark", F.lit(True)).alias("t")
    s = source.withColumn("__s_mark", F.lit(True)).alias("s")
    key_match = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key]
    cond = key_match[0]
    for c in key_match[1:]:
        cond = cond & c
    joined = t.join(s, cond, "full_outer")

    in_target = F.col("t.__t_mark").isNotNull()
    in_source = F.col("s.__s_mark").isNotNull()
    changed = _null_safe_any_diff("t", "s", attrs)

    out_cols = []
    for c in cols:
        take_source = (~in_target) | (in_source & changed)
        if modified_col is not None and c == modified_col and batch_ts is not None:
            expr = (
                F.when(~in_target, F.col(f"s.{c}"))
                .when(in_source & changed, batch_ts)
                .otherwise(F.col(f"t.{c}"))
            )
        elif c in src_cols:
            expr = F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        else:
            expr = F.col(f"t.{c}")
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


@dataclass(frozen=True)
class Scd2Config:
    key: list[str]  # business key
    attrs: list[str]  # tracked (type-2) attributes
    created_col: str | None = None  # first-insert eff_start; None → batch_ts


def scd2_empty_like(typed_batch: DataFrame) -> DataFrame:
    """An empty dim with the SCD2 validity columns appended."""
    base = typed_batch.limit(0)
    return (
        base.withColumn("eff_start_date", F.lit(None).cast("timestamp"))
        .withColumn("eff_end_date", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(None).cast("boolean"))
    )


def apply_scd2(
    dim: DataFrame | None,
    batch: DataFrame,
    cfg: Scd2Config,
    batch_ts: Column,
) -> DataFrame:
    """SCD2 three-branch merge (C4): returns the new dim snapshot.

    Branches (mirroring `order_proc.sql:195-303`):
      (a) current dim row matched by key + attrs differ → close out
          (eff_end = batch_ts, is_current = false)
      (b) batch row whose key exists with different attrs → insert new
          version (eff_start = batch_ts, current)
      (c) batch row with unseen key → first insert (eff_start =
          created_col if configured, else batch_ts)
      (-) identical attrs → no-op (guarded merge)

    Closed (historical) versions pass through untouched; the
    ``is_current`` predicate keeps the join pruned to current rows
    only — same reason the reference puts IS_CURRENT=TRUE in its
    MERGE condition (SURVEY §4).

    ``batch`` must be unique on ``key`` (C6): the merge does not
    dedup it, as Snowflake's MERGE errors on a duplicated source key.
    Callers with duplicate keys run :func:`latest_per_key` first, as
    ``merge_entity_batch`` does.
    """
    key, attrs = cfg.key, cfg.attrs
    # an existing but EMPTY dim needs no probe: its current side is
    # empty, so the join path below yields exactly these first inserts
    if dim is None:
        first_start = F.col(cfg.created_col) if cfg.created_col else batch_ts
        return (
            batch.withColumn("eff_start_date", first_start.cast("timestamp"))
            .withColumn("eff_end_date", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(True))
        )

    dim_cols = dim.columns
    historical = dim.filter(~F.col("is_current"))
    # lit(True) markers for presence, not key nullability (review r8):
    # a NULL-key current row otherwise fell out of BOTH kept_current
    # (filter(in_dim)) and inserts — silently and permanently dropped
    # from the rewritten snapshot, despite the eqNullSafe join existing
    # to support exactly that key.
    current = dim.filter(F.col("is_current")).withColumn("__t_mark", F.lit(True)).alias("t")
    s = batch.withColumn("__s_mark", F.lit(True)).alias("s")
    cond = F.col(f"t.{key[0]}").eqNullSafe(F.col(f"s.{key[0]}"))
    for k in key[1:]:
        cond = cond & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
    joined = current.join(s, cond, "full_outer")

    in_dim = F.col("t.__t_mark").isNotNull()
    in_batch = F.col("s.__s_mark").isNotNull()
    changed = _null_safe_any_diff("t", "s", attrs)

    # Surviving current rows: unmatched, or matched-with-identical-attrs
    # keep as-is; matched-and-changed get closed out (branch a).
    kept_current = joined.filter(in_dim).select(
        *[
            (
                # cast like the inserts branch: a non-timestamp
                # batch_ts literal must not type-skew the unionByName
                F.when(in_batch & changed, batch_ts.cast("timestamp")).otherwise(
                    F.col("t.eff_end_date")
                )
                if c == "eff_end_date"
                else F.when(in_batch & changed, F.lit(False)).otherwise(F.col("t.is_current"))
                if c == "is_current"
                else F.col(f"t.{c}")
            ).alias(c)
            for c in dim_cols
        ]
    )

    # New versions (branch b) + first inserts (branch c).
    first_start = F.col(f"s.{cfg.created_col}") if cfg.created_col else batch_ts
    inserts = joined.filter((in_batch & ~in_dim) | (in_batch & in_dim & changed)).select(
        *[
            (
                F.when(~in_dim, first_start).otherwise(batch_ts).cast("timestamp")
                if c == "eff_start_date"
                else F.lit(None).cast("timestamp")
                if c == "eff_end_date"
                else F.lit(True)
                if c == "is_current"
                else F.col(f"s.{c}")
            ).alias(c)
            for c in dim_cols
        ]
    )

    return historical.unionByName(kept_current).unionByName(inserts)


def change_feed(prev: DataFrame | None, curr: DataFrame, key: list[str]) -> DataFrame:
    """Standard-stream change feed (C2): row-level deltas between two
    snapshots, in the reference's METADATA$ACTION / METADATA$ISUPDATE
    vocabulary (`02:273-314`):

      INSERT + isupdate=false  → brand-new key
      DELETE + isupdate=false  → key removed
      DELETE(old) + INSERT(new), both isupdate=true → changed key

    Equivalent to Delta CDF's insert/update_preimage/update_postimage.
    Output schema: curr columns + (action string, metadata_isupdate
    boolean); DELETE rows carry the *previous* image (as in Snowflake).
    """
    if prev is None:
        return curr.withColumn("action", F.lit("INSERT")).withColumn(
            "metadata_isupdate", F.lit(False)
        )
    cols = curr.columns
    # markers, not key nullability (review r8): NULL-key inserts,
    # deletes, and updates were invisible to every feed consumer
    p = prev.withColumn("__p_mark", F.lit(True)).alias("p")
    c = curr.withColumn("__c_mark", F.lit(True)).alias("c")
    cond = F.col(f"p.{key[0]}").eqNullSafe(F.col(f"c.{key[0]}"))
    for k in key[1:]:
        cond = cond & F.col(f"p.{k}").eqNullSafe(F.col(f"c.{k}"))
    attrs = [a for a in cols if a not in key]
    joined = p.join(c, cond, "full_outer")
    in_prev = F.col("p.__p_mark").isNotNull()
    in_curr = F.col("c.__c_mark").isNotNull()
    changed = _null_safe_any_diff("p", "c", attrs) if attrs else F.lit(False)

    inserts = joined.filter(in_curr & ~in_prev).select(
        *[F.col(f"c.{x}").alias(x) for x in cols],
        F.lit("INSERT").alias("action"),
        F.lit(False).alias("metadata_isupdate"),
    )
    deletes = joined.filter(in_prev & ~in_curr).select(
        *[F.col(f"p.{x}").alias(x) for x in cols],
        F.lit("DELETE").alias("action"),
        F.lit(False).alias("metadata_isupdate"),
    )
    upd = joined.filter(in_prev & in_curr & changed)
    upd_del = upd.select(
        *[F.col(f"p.{x}").alias(x) for x in cols],
        F.lit("DELETE").alias("action"),
        F.lit(True).alias("metadata_isupdate"),
    )
    upd_ins = upd.select(
        *[F.col(f"c.{x}").alias(x) for x in cols],
        F.lit("INSERT").alias("action"),
        F.lit(True).alias("metadata_isupdate"),
    )
    return inserts.unionByName(deletes).unionByName(upd_del).unionByName(upd_ins)


def apply_deletes(
    dim: DataFrame, deleted_keys: DataFrame, key: list[str], batch_ts: Column
) -> DataFrame:
    """Close out current dim versions whose business key was deleted
    upstream — the reference's SCD2 branch (a) for pure DELETE stream
    rows (`METADATA$ACTION='DELETE'`, not part of an update pair,
    `order_proc.sql:195-220`). History is preserved: the version is
    closed (eff_end = batch_ts, is_current = false), never removed —
    which is also the GDPR-forgetting hook: follow with a hard filter
    on the key if true erasure is required.

    One left-semi-shaped join on the key; closed versions pass through
    untouched.
    """
    # eqNullSafe match like the rest of the module (review r8): a
    # NULL-key delete must close the NULL-key current version — the
    # name-based `on=key` join uses null-unsafe equality, leaving that
    # version current forever (and the documented GDPR-forgetting hook
    # keyed off the close-out never fires)
    marked = deleted_keys.select(
        *[F.col(k).alias(f"__dk_{k}") for k in key], F.lit(True).alias("_deleted")
    ).dropDuplicates([f"__dk_{k}" for k in key])
    cond = F.col(key[0]).eqNullSafe(F.col(f"__dk_{key[0]}"))
    for k in key[1:]:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__dk_{k}"))
    joined = dim.join(marked, cond, "left")
    hit = F.col("_deleted").isNotNull() & F.col("is_current")
    return joined.select(
        *[
            (
                F.when(hit, batch_ts.cast("timestamp")).otherwise(F.col(c)).alias(c)
                if c == "eff_end_date"
                else F.when(hit, F.lit(False)).otherwise(F.col(c)).alias(c)
                if c == "is_current"
                else F.col(c)
            )
            for c in dim.columns
        ]
    )
