"""Unit tests for operators/merge.py (C2/C3/C4 semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.operators.merge import (
    Scd2Config,
    apply_scd2,
    change_feed,
    duplicate_key_audit,
    latest_per_key,
    merge_upsert,
    scd2_empty_like,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import SnapshotTable

TS = "ts timestamp"


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_merge_upsert_guarded(spark):
    target = _df(spark, [(1, "a", "x"), (2, "b", "y")], "id long, v string, w string")
    source = _df(spark, [(2, "b", "y"), (3, "c", "z")], "id long, v string, w string")
    out = merge_upsert(target, source, ["id"], ["v", "w"])
    got = {r.id: (r.v, r.w) for r in out.collect()}
    assert got == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}


def test_merge_upsert_null_safe_guard(spark):
    # NULL == NULL must be treated as unchanged (EQUAL_NULL, P10)
    target = _df(spark, [(1, None)], "id long, v string")
    source = _df(spark, [(1, None)], "id long, v string")
    out = merge_upsert(target, source, ["id"], ["v"], modified_col="v", batch_ts=F.lit("CHANGED"))
    assert out.collect()[0].v is None  # not stamped → guard held


def test_change_feed_vocabulary(spark):
    prev = _df(spark, [(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    curr = _df(spark, [(1, "a"), (2, "B"), (4, "d")], "id long, v string")
    feed = change_feed(prev, curr, ["id"])
    rows = {(r.id, r.action, r.metadata_isupdate) for r in feed.collect()}
    assert rows == {
        (4, "INSERT", False),  # new key
        (3, "DELETE", False),  # removed key
        (2, "DELETE", True),  # update pre-image
        (2, "INSERT", True),  # update post-image
    }
    # update DELETE row carries the previous image (Snowflake semantics)
    pre = [r for r in feed.collect() if r.id == 2 and r.action == "DELETE"][0]
    assert pre.v == "b"


def test_change_feed_bootstrap(spark):
    curr = _df(spark, [(1, "a")], "id long, v string")
    feed = change_feed(None, curr, ["id"])
    r = feed.collect()[0]
    assert r.action == "INSERT" and r.metadata_isupdate is False


def test_latest_per_key(spark):
    df = _df(spark, [(1, 1, "old"), (1, 2, "new"), (2, 1, "only")], "id long, seq long, v string")
    out = latest_per_key(df, ["id"], [F.col("seq").desc()])
    got = {r.id: r.v for r in out.collect()}
    assert got == {1: "new", 2: "only"}


def test_apply_scd2_noop_on_identical(spark):
    batch = _df(
        spark,
        [(1, "a", "2024-01-01 00:00:00")],
        "id long, v string, created string",
    ).withColumn("created", F.col("created").cast("timestamp"))
    cfg = Scd2Config(key=["id"], attrs=["v"], created_col="created")
    t0 = F.lit("2024-01-01 21:30:00").cast("timestamp")
    dim = apply_scd2(None, batch, cfg, t0)
    # same batch again → no new versions, still exactly one current row
    t1 = F.lit("2024-01-02 21:30:00").cast("timestamp")
    dim2 = apply_scd2(dim, batch, cfg, t1)
    rows = dim2.collect()
    assert len(rows) == 1 and rows[0].is_current
    assert str(rows[0].eff_start_date).startswith("2024-01-01 00:00")  # from created (v3)


@pytest.mark.parametrize("from_created", [True, False])
def test_apply_scd2_empty_dim_equals_no_dim(spark, from_created):
    """An existing but EMPTY dim takes the join path (no emptiness
    probe); it must produce exactly the first-insert rows the no-dim
    path does — duplicate source keys (deduped by latest_per_key, as
    apply_scd2 requires a key-unique batch) and a NULL created_ts
    included."""
    batch = _df(
        spark,
        [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-03 00:00:00"),  # later duplicate wins
            (2, "c", None),
            (3, "d", "2024-01-02 00:00:00"),
        ],
        "id long, v string, created string",
    ).withColumn("created", F.col("created").cast("timestamp"))
    batch = latest_per_key(batch, ["id"], [F.col("created").desc_nulls_last()])
    cfg = Scd2Config(key=["id"], attrs=["v"],
                     created_col="created" if from_created else None)
    t0 = F.lit("2024-01-05 21:30:00").cast("timestamp")
    fresh = apply_scd2(None, batch, cfg, t0)
    via_join = apply_scd2(scd2_empty_like(batch), batch, cfg, t0)
    assert via_join.columns == fresh.columns
    assert fresh.count() == 3
    assert fresh.exceptAll(via_join).count() == 0
    assert via_join.exceptAll(fresh).count() == 0


def test_duplicate_key_audit(spark):
    df = _df(spark, [(1, "a"), (2, "b"), (2, "c"), (2, "d")], "id long, v string")
    got = {(r.id, r.n_rows) for r in duplicate_key_audit(df, ["id"]).collect()}
    assert got == {(2, 3)}
    clean = latest_per_key(df, ["id"], [F.col("v").desc()])
    assert duplicate_key_audit(clean, ["id"]).count() == 0


def test_apply_deletes_closes_current_versions(spark):
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.merge import (
        apply_deletes,
        apply_scd2,
        change_feed,
    )

    batch = _df(spark, [(1, "a"), (2, "b")], "id long, v string")
    cfg = Scd2Config(key=["id"], attrs=["v"], created_col=None)
    t0 = F.lit("2024-05-01 21:30:00").cast("timestamp")
    dim = apply_scd2(None, batch, cfg, t0)

    # key 2 disappears from the next snapshot → DELETE in the feed
    nxt = _df(spark, [(1, "a")], "id long, v string")
    feed = change_feed(batch, nxt, ["id"])
    deleted = feed.filter("action = 'DELETE' AND NOT metadata_isupdate")
    t1 = F.lit("2024-05-02 21:30:00").cast("timestamp")
    dim2 = apply_deletes(dim, deleted, ["id"], t1)

    rows = {r.id: r for r in dim2.collect()}
    assert rows[1].is_current and rows[1].eff_end_date is None
    assert not rows[2].is_current
    assert str(rows[2].eff_end_date).startswith("2024-05-02 21:30")
    # idempotent: deleting an already-closed key changes nothing
    dim3 = apply_deletes(dim2, deleted, ["id"], F.lit("2024-05-03 00:00:00").cast("timestamp"))
    assert sorted(map(tuple, dim3.collect())) == sorted(map(tuple, dim2.collect()))


def test_null_business_keys_survive_all_merge_ops(spark):
    """Review r8: presence was read off key nullability, so NULL
    business keys — the exact case the eqNullSafe joins exist for —
    were wiped (merge_upsert), dropped (apply_scd2), invisible
    (change_feed), or never closed (apply_deletes)."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.merge import (
        Scd2Config,
        apply_deletes,
        apply_scd2,
        change_feed,
        merge_upsert,
    )

    # merge_upsert: target-only NULL-key row keeps its attributes
    target = spark.createDataFrame([(None, "keep"), (1, "a")], "id long, v string")
    source = spark.createDataFrame([(1, "a2")], "id long, v string")
    got = {r.id: r.v for r in merge_upsert(target, source, ["id"], ["v"]).collect()}
    assert got == {None: "keep", 1: "a2"}

    # apply_scd2: NULL-key current row survives an unrelated batch, and
    # a NULL-key batch change versions it properly
    cfg = Scd2Config(key=["id"], attrs=["v"])
    ts1 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    ts2 = F.lit("2024-01-02 00:00:00").cast("timestamp")
    dim = apply_scd2(None, target, cfg, ts1)
    dim2 = apply_scd2(dim, source, cfg, ts2)  # batch without the NULL key
    nk = dim2.filter("id IS NULL").collect()
    assert len(nk) == 1 and nk[0].v == "keep" and nk[0].is_current
    dim3 = apply_scd2(
        dim2, spark.createDataFrame([(None, "v2")], "id long, v string"), cfg, ts2
    )
    nk3 = sorted((r.v, r.is_current) for r in dim3.filter("id IS NULL").collect())
    assert nk3 == [("keep", False), ("v2", True)]

    # change_feed: NULL-key update emits the DELETE/INSERT pair
    prev = spark.createDataFrame([(None, "a")], "id long, v string")
    curr = spark.createDataFrame([(None, "b")], "id long, v string")
    feed = sorted(
        (r.action, r.metadata_isupdate, r.v)
        for r in change_feed(prev, curr, ["id"]).collect()
    )
    assert feed == [("DELETE", True, "a"), ("INSERT", True, "b")]

    # apply_deletes: a NULL-key delete closes the NULL-key version
    deleted = spark.createDataFrame([(None,)], "id long")
    closed = apply_deletes(dim3, deleted, ["id"], ts2)
    assert closed.filter("id IS NULL AND is_current").count() == 0
    assert closed.filter("id IS NULL").count() == 2  # history preserved


def test_latest_per_key_deterministic_on_ties(spark):
    """Review r8: with a constant fallback order (or created_col
    ties), the dedup winner was shuffle-order-dependent. The
    all-column hash tie-break makes it value-determined: the same
    input picks the same row on every run and partitioning."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.merge import (
        latest_per_key,
    )

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "x")]
    runs = set()
    for n_parts in (1, 3, 7):
        df = spark.createDataFrame(rows, "id long, v string").repartition(n_parts)
        got = tuple(
            sorted(
                (r.id, r.v)
                for r in latest_per_key(df, ["id"], [F.lit(1)]).collect()
            )
        )
        runs.add(got)
    assert len(runs) == 1, f"dedup winner must not depend on partitioning: {runs}"


def test_q161_audit_structure(spark):
    """q161 (round-12, A4): the registered duplicate-key audit. The
    merge-built clean table audits EMPTY (zero 'post_merge' rows); the
    injected double-apply yields exactly the k%7 / k%13 keys with
    multiplicity 2 / 3 (4 at the lcm); the audited segment proves the
    C6 dedup winner ('MOVED-', never 'STALE-') and the day-2 merge
    landed. The DuckDB oracle hash-checks every value; this pins the
    intended shape in one readable place."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )

    rows = (
        all_queries()["q161_duplicate_key_audit"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert not [r for r in rows if r.table_state == "post_merge"], (
        "post-merge clean table must audit clean"
    )
    inj = {r.customer_id: r for r in rows if r.table_state == "injected"}
    assert inj, "injected corruption produced no audit rows"
    for k, r in inj.items():
        want = 1 + (k % 7 == 0) + 2 * (k % 13 == 0)
        assert r.n_rows == want, (k, r.n_rows, want)
        assert want > 1
        assert not r.segment.startswith("STALE-"), r
        if k % 10 in (0, 3):
            assert r.segment.startswith("MOVED-"), r
        else:
            assert not r.segment.startswith("MOVED-"), r
    # every multiplicity class realized
    assert {r.n_rows for r in inj.values()} == {2, 3, 4}


# ------------------------------------------- merges through a stored table


def _ts(s: str):
    return F.to_timestamp(F.lit(s))


def _stored(spark, tmp_path, merge):
    """Apply ``merge`` to the stored ``dim`` snapshot, write the result
    as the next version and return the re-read table — the path every
    product load takes (merge on ``SnapshotTable.read``, then
    ``SnapshotTable.write``)."""
    table = SnapshotTable(str(tmp_path), "dim")
    table.write(merge(table.read(spark)))
    return table.read(spark)


def test_scd1_upsert_sequence(spark, tmp_path):
    """Initial load → guarded update → identical no-op, through the
    stored table."""
    b1 = spark.createDataFrame(
        [(1, "a", "2024-05-01"), (2, "b", "2024-05-01")],
        "id long, v string, modified string",
    )
    out = _stored(spark, tmp_path, lambda t: merge_upsert(t, b1, ["id"], ["v"]))
    assert {r.id: r.v for r in out.collect()} == {1: "a", 2: "b"}

    # changed row updates + stamps; untouched row keeps its stamp
    b2 = spark.createDataFrame(
        [(2, "B", "ignored"), (3, "c", "2024-05-02")],
        "id long, v string, modified string",
    )
    out = _stored(
        spark,
        tmp_path,
        lambda t: merge_upsert(
            t, b2, ["id"], ["v"], modified_col="modified", batch_ts=F.lit("2024-05-02")
        ),
    )
    got = {r.id: (r.v, r.modified) for r in out.collect()}
    assert got[1] == ("a", "2024-05-01")
    assert got[2] == ("B", "2024-05-02")
    assert got[3] == ("c", "2024-05-02")

    # identical batch: change guard holds, stamp NOT refreshed
    b3 = spark.createDataFrame([(2, "B", "later")], "id long, v string, modified string")
    out = _stored(
        spark,
        tmp_path,
        lambda t: merge_upsert(
            t, b3, ["id"], ["v"], modified_col="modified", batch_ts=F.lit("2024-05-03")
        ),
    )
    assert {r.id: r.modified for r in out.collect()}[2] == "2024-05-02"


def test_scd2_three_branches(spark, tmp_path):
    """Close-out / new-version / first-insert across two days, with
    the v3 eff_start-from-created first-insert semantics."""
    cfg = Scd2Config(key=["id"], attrs=["city"], created_col="created")
    day1 = spark.createDataFrame(
        [(1, "Pune", "2024-05-01 08:00:00"), (2, "Delhi", "2024-05-01 09:00:00")],
        "id long, city string, created string",
    ).withColumn("created", F.to_timestamp("created"))
    out = _stored(
        spark, tmp_path, lambda t: apply_scd2(t, day1, cfg, _ts("2024-05-01 12:00:00"))
    )
    rows = {r.id: r for r in out.collect()}
    assert all(r.is_current for r in rows.values())
    assert str(rows[1].eff_start_date).startswith("2024-05-01 08:00")  # from created

    day2 = spark.createDataFrame(
        [
            (1, "Mumbai", "2024-05-02 08:00:00"),  # changed → close-out + version
            (2, "Delhi", "2024-05-02 08:00:00"),   # identical → no-op
            (3, "Goa", "2024-05-02 09:00:00"),     # new key → first insert
        ],
        "id long, city string, created string",
    ).withColumn("created", F.to_timestamp("created"))
    out = _stored(
        spark, tmp_path, lambda t: apply_scd2(t, day2, cfg, _ts("2024-05-02 12:00:00"))
    )
    rows = sorted(out.collect(), key=lambda r: (r.id, str(r.eff_start_date)))
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r)

    old1, new1 = by_id[1]
    assert old1.city == "Pune" and old1.is_current is False
    assert str(old1.eff_end_date).startswith("2024-05-02 12:00")
    assert new1.city == "Mumbai" and new1.is_current is True
    assert str(new1.eff_start_date).startswith("2024-05-02 12:00")  # branch b: batch_ts

    (only2,) = by_id[2]
    assert only2.is_current is True and only2.eff_end_date is None  # guard held

    (only3,) = by_id[3]
    assert only3.is_current is True
    assert str(only3.eff_start_date).startswith("2024-05-02 09:00")  # branch c: created


def test_scd2_batch_dedup_latest_per_key(spark, tmp_path):
    """C6: duplicate keys inside one batch collapse to latest-by-created
    BEFORE the merge (Snowflake MERGE would error on them). apply_scd2
    requires a key-unique batch, so the dedup runs first, as in
    merge_entity_batch."""
    cfg = Scd2Config(key=["id"], attrs=["city"], created_col="created")
    b = spark.createDataFrame(
        [(1, "Old", "2024-05-01 07:00:00"), (1, "New", "2024-05-01 10:00:00")],
        "id long, city string, created string",
    ).withColumn("created", F.to_timestamp("created"))
    b = latest_per_key(b, cfg.key, [F.col("created").desc_nulls_last()])
    out = _stored(
        spark, tmp_path, lambda t: apply_scd2(t, b, cfg, _ts("2024-05-01 12:00:00"))
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].city == "New"
