"""Golden SCD tests (SURVEY §5 rebuild test plan items 2-4).

day-01 full load + day-02 delta over the ten-entity pipeline:
- all three SCD2 branches (close-out / new version / first insert)
- guarded SCD1 no-op for unchanged rows
- idempotence: re-running the same day is a no-op (ledger/C1 contract)
- quirk pin-downs: coupon fill, availability boolean parse, location
  enrichment ladder, device enrichment, v3 email semantics, C6 dedup.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import (
    Warehouse,
    run_all,
)

from .fixtures import write_day


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    stage_root = str(tmp_path_factory.mktemp("stage"))
    wh = Warehouse(str(tmp_path_factory.mktemp("warehouse")))
    p1 = write_day(stage_root, 1)
    p2 = write_day(stage_root, 2)
    r1 = run_all(spark, wh, p1, batch_ts=F.lit("2024-05-01 21:30:00").cast("timestamp"))
    r2 = run_all(spark, wh, p2, batch_ts=F.lit("2024-05-02 21:30:00").cast("timestamp"))
    # idempotence: day-02 again — ledger must skip every file
    r3 = run_all(spark, wh, p2)
    return wh, r1, r2, r3


def test_idempotent_rerun(loaded):
    _, _, _, r3 = loaded
    assert all(r["skipped"] for r in r3), r3


def test_scd2_three_branches_location(spark, loaded):
    wh, *_ = loaded
    dim = wh.dim("location").read(spark)
    rows = {(r.location_id, r.zip_code): r for r in dim.collect()}
    # unchanged key 1 → single current version (guarded no-op)
    assert dim.filter("location_id = 1").count() == 1
    assert rows[(1, "400001")].is_current
    # changed key 2 → closed old + current new
    v2 = dim.filter("location_id = 2").orderBy("eff_start_date").collect()
    assert len(v2) == 2
    assert not v2[0].is_current and v2[0].eff_end_date is not None
    assert v2[1].is_current and v2[1].zip_code == "110099"
    # day-02 new key 4 → first insert, eff_start from created (v3 semantics)
    v4 = dim.filter("location_id = 4").collect()
    assert len(v4) == 1 and v4[0].is_current
    assert str(v4[0].eff_start_date).startswith("2024-05-02 11:30")
    # day-01-only key 3 survives untouched
    assert dim.filter("location_id = 3 AND is_current").count() == 1


def test_location_enrichment_ladder(spark, loaded):
    wh, *_ = loaded
    clean = wh.clean("location").read(spark)
    r = {x.location_id: x for x in clean.collect()}
    assert r[1].state_code == "MH" and r[1].city_tier == "Tier-1"
    assert r[1].capital_city_flag is True  # Maharashtra/Mumbai
    assert r[2].state == "New Delhi"  # Delhi → New Delhi (P7)
    assert r[2].state_code == "DL" and r[2].is_union_territory == "Y"
    assert r[3].city_tier == "Tier-2"  # Jaipur
    assert r[4].state_code == "KA" and r[4].capital_city_flag is True


def test_scd1_clean_upsert_customer(spark, loaded):
    wh, *_ = loaded
    clean = wh.clean("customer").read(spark)
    rows = {r.customer_id: r for r in clean.collect()}
    assert rows["C001"].email == "asha.rao@example.com"  # updated day-02 (v3: email is email)
    assert rows["C002"].anniversary is not None
    assert len(rows) == 2


def test_menu_quirks(spark, loaded):
    wh, *_ = loaded
    clean = wh.clean("menu").read(spark)
    rows = {r.menu_id: r for r in clean.collect()}
    assert rows[1001].availability is True and str(rows[1001].price) == "275.00"
    assert rows[1002].availability is False
    assert rows[1002].description == "Creamy dal"  # TRIM (P8)
    assert rows[1003].availability is True  # case-insensitive parse (P9)
    dim = wh.dim("menu").read(spark)
    assert dim.filter("menu_id = 1001").count() == 2  # price change → 2 versions


def test_orders_coupon_fill(spark, loaded):
    wh, *_ = loaded
    clean = wh.clean("orders").read(spark)
    rows = {r.order_id: r for r in clean.collect()}
    assert rows[7002].coupon_code == "Not Applied"  # P16
    assert rows[7001].is_first_order is True and rows[7002].is_first_order is False


def test_delivery_agent_dedup_and_json(spark, loaded):
    wh, *_ = loaded
    clean = wh.clean("delivery_agent").read(spark)
    assert clean.count() == 1  # C6: duplicate JSON rows collapsed
    dim = wh.dim("delivery_agent").read(spark)
    # vehicle changed day-02 → closed + new current version
    assert dim.count() == 2
    cur = dim.filter("is_current").collect()
    assert len(cur) == 1 and cur[0].vehicle_type == "Scooter"


def test_login_audit_enrichment_scd1_fact(spark, loaded):
    wh, *_ = loaded
    fact = wh.dim("login_audit").read(spark)
    rows = {r.login_id: r for r in fact.collect()}
    assert rows[1].device_category == "Apple" and rows[1].is_mobile is True
    assert rows[2].device_category == "Web" and rows[2].is_mobile is False
    assert rows[3].device_os == "Android"
    assert rows[1].login_date_key == 20240501 and rows[1].login_hour == 10
    # SCD1 fact: no validity columns, one row per login_id
    assert "is_current" not in fact.columns
    assert fact.count() == 3


def test_composite_key_entities(spark, loaded):
    wh, *_ = loaded
    oi = wh.dim("order_item").read(spark)
    assert oi.filter("is_current").count() == 2  # J3 composite keys both days
    d = wh.dim("delivery").read(spark)
    assert d.filter("is_current").count() == 2


def test_stage_audit_columns(spark, loaded):
    wh, *_ = loaded
    stage = spark.read.parquet(wh.stage_dir("orders") + "/data")
    for c in ("_stg_file_name", "_stg_file_load_ts", "_stg_file_md5", "_copy_data_ts"):
        assert c in stage.columns
    assert stage.filter(F.col("_stg_file_name").contains("orders.csv")).count() == stage.count()


def test_all_entities_loaded(spark, loaded):
    wh, r1, r2, _ = loaded
    assert all(not r["skipped"] for r in r1)
    assert all(not r["skipped"] for r in r2)
    for name in ENTITIES:
        assert wh.clean(name).read(spark).count() > 0, name


def test_date_path_contract():
    """O3/S8: `task_proc.sql:14-22` path layout — no zero padding."""
    from datetime import date

    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.paths import (
        date_path,
        entity_file,
        yesterday_path,
    )

    assert date_path(date(2025, 4, 7)) == "2025/4/7/"
    assert date_path(date(2025, 11, 27)) == "2025/11/27/"
    assert yesterday_path(date(2025, 1, 1)) == "2024/12/31/"
    assert entity_file("s3://b/2025/4/7/", "delivery_agent", "json").endswith(
        "2025/4/7/delivery_agent.json"
    )


def test_csv_on_error_abort(spark, tmp_path):
    """S5 fidelity: COPY's on_error=abort_statement — a malformed row
    (extra columns) fails the load instead of silently truncating."""
    from py4j.protocol import Py4JJavaError

    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.readers import read_stage_csv

    p = tmp_path / "bad.csv"
    p.write_text("id,v\n1,a\n2,b,EXTRA,COLS\n")
    df = read_stage_csv(spark, str(p), ["id", "v"], audit=False)
    try:
        df.collect()
        raised = False
    except Py4JJavaError:
        raised = True
    assert raised, "malformed row should abort the load (FAILFAST)"
    ok = read_stage_csv(spark, str(p), ["id", "v"], audit=False, on_error="continue")
    assert ok.count() == 2


def test_copy_history_introspection(loaded):
    """S6 / the reference's information_schema.copy_history check
    (`06 Menu Entity.sql:78-79`): after the two-day run each entity's
    ledger exposes one history row per loaded file with the
    fingerprint the idempotence gate keys on."""
    wh, *_ = loaded
    hist = wh.ledger("menu").history()
    assert len(hist) == 2  # day-01 + day-02 loads; the rerun added none
    for h in hist:
        assert set(h) == {"path", "size", "mtime"}
        assert h["path"].endswith("menu_items.csv")
        assert h["size"] > 0


def test_ledger_marks_decision_time_fingerprint(tmp_path):
    """Review r8: mark() must record the fingerprint captured when
    unprocessed() DECIDED to load — a file appended to DURING the load
    would otherwise be marked with its new size and the appended rows
    skipped forever."""
    import os
    import time

    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.ledger import (
        FileLedger,
    )

    src = tmp_path / "day.csv"
    src.write_text("h\n1\n")
    led = FileLedger(str(tmp_path / "ledger.jsonl"))
    todo = led.unprocessed([str(src)])
    assert todo == [str(src)]
    # producer appends mid-load (after the decision, before the mark)
    time.sleep(0.01)
    with open(src, "a") as f:
        f.write("2\n")
    os.utime(src)  # ensure a distinct mtime even on coarse filesystems
    led.mark(todo)
    # next run must see the grown file as unprocessed again
    assert led.unprocessed([str(src)]) == [str(src)], (
        "rows appended during the load must not be silently skipped"
    )
    led.mark([str(src)])
    assert led.unprocessed([str(src)]) == []


def test_pending_fingerprint_is_decision_time(tmp_path):
    """ADVICE r9: run_entity keys the stage partition by the ledger's
    DECISION-TIME fingerprint, not a second stat — a file appended
    between unprocessed() and the stage write must yield the SAME
    ingest tag that mark() records, or retry-overwrite keying and the
    ledger diverge."""
    import os
    import time

    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.ledger import (
        FileLedger,
    )

    src = tmp_path / "day.csv"
    src.write_text("h\n1\n")
    led = FileLedger(str(tmp_path / "ledger.jsonl"))
    led.unprocessed([str(src)])
    decision_fp = led.pending_fingerprint(str(src))
    time.sleep(0.01)
    with open(src, "a") as f:
        f.write("2\n")
    os.utime(src)
    # the decision-time fingerprint must be STABLE across the append...
    assert led.pending_fingerprint(str(src)) == decision_fp
    # ...and exactly what mark() writes to the ledger
    led.mark([str(src)])
    (entry,) = led.history()
    assert (entry["size"], entry["mtime"]) == (decision_fp["size"], decision_fp["mtime"])
    # a fresh stat at this point would have disagreed
    assert FileLedger.fingerprint(str(src))["size"] != decision_fp["size"]


def test_stage_append_is_crash_retry_idempotent(spark, tmp_path):
    """Review r8: a crash between the stage append and ledger.mark made
    the retry re-append the whole file — permanent stage duplicates in
    the layer the ledger calls exactly-once. The fingerprint-partition
    overwrite makes the retry land on its own partition."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import (
        ENTITIES,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import (
        Warehouse,
        run_entity,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    spec = ENTITIES["menu"]
    src = tmp_path / "menu.csv"
    src.write_text(
        "MenuID,RestaurantID,ItemName,Description,Price,Category,"
        "Availability,ItemType,Rating,CreatedDate,ModifiedDate\n"
        "1,101,Tikka,Good,250.00,App,True,Veg,4.2,2024-05-01 10:00:00,\\N\n"
        "2,101,Dal,Nice,220.00,Main,False,Veg,4.4,2024-05-01 10:00:00,\\N\n"
    )
    run_entity(spark, wh, spec, str(src))
    stage_path = wh.stage_dir("menu") + "/data"
    assert spark.read.parquet(stage_path).count() == 2

    # simulate the crash window: wipe the ledger (mark never landed)
    # and retry the same unchanged file
    import os

    os.remove(wh.ledger("menu").path)
    r = run_entity(spark, wh, spec, str(src))
    assert not r["skipped"]
    assert spark.read.parquet(stage_path).count() == 2, (
        "retry must overwrite its own fingerprint partition, not duplicate"
    )

    # a genuinely MODIFIED file still appends a new version
    import time

    time.sleep(0.01)
    with open(src, "a") as f:
        f.write("3,102,Noodles,Street,180.00,Main,true,Veg,\\N,2024-05-02 11:00:00,\\N\n")
    run_entity(spark, wh, spec, str(src))
    assert spark.read.parquet(stage_path).count() == 5  # 2 + grown file's 3


def test_batch_duplicate_keys_keep_the_later_row(spark, tmp_path):
    """C6 end to end: one run_entity (one merge_entity_batch call) over
    a file holding two rows of one key leaves one clean row and one
    current dim row for it, the later one by modified stamp. apply_scd2
    itself no longer dedups, so this pins the batch dedup upstream."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import (
        run_entity,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    src = tmp_path / "menu.csv"
    src.write_text(
        "MenuID,RestaurantID,ItemName,Description,Price,Category,"
        "Availability,ItemType,Rating,CreatedDate,ModifiedDate\n"
        "1,101,Tikka Masala,Better,260.00,App,True,Veg,4.3,"
        "2024-05-01 10:00:00,2024-05-01 12:00:00\n"
        "2,101,Dal,Nice,220.00,Main,False,Veg,4.4,2024-05-01 10:00:00,\\N\n"
        "1,101,Tikka,Good,250.00,App,True,Veg,4.2,"
        "2024-05-01 10:00:00,2024-05-01 11:00:00\n"
    )
    run_entity(spark, wh, ENTITIES["menu"], str(src))
    clean = wh.clean("menu").read(spark).collect()
    assert sorted(r.menu_id for r in clean) == [1, 2]
    assert {r.menu_id: r.item_name for r in clean}[1] == "Tikka Masala"
    dim = wh.dim("menu").read(spark).collect()
    assert sorted(r.menu_id for r in dim) == [1, 2]
    cur = [r for r in dim if r.menu_id == 1 and r.is_current]
    assert len(cur) == 1 and cur[0].item_name == "Tikka Masala"


def test_snapshot_write_keeps_previous_and_locks(spark, tmp_path):
    """Review r8: keep_versions clamps to >= 2 (the change feed's
    v_latest-1 must survive the write that supersedes it), and writes
    run under a sibling flock so a second writer fails loudly instead
    of claiming the same version."""
    import fcntl
    import os

    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import (
        SnapshotTable,
    )

    tbl = SnapshotTable(str(tmp_path), "t")
    df1 = spark.createDataFrame([(1,)], "a long")
    df2 = spark.createDataFrame([(2,)], "a long")
    tbl.write(df1, keep_versions=1)  # clamped to 2
    tbl.write(df2, keep_versions=1)
    assert tbl.read_previous(spark).collect()[0].a == 1, (
        "the superseded version must survive (keep clamp)"
    )
    # writer lock: a held flock refuses a concurrent write
    lock_path = os.path.abspath(tbl.dir).rstrip("/") + ".writerlock"
    fd = os.open(lock_path, os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        import pytest

        tbl_b = SnapshotTable(str(tmp_path), "t")
        # shrink the wait via monkey-free path: patch deadline by
        # calling the context manager directly would be invasive;
        # instead assert the lock file exists and is exclusive
        with pytest.raises(BlockingIOError):
            fd2 = os.open(lock_path, os.O_RDWR)
            try:
                fcntl.flock(fd2, fcntl.LOCK_EX | fcntl.LOCK_NB)
            finally:
                os.close(fd2)
        del tbl_b
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def test_q145_replay_version_structure(spark):
    """q145 (round-9): the two-day pipeline replay's SCD2 outcome per
    key class — changed keys get a closed v1 (eff_end = day 2) plus a
    current v2 (eff_start = day 2); the identical no-op key must NOT
    version; day-2 brand-new keys first-insert with eff_start =
    created_ts (the v3 `order_proc.sql:300` semantics → day offset
    -31). The DuckDB oracle hash-checks every row; this pins the
    intended shape in one readable place."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )

    rows = (
        all_queries()["q145_pipeline_replay"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    loc_dim: dict[int, list] = {}
    for r in rows:
        if r.entity == "location" and r.layer == "dim":
            loc_dim.setdefault(int(r.key_str), []).append(r)
    assert loc_dim, "no location dim rows"
    for k, versions in loc_dim.items():
        versions.sort(key=lambda r: r.eff_start_day)
        if k % 10 in (0, 1, 2, 4):
            # changed on day 2 — including k%10==4, the
            # modified_ts-ONLY class (ADVICE r10): audit timestamps
            # are in the configured SCD2 attr set, so a row whose
            # payload is identical but whose modified_ts moved MUST
            # version exactly like a payload change
            assert len(versions) == 2, (k, versions)
            v1, v2 = versions
            assert (v1.eff_start_day, v1.eff_end_day, v1.is_current) == (-31, 1, False)
            assert (v2.eff_start_day, v2.eff_end_day, v2.is_current) == (1, 9999, True)
        else:  # no-op (3), absent (5-8), or day-2 first insert (9)
            assert len(versions) == 1, (k, versions)
            (v,) = versions
            assert (v.eff_start_day, v.eff_end_day, v.is_current) == (-31, 9999, True)
    # all day-populations present: day-1-only keys, day-2-new keys,
    # and the modified_ts-only class
    assert any(k % 10 == 9 for k in loc_dim) and any(k % 10 == 4 for k in loc_dim)
    assert any(k % 10 == 5 for k in loc_dim)


def test_q147_json_replay_structure_and_dedup(spark):
    """q147 (round-10, extended round-12): the JSON-sourced entity
    replay's SCD2 shape per key class (same classes as q145, including
    the modified_ts-only one), the C6 contract (in-file duplicate rows
    — every k%4==0 row appears twice in the drop — collapse to exactly
    one clean row per key), and the day-3 DELETE close-out: prune
    classes k%10 in (2,5) are hard-deleted from clean and their dim
    versions CLOSE (eff_end stamped at day 2, is_current=false, history
    kept) — the reference's SCD2 DELETE branch
    (`02 Location Entity.sql:274-283`). The DuckDB oracle hash-checks
    every value; this pins the intended shape in one readable place."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )

    rows = (
        all_queries()["q147_json_entity_replay"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    dim: dict[int, list] = {}
    for r in rows:
        if r.layer == "dim":
            dim.setdefault(int(r.key_str), []).append(r)
    assert dim, "no delivery_agent dim rows"
    for k, versions in dim.items():
        versions.sort(key=lambda r: r.eff_start_day)
        if k % 10 == 2:  # changed on day 2, then pruned on day 3:
            # the SECOND version closes (delete-after-update shape)
            assert len(versions) == 2, (k, versions)
            v1, v2 = versions
            assert (v1.eff_start_day, v1.eff_end_day, v1.is_current) == (-31, 1, False)
            assert (v2.eff_start_day, v2.eff_end_day, v2.is_current) == (1, 2, False)
        elif k % 10 == 5:  # untouched since day 1, pruned on day 3:
            # the FIRST (only) version closes
            assert len(versions) == 1, (k, versions)
            (v,) = versions
            assert (v.eff_start_day, v.eff_end_day, v.is_current) == (-31, 2, False)
        elif k % 10 in (0, 1, 4):  # changed or modified_ts-only
            assert len(versions) == 2, (k, versions)
            v1, v2 = versions
            assert (v1.eff_start_day, v1.eff_end_day, v1.is_current) == (-31, 1, False)
            assert (v2.eff_start_day, v2.eff_end_day, v2.is_current) == (1, 9999, True)
        else:
            assert len(versions) == 1, (k, versions)
            (v,) = versions
            assert (v.eff_start_day, v.eff_end_day, v.is_current) == (-31, 9999, True)
    # C6: the duplicated keys (k%4==0, physically twice in the file —
    # asserted against the stage layer in-query) hold exactly one
    # clean row each; pruned classes are GONE from clean (hard delete)
    clean = [int(r.key_str) for r in rows if r.layer == "clean"]
    assert len(clean) == len(set(clean))
    assert any(k % 4 == 0 for k in clean)
    assert not any(k % 10 in (2, 5) for k in clean)


def test_q155_order_pair_composite_versioning(spark):
    """q155 (round-11): the J3 composite-key contract in one readable
    place. Every key k carries two order_item sibling rows sharing
    (order_item_id, order_id_fk) but differing in menuitem_id_fk; day 2
    changes only the m=1 arm, so:

    - the m=1 arm versions per the q145 key classes (changed /
      modified_ts-only → two versions; no-op / day-1-only / new → one);
    - the m=2 sibling NEVER versions — a merge keyed on any prefix of
      the composite key would collapse it (row count) or close it out
      (is_current), both caught here and by the oracle hash;
    - orders (single-key, P16 coupon fill + decimal money) follows the
      same classes as q145's location dim.
    """
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )

    rows = (
        all_queries()["q155_order_pair_replay"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    oi_dim: dict[tuple[int, int], list] = {}
    ord_dim: dict[int, list] = {}
    for r in rows:
        if r.layer != "dim":
            continue
        if r.entity == "order_item":
            a, _oid, m = r.key_str.split("~")
            oi_dim.setdefault((int(a), int(m)), []).append(r)
        elif r.entity == "orders":
            ord_dim.setdefault(int(r.key_str), []).append(r)
    assert oi_dim and ord_dim

    def check(versions: list, expect_two: bool, ctx) -> None:
        versions.sort(key=lambda r: r.eff_start_day)
        if expect_two:
            assert len(versions) == 2, (ctx, versions)
            v1, v2 = versions
            assert (v1.eff_start_day, v1.eff_end_day, v1.is_current) == (-31, 1, False)
            assert (v2.eff_start_day, v2.eff_end_day, v2.is_current) == (1, 9999, True)
        else:
            assert len(versions) == 1, (ctx, versions)
            (v,) = versions
            assert (v.eff_start_day, v.eff_end_day, v.is_current) == (-31, 9999, True)

    for (k, m), versions in oi_dim.items():
        check(versions, m == 1 and k % 10 in (0, 1, 2, 4), (k, m))
    for k, versions in ord_dim.items():
        check(versions, k % 10 in (0, 1, 2, 4), k)
    # the sibling coverage is non-vacuous: m=2 arms of CHANGED keys
    # exist and stayed single-version
    assert any(m == 2 and k % 10 in (0, 1, 2) for (k, m) in oi_dim)
    # both arms of every key present (compositeness preserved row count)
    ks = {k for (k, _m) in oi_dim}
    assert all((k, 1) in oi_dim and (k, 2) in oi_dim for k in ks)


def test_q156_customer_pair_quirks(spark):
    """q156 (round-11): the two documented reference data bugs in one
    readable place — v3 email/mobile straight binding (emails land in
    email, mobiles in mobile) and TRY-semantics nulls (malformed 'N/A'
    dob and pincode rows NULL through instead of aborting) — plus the
    q145 SCD2 key classes on both entities. The DuckDB oracle
    hash-checks every value; this pins the intended shape."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import (
        ENTITIES,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )

    rows = (
        all_queries()["q156_customer_pair_replay"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    cu_dim: dict[int, list] = {}
    ad_dim: dict[int, list] = {}
    for r in rows:
        if r.layer != "dim":
            continue
        (cu_dim if r.entity == "customer" else ad_dim).setdefault(
            int(r.key_str), []
        ).append(r)
    assert cu_dim and ad_dim
    for dim in (cu_dim, ad_dim):
        for k, versions in dim.items():
            versions.sort(key=lambda r: r.eff_start_day)
            if k % 10 in (0, 1, 2, 4):
                assert len(versions) == 2, (k, versions)
            else:
                assert len(versions) == 1, (k, versions)
    # the malformed-value key classes are populated (non-vacuous TRY
    # pins: k%13==0 dob rows and k%17==0 pincode rows exist)
    assert any(k % 13 == 0 for k in cu_dim)
    assert any(k % 17 == 0 for k in ad_dim)
    # the v3 binding is the engine's (positional) contract
    assert ENTITIES["customer"].source_columns[2:4] == ["email", "mobile"]


def test_q159_restaurant_pair_composite_and_drop(spark):
    """q159 (round-11): the last two entities' quirk pins — the
    delivery composite triple versions per-arm exactly like q155's
    order_item (sibling arm never versions), and the restaurant
    COUPONS variant is dropped by clean (absent from the engine's
    column surface while present in the file — the oracle hash
    already proves lat/long landed in the right columns past it)."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import (
        ENTITIES,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )

    rows = (
        all_queries()["q159_restaurant_pair_replay"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    dlv_dim: dict[tuple[int, int], list] = {}
    rest_dim: dict[int, list] = {}
    for r in rows:
        if r.layer != "dim":
            continue
        if r.entity == "delivery":
            a, _oid, m = r.key_str.split("~")
            dlv_dim.setdefault((int(a), int(m)), []).append(r)
        else:
            rest_dim.setdefault(int(r.key_str), []).append(r)
    assert dlv_dim and rest_dim
    for (k, m), versions in dlv_dim.items():
        expect_two = m == 1 and k % 10 in (0, 1, 2, 4)
        assert len(versions) == (2 if expect_two else 1), (k, m, versions)
    for k, versions in rest_dim.items():
        assert len(versions) == (2 if k % 10 in (0, 1, 2, 4) else 1), k
    # both arms of every delivery key survive (compositeness)
    ks = {k for (k, _m) in dlv_dim}
    assert all((k, 1) in dlv_dim and (k, 2) in dlv_dim for k in ks)
    # the coupons column exists in the FILE binding but not downstream
    spec = ENTITIES["restaurant"]
    assert "coupons" in spec.source_columns
    raw = spark.createDataFrame([], ", ".join(f"{c} string" for c in spec.source_columns))
    assert all("coupon" not in c for c in spec.clean(raw).columns)


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted by the status tracker on a
    job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_read_launches_no_job(spark, loaded):
    """The `_meta.json` sidecar carries the schema, so resolving a
    snapshot costs no footer-inference job; a plain parquet read of
    the same version does (the control that the count is not vacuous)."""
    wh, *_ = loaded
    tbl = wh.dim("orders")
    assert _jobs_launched(spark, lambda: tbl.read(spark)) == 0
    assert _jobs_launched(spark, lambda: tbl.read_previous(spark)) == 0
    path = tbl._path(tbl.latest_version())
    assert _jobs_launched(spark, lambda: spark.read.parquet(path)) >= 1


def test_snapshot_sidecar_schema_matches_parquet(spark, loaded):
    """The recorded schema is exactly what parquet reads back, for
    every clean and consumption table of the ten-entity load."""
    wh, *_ = loaded
    for name in ENTITIES:
        for tbl in (wh.clean(name), wh.dim(name)):
            for v in (tbl.latest_version(), tbl.latest_version() - 1):
                want = spark.read.parquet(tbl._path(v)).schema
                assert tbl.read(spark, v).schema == want, (tbl.name, v)


def test_snapshot_sidecar_schema_nested_decimal_timestamp(spark, tmp_path):
    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import (
        SnapshotTable,
    )

    df = spark.range(5).select(
        F.col("id"),  # non-nullable at the top level
        (F.col("id") * 1.25).cast("decimal(12,3)").alias("amount"),
        F.lit("2024-05-01 10:00:00").cast("timestamp").alias("ts"),
        F.lit("2024-05-01 10:00:00").cast("timestamp_ntz").alias("ts_ntz"),
        F.struct(
            F.col("id").alias("a"),
            F.array(F.col("id"), F.col("id") + 1).alias("arr"),
            F.struct(F.lit(1).alias("deep")).alias("inner"),
        ).alias("nested"),
        F.create_map(F.lit("k"), F.array(F.col("id"))).alias("m"),
    )
    tbl = SnapshotTable(str(tmp_path), "nested")
    v = tbl.write(df)
    got = tbl.read(spark)
    assert got.schema == spark.read.parquet(tbl._path(v)).schema
    # collected, not exceptAll: set operations reject MAP columns
    assert sorted(got.collect()) == sorted(df.collect())
    assert tbl.rows() == 5


def test_snapshot_without_sidecar_names_the_upgrade_then_backfills(spark, loaded, tmp_path):
    """A warehouse written before versions carried ``_meta.json``
    fails with an error naming the upgrade; after ``backfill_meta``
    every committed version reads and counts as the original does,
    and a second backfill writes nothing."""
    import shutil

    from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import (
        META,
        backfill_meta,
    )

    wh, *_ = loaded
    old = Warehouse(str(tmp_path / "old"))
    shutil.copytree(wh.root, old.root)
    for dirpath, _, files in os.walk(old.root):
        if META in files:
            os.remove(os.path.join(dirpath, META))
    with pytest.raises(FileNotFoundError, match="backfill_meta"):
        old.dim("orders").read(spark)

    written = backfill_meta(spark, old.root)
    assert len(written) == 2 * len(ENTITIES)
    assert all(versions for versions in written.values())
    for name in ENTITIES:
        for new_tbl, tbl in ((old.clean(name), wh.clean(name)), (old.dim(name), wh.dim(name))):
            assert new_tbl.rows() == tbl.rows(), new_tbl.name
            for v in (tbl.latest_version(), tbl.latest_version() - 1):
                got, want = new_tbl.read(spark, v), tbl.read(spark, v)
                assert got.schema == want.schema, (new_tbl.name, v)
                assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert all(v == [] for v in backfill_meta(spark, old.root).values())


def test_run_entity_row_counts_match_count(spark, loaded):
    """clean_rows/dim_rows come from the sidecar row count observed
    during the write; they must equal a real count() of the tables."""
    wh, _, r2, _ = loaded
    for r in r2:
        name = r["entity"]
        assert r["clean_rows"] == wh.clean(name).read(spark).count(), name
        assert r["dim_rows"] == wh.dim(name).read(spark).count(), name


def test_load_jobs_carry_the_callers_job_group(spark, tmp_path):
    """The load's pool threads (entities, stage writes, clean merges)
    inherit the caller's Spark local properties: every job of the
    load carries the caller's job group, so none escapes attribution
    or cancellation."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    wh = Warehouse(str(tmp_path / "wh"))
    day1 = write_day(str(tmp_path / "stage"), 1)
    assert _jobs_launched(spark, lambda: run_all(spark, wh, day1)) > 0
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
