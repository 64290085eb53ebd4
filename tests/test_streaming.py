"""Streaming tests: stream→merge ingest loop, exactly-once resume,
watermarked windows, stateful sessionization."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import Warehouse
from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.ingest import ingest_stream
from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.windows import (
    hourly_window_kpi,
    sessionize,
    sessionize_batch,
)

MENU_HEADER = (
    "MenuID,RestaurantID,ItemName,Description,Price,Category,"
    "Availability,ItemType,Rating,CreatedDate,ModifiedDate\n"
)


def _write_menu(landing: str, fname: str, rows: list[str]) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, fname), "w") as f:
        f.write(MENU_HEADER)
        f.writelines(r + "\n" for r in rows)


def test_stream_merge_loop_scd2(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(str(tmp_path / "wh"))
    spec = ENTITIES["menu"]

    _write_menu(landing, "day1.csv", [
        "1,101,Tikka,Good,250.00,App,True,Veg,4.2,2024-05-01 10:00:00,\\N",
        "2,101,Dal,Nice,220.00,Main,False,Veg,4.4,2024-05-01 10:00:00,\\N",
    ])
    q = ingest_stream(spark, wh, spec, landing, ckpt)
    q.awaitTermination(120)
    assert wh.dim("menu").read(spark).count() == 2

    # second micro-batch: price change + new item
    _write_menu(landing, "day2.csv", [
        "1,101,Tikka,Good,275.00,App,True,Veg,4.2,2024-05-01 10:00:00,2024-05-02 11:00:00",
        "3,102,Noodles,Street,180.00,Main,true,Veg,\\N,2024-05-02 11:00:00,\\N",
    ])
    q2 = ingest_stream(spark, wh, spec, landing, ckpt)
    q2.awaitTermination(120)
    dim = wh.dim("menu").read(spark)
    assert dim.count() == 4  # 2 original + 1 closed-out replacement + 1 new
    assert dim.filter("menu_id = 1").count() == 2
    cur1 = dim.filter("menu_id = 1 AND is_current").collect()
    assert len(cur1) == 1 and str(cur1[0].price) == "275.00"

    # exactly-once: restart with same checkpoint, no new files → no change
    q3 = ingest_stream(spark, wh, spec, landing, ckpt)
    q3.awaitTermination(120)
    assert wh.dim("menu").read(spark).count() == 4


def test_hourly_window_streaming_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    with open(os.path.join(src, "e1.csv"), "w") as f:
        f.write("ts,value\n")
        f.write("2024-05-01 10:05:00,1.5\n")
        f.write("2024-05-01 10:55:00,2.5\n")
        f.write("2024-05-01 11:10:00,1.0\n")
    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("header", "true")
        .csv(src)
    )
    out = hourly_window_kpi(stream, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r.window_start): (r.n_events, str(r.total_value))
            for r in spark.sql("SELECT * FROM hourly_test").collect()}
    assert rows["2024-05-01 10:00:00"] == (2, "4.000000")
    assert rows["2024-05-01 11:00:00"] == (1, "1.000000")


def test_sessionize_batch_gap_split(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-05-01 10:00:00"),
            (1, "2024-05-01 10:10:00"),
            (1, "2024-05-01 11:30:00"),  # > 30 min gap → new session
            (2, "2024-05-01 09:00:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = sessionize_batch(df).collect()
    per_user = {}
    for r in sessions:
        per_user.setdefault(r.user_id, []).append((str(r.session_start), r.n_events))
    assert len(per_user[1]) == 2
    assert sorted(per_user[1]) == [("2024-05-01 10:00:00", 2), ("2024-05-01 11:30:00", 1)]
    assert per_user[2] == [("2024-05-01 09:00:00", 1)]


def test_sessionize_batch_drops_null_ts_like_streaming_twin(spark):
    """ADVICE r9 twin-parity: the streaming sessionizer drops NULL
    event times ('NaT has no place on a timeline'); the batch twin
    must too — previously a NULL ts evaluated the gap predicate to
    NULL → otherwise(0) and silently folded into the prior session,
    inflating its n_events."""
    df = spark.createDataFrame(
        [
            (1, "2024-05-01 10:00:00"),
            (1, None),
            (1, "2024-05-01 10:10:00"),
            (3, None),  # a user with ONLY null timestamps: no session
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = sessionize_batch(df).collect()
    assert {r.user_id for r in sessions} == {1}
    (s,) = sessions
    assert (str(s.session_start), str(s.session_end), s.n_events) == (
        "2024-05-01 10:00:00",
        "2024-05-01 10:10:00",
        2,
    )


def test_sessionize_streaming_stateful(spark, tmp_path):
    """applyInPandasWithState: sessions separated by an EVENT-TIME gap
    inside one micro-batch split immediately (batch-twin semantics —
    arrival batching must not merge them); the trailing open session
    closes via the processing-time timeout. Final session set ==
    sessionize_batch on the same events."""
    src = str(tmp_path / "sess_events")
    os.makedirs(src)
    with open(os.path.join(src, "e1.csv"), "w") as f:
        f.write("user_id,ts\n")
        f.write("1,2024-05-01 10:00:00\n")
        f.write("1,2024-05-01 10:00:01\n")  # within 3 s gap → same session
        f.write("1,2024-05-01 10:10:00\n")  # event-time gap → NEW session
        f.write("2,2024-05-01 09:00:00\n")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("header", "true")
        .csv(src)
    )
    out = sessionize(stream, gap_ms=3000)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM sessions_test WHERE user_id IS NOT NULL"
            ).collect()
            if len(rows) >= 3:
                break
            time.sleep(2)
    finally:
        q.stop()
    got = sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events) for r in rows
    )
    assert got == [
        (1, "2024-05-01 10:00:00", "2024-05-01 10:00:01", 2),
        (1, "2024-05-01 10:10:00", "2024-05-01 10:10:00", 1),
        (2, "2024-05-01 09:00:00", "2024-05-01 09:00:00", 1),
    ]
    # exactly the batch twin's answer (the documented oracle)
    batch = spark.createDataFrame(
        [(1, "2024-05-01 10:00:00"), (1, "2024-05-01 10:00:01"),
         (1, "2024-05-01 10:10:00"), (2, "2024-05-01 09:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in sessionize_batch(batch, gap_minutes=1).collect()
        # gap_minutes=1 > 3 s streaming gap is fine here: every event pair is
        # either <=3 s or >=10 min apart, so both gaps split identically
    )
    assert got == want


def test_stage_file_stream_failfast_on_malformed_row(spark, tmp_path):
    """Streaming twin of test_csv_on_error_abort: the file-stream
    driver must honor the batch reader's on_error='abort' contract —
    a malformed row FAILS the drain instead of silently null-padding
    into the merges (divergent warehouse content between drivers)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.ingest import (
        stage_file_stream,
    )

    spec = ENTITIES["menu"]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    header = ",".join(spec.source_columns)
    with open(os.path.join(landing, "bad.csv"), "w") as f:
        f.write(header + "\n")
        f.write("1,101,Tikka,Good,250.00,App,True,Veg,4.2,2024-05-01,\\N\n")
        f.write("2,b,EXTRA,COLS," + "x," * len(spec.source_columns) + "y\n")
    stream = stage_file_stream(spark, spec, landing)
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        raised = not q.exception() is None
    except StreamingQueryException:
        raised = True
    finally:
        q.stop()
    assert raised, "malformed row should abort the streaming load (FAILFAST)"


def test_sessionize_custom_columns(spark, tmp_path):
    """ts_col/user_col parameters are honored (no hardcoded 'ts'), and
    a string user column flows through to the output schema."""
    src = str(tmp_path / "sess_events2")
    os.makedirs(src)
    with open(os.path.join(src, "e1.csv"), "w") as f:
        f.write("account,event_ts\n")
        f.write("alice,2024-05-01 10:00:00\n")
        f.write("alice,2024-05-01 11:00:00\n")  # > gap → split in-batch
    stream = (
        spark.readStream.schema("account string, event_ts timestamp")
        .option("header", "true")
        .csv(src)
    )
    out = sessionize(stream, user_col="account", ts_col="event_ts", gap_ms=3000)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_custom_test")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM sessions_custom_test WHERE user_id IS NOT NULL"
            ).collect()
            if len(rows) >= 2:
                break
            time.sleep(2)
    finally:
        q.stop()
    got = sorted((r.user_id, str(r.session_start), r.n_events) for r in rows)
    assert got == [
        ("alice", "2024-05-01 10:00:00", 1),
        ("alice", "2024-05-01 11:00:00", 1),
    ]


def test_kafka_shaped_source_ingest(spark, tmp_path):
    """The Kafka seam: ingest_stream accepts any streaming DataFrame.
    Simulated here exactly Kafka-shaped — a stream of rows with a
    single `value` column holding a JSON message, parsed with
    from_json, audited, merged. Swapping in
    readStream.format('kafka') changes only the first line."""
    import json as _json

    from pyspark.sql.types import StringType, StructField, StructType

    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.ingest import (
        ingest_stream,
        with_stream_audit_columns,
    )

    spec = ENTITIES["menu"]
    msgs_dir = str(tmp_path / "msgs")
    os.makedirs(msgs_dir)
    rows = [
        {"menuid": "11", "restaurantid": "101", "itemname": "Tikka", "description": "Good",
         "price": "250.00", "category": "App", "availability": "true", "itemtype": "Veg",
         "rating": "4.2", "createddate": "2024-05-01 10:00:00", "modifieddate": None},
        {"menuid": "12", "restaurantid": "102", "itemname": "Dal", "description": "Nice",
         "price": "220.00", "category": "Main", "availability": "false", "itemtype": "Veg",
         "rating": "4.4", "createddate": "2024-05-01 10:00:00", "modifieddate": None},
    ]
    with open(os.path.join(msgs_dir, "batch1.txt"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    # `value`-column stream, as Kafka delivers it
    raw = spark.readStream.text(msgs_dir).withColumnRenamed("value", "value")
    schema = StructType([StructField(c, StringType()) for c in spec.source_columns])
    parsed = raw.select(F.from_json("value", schema).alias("m")).select("m.*")
    source = with_stream_audit_columns(parsed, "kafka://menu-topic")

    wh = Warehouse(str(tmp_path / "wh"))
    q = ingest_stream(spark, wh, spec, None, str(tmp_path / "ckpt"), source=source)
    q.awaitTermination(120)
    dim = wh.dim("menu").read(spark)
    assert dim.count() == 2
    assert {r.menu_id for r in dim.collect()} == {11, 12}
    assert dim.filter("is_current").count() == 2


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """C6 streaming twin: duplicate event_ids across files collapse to
    one row each; watermark bounds the dedup state."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.windows import dedup_stream

    src = str(tmp_path / "events_in")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as f:
        f.write("event_id,ts,v\n1,2024-05-01 10:00:00,a\n2,2024-05-01 10:01:00,b\n1,2024-05-01 10:00:00,a\n")
    with open(os.path.join(src, "b.csv"), "w") as f:
        f.write("event_id,ts,v\n2,2024-05-01 10:01:00,b\n3,2024-05-01 10:02:00,c\n")
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, v string")
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(src)
    )
    q = (
        dedup_stream(stream, ["event_id"], "ts")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id").collect()
    assert [r.event_id for r in rows] == [1, 2, 3]


def test_stream_stream_join_within_time_bound(spark, tmp_path):
    """Watermarked stream⋈stream: orders pair with deliveries of the
    same key within 15 minutes; a delivery outside the bound never
    matches, and the range condition makes join state evictable."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.windows import (
        join_streams_within,
    )

    odir, ddir = str(tmp_path / "ord"), str(tmp_path / "del")
    os.makedirs(odir)
    os.makedirs(ddir)
    with open(os.path.join(odir, "o.csv"), "w") as f:
        f.write("order_id,o_ts\n1,2024-05-01 10:00:00\n2,2024-05-01 10:05:00\n3,2024-05-01 10:10:00\n")
    with open(os.path.join(ddir, "d.csv"), "w") as f:
        # order 1: +10min (match), order 2: +40min (outside bound),
        # order 3: same minute (match)
        f.write("order_id,d_ts\n1,2024-05-01 10:10:00\n2,2024-05-01 10:45:00\n3,2024-05-01 10:10:00\n")

    orders = (
        spark.readStream.schema("order_id long, o_ts timestamp")
        .option("header", "true").csv(odir)
    )
    deliveries = (
        spark.readStream.schema("order_id long, d_ts timestamp")
        .option("header", "true").csv(ddir)
        .withColumnRenamed("order_id", "d_order_id")
    )
    joined = join_streams_within(
        orders, deliveries, "order_id", "d_order_id", "o_ts", "d_ts",
        within="15 minutes",
    )
    q = (
        joined.select("order_id", "o_ts", "d_ts")
        .writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT order_id FROM ss_join ORDER BY order_id").collect()
    assert [r.order_id for r in rows] == [1, 3]


def test_single_run_multiple_microbatches_ordered(spark, tmp_path):
    """Round-5: BOTH day files present before the stream starts;
    maxFilesPerTrigger=1 forces ONE availableNow run to drain them as
    two ORDERED micro-batches, each through the full SCD2 merge body.
    The final state must equal the two-run replay: day2's price change
    closes out day1's version, never the other way around."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(str(tmp_path / "wh"))
    spec = ENTITIES["menu"]

    _write_menu(landing, "day1.csv", [
        "1,101,Tikka,Good,250.00,App,True,Veg,4.2,2024-05-01 10:00:00,\\N",
        "2,101,Dal,Nice,220.00,Main,False,Veg,4.4,2024-05-01 10:00:00,\\N",
    ])
    import time

    time.sleep(1.1)  # distinct mtimes: file-source batches honor file age order
    _write_menu(landing, "day2.csv", [
        "1,101,Tikka,Good,275.00,App,True,Veg,4.2,2024-05-01 10:00:00,2024-05-02 11:00:00",
        "3,102,Noodles,Street,180.00,Main,true,Veg,\\N,2024-05-02 11:00:00,\\N",
    ])

    q = ingest_stream(spark, wh, spec, landing, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)
    assert q.lastProgress is not None

    dim = wh.dim("menu").read(spark)
    assert dim.count() == 4  # 2 day1 + 1 close-out replacement + 1 new
    cur1 = dim.filter("menu_id = 1 AND is_current").collect()
    assert len(cur1) == 1 and str(cur1[0].price) == "275.00"
    old1 = dim.filter("menu_id = 1 AND NOT is_current").collect()
    assert len(old1) == 1 and str(old1[0].price) == "250.00"


def test_streaming_incremental_scrub_matches_batch_and_is_exactly_once(
    spark, tmp_path
):
    """Round-8 (verdict item 5): the q142 incremental passage scrub
    deployed inside foreachBatch. A 2-drop replay must equal the batch
    operators run day-by-day (drop1 = plain scrub, drop2 = incremental
    against drop1's stored vocabulary); a restart with the same
    checkpoint and no new files adds ZERO rows; and a crash-replay of
    a committed micro-batch (re-running the body with the same
    batch_id after its index partition landed) converges to the same
    bytes instead of scrubbing the batch against itself."""
    import json

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
        passage_scrub,
        passage_scrub_incremental,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.scrub import (
        scrub_microbatch,
        scrub_stream,
    )

    landing = str(tmp_path / "drops")
    out_dir = str(tmp_path / "clean")
    index_dir = str(tmp_path / "ph_index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    dup = "x y z"  # one full 3-word passage, duplicated across drops
    drop1 = [(1, f"{dup} a b c t1"), (2, f"{dup} d e f"), (3, "short doc")]
    drop2 = [(4, f"{dup} g h i"), (5, f"g h i {dup} g h i"), (6, f"p q r {dup}")]

    def _write_drop(fname, rows):
        with open(os.path.join(landing, fname), "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    def _collect(df):
        return sorted(
            (r.doc_id, r.n_passages, r.n_removed, r.clean_text, r.clean_chars)
            for r in df.collect()
        )

    _write_drop("day1.json", drop1)
    scrub_stream(spark, landing, out_dir, index_dir, ckpt, w=3).awaitTermination(120)
    d1 = spark.createDataFrame(drop1, "doc_id long, text string")
    got1 = _collect(
        spark.read.parquet(out_dir).select(
            "doc_id", "n_passages", "n_removed", "clean_text", "clean_chars"
        )
    )
    assert got1 == _collect(passage_scrub(d1, w=3)), (
        "drop 1 must equal the plain batch scrub (empty index)"
    )

    _write_drop("day2.json", drop2)
    scrub_stream(spark, landing, out_dir, index_dir, ckpt, w=3).awaitTermination(120)
    full = spark.read.parquet(out_dir)
    assert full.count() == 6
    d2 = spark.createDataFrame(drop2, "doc_id long, text string")
    got2 = _collect(
        full.filter(F.col("doc_id") >= 4).select(
            "doc_id", "n_passages", "n_removed", "clean_text", "clean_chars"
        )
    )
    assert got2 == _collect(passage_scrub_incremental(d1, d2, w=3)), (
        "drop 2 must equal the batch incremental scrub against drop 1"
    )
    # the duplicated passage was really removed by seniority
    by_id = {t[0]: t for t in got2}
    assert by_id[4][2] >= 1, "doc 4's copy of the drop-1 passage must be cut"

    # exactly-once: restart with the same checkpoint, no new files
    scrub_stream(spark, landing, out_dir, index_dir, ckpt, w=3).awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 6, "rerun must add zero rows"

    # crash-replay idempotency: re-run the committed batch body with
    # its own batch_id (index partition already on disk) — the output
    # partition overwrites to the same rows, never self-scrubs
    batch_ids = sorted(
        r[0] for r in spark.read.parquet(out_dir).select("batch_id").distinct().collect()
    )
    replay_id = batch_ids[-1]
    scrub_microbatch(spark, d2, replay_id, out_dir, index_dir, w=3)
    replayed = _collect(
        spark.read.parquet(out_dir)
        .filter(F.col("doc_id") >= 4)
        .select("doc_id", "n_passages", "n_removed", "clean_text", "clean_chars")
    )
    assert replayed == got2, "replay of a committed batch must be byte-stable"
    assert spark.read.parquet(out_dir).count() == 6


def test_sessionize_streaming_late_event_does_not_bridge_super_gap(spark, tmp_path):
    """Review r8: the old fold condition 't - last <= gap' was
    unbounded below, so a straggler arbitrarily far BEFORE the open
    session merged into it, emitting a session with an internal
    super-gap hole. With interval-merging, the late 09:00 event (60min
    before a 30min-gap session starting at 10:00) must close as its
    OWN session, exactly like the batch twin."""
    import json

    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.windows import (
        sessionize,
        sessionize_batch,
    )

    landing = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def _drop(fname, rows):
        with open(os.path.join(landing, fname), "w") as f:
            for uid, ts in rows:
                f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")

    # batch 1: the open session 10:00 + 10:05
    _drop("b1.json", [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00")])
    import time

    time.sleep(1.1)
    # batch 2: a 09:00 straggler (inside any 2h watermark) plus a
    # 11:00 event that closes everything before it by event time
    _drop("b2.json", [(1, "2024-01-01 09:00:00"), (1, "2024-01-01 11:00:00")])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .json(landing)
    )
    # idle_timeout=False: this test asserts EVENT-TIME closing only
    # (the 11:00 event stays open), and with processing-time timeouts
    # pending an availableNow drain never terminates — the old form
    # burned the full awaitTermination budget (120 s) every suite run
    out = sessionize(stream, gap_ms=30 * 60 * 1000, idle_timeout=False)
    q = (
        out.writeStream.format("memory")
        .queryName("late_sessions")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow drain must terminate"
    got = sorted(
        (str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.sql("SELECT * FROM late_sessions").collect()
    )
    # closed by event time: the straggler session and the 10:00-10:05
    # session (the 11:00 event stays open in state)
    assert got == [
        ("2024-01-01 09:00:00", "2024-01-01 09:00:00", 1),
        ("2024-01-01 10:00:00", "2024-01-01 10:05:00", 2),
    ], got
    # and the batch twin agrees on the same rows
    df = spark.createDataFrame(
        [(1, t) for t in ("2024-01-01 10:00:00", "2024-01-01 10:05:00",
                          "2024-01-01 09:00:00", "2024-01-01 11:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = sorted(
        (str(r.session_start), str(r.session_end), r.n_events)
        for r in sessionize_batch(df).collect()
    )
    assert batch == got + [("2024-01-01 11:00:00", "2024-01-01 11:00:00", 1)]


def test_q164_watermark_replay_structure(spark):
    """q164 (round-12): the engine's stateful-windowed-agg semantics
    under the driver hash, restated readably — day-1 equals its batch
    counts ALONE (the replayed stragglers were dropped by watermark
    eviction), day-3 equals batch counts PLUS the user%5 stragglers
    (window still open → accepted, double-counted), day-2 untouched,
    day-4 (the flush) never finalized in append mode."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.catalog import load
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import (
        all_queries,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q164_watermark_window_replay"].build(spark, sf).collect()
    got = {}
    for r in rows:
        got.setdefault(r.window_start, 0)
        got[r.window_start] += r.n_events

    JAN1 = 1704067200
    days = sorted(got)
    assert days == [JAN1, JAN1 + 86400, JAN1 + 2 * 86400], days

    e = load(spark, sf, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), "user_id"
    )
    def day_count(n, extra=None):
        lo, hi = (JAN1 + (n - 1) * 86400) * 10**6, (JAN1 + n * 86400) * 10**6
        d = e.filter((F.col("us") >= lo) & (F.col("us") < hi))
        base = d.count()
        return base + (d.filter(extra).count() if extra is not None else 0)

    assert got[JAN1] == day_count(1)  # stragglers DROPPED
    assert got[JAN1 + 86400] == day_count(2)
    assert got[JAN1 + 2 * 86400] == day_count(
        3, F.col("user_id") % 5 == 0
    )  # stragglers ACCEPTED (double count)


# ------------------------------------------- availableNow replay drains


def test_drain_restores_conf_when_it_raises(spark, tmp_path):
    """A drain that fails at start still hands back the caller's conf
    and releases the drain lock."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming import windows

    key = windows._NO_DATA
    before = spark.conf.get(key), spark.conf.get(windows._PARTS)
    batch = spark.range(3)  # not a stream: writeStream raises
    with pytest.raises(Exception, match="writeStream"):
        windows._drain(
            spark, batch, str(tmp_path), "qx", {key: "false", windows._PARTS: "3"}
        )
    assert (spark.conf.get(key), spark.conf.get(windows._PARTS)) == before
    assert not windows._DRAIN_CONF_LOCK.locked()


@pytest.mark.parametrize(
    "query,conf_name",
    [
        ("q167_stream_stream_interval_join", "_Q167_CONF"),
        ("q170_streaming_dedup_replay", "_Q170_CONF"),
    ],
)
def test_no_data_batches_never_change_the_sink(spark, monkeypatch, query, conf_name):
    """q167 and q170 drop the trailing no-data micro-batch: their sinks
    must be identical with it on and off. The committed batch counts
    prove the flip reached the query, and the caller's conf comes back
    after each drain."""
    from real_time_data_pipeline_for_restaurant_analytics_spark import workdirs
    from real_time_data_pipeline_for_restaurant_analytics_spark.registry import all_queries
    from real_time_data_pipeline_for_restaurant_analytics_spark.streaming import windows

    from .conftest import SF_SMOKE

    works = []
    real_workdir = workdirs.replay_workdir

    def recording_workdir(family):
        works.append(real_workdir(family))
        return works[-1]

    monkeypatch.setattr(workdirs, "replay_workdir", recording_workdir)
    before = spark.conf.get(windows._NO_DATA)
    conf = getattr(windows, conf_name)
    assert conf[windows._NO_DATA] == "false"
    sinks, batches = {}, {}
    for no_data in ("false", "true"):
        monkeypatch.setattr(windows, conf_name, {**conf, windows._NO_DATA: no_data})
        sinks[no_data] = all_queries()[query].build(spark, SF_SMOKE)
        commits = os.listdir(os.path.join(works[-1], "ckpt", "commits"))
        batches[no_data] = len([f for f in commits if not f.startswith(".")])
        assert spark.conf.get(windows._NO_DATA) == before
    on, off = sinks["true"], sinks["false"]
    assert off.count() > 0
    assert on.exceptAll(off).count() == 0 and off.exceptAll(on).count() == 0
    assert batches["true"] > batches["false"]
