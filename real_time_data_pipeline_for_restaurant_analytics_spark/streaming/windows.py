"""Watermarked windowed KPIs + custom stateful operators
(SURVEY §2.7, M5: the "real-time" in the project name made literal).

- ``hourly_window_kpi``: KPI 25 (deliveries/events per hour) as a
  tumbling event-time window with a watermark for late data — the
  streaming twin of plans/kpis.deliveries_per_hour.
- ``sessionize``: custom stateful operator (applyInPandasWithState)
  assigning gap-based sessions per user — the pattern the reference
  cannot express at all; included as the stateful-streaming
  capability a Spark-first engine adds (north-star in BASELINE.json).
"""

from __future__ import annotations

import threading
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def _write_json_drops(work: str, plan: list) -> None:
    """Materialize replay drop files CONCURRENTLY (guide §2.6: each is
    an independent coalesce(1) JSON job into its own scratch dir, and
    the scheduler overlaps concurrent actions — the drop phase costs
    roughly one job's wall instead of len(plan); the q145
    ``_parallel_drops`` recipe applied to the streaming replays, which
    wrote their 2-6 drops serially until round 14).

    A parallel encode (repartition + part-file concat) was measured
    here in round 14 and REJECTED: with the q169 sentinel fixed to a
    JVM relation the single-task coalesce(1) encode of a 1-2 MB drop is
    ~0.3 s, and the repartition's extra exchange cost more than the
    encode parallelism saved on every replay in the family (A/B:
    bench_logs/qprof_stream_{w2,par1}.txt).

    ``plan`` rows are ``(landing_dir, batch_index, frame)``; the
    explicit mtime stamp (base + index) keeps the file-source
    micro-batch ORDER independent of write completion order.
    """
    import os
    import shutil
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    def one(landing: str, i: int, frame: DataFrame) -> None:
        tmp = os.path.join(work, "w_" + uuid.uuid4().hex)
        frame.coalesce(1).write.mode("overwrite").json(tmp)
        src = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".json"))
        dst = os.path.join(landing, f"drop{i}.json")
        os.replace(os.path.join(tmp, src), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)

    with ThreadPoolExecutor(max_workers=min(len(plan), 8)) as pool:
        list(pool.map(lambda a: one(*a), plan))


_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_PARTS = "spark.sql.shuffle.partitions"
#: serializes the conf flip around ``start()``: the session conf is
#: global, so a query started concurrently by another drain must never
#: inherit this drain's values (a streaming query clones the session,
#: conf included, when it starts, so the flip need not outlive it)
_DRAIN_CONF_LOCK = threading.Lock()


def _drain(
    spark: SparkSession, frame: DataFrame, work: str, name: str, conf: dict
) -> DataFrame:
    """Drain the streaming ``frame`` into a parquet sink under
    ``work/sink`` (checkpoint ``work/ckpt``) with one ``availableNow``
    run and return the sink read back. ``conf`` is set for the query's
    start and the caller's values restored afterwards, both under
    ``_DRAIN_CONF_LOCK``. ``shuffle.partitions`` at stream start IS the
    StateStore partition count for the query's lifetime, so the
    stateful replays size it to their few-thousand-key state (32 → 8
    measured 7.8 → 4.3 s on q164 at sf0.1)."""
    import os

    out_dir = os.path.join(work, "sink")
    with _DRAIN_CONF_LOCK:
        prev = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            q = (
                frame.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"{name}: availableNow drain did not finish within 600 s")
    return spark.read.parquet(out_dir)


def hourly_window_kpi(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    window_len: str = "1 hour",
) -> DataFrame:
    """Tumbling-window count+sum with late-data watermark. Works on a
    streaming OR batch DataFrame (same plan; batch ignores the
    watermark) — used for KPI 25's streaming variant."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_len).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(28,6)").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _make_session_fn(gap_ms: int, ts_col: str, idle_timeout: bool = True):
    gap_us = gap_ms * 1000
    _NAT = np.iinfo("int64").min  # NaT's int64 payload

    def _emit(key: tuple, starts, ends, ns) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": pd.Series([key[0]] * len(ns)),
                "session_start": pd.Series(
                    np.asarray(starts, dtype="int64").view("datetime64[us]"),
                    dtype="datetime64[us]",
                ),
                "session_end": pd.Series(
                    np.asarray(ends, dtype="int64").view("datetime64[us]"),
                    dtype="datetime64[us]",
                ),
                "n_events": pd.Series(np.asarray(ns, dtype="int64"), dtype="int64"),
            }
        )

    def _session_fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Gap-based sessionizer. Sessions that are CLOSED BY EVENT
        TIME (the next session starts > gap after they end) are emitted
        in the same micro-batch — arrival batching can't merge distinct
        event-time sessions. Only the LATEST session sits open in
        state, closed by the processing-time timeout when the stream
        goes quiet for the gap.

        Late data (review r8): the old fold condition
        ``t - last <= gap`` was unbounded below, so a straggler
        arbitrarily far BEFORE the open session merged into it,
        emitting a session with an internal super-gap hole. The batch's
        points plus the open-session interval are INTERVAL-MERGED in
        event-time order (two items merge iff the next starts within
        gap of the previous running end — exactly the batch twin's
        rule), the latest merged interval stays open, and every earlier
        one is closed by event-time evidence. Remaining boundary,
        documented: stragglers older than the open session that arrive
        in DIFFERENT micro-batches emit as separate sessions even if a
        full replay would merge them with each other — keep the
        watermark <= gap when that matters. Rows with NULL event time
        are ignored (NaT has no place on a timeline; the old int64 cast
        raised or fabricated a year-1677 session).

        Round 15 (guide §4.2): the per-event Python fold and the
        per-session pd.Timestamp construction are replaced by a
        VECTORIZED interval merge — segment breaks where the next
        start exceeds the running-max end by more than the gap
        (np.maximum.accumulate + reduceat), timestamps built as one
        int64→datetime64[us] view. Bit-identical output (replayed
        q165 at sf0.1: exceptAll both ways = 0 against the loop
        implementation); the interval-merge rule is unchanged — the
        loop's ``merged[-1][1]`` IS the running-max end.
        """
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield _emit(key, [start_us], [last_us], [n])
            return
        arrs = [df[ts_col].to_numpy() for df in pdfs]
        if not arrs:  # an empty iterator: the empty-``iv`` paths below apply
            ts = np.empty(0, dtype="datetime64[ns]")
        else:
            ts = arrs[0] if len(arrs) == 1 else np.concatenate(arrs)
        iv = ts.astype("datetime64[ns]").view("int64")
        iv = iv[iv != _NAT] // 1000  # drop NaT rows, ns → µs
        iv.sort()
        if state.exists:
            s0, l0, n0 = state.get
            # insert the open-session interval by start position; order
            # among equal starts cannot change the merged segments
            pos = int(np.searchsorted(iv, s0))
            starts = np.insert(iv, pos, s0)
            ends = np.insert(iv, pos, l0)
            ns = np.insert(np.ones(len(iv), dtype="int64"), pos, n0)
        else:
            if len(iv) == 0:
                yield _emit(key, [], [], [])
                return
            starts, ends = iv, iv
            ns = np.ones(len(iv), dtype="int64")
        runmax = np.maximum.accumulate(ends)
        brk = np.flatnonzero(starts[1:] - runmax[:-1] > gap_us)
        first = np.concatenate(([0], brk + 1))
        last = np.concatenate((brk, [len(starts) - 1]))
        seg_start, seg_end = starts[first], runmax[last]
        seg_n = np.add.reduceat(ns, first)
        state.update((int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1])))
        if idle_timeout:
            state.setTimeoutDuration(gap_ms)
        yield _emit(key, seg_start[:-1], seg_end[:-1], seg_n[:-1])

    return _session_fn


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_ms: int = 30 * 60 * 1000,
    idle_timeout: bool = True,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessions via
    applyInPandasWithState (Arrow-batched, per-key state — the
    Spark-native form of a custom stateful operator).

    Semantics match :func:`sessionize_batch` (the backfill twin) for
    every session closed by event-time evidence; the final open session
    per user is emitted via the processing-time timeout once the stream
    idles for the gap (an ``availableNow`` drain therefore emits all
    event-time-closed sessions and leaves the trailing open one in
    state — by design: it may still grow). Output column is named
    ``user_id`` with the source column's type.
    """
    user_type = events.schema[user_col].dataType
    out_schema = StructType(
        [
            StructField("user_id", user_type),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    # ``idle_timeout=False`` turns off the processing-time timeout
    # entirely (NoTimeout): the open session is then never flushed by
    # wall-clock idleness — used by bounded REPLAYS (q165), where
    # pending timeouts would otherwise keep the micro-batch loop
    # spinning empty batches for the whole gap duration after the
    # drain (measured: hundreds of no-data batches).
    return (
        events.withWatermark(ts_col, "2 hours")
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            _make_session_fn(gap_ms, ts_col, idle_timeout),
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout
            else GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_batch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Batch twin of ``sessionize``: gap-based sessions with window
    functions (lag → new-session flag → running session id). Pure
    JVM-side plan; used for backfill and as the oracle for the
    streaming operator.

    NULL event times are dropped, matching the streaming twin's
    'NaT has no place on a timeline' rule (ADVICE r9): without the
    filter a NULL ts row evaluates the gap predicate to NULL →
    otherwise(0) and silently folds into the prior session, so the
    two twins diverged on exactly the rows neither can place."""
    from pyspark.sql import Window

    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.lag(ts_col).over(w)
    # MICROSECOND gap comparison (review r8): unix_timestamp truncates
    # to whole seconds, so a 1800.5 s gap compared as 1800 kept one
    # session while the streaming twin (which always compared exact
    # microseconds) split — on the real events data every timestamp is
    # sub-second. Both twins and the q31 oracle now compare at the
    # engines' native microsecond resolution.
    new_session = (
        F.when(gap.isNull(), 1)
        .when(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(gap.cast("timestamp"))
            > gap_minutes * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
    )
    with_sess = events.withColumn("__new", new_session).withColumn(
        "session_no", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy(user_col, "session_no")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_no")
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — C6's streaming twin. State is bounded
    by the watermark: a key's dedup entry is dropped once the
    watermark passes it, so state size tracks the late-data window,
    not the stream's history (the property that keeps this viable on
    an unbounded 100 TB/day firehose; an unbounded dropDuplicates
    would grow state forever)."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(keys)


def join_streams_within(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    within: str = "15 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join bounded by event time: right rows match
    a left row with the same key when ``left_ts <= right_ts <=
    left_ts + within`` (order placed → delivery dispatched, the
    reference's order⋈delivery pairing run on live streams).

    Both sides carry watermarks and the join condition carries the
    time-range bound — together they let Spark EVICT state: a buffered
    left row can be dropped once the right watermark passes
    ``left_ts + within``, so state is O(in-flight window), not
    O(stream history). Without the range condition the state store
    grows unboundedly; that shape is refused here by construction.
    Works identically on batch frames (the watermark is a no-op).

    ``how="left_outer"`` adds the outer contract: an unmatched left
    row emits once, with NULL right columns, when the watermark
    passes ``left_ts + within`` (its window provably can't match
    anymore) — never eagerly, or a match arriving later in the window
    would make the null row a lie. Left rows whose window is still
    open when an ``availableNow`` drain ends are withheld (the q165
    open-session contract)."""
    l, r = left, right  # noqa: E741
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    cond = (
        (l[left_key] == r[right_key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


# ---------------------------------------------------------------------------
# q164: Spark's STATEFUL windowed aggregation — watermark state
# eviction, append-mode finalization, and late-data DROP — registered
# and fully value-hash oracled (round-12). q144 put foreachBatch
# custom-merge streaming under the hash; this puts the engine's own
# StateStore path there: three deterministic drops drain as ordered
# micro-batches, and the parquet sink ends up holding EXACTLY the
# day-1/2/3 windows, each with a distinct provenance: day-1 WITHOUT
# the stragglers replayed in drop 2 (their window end is behind the
# batch-1 watermark → dropped by the engine, not by our code), day-2
# WITH its stragglers double-counted (window still open → accepted),
# day-3 finalized only by the trailing NO-DATA micro-batch
# (noDataMicroBatches — default-on, pinned explicitly in the query —
# lets eviction run after the day-4 flush advances the watermark past
# Jan 4), and day-4 NEVER (the flush is capped at noon, so the final
# watermark ~10:00 never reaches the day-4 window end — robust to any
# number of trailing batches).
# ---------------------------------------------------------------------------

#: epoch seconds, UTC midnight Jan N 2024 (session tz pinned UTC)
_JAN = {n: 1704067200 + (n - 1) * 86400 for n in (1, 2, 3, 4)}

#: day-3's finalization rides on the trailing no-data micro-batch: pin
#: the (default-on) conf so the oracle's third window doesn't silently
#: depend on a deployment override. The agg's state keyspace is
#: 4 windows × 5 event types.
_Q164_CONF = {_NO_DATA: "true", _PARTS: "8"}


_WM_ORACLE = f"""
WITH base AS (
  SELECT ts, user_id, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
d1 AS (SELECT * FROM base WHERE epoch(ts) >= {_JAN[1]} AND epoch(ts) < {_JAN[2]}),
d2 AS (SELECT * FROM base WHERE epoch(ts) >= {_JAN[2]} AND epoch(ts) < {_JAN[3]}),
d3 AS (SELECT * FROM base WHERE epoch(ts) >= {_JAN[3]} AND epoch(ts) < {_JAN[4]}),
win3 AS (
  SELECT * FROM d3
  UNION ALL
  SELECT * FROM d3 WHERE user_id % 5 = 0
)
SELECT CAST({_JAN[1]} AS BIGINT) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS value_cents
FROM d1 GROUP BY event_type
UNION ALL
SELECT CAST({_JAN[2]} AS BIGINT), event_type,
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(cents), 0) AS BIGINT)
FROM d2 GROUP BY event_type
UNION ALL
SELECT CAST({_JAN[3]} AS BIGINT), event_type,
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(cents), 0) AS BIGINT)
FROM win3 GROUP BY event_type
ORDER BY window_start, event_type
"""


@register(
    "q164_watermark_window_replay",
    oracle=_WM_ORACLE,
    doc="Watermarked streaming windowed aggregation REPLAYED end to "
    "end under the driver hash (round-12): three deterministic drops "
    "(days 1-2; day 3; day-4 morning flush + replayed day-1 "
    "stragglers + replayed day-3 stragglers) drain as ordered "
    "availableNow micro-batches through withWatermark('2 hours') + "
    "1-day tumbling window + append-mode parquet sink. The hash pins "
    "the ENGINE's stateful semantics: replayed day-1 rows (user_id % "
    "7) are dropped by watermark eviction (day-1 counts equal drop-0 "
    "counts alone), replayed day-3 rows (user_id % 5) are accepted "
    "into the still-open day-3 window (double-counted exactly once — "
    "the oracle's win3 CTE), and the day-4 window is never "
    "finalized; day-3 finalizes only via the trailing no-data "
    "micro-batch. In-query asserts prove both straggler classes were "
    "physically present in the final drop. Batch twin: q94; "
    "custom-merge streaming twin: q144.",
)
def q164_watermark_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import load
    from ..workdirs import replay_workdir

    work = replay_workdir("wm_replay")
    landing = os.path.join(work, "drops")
    os.makedirs(landing)

    us = {n: _JAN[n] * 1_000_000 for n in _JAN}
    e = load(spark, sf_dir, "events").select(
        # NTZ → TZ is identity under the pinned-UTC session
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    t = F.col("ts_us")
    day = lambda n: (t >= us[n]) & (t < us[n + 1])  # noqa: E731
    # BOTH straggler classes ride in the LAST batch, two batches after
    # drop 0 — measured on this engine build, the late-input filter's
    # watermark lags the eviction watermark by one batch (a straggler
    # sharing a batch with the data that first advances the watermark
    # past its window still merges), so batch 2 is the first batch
    # where the day-1 drop is guaranteed under EITHER convention; the
    # day-3 acceptance is convention-independent (its window end stays
    # ahead of every watermark this stream ever reaches).
    late1 = e.filter(day(1) & (F.col("user_id") % 7 == 0))  # must DROP
    late3 = e.filter(day(3) & (F.col("user_id") % 5 == 0))  # must ACCEPT
    flush = e.filter((t >= us[4]) & (t < us[4] + 12 * 3600 * 1_000_000))
    drops = (
        e.filter(day(1) | day(2)),
        e.filter(day(3)),
        # flush capped at NOON so the final watermark (~10:00) stays
        # behind the day-4 window end no matter how many trailing
        # no-data batches run
        flush.unionByName(late1).unionByName(late3),
    )
    # fixture audit in ONE job (the q167 pattern, applied here in
    # round 14 — this was three separate count() jobs): every
    # straggler class and the flush as conditional sums over one scan
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    s = e.agg(
        cnt(day(1) & (F.col("user_id") % 7 == 0)).alias("n_late1"),
        cnt(day(3) & (F.col("user_id") % 5 == 0)).alias("n_late3"),
        cnt((t >= us[4]) & (t < us[4] + 12 * 3600 * 1_000_000)).alias("n_flush"),
    ).collect()[0]
    n_late1, n_late3, n_flush = s["n_late1"], s["n_late3"], s["n_flush"]
    assert n_late1 > 0 and n_late3 > 0, (
        f"straggler classes empty (late1={n_late1}, late3={n_late3}) — "
        "the watermark drop/accept paths were not exercised"
    )
    assert n_flush > 0, "empty flush drop — day-3 window would never finalize"

    _write_json_drops(work, [(landing, i, f) for i, f in enumerate(drops)])

    schema = (
        "ts_us long, user_id long, event_type string, cents long"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(landing)
        .select(
            F.timestamp_micros("ts_us").alias("ts"),
            "event_type",
            "cents",
        )
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("value_cents"),
        )
        .select(
            F.col("win.start").cast("timestamp").alias("window_ts"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )
    return (
        _drain(spark, stream, work, "q164_watermark_window_replay", _Q164_CONF)
        .select(
            F.col("window_ts").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# q165: the CUSTOM STATEFUL operator (applyInPandasWithState
# sessionize) under a full driver value hash (round-12). q164 hashes
# the engine's built-in windowed-agg state path; this hashes the
# user-defined state path: three strictly time-ordered drops (days
# 1-10 / 11-20 / 21-end) drain as ordered micro-batches, sessions
# spanning a drop boundary MERGE through state, every session closed
# by event-time evidence is emitted exactly once, and each user's
# trailing OPEN session is deliberately never emitted (it may still
# grow — the operator's documented availableNow contract). The oracle
# is the batch sessionizer (q31's CTE chain) MINUS each user's last
# session — if state ever dropped, double-emitted, split a
# boundary-spanning session, or leaked the open one, the hash breaks.
# ---------------------------------------------------------------------------

_SESS_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
), agg AS (
  SELECT user_id, session_no,
         MIN(ts) AS s_start, MAX(ts) AS s_end, COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, session_no
), last AS (
  SELECT user_id, MAX(session_no) AS last_no FROM agg GROUP BY user_id
)
SELECT a.user_id,
       strftime(a.s_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(a.s_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(a.n_events AS BIGINT) AS n_events
FROM agg a JOIN last l ON a.user_id = l.user_id AND a.session_no <> l.last_no
ORDER BY a.user_id, session_start
"""


@register(
    "q165_streaming_sessionize_replay",
    oracle=_SESS_ORACLE,
    doc="Custom stateful streaming operator (applyInPandasWithState "
    "gap-sessionizer) REPLAYED end to end under the driver hash "
    "(round-12): three strictly time-ordered drops drain as ordered "
    "availableNow micro-batches; per-user session state carries "
    "across batches (boundary-spanning sessions must MERGE), "
    "event-time-closed sessions emit exactly once, and each user's "
    "trailing open session is deliberately withheld (documented "
    "availableNow contract — it may still grow). Oracle: the batch "
    "window-function sessionizer (q31's chain) minus each user's "
    "last session. In-query asserts prove every drop is non-empty "
    "and at least one user spans a drop boundary (the state-merge "
    "path was actually exercised).",
)
def q165_streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import load
    from ..workdirs import replay_workdir

    work = replay_workdir("sess_replay")
    landing = os.path.join(work, "drops")
    os.makedirs(landing)

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
        )
    )
    jan1 = 1704067200 * 1_000_000
    cut1, cut2 = jan1 + 10 * 86400 * 1_000_000, jan1 + 20 * 86400 * 1_000_000
    t = F.col("ts_us")
    drops = (
        e.filter(t < cut1),
        e.filter((t >= cut1) & (t < cut2)),
        e.filter(t >= cut2),
    )
    # fixture audit in ONE job (round 14 — this was four: three drop
    # counts plus an intersect): per-user conditional sums roll up to
    # the three drop counts AND the consecutive-drop spanning count
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    s = (
        e.groupBy("user_id")
        .agg(
            cnt(t < cut1).alias("u0"),
            cnt((t >= cut1) & (t < cut2)).alias("u1"),
            cnt(t >= cut2).alias("u2"),
        )
        .agg(
            F.sum("u0").alias("c0"),
            F.sum("u1").alias("c1"),
            F.sum("u2").alias("c2"),
            cnt((F.col("u0") > 0) & (F.col("u1") > 0)).alias("spanning"),
        )
        .collect()[0]
    )
    counts = [s["c0"], s["c1"], s["c2"]]
    assert all(c > 0 for c in counts), (
        f"empty drop in {counts} — the multi-batch state path was not exercised"
    )
    assert s["spanning"] > 0, (
        "no user appears in consecutive drops — cross-batch state "
        "merge was not exercised"
    )

    _write_json_drops(work, [(landing, i, f) for i, f in enumerate(drops)])

    stream = (
        spark.readStream.schema("ts_us long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .json(landing)
        .select(F.timestamp_micros("ts_us").alias("ts"), "user_id")
    )
    # idle_timeout=False: with processing-time timeouts registered,
    # the drain never settles (the loop keeps running empty batches to
    # poll the 30-minute timeouts — measured as hundreds of no-data
    # batches); the replay withholds open sessions anyway, so the
    # timeout's only job doesn't apply here.
    sess = sessionize(stream, gap_ms=30 * 60 * 1000, idle_timeout=False)
    return (
        _drain(spark, sess, work, "q165_streaming_sessionize_replay", {})
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# q167: the stream-stream INTERVAL JOIN under a driver value hash
# (round-13, verdict item 1) — the last Structured Streaming state
# path without driver-grade evidence (q164 = built-in stateful agg,
# q165 = custom state). Two ordered drop-streams (clicks ⋈ purchases
# within 4 hours, the reference's delivery⋈order FK pairing run on
# live streams — `08 Delivery Entity.sql:96-98`) drain as paired
# availableNow micro-batches; the sink must end up holding EXACTLY
# the batch join's pairs:
# - pairs whose sides arrive in the SAME batch emit immediately
#   (inner interval joins emit on match, not on watermark);
# - a WITHHELD class of right rows (purchases of batch 1's last day,
#   shipped one batch late) must still pair — their left partners'
#   state has to survive the batch boundary (global watermark
#   min(leftWM, rightWM) = Jan 6 16:00 entering batch 2; partners
#   sit at ≥ Jan 6 20:00 + the 4 h join bound, an 8 h margin);
# - a REPLAYED class of right rows (day-1 purchases, re-shipped two
#   batches later — q164's measured filter-lag convention makes two
#   batches the guaranteed distance) must NOT double-emit: the
#   watermark input filter drops them, and even a filter miss finds
#   their left partners' state long evicted — both engine mechanisms
#   have to agree with the oracle's exactly-once pairs.
# Oracle: the plain batch interval join (q72's kernel shape) over the
# same ten days.
# ---------------------------------------------------------------------------

#: epoch microseconds, UTC midnight Jan N 2024
_JAN_US = {n: (1704067200 + (n - 1) * 86400) * 1_000_000 for n in (1, 5, 7, 8, 11)}

#: no trailing no-data micro-batch (round 15): an INNER interval join
#: emits on match only — the watermark-advance batch after the last
#: drop can evict state but can never add sink rows, so it is pure
#: trigger overhead here (A/B at sf0.1: 6.5 → 5.4 s, sink exceptAll
#: both ways = 0; tests/test_streaming.py pins the equality).
#: q164/q169 MUST keep it true (their window finalization / null
#: emission ride on it). The join buffers a few thousand rows.
_Q167_CONF = {_NO_DATA: "false", _PARTS: "8"}

_SSJ_ORACLE = f"""
WITH l AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us FROM events
  WHERE ts IS NOT NULL AND event_type = 'click'
    AND epoch_us(ts) >= {_JAN_US[1]} AND epoch_us(ts) < {_JAN_US[11]}
), r AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us FROM events
  WHERE ts IS NOT NULL AND event_type = 'purchase'
    AND epoch_us(ts) >= {_JAN_US[1]} AND epoch_us(ts) < {_JAN_US[11]}
)
SELECT l.click_id, r.purchase_id, l.user_id,
       CAST(l.c_us AS BIGINT) AS click_ts_us,
       CAST(r.p_us AS BIGINT) AS purchase_ts_us
FROM l JOIN r ON l.user_id = r.user_id
  AND r.p_us >= l.c_us AND r.p_us <= l.c_us + 14400000000
ORDER BY click_id, purchase_id
"""


@register(
    "q167_stream_stream_interval_join",
    oracle=_SSJ_ORACLE,
    doc="Watermarked stream-stream interval join REPLAYED end to end "
    "under the driver hash (round-13): clicks ⋈ purchases (same user, "
    "purchase within 4 h of the click) over ten days, each side "
    "draining as three paired availableNow micro-batches with 8 h "
    "watermarks and the range bound in the join condition — the shape "
    "that lets the engine EVICT buffered state instead of growing it "
    "with stream history. The hash pins three behaviors at once: "
    "same-batch pairs emit exactly once; a withheld right class "
    "(batch 1's last-day purchases, shipped one batch late) still "
    "pairs because the left state survived the boundary; a replayed "
    "right class (day-1 purchases re-shipped two batches later) "
    "never double-emits — watermark input filtering and left-state "
    "eviction must both say so. Oracle: the batch interval join "
    "(q72's kernel) over the same window. In-query asserts prove all "
    "three classes are physically non-empty, including >0 "
    "cross-batch pairs. Batch twin: q72; pytest twin: "
    "tests/test_streaming.py join_streams_within.",
)
def q167_stream_stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..catalog import load
    from ..workdirs import replay_workdir

    work = replay_workdir("ssj_replay")
    land_l = os.path.join(work, "clicks")
    land_r = os.path.join(work, "purchases")
    os.makedirs(land_l)
    os.makedirs(land_r)

    c0, c1, c2, end = _JAN_US[1], _JAN_US[5], _JAN_US[8], _JAN_US[11]
    wh_lo = _JAN_US[7]  # withheld: purchases of batch 1's last day
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
            "event_id",
            "event_type",
        )
    )
    t = F.col("ts_us")
    clicks = ev.filter((F.col("event_type") == "click") & (t >= c0) & (t < end))
    purch = ev.filter(
        (F.col("event_type") == "purchase") & (t >= c0) & (t < end)
    ).drop("event_type")
    clicks = clicks.drop("event_type")
    withheld = purch.filter((t >= wh_lo) & (t < c2))
    replayed = purch.filter((t < c0 + 86400 * 1_000_000) & (F.col("user_id") % 3 == 0))
    ldrops = (
        clicks.filter(t < c1),
        clicks.filter((t >= c1) & (t < c2)),
        clicks.filter(t >= c2),
    )
    rdrops = (
        purch.filter(t < c1),
        purch.filter((t >= c1) & (t < wh_lo)),
        purch.filter(t >= c2).unionByName(withheld).unionByName(replayed),
    )
    # fixture audit in TWO jobs, not ten (round-13: per-drop count()
    # calls dominated the replay's fixed cost): one conditional-sum agg
    # covers every drop plus both straggler classes, one join counts
    # the cross-batch pairs
    is_click = F.col("event_type") == "click"
    is_purch = F.col("event_type") == "purchase"
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    s = ev.agg(
        cnt(is_click & (t < c1)).alias("l0"),
        cnt(is_click & (t >= c1) & (t < c2)).alias("l1"),
        cnt(is_click & (t >= c2) & (t < end)).alias("l2"),
        cnt(is_purch & (t < c1)).alias("r0"),
        cnt(is_purch & (t >= c1) & (t < wh_lo)).alias("r1"),
        cnt(is_purch & (t >= c2) & (t < end)).alias("r2"),
        cnt(is_purch & (t >= wh_lo) & (t < c2)).alias("n_with"),
        cnt(
            is_purch & (t < c0 + 86400 * 1_000_000) & (F.col("user_id") % 3 == 0)
        ).alias("n_rep"),
    ).collect()[0]
    assert s["n_with"] > 0 and s["n_rep"] > 0, (
        f"straggler classes empty (withheld={s['n_with']}, "
        f"replayed={s['n_rep']}) — the state-retention / exactly-once "
        "paths were not exercised"
    )
    assert all(s[k] > 0 for k in ("l0", "l1", "l2", "r0", "r1", "r2")), (
        f"empty drop in {dict(s.asDict())} — a batch would carry no data"
    )
    # the withheld rows must have SAME-BATCH-EARLIER left partners,
    # else the hash can't see cross-batch state retention at all
    n_cross = (
        clicks.alias("l")
        .join(
            withheld.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts_us") >= F.col("l.ts_us"))
            & (F.col("r.ts_us") <= F.col("l.ts_us") + 14_400_000_000),
        )
        .count()
    )
    assert n_cross > 0, (
        "no click⋈withheld-purchase pairs — cross-batch left-state "
        "retention was not exercised"
    )

    # one file per batch, L_i and R_i pairing into micro-batch i
    _write_json_drops(
        work,
        [
            (landing, i, frame)
            for landing, drops in ((land_l, ldrops), (land_r, rdrops))
            for i, frame in enumerate(drops)
        ],
    )

    schema = "ts_us long, user_id long, event_id long"
    ls = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(land_l)
        .select(
            F.timestamp_micros("ts_us").alias("click_ts"),
            "user_id",
            F.col("event_id").alias("click_id"),
        )
    )
    rs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(land_r)
        .select(
            F.timestamp_micros("ts_us").alias("purchase_ts"),
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = join_streams_within(
        ls,
        rs,
        "user_id",
        "r_user_id",
        "click_ts",
        "purchase_ts",
        within="4 hours",
        watermark="8 hours",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )
    return (
        _drain(spark, joined, work, "q167_stream_stream_interval_join", _Q167_CONF)
        .select("click_id", "purchase_id", "user_id", "click_ts_us", "purchase_ts_us")
        .orderBy("click_id", "purchase_id")
    )


# ---------------------------------------------------------------------------
# q169: the stream-stream LEFT OUTER interval join's NULL-EMISSION
# path under a driver value hash (round-13). q167 pins the inner
# join's state retention/eviction; the outer variant has one more
# engine behavior nothing else exercises: an unmatched left row must
# emit (left, NULL) exactly once, and only after the watermark proves
# its window can't match anymore — eager emission would lie when a
# match arrives later in the window; a second emission would
# double-count. Determinism is engineered with a SENTINEL click 1 ms
# before Jan 10 (user -1, matches nothing): it pins the final left
# watermark to a constant, so the null-emission threshold lands at
# Jan 9 12:00 while every real left row sits before Jan 9 11:00 — a
# full-hour guard band instead of a data-dependent boundary. The
# sentinel itself ends the stream with its window still open and must
# be WITHHELD (the q165 open-session contract), so the oracle is
# exactly the batch LEFT JOIN over the real rows.
# ---------------------------------------------------------------------------

_OJ_ORACLE = f"""
WITH l AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us FROM events
  WHERE ts IS NOT NULL AND event_type = 'click'
    AND epoch_us(ts) >= {_JAN_US[1]}
    AND epoch_us(ts) < {_JAN_US[8] + (24 + 11) * 3600 * 1_000_000}
), r AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us FROM events
  WHERE ts IS NOT NULL AND event_type = 'purchase'
    AND epoch_us(ts) >= {_JAN_US[1]} AND epoch_us(ts) < {_JAN_US[11]}
)
SELECT l.click_id, r.purchase_id, l.user_id,
       CAST(l.c_us AS BIGINT) AS click_ts_us,
       CAST(r.p_us AS BIGINT) AS purchase_ts_us
FROM l LEFT JOIN r ON l.user_id = r.user_id
  AND r.p_us >= l.c_us AND r.p_us <= l.c_us + 14400000000
ORDER BY click_id, purchase_id
"""

#: the null emission for closed windows rides on the trailing no-data
#: micro-batch — pin the (default-on) conf
_Q169_CONF = {_NO_DATA: "true", _PARTS: "8"}


@register(
    "q169_stream_outer_join_null_emission",
    oracle=_OJ_ORACLE,
    doc="Stream-stream LEFT OUTER interval join REPLAYED end to end "
    "under the driver hash (round-13): clicks ⋈ purchases (same user, "
    "within 4 h) with 8 h watermarks, three paired availableNow "
    "micro-batches per side. The hash pins the outer contract q167's "
    "inner join can't see: every unmatched left row emits (left, "
    "NULL) exactly once — only after the watermark passes its window "
    "end (never eagerly; the trailing no-data micro-batch runs the "
    "final eviction), while a sentinel click whose window is still "
    "open at end-of-stream is withheld. A 1 ms-before-Jan-10 sentinel "
    "pins the final left watermark so the emission threshold (Jan 9 "
    "12:00) clears every real left row (< Jan 9 11:00) by a full "
    "hour — no data-dependent boundary. Oracle: the batch LEFT JOIN. "
    "In-query asserts prove both matched and unmatched left rows "
    "exist. Inner twin: q167.",
)
def q169_stream_outer_join_null_emission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..catalog import load
    from ..workdirs import replay_workdir

    work = replay_workdir("ssj_outer_replay")
    land_l = os.path.join(work, "clicks")
    land_r = os.path.join(work, "purchases")
    os.makedirs(land_l)
    os.makedirs(land_r)

    c0, c4, c7, end = _JAN_US[1], _JAN_US[1] + 3 * 86400_000_000, _JAN_US[7], _JAN_US[11]
    l_end = _JAN_US[8] + (24 + 11) * 3600 * 1_000_000  # Jan 9 11:00
    sentinel_us = _JAN_US[8] + 2 * 86400_000_000 - 1000  # Jan 10 - 1 ms
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id",
            "event_id",
            "event_type",
        )
    )
    t = F.col("ts_us")
    clicks = ev.filter(
        (F.col("event_type") == "click") & (t >= c0) & (t < l_end)
    ).drop("event_type")
    purch = ev.filter(
        (F.col("event_type") == "purchase") & (t >= c0) & (t < end)
    ).drop("event_type")
    # pure-JVM one-row relation (guide §4: the createDataFrame([...])
    # equivalent is a Python-RDD-backed scan — unioning it into a drop
    # forced Python-worker startup INSIDE the drop-write job, ~5 s of
    # the q169 wall at sf0.1 for one sentinel row)
    sentinel = spark.range(1).select(
        F.lit(sentinel_us).alias("ts_us"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    ldrops = (
        clicks.filter(t < c4),
        clicks.filter((t >= c4) & (t < c7)),
        clicks.filter(t >= c7).unionByName(sentinel),
    )
    rdrops = (
        purch.filter(t < c4),
        purch.filter((t >= c4) & (t < c7)),
        purch.filter(t >= c7),
    )
    # fixture audit in TWO jobs (the q167 round-13 pattern): one
    # conditional-sum agg for every drop + the click total, one
    # left-semi count for the matched class
    is_click = F.col("event_type") == "click"
    is_purch = F.col("event_type") == "purchase"
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    s = ev.agg(
        cnt(is_click & (t >= c0) & (t < c4)).alias("l0"),
        cnt(is_click & (t >= c4) & (t < c7)).alias("l1"),
        cnt(is_click & (t >= c0) & (t < l_end)).alias("n_clicks"),
        cnt(is_purch & (t >= c0) & (t < c4)).alias("r0"),
        cnt(is_purch & (t >= c4) & (t < c7)).alias("r1"),
        cnt(is_purch & (t >= c7) & (t < end)).alias("r2"),
    ).collect()[0]
    assert all(s[k] > 0 for k in ("l0", "l1", "r0", "r1", "r2")), (
        f"empty drop in {dict(s.asDict())} — a batch would carry no data"
    )
    n_matched = (
        clicks.alias("l")
        .join(
            purch.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts_us") >= F.col("l.ts_us"))
            & (F.col("r.ts_us") <= F.col("l.ts_us") + 14_400_000_000),
            "left_semi",
        )
        .count()
    )
    assert 0 < n_matched < s["n_clicks"], (
        f"outer-join fixture degenerate ({n_matched}/{s['n_clicks']} "
        "matched) — need both matched and unmatched left rows to pin "
        "null emission"
    )

    _write_json_drops(
        work,
        [
            (landing, i, frame)
            for landing, drops in ((land_l, ldrops), (land_r, rdrops))
            for i, frame in enumerate(drops)
        ],
    )

    schema = "ts_us long, user_id long, event_id long"
    ls = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(land_l)
        .select(
            F.timestamp_micros("ts_us").alias("click_ts"),
            "user_id",
            F.col("event_id").alias("click_id"),
        )
    )
    rs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(land_r)
        .select(
            F.timestamp_micros("ts_us").alias("purchase_ts"),
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = join_streams_within(
        ls,
        rs,
        "user_id",
        "r_user_id",
        "click_ts",
        "purchase_ts",
        within="4 hours",
        watermark="8 hours",
        how="left_outer",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )
    out = _drain(
        spark, joined, work, "q169_stream_outer_join_null_emission", _Q169_CONF
    )
    # the sentinel must have been withheld (open window at end of
    # stream) — if it leaked, the open-window contract broke even
    # though the oracle (which excludes it) would catch it anyway
    assert out.filter(F.col("click_id") == -1).count() == 0, (
        "sentinel click emitted despite its window being open at "
        "end-of-stream"
    )
    return out.select(
        "click_id", "purchase_id", "user_id", "click_ts_us", "purchase_ts_us"
    ).orderBy("click_id", "purchase_id")


# ---------------------------------------------------------------------------
# q170: STREAMING EXACT DEDUP (dropDuplicatesWithinWatermark) under a
# driver value hash (round-13). The last §2.7 streaming path whose
# evidence was pytest-only: q164 hashed the built-in stateful agg,
# q165 the custom-state sessionizer, q167/q169 the stream-stream join
# — this hashes the engine's watermark-bounded dedup StateStore path,
# C6 ("dedup before merge") run on a live stream. Three availableNow
# micro-batches carry three distinct duplicate classes:
# - SAME-BATCH duplicates (exact copies shipped in the same drop as
#   their originals) must collapse inside the batch;
# - CROSS-BATCH duplicates (copies of batch 0's last day, shipped in
#   batch 1) must collapse against RETAINED state — entering batch 1
#   the watermark sits at ~Jan 2 23:59 (batch-0 max minus the 2-day
#   delay) while day-4 state expires only past Jan 6, a 3-day margin;
# - REPLAYED duplicates (copies of day-1 rows, shipped two batches
#   later — q164's measured filter-lag convention makes two batches
#   the guaranteed distance) must NOT re-emit: the watermark input
#   filter drops them, and their originals' state is long evicted
#   (expiry Jan 3 < the batch-2 watermark), so a filter miss would
#   re-emit the row and break the hash — both engine mechanisms have
#   to agree with the oracle's exactly-once rows.
# State is bounded by the watermark (dedup_stream's contract): a
# key's entry drops once the watermark passes its event time + delay,
# so state tracks the late-data window, not stream history — the
# property that keeps this viable on an unbounded firehose.
# Oracle: SELECT DISTINCT over the same ten days (the base table has
# no full-row duplicates — verified in the fixture audit — so the
# injected copies are exactly the duplicate population).
# ---------------------------------------------------------------------------

def _day_us(n: int) -> int:
    """Epoch microseconds, UTC midnight Jan n 2024 (session tz UTC)."""
    return (1704067200 + (n - 1) * 86400) * 1_000_000


_SDD_ORACLE = f"""
SELECT DISTINCT event_id, user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us
FROM events
WHERE ts IS NOT NULL
  AND epoch_us(ts) >= {_day_us(1)} AND epoch_us(ts) < {_day_us(11)}
ORDER BY event_id, user_id, event_type, ts_us
"""

#: no trailing no-data micro-batch (round 15, the _Q167_CONF note):
#: dropDuplicatesWithinWatermark PASSES first-seen rows through in the
#: batch they arrive — the watermark-advance batch after the last drop
#: only drops expired state keys and can never add sink rows. Dedup
#: state is a few thousand keys.
_Q170_CONF = {_NO_DATA: "false", _PARTS: "8"}


@register(
    "q170_streaming_dedup_replay",
    oracle=_SDD_ORACLE,
    doc="Streaming exact dedup (dropDuplicatesWithinWatermark, via "
    "dedup_stream) REPLAYED end to end under the driver hash "
    "(round-13): ten days of events drain as three availableNow "
    "micro-batches with a 2-day watermark delay, each batch salted "
    "with a distinct duplicate class — same-batch exact copies "
    "(user_id % 7), cross-batch copies of batch 0's last day shipped "
    "in batch 1 (user_id % 5, collapsing against retained state with "
    "a 3-day eviction margin), and day-1 copies replayed two batches "
    "later (user_id % 3) that must NOT re-emit even though their "
    "originals' state is evicted — the watermark input filter and "
    "state eviction must both agree with the oracle's exactly-once "
    "rows. State is watermark-bounded (late-data window, not stream "
    "history). Oracle: SELECT DISTINCT over the same window (the "
    "fixture audit proves the base slice is duplicate-free, so the "
    "injected copies are exactly the duplicate population). Batch "
    "twin: q19; pytest twin: tests/test_streaming.py dedup_stream.",
)
def q170_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import load
    from ..workdirs import replay_workdir

    work = replay_workdir("sdedup_replay")
    landing = os.path.join(work, "events")
    os.makedirs(landing)

    j1, j2, j4, j5, j8, j11 = (_day_us(n) for n in (1, 2, 4, 5, 8, 11))
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    t = F.col("ts_us")
    base = ev.filter((t >= j1) & (t < j11))
    d0 = base.filter(t < j5)
    same_dups = d0.filter(F.col("user_id") % 7 == 0)
    cross_dups = base.filter((t >= j4) & (t < j5) & (F.col("user_id") % 5 == 0))
    replayed = base.filter((t < j2) & (F.col("user_id") % 3 == 0))
    drops = (
        d0.unionByName(same_dups),
        base.filter((t >= j5) & (t < j8)).unionByName(cross_dups),
        base.filter(t >= j8).unionByName(replayed),
    )
    # fixture audit in ONE job (the q167 round-13 pattern): every
    # drop and duplicate class counted by conditional sums, plus the
    # duplicate-free precondition the oracle's DISTINCT relies on
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    s = base.groupBy("event_id", "user_id", "event_type", "ts_us").agg(
        F.count(F.lit(1)).alias("n")
    ).agg(
        cnt(F.col("n") > 1).alias("n_base_dups"),
        cnt(t < j5).alias("d0"),
        cnt((t >= j5) & (t < j8)).alias("d1"),
        cnt(t >= j8).alias("d2"),
        cnt((t < j5) & (F.col("user_id") % 7 == 0)).alias("n_same"),
        cnt((t >= j4) & (t < j5) & (F.col("user_id") % 5 == 0)).alias("n_cross"),
        cnt((t < j2) & (F.col("user_id") % 3 == 0)).alias("n_rep"),
    ).collect()[0]
    assert s["n_base_dups"] == 0, (
        f"{s['n_base_dups']} full-row duplicates already in the base "
        "slice — the DISTINCT oracle would hide an injected-dup miss"
    )
    assert all(
        s[k] > 0 for k in ("d0", "d1", "d2", "n_same", "n_cross", "n_rep")
    ), f"empty drop or duplicate class in {dict(s.asDict())}"

    _write_json_drops(work, [(landing, i, f) for i, f in enumerate(drops)])

    schema = "event_id long, user_id long, event_type string, ts_us long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(landing)
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )
    deduped = dedup_stream(
        stream,
        keys=["event_id", "user_id", "event_type", "ts_us"],
        ts_col="ts",
        watermark_delay="2 days",
    ).drop("ts")
    return (
        _drain(spark, deduped, work, "q170_streaming_dedup_replay", _Q170_CONF)
        .select("event_id", "user_id", "event_type", "ts_us")
        .orderBy("event_id", "user_id", "event_type", "ts_us")
    )


# ---------------------------------------------------------------------------
# q172: STREAM-STATIC broadcast enrichment join under a driver value
# hash (round-13). Completes the streaming JOIN matrix: q167 pins
# stream-stream inner state, q169 the outer null-emission contract —
# this pins the third join mode Structured Streaming supports, the
# stateless per-micro-batch join of a stream against a STATIC
# dimension (the production enrichment shape: clickstream × customer
# dim). Two behaviors the hash sees:
# - the static side joins as a BROADCAST per micro-batch (no stream
#   shuffle, no state store — stateless by construction);
# - LEFT-outer null preservation: stream rows with no dim match (the
#   dim is deliberately restricted to even c_custkey, a class split
#   present at every scale factor) emit exactly once with NULL dim
#   columns, in the batch
#   they arrive — unlike q169 there is no watermark wait, because
#   the static side is complete by definition.
# Oracle: the batch LEFT JOIN over the same window and dim filter.
# ---------------------------------------------------------------------------

_SSE_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
  WHERE ts IS NOT NULL
    AND epoch_us(ts) >= {(1704067200) * 1_000_000}
    AND epoch_us(ts) < {(1704067200 + 6 * 86400) * 1_000_000}
), dim AS (
  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
  WHERE c_custkey % 2 = 0
)
SELECT ev.event_id, ev.user_id, ev.event_type,
       CAST(ev.ts_us AS BIGINT) AS ts_us,
       dim.c_mktsegment AS segment,
       dim.c_nationkey AS nation_key
FROM ev LEFT JOIN dim ON ev.user_id = dim.c_custkey
ORDER BY event_id, user_id, ts_us
"""

#: stateless stream-static join: only the per-batch shuffle is sized
_Q172_CONF = {_PARTS: "8"}


@register(
    "q172_stream_static_enrichment",
    oracle=_SSE_ORACLE,
    doc="Stream-static broadcast enrichment join REPLAYED under the "
    "driver hash (round-13), completing the streaming join matrix "
    "(q167 stream-stream inner, q169 left-outer null emission): six "
    "days of events drain as two availableNow micro-batches, each "
    "LEFT-joined per batch against the static customer dim "
    "(broadcast — stateless, no stream shuffle, no state store). "
    "The dim is restricted to even c_custkey (a class present at "
    "every scale factor), so the hash pins both enrichment of "
    "matched rows and immediate exactly-once NULL emission of "
    "unmatched odd-key rows (no watermark wait — the static side is "
    "complete by definition). "
    "Oracle: the batch LEFT JOIN. In-query assert proves both "
    "classes are non-empty in both drops.",
)
def q172_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..catalog import load
    from ..workdirs import replay_workdir

    work = replay_workdir("sstatic_replay")
    landing = os.path.join(work, "events")
    os.makedirs(landing)

    lo = 1704067200 * 1_000_000
    mid = lo + 3 * 86400 * 1_000_000
    hi = lo + 6 * 86400 * 1_000_000
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    t = F.col("ts_us")
    base = ev.filter((t >= lo) & (t < hi))
    # fixture audit in ONE job: both drops non-empty, both join
    # classes (dim-matched even user, unmatched odd user) in BOTH
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    even = F.col("user_id") % 2 == 0
    s = base.agg(
        cnt((t < mid) & even).alias("m0"),
        cnt((t < mid) & ~even).alias("u0"),
        cnt((t >= mid) & even).alias("m1"),
        cnt((t >= mid) & ~even).alias("u1"),
    ).collect()[0]
    assert all(s[k] > 0 for k in ("m0", "u0", "m1", "u1")), (
        f"a drop is missing a join class in {dict(s.asDict())} — the "
        "matched/unmatched contract would be under-exercised"
    )

    _write_json_drops(
        work,
        [(landing, i, f) for i, f in enumerate((base.filter(t < mid), base.filter(t >= mid)))],
    )

    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
    )
    schema = "event_id long, user_id long, event_type string, ts_us long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(landing)
    )
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "left"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation_key"),
    )
    return (
        _drain(spark, enriched, work, "q172_stream_static_enrichment", _Q172_CONF)
        .select("event_id", "user_id", "event_type", "ts_us", "segment", "nation_key")
        .orderBy("event_id", "user_id", "ts_us")
    )
