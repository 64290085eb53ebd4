"""Fault injection on the load path's commit points, for the single
concurrent load shape (the stage append overlaps a checkpointed batch
feeding concurrent clean and dim merges).

Each test fails every entity's day-2 load at a commit point, retries the
day through ``run_all`` (what ``run_for_date`` wraps) with a NEW
``batch_ts`` (as a real retry would), and requires the warehouse to
equal a run that never failed.
The no-fault run stamps day 2 with the ``batch_ts`` of the attempt that
committed the dim, since that is the load the warehouse keeps:

- the dim merge raises after the clean merge has committed: nothing
  of the dim landed, so the retry's stamp is the one kept; and the
  converse, where the retry must leave the committed dim as it is;
- the stage append lands and then both merges raise: the retry must
  overwrite the file's ``_ingest_fp`` stage partition, not add a
  second copy;
- a crash just before ``ledger.mark``: both merges landed, and the
  change-guarded retry must leave them as they are;
- the streaming twin of that crash: ``merge_microbatch`` commits both
  merges, then the micro-batch raises before Structured Streaming
  commits its offset. The query restarts from the same checkpoint and
  replays the micro-batch.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from datetime import date

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.entities import ENTITIES
from real_time_data_pipeline_for_restaurant_analytics_spark.pipeline.runner import (
    Warehouse,
    run_all,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.ledger import FileLedger
from pyspark.errors.exceptions.captured import StreamingQueryException

from real_time_data_pipeline_for_restaurant_analytics_spark.sources.paths import (
    entity_file,
    yesterday_path,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot import (
    SnapshotTable,
)
from real_time_data_pipeline_for_restaurant_analytics_spark.streaming import ingest

from .fixtures import write_day

TS1, TS2, TS_OTHER = "2024-05-01 21:30:00", "2024-05-02 21:30:00", "2024-05-03 06:00:00"
DAY1, DAY2 = date(2024, 5, 2), date(2024, 5, 3)  # a load covers the day before


class InjectedFault(RuntimeError):
    pass


def _load(spark, wh: Warehouse, stage: str, today: date, ts: str) -> list[dict]:
    day = os.path.join(stage, yesterday_path(today))
    return run_all(spark, wh, day, batch_ts=F.lit(ts).cast("timestamp"))


def _digest(spark, wh: Warehouse) -> dict[str, list]:
    """Every clean and consumption row, sorted, without the one column
    that records the load's wall clock (``_copy_data_ts``)."""
    out = {}
    for name in ENTITIES:
        for tbl in (wh.clean(name), wh.dim(name)):
            df = tbl.read(spark).drop("_copy_data_ts")
            out[os.path.relpath(tbl.dir, wh.root)] = sorted(map(repr, df.collect()))
    return out


@pytest.fixture(scope="module")
def stage(tmp_path_factory) -> str:
    """Both days' source files, shared by every run, so the audit
    columns that name and hash the source file agree across runs."""
    root = str(tmp_path_factory.mktemp("stage"))
    write_day(root, 1)
    write_day(root, 2)
    return root


def _base_day(spark, stage: str, root) -> Warehouse:
    wh = Warehouse(str(root / "wh"))
    _load(spark, wh, stage, DAY1, TS1)
    return wh


@pytest.fixture(scope="module")
def no_fault_wh(spark, stage, tmp_path_factory) -> Warehouse:
    wh = _base_day(spark, stage, tmp_path_factory.mktemp("nofault"))
    _load(spark, wh, stage, DAY2, TS2)
    return wh


@pytest.fixture(scope="module")
def no_fault(spark, no_fault_wh):
    return _digest(spark, no_fault_wh)


def _stage_parts(wh: Warehouse, e: str) -> list[str]:
    return glob.glob(os.path.join(wh.stage_dir(e), "data", "_ingest_fp=*"))


def _stage_rows(spark, wh: Warehouse) -> dict[str, int]:
    return {
        e: spark.read.parquet(os.path.join(wh.stage_dir(e), "data")).count()
        for e in ENTITIES
    }


def _versions(wh: Warehouse) -> dict[str, tuple[int, int]]:
    return {
        e: (wh.clean(e).latest_version(), wh.dim(e).latest_version()) for e in ENTITIES
    }


def _marked(wh: Warehouse) -> set[int]:
    return {len(wh.ledger(e).history()) for e in ENTITIES}


@pytest.mark.parametrize(
    "fails, attempt_ts, retry_ts",
    [("dim", TS_OTHER, TS2), ("clean", TS2, TS_OTHER)],
)
def test_one_merge_fails_after_the_other_commits(
    spark, stage, tmp_path, monkeypatch, no_fault, fails, attempt_ts, retry_ts
):
    """One of the two concurrent merges raises once its sibling has
    committed. Whichever attempt commits the dim stamps it, so the
    no-fault run's ``TS2`` goes to that attempt."""
    wh = _base_day(spark, stage, tmp_path)
    v0 = _versions(wh)
    real_write = SnapshotTable.write
    sibling = {}  # failing table dir -> (sibling table, its version before)
    for e in ENTITIES:
        clean, dim = wh.clean(e), wh.dim(e)
        failing, other = (dim, clean) if fails == "dim" else (clean, dim)
        sibling[failing.dir] = (other, other.latest_version())

    def failing_write(self, df, *a, **k):
        if self.dir not in sibling:
            return real_write(self, df, *a, **k)
        # the merges run concurrently: fail this commit only once the
        # sibling merge has committed, so the fault point is exact
        other, before = sibling[self.dir]
        deadline = time.monotonic() + 120
        while other.latest_version() == before:
            assert time.monotonic() < deadline, f"{other.name}: merge never committed"
            time.sleep(0.05)
        raise InjectedFault(f"{self.name} merge")

    monkeypatch.setattr(SnapshotTable, "write", failing_write)
    with pytest.raises(InjectedFault):
        _load(spark, wh, stage, DAY2, attempt_ts)
    monkeypatch.undo()
    bump = (1, 0) if fails == "dim" else (0, 1)
    assert _versions(wh) == {e: (c + bump[0], d + bump[1]) for e, (c, d) in v0.items()}
    assert _marked(wh) == {1}  # day 1 only

    r = _load(spark, wh, stage, DAY2, retry_ts)
    assert not any(x["skipped"] for x in r)
    assert _marked(wh) == {2}
    assert _digest(spark, wh) == no_fault


def test_both_merges_fail_after_the_stage_append(
    spark, stage, tmp_path, monkeypatch, no_fault_wh, no_fault
):
    """Commit point 1: the stage append lands, then both merges raise.
    Nothing of clean or dim committed, so the retry's stamp is the one
    kept; the retry must overwrite the file's ``_ingest_fp`` stage
    partition, not add a second copy of its rows."""
    wh = _base_day(spark, stage, tmp_path)
    v0 = _versions(wh)
    parts0 = {e: len(_stage_parts(wh, e)) for e in ENTITIES}
    entity_of = {t.dir: e for e in ENTITIES for t in (wh.clean(e), wh.dim(e))}

    def failing_write(self, df, *a, **k):
        # fail only once this entity's day-2 stage partition is in place
        e = entity_of[self.dir]
        deadline = time.monotonic() + 120
        while len(_stage_parts(wh, e)) == parts0[e]:
            assert time.monotonic() < deadline, f"{e}: stage append never landed"
            time.sleep(0.05)
        raise InjectedFault(f"{self.name} merge")

    monkeypatch.setattr(SnapshotTable, "write", failing_write)
    with pytest.raises(InjectedFault):
        _load(spark, wh, stage, DAY2, TS_OTHER)
    monkeypatch.undo()
    assert _versions(wh) == v0
    assert _marked(wh) == {1}
    want = _stage_rows(spark, no_fault_wh)
    assert _stage_rows(spark, wh) == want  # the attempt's append landed

    r = _load(spark, wh, stage, DAY2, TS2)
    assert not any(x["skipped"] for x in r)
    assert _marked(wh) == {2}
    assert {e: len(_stage_parts(wh, e)) for e in ENTITIES} == {
        e: n + 1 for e, n in parts0.items()
    }
    assert _stage_rows(spark, wh) == want  # overwritten, not duplicated
    assert _digest(spark, wh) == no_fault


def test_crash_before_ledger_mark(spark, stage, tmp_path, monkeypatch, no_fault):
    wh = _base_day(spark, stage, tmp_path)
    v0 = _versions(wh)

    def crashing_mark(self, *a, **k):
        raise InjectedFault(f"{self.path}: before ledger.mark")

    monkeypatch.setattr(FileLedger, "mark", crashing_mark)
    with pytest.raises(InjectedFault):
        _load(spark, wh, stage, DAY2, TS2)
    monkeypatch.undo()
    assert _versions(wh) == {e: (c + 1, d + 1) for e, (c, d) in v0.items()}
    assert _marked(wh) == {1}

    r = _load(spark, wh, stage, DAY2, TS_OTHER)
    assert not any(x["skipped"] for x in r)
    assert _marked(wh) == {2}
    assert _digest(spark, wh) == no_fault


# --- commit point 4: the streaming micro-batch ---------------------------

STREAMED = ["orders", "login_audit"]  # an SCD2 dim and the SCD1 fact
# the stream stamps each micro-batch with its own wall clock
WALL_CLOCK = ["_copy_data_ts", "eff_start_date", "eff_end_date"]


@pytest.fixture(scope="module")
def landing(stage, tmp_path_factory) -> str:
    """Both days' files of each streamed entity in one landing dir per
    entity, day 2 newer than day 1: the file source drains them in
    that order, one file per micro-batch. Every drain reads these same
    files, so the audit columns agree across drains."""
    root = str(tmp_path_factory.mktemp("landing"))
    for name in STREAMED:
        spec = ENTITIES[name]
        os.makedirs(os.path.join(root, name))
        for i, today in enumerate((DAY1, DAY2)):
            day = os.path.join(stage, yesterday_path(today))
            dst = os.path.join(root, name, f"day{i + 1}.{spec.ext}")
            shutil.copyfile(entity_file(day, spec.source_file_stem, spec.ext), dst)
            os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    return root


def _drain(spark, wh: Warehouse, name: str, landing: str, ckpt: str):
    q = ingest.ingest_stream(
        spark, wh, ENTITIES[name], os.path.join(landing, name), ckpt, max_files_per_trigger=1
    )
    assert q.awaitTermination(300), f"{name}: drain did not finish"
    return q


def _stream_digest(spark, wh: Warehouse, name: str) -> dict[str, list]:
    return {
        tbl.name: sorted(map(repr, tbl.read(spark).drop(*WALL_CLOCK).collect()))
        for tbl in (wh.clean(name), wh.dim(name))
    }


@pytest.fixture(scope="module")
def no_fault_stream(spark, landing, tmp_path_factory) -> dict[str, dict]:
    out = {}
    for name in STREAMED:
        root = tmp_path_factory.mktemp(f"stream-{name}")
        wh = Warehouse(str(root / "wh"))
        _drain(spark, wh, name, landing, str(root / "ckpt"))
        out[name] = _stream_digest(spark, wh, name)
    return out


@pytest.mark.parametrize("name", STREAMED)
def test_microbatch_crash_before_offset_commit(
    spark, landing, tmp_path, monkeypatch, no_fault_stream, name
):
    """The day-2 micro-batch commits both merges, then raises before
    its offset commit. The restart replays exactly that micro-batch,
    and the warehouse equals the no-fault drain's."""
    wh = Warehouse(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    real_merge = ingest.merge_microbatch
    batches = []

    def crash_after_merges(*args):
        real_merge(*args)
        batches.append(len(batches))
        if len(batches) == 2:
            raise InjectedFault(f"{name}: after merge_microbatch, before the offset commit")

    monkeypatch.setattr(ingest, "merge_microbatch", crash_after_merges)
    with pytest.raises(StreamingQueryException, match="InjectedFault"):
        _drain(spark, wh, name, landing, ckpt)
    monkeypatch.undo()

    def logged(log: str) -> list[str]:
        return sorted(f for f in os.listdir(os.path.join(ckpt, log)) if not f.startswith("."))

    assert (wh.clean(name).latest_version(), wh.dim(name).latest_version()) == (1, 1)
    assert logged("offsets") == ["0", "1"] and logged("commits") == ["0"]

    q = _drain(spark, wh, name, landing, ckpt)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0] == [1]
    assert logged("commits") == ["0", "1"]
    assert _stream_digest(spark, wh, name) == no_fault_stream[name]
