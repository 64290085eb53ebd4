"""Three-layer pipeline orchestration (SURVEY §2.6 O1-O3, §3.1).

Mirrors the reference's procedure chain:

    RUN_FINAL_FOR_YESTERDAY()            → run_for_date()
      FINAL_PROCEDURE(stage_path)        → run_all()
        <ENTITY>_MAIN_PROCEDURE(file)    → run_entity()
           COPY INTO stage               → ledger-gated stage append
           MERGE INTO clean  (SCD1)      → merge_upsert snapshot rewrite
           MERGE INTO dim    (SCD2)      → apply_scd2 snapshot rewrite

There is one load shape, shared by the batch and streaming paths
and sized for what bounds a daily load at product volume — fixed
per-job and per-plan scheduling cost, not data:

- the ten entity loads run concurrently, one pool slot each;
- within a load, the stage append overlaps the merges and is joined
  before ``ledger.mark``;
- the typed batch is ``localCheckpoint``ed once, its row count
  observed on the way; an empty batch ends there, and a small one is
  declared one partition; then the clean (SCD1) and consumption
  (SCD2 / SCD1-fact) merges run concurrently, each one Spark job
  when the batch and the table are small;
- the post-load row counts come from the snapshot sidecars
  (``SnapshotTable.rows``), so no table is re-scanned to count it.

Stream-offset semantics (C1/C2): the "stream" a layer consumes is the
batch the previous layer just produced, and the ledger guarantees a
file is staged exactly once — together they give the same
exactly-once property Snowflake's transactional streams provide
(SURVEY §3.1). The consumption layer additionally exposes a
standard-stream style change feed via SnapshotTable.read_previous +
operators.merge.change_feed.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.keys import hash_key
from ..operators.merge import Scd2Config, apply_scd2, latest_per_key, merge_upsert
from ..sources.ledger import FileLedger
from ..sources.paths import entity_file
from ..sources.readers import AUDIT_COLS, read_stage_csv, read_stage_json
from ..sources.snapshot import SnapshotTable, fits_one_shuffle_partition
from .entities import ENTITIES, RUN_ORDER, EntitySpec


@dataclass
class Warehouse:
    """Path layout: <root>/{stage,clean,consumption}/<table>."""

    root: str

    def stage_dir(self, entity: str) -> str:
        return os.path.join(self.root, "stage", entity)

    def ledger(self, entity: str) -> FileLedger:
        return FileLedger(os.path.join(self.root, "stage", entity, "_ledger.jsonl"))

    def clean(self, entity: str) -> SnapshotTable:
        return SnapshotTable(os.path.join(self.root, "clean"), entity)

    def dim(self, entity: str) -> SnapshotTable:
        suffix = "_fact" if ENTITIES[entity].scd1_only else "_dim"
        return SnapshotTable(os.path.join(self.root, "consumption"), entity + suffix)


def _read_source(spark: SparkSession, spec: EntitySpec, path: str) -> DataFrame:
    if spec.ext == "json":
        return read_stage_json(spark, path, spec.source_columns)
    return read_stage_csv(spark, path, spec.source_columns)


def merge_entity_batch(
    spark: SparkSession,
    wh: Warehouse,
    spec: EntitySpec,
    raw: DataFrame,
    batch_ts,
) -> None:
    """The shared clean→dedup→latest-per-key→SCD1→SCD2 merge body —
    ONE implementation behind both drivers (batch :func:`run_entity`
    and streaming ``merge_microbatch``), so a semantics change lands
    in exactly one place (the "one library, two drivers" invariant
    SURVEY §7/M5 calls for).

    The typed batch is ``localCheckpoint``ed once (eagerly: the
    dedup's shuffle map job and the checkpoint job), then the clean
    and dim merges run CONCURRENTLY. The checkpoint is a lineage
    break: a foreachBatch micro-batch cannot be re-read by the merges'
    scans, and ``latest_per_key``'s row_number could otherwise be
    computed twice, once per merge, from the source.

    The checkpoint also counts its rows (``DataFrame.observe``, no
    extra job), and the count decides two things before any merge:

    - an empty batch returns here, so no table gets a new version.
      This is the only emptiness check of both drivers: a header-only
      file or an empty micro-batch moves no table, and the caller
      still records the input as done (ledger mark, stream offset).
    - a batch whose rows, at Spark's per-row size estimate, fit
      ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` is
      declared one partition (``coalesce(1)``). Without it the
      checkpoint reports ``UnknownPartitioning`` even when its input
      was one partition, and each merge's join plans an Exchange on
      each side, against a snapshot read that is one partition
      already. This is the rule ``SnapshotTable.read`` applies to
      small versions: both sites call
      :func:`~..sources.snapshot.fits_one_shuffle_partition`. With both
      sides one partition, each merge write is one Spark job.

    The two merges share no state (different snapshot tables,
    different writer locks) and both consume only the checkpointed
    rows, so they commute; at product scale their cost is job latency,
    not data, and overlapping them cuts the per-entity critical path
    from stage→clean→dim to stage→max(clean, dim). If either merge
    raises, the other still runs to completion (and may commit) before
    the error propagates;
    the caller then records nothing as done (no ledger mark, no stream
    offset commit), so a retry reprocesses the input and the
    change-guarded merges absorb the half already applied.
    """
    # --- clean: typed transform + guarded SCD1 merge (C3)
    typed = spec.clean(raw)
    if spec.dedup_source:
        typed = typed.dropDuplicates()  # C6 (`delivery_agent_proc.sql:140-154`)
    order_cols = (
        [F.col(spec.modified_col).desc_nulls_last(), F.col(spec.created_col).desc_nulls_last()]
        if spec.modified_col and spec.created_col
        else [F.lit(1)]
    )
    obs = Observation()
    typed = (
        latest_per_key(typed, spec.key, order_cols)  # C7 guard
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint()
    )
    rows = obs.get["rows"]
    if rows == 0:
        return
    if fits_one_shuffle_partition(spark, typed.schema, rows):
        typed = typed.coalesce(1)

    def _merge_clean() -> None:
        clean_tbl = wh.clean(spec.name)
        prev_clean = clean_tbl.read(spark)
        attrs = [c for c in typed.columns if c not in spec.key]
        clean_tbl.write(merge_upsert(prev_clean, typed, spec.key, attrs))

    def _merge_dim() -> None:
        # --- consumption: SCD2 dim (C4) or SCD1 fact (C5)
        dim_tbl = wh.dim(spec.name)
        hk_name = f"{spec.name}_hk"
        # type-2 tracked attributes: the clean columns in clean order,
        # minus the key and the stage audit columns (a schema read)
        tracked = [c for c in typed.columns if c not in spec.key and c not in AUDIT_COLS]
        with_hk = typed.withColumn(hk_name, hash_key(*spec.key, *tracked))
        if spec.scd1_only:
            prev_fact = dim_tbl.read(spark)
            dim_tbl.write(merge_upsert(prev_fact, with_hk, spec.key, tracked))
        else:
            prev_dim = dim_tbl.read(spark)
            cfg = Scd2Config(
                key=spec.key, attrs=tracked, created_col=spec.created_col
            )
            dim_tbl.write(apply_scd2(prev_dim, with_hk, cfg, batch_ts))

    with ThreadPoolExecutor(max_workers=1) as pool:
        clean = pool.submit(inheritable_thread_target(spark)(_merge_clean))
        try:
            _merge_dim()
        finally:
            clean.result()


def run_entity(
    spark: SparkSession,
    wh: Warehouse,
    spec: EntitySpec,
    file_path: str,
    batch_ts=None,
) -> dict:
    """<ENTITY>_MAIN_PROCEDURE (O1): COPY → SCD1 → SCD2, idempotent.

    The stage append overlaps the merges (both read the SOURCE file,
    not each other's output) and is joined before ``ledger.mark``, so
    the mark still lands strictly after every write of the load. The
    post-load COUNT(*) sanity figures (A1, `02 Location Entity.sql:50,83`)
    come from the snapshot sidecars: ``clean_rows``/``dim_rows`` cost
    no job. A file with no rows (header only) is staged and marked,
    but, as for a missing file, no table gets a new version."""
    batch_ts = batch_ts if batch_ts is not None else F.current_timestamp()
    ledger = wh.ledger(spec.name)
    todo = ledger.unprocessed([file_path]) if os.path.exists(file_path) else []
    if not todo:
        return {"entity": spec.name, "staged_files": 0, "skipped": True}

    # --- stage: raw text rows + audit columns, append-only (S5/C1).
    # The append is keyed by the source file's FINGERPRINT partition
    # (path+size+mtime hash) with dynamic overwrite, so a crash
    # between this write and ledger.mark makes the retry OVERWRITE its
    # own partition instead of appending the file's rows twice (review
    # r8: the stage layer is the COPY-INTO analogue the ledger calls
    # exactly-once, and a mark-crash retry was permanently duplicating
    # it). A MODIFIED file has a new fingerprint → a new partition, so
    # legitimate reloads still append a new version. The fingerprint
    # is the DECISION-TIME one the ledger captured (ADVICE r9): a
    # second stat here could see content appended since unprocessed()
    # decided, tagging the partition with a fingerprint mark() never
    # records — the retry-overwrite key and the ledger would diverge.
    import hashlib

    fp = ledger.pending_fingerprint(file_path)
    ingest_tag = hashlib.md5(
        f"{fp['path']}|{fp['size']}|{fp['mtime']}".encode()
    ).hexdigest()
    raw = _read_source(spark, spec, file_path)

    def _stage_write() -> None:
        (
            raw.withColumn("_ingest_fp", F.lit(ingest_tag))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_ingest_fp")
            .parquet(os.path.join(wh.stage_dir(spec.name), "data"))
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        staged = pool.submit(inheritable_thread_target(spark)(_stage_write))
        try:
            merge_entity_batch(spark, wh, spec, raw, batch_ts)
        finally:
            staged.result()

    ledger.mark(todo)
    return {
        "entity": spec.name,
        "staged_files": len(todo),
        "skipped": False,
        "clean_rows": wh.clean(spec.name).rows(),
        "dim_rows": wh.dim(spec.name).rows(),
    }


def run_all(spark: SparkSession, wh: Warehouse, stage_prefix: str, batch_ts=None) -> list[dict]:
    """FINAL_PROCEDURE (O2): fan-out over the ten entities.

    Every entity load gets its own pool slot. Each entity owns
    disjoint state (its own ledger, stage dir, clean and dim snapshot
    tables; the snapshot writer lock is per-table) and the reference
    chain has no cross-entity reads during a load, so the loads
    commute — the reference's FIXED sequential order
    (`final_proc.sql:17-41`) is an artifact of Snowflake's procedural
    CALL syntax, not a data dependency. Loads are job-latency-bound,
    so full overlap is right (round 15: a cap of 8 pushed the last
    two RUN_ORDER entities into a second wave, q145 7.78 → 6.55 s);
    a cluster with real data contention would re-bound this by
    executor headroom (guide §2.6). Results come back in RUN_ORDER.

    Every pool thread of a load (entity, stage write, clean merge)
    inherits the calling thread's Spark local properties, so a job
    group the caller sets covers, and can cancel, every job the load
    launches.
    """
    def one(name: str) -> dict:
        spec = ENTITIES[name]
        path = entity_file(stage_prefix, spec.source_file_stem, spec.ext)
        return run_entity(spark, wh, spec, path, batch_ts=batch_ts)

    with ThreadPoolExecutor(max_workers=len(RUN_ORDER)) as pool:
        # wrapped per task: each wrap snapshots its own copy of the
        # properties, which its thread then owns (one shared copy would
        # let one entity's job-group change leak into its siblings)
        futs = [pool.submit(inheritable_thread_target(spark)(one), n) for n in RUN_ORDER]
    return [f.result() for f in futs]


def run_for_date(spark: SparkSession, wh: Warehouse, stage_root: str, today=None) -> list[dict]:
    """RUN_FINAL_FOR_YESTERDAY (O3, `task_proc.sql:6-28`)."""
    from ..sources.paths import yesterday_path

    return run_all(spark, wh, os.path.join(stage_root, yesterday_path(today)))
