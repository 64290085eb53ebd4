"""Versioned Parquet snapshot tables — the Delta-substitute storage
layer for the three-layer warehouse.

Snowflake gives the reference transactional tables + streams; OSS
Spark + Parquet has neither, so each managed table is a directory of
immutable versioned snapshots:

    <root>/<layer>/<table>/v=<n>/   (parquet)
    <root>/<layer>/<table>/_latest  (atomic pointer file)

Writes produce v=n+1 and then atomically swap the pointer (write
tmp + rename — atomic on POSIX and object stores with atomic rename;
on S3 you'd point this at a manifest commit, same contract). Readers
resolve the pointer once, so a reader racing ONE writer never tears:
the version it resolved stays on disk for ``keep_versions-1`` further
writes. Retention is therefore a REAL boundary, the same one Delta's
VACUUM has: a lazy DataFrame held across more than ``keep_versions-1``
subsequent writes references pruned files and fails on evaluation
(write() clamps keep_versions to >= 2 so the change-feed diff of
v_latest vs v_latest-1 — C2 — is always safe across a single
interleaved write). Writer-writer races are excluded by an exclusive
flock on a sibling ``<dir>.writerlock`` held across
version-compute → write → pointer swap → prune (review r8: two
unlocked writers could both claim v=n+1, one overwriting the other's
files while the pointer pointed at them).

Every version carries a sidecar ``v=<n>/_meta.json`` holding
``{"schema": <StructType JSON>, "rows": <int>}``, written after the
parquet files and BEFORE the pointer swap, so a version the pointer
names always has one. ``schema`` is the written frame's schema (the
file source makes a supplied schema nullable, recursively, so a read
with it equals parquet footer inference) and ``rows`` is the row
count, observed during the write itself (``DataFrame.observe``, no
extra job). Reads pass the recorded schema, so resolving a snapshot
launches no Spark job (footer inference otherwise costs one per
read), and :meth:`SnapshotTable.rows` answers the post-load count
without one. Spark's file listing skips ``_``-prefixed names, so the
sidecar is invisible to the data. There is no inference fallback:
reading a version without a sidecar raises. Versions written before
sidecars existed are upgraded once with :func:`backfill_meta`
(``python -m real_time_data_pipeline_for_restaurant_analytics_spark.sources.snapshot
<warehouse root>``), which infers each missing sidecar from the
parquet files.

A version small enough that AQE would coalesce a shuffle of it to one
partition reads as ONE partition (``coalesce(1)``). Small means its
rows, at Spark's own per-row size estimate (8 bytes plus the
``defaultSize`` of the schema, the figure the optimizer's statistics
use), total at most
``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (1 MB by
default). AQE (on in every session, see session.py) never splits a
shuffle of at most that many bytes into more than one partition. An
Exchange directly above the read carries at most the version's rows,
uncompressed, while AQE weighs the compressed shuffle bytes. So the
aggregates, windows, sorts and merge joins over such a read ran in one
task before too; the declaration only drops their Exchanges (without
it a file scan reports ``UnknownPartitioning``, and each of those
operators plans an Exchange, one AQE job each). The rule reads only
the sidecar and the session conf, so the read still launches no job.
Larger versions read exactly as before. The rule,
:func:`fits_one_shuffle_partition`, has one other site: the
checkpointed batch of ``pipeline.runner.merge_entity_batch``, judged
by the row count its checkpoint observes. A small delta's merge thus
joins two one-partition sides and plans no Exchange. The rule is an
estimate per version: a string counts as 20 bytes whatever its
length, and a join of two small versions, or a join that widens rows
before a shuffle, can shuffle more than either version. Only versions
of 0.03-0.07 MB of parquet (0.35-0.53 MB by the estimate) have been
measured (perfbench); none near the bound.

At 100 TB you would swap this class for Delta/Iceberg and keep every
caller unchanged — the API (read/write/read_previous/rows) is the
contract.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

META = "_meta.json"

#: schema JSON -> Spark's estimated bytes per row; one JVM parse per schema
_ROW_BYTES: dict[str, int] = {}


def fits_one_shuffle_partition(spark: SparkSession, schema: StructType, rows: int) -> bool:
    """Whether ``rows`` rows of ``schema`` at Spark's per-row size
    estimate total at most the size below which AQE coalesces a
    shuffle to one partition (see the module docstring). The one rule
    behind both one-partition sites: :meth:`SnapshotTable.read` and
    the checkpointed batch of ``pipeline.runner.merge_entity_batch``."""
    key = schema.json()
    if key not in _ROW_BYTES:
        _ROW_BYTES[key] = 8 + spark._jsparkSession.parseDataType(key).defaultSize()
    conf = spark._jsparkSession.sessionState().conf()
    return rows * _ROW_BYTES[key] <= conf.getConf(conf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE())


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name

    def _pointer(self) -> str:
        return os.path.join(self.dir, "_latest")

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _path(self, version: int) -> str:
        return os.path.join(self.dir, f"v={version}")

    def _meta(self, version: int) -> dict:
        path = os.path.join(self._path(version), META)
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            if not os.path.isdir(self._path(version)):
                raise
            raise FileNotFoundError(
                f"SnapshotTable {self.name}: version {version} has no {META} "
                f"sidecar ({path}); it predates sidecars. Upgrade the warehouse "
                "once with backfill_meta(spark, <warehouse root>), or run "
                "`python -m real_time_data_pipeline_for_restaurant_analytics_spark"
                ".sources.snapshot <warehouse root>`."
            ) from None

    def _write_meta(self, version: int, schema: StructType, rows: int) -> None:
        with open(os.path.join(self._path(version), META), "w") as f:
            json.dump({"schema": schema.jsonValue(), "rows": rows}, f)

    def _read(self, spark: SparkSession, version: int) -> DataFrame:
        meta = self._meta(version)
        schema = StructType.fromJson(meta["schema"])
        df = spark.read.schema(schema).parquet(self._path(version))
        return df.coalesce(1) if fits_one_shuffle_partition(spark, schema, meta["rows"]) else df

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        return self._read(spark, v)

    def read_previous(self, spark: SparkSession) -> DataFrame | None:
        v = self.latest_version()
        if v is None or v <= 0:
            return None
        return self._read(spark, v - 1) if os.path.exists(self._path(v - 1)) else None

    def rows(self) -> int | None:
        """Row count of the latest version, from its sidecar; None when
        the table has no version yet."""
        v = self.latest_version()
        return None if v is None else self._meta(v)["rows"]

    @contextlib.contextmanager
    def _writer_lock(self):
        """Exclusive advisory lock for the whole write transaction:
        a non-blocking ``flock`` on a sibling ``<dir>.writerlock`` file,
        which no table operation deletes; only EWOULDBLOCK retries, for
        up to 60 s."""
        import fcntl
        import time

        parent = os.path.dirname(os.path.abspath(self.dir))
        os.makedirs(parent, exist_ok=True)
        fd = os.open(
            os.path.abspath(self.dir).rstrip("/") + ".writerlock",
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        try:
            deadline = time.monotonic() + 60.0
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError as e:
                    if time.monotonic() >= deadline:
                        raise RuntimeError(
                            f"SnapshotTable {self.name}: another writer "
                            "holds the table lock after 60 s — concurrent "
                            "snapshot writes are not supported."
                        ) from e
                    time.sleep(0.05)
            yield
        finally:
            os.close(fd)

    def write(self, df: DataFrame, keep_versions: int = 2) -> int:
        """Write the next snapshot version and swing the pointer.
        Returns the new version number. Runs under the writer lock
        (two unlocked writers would both claim v=n+1); keep_versions
        is clamped to >= 2 so the just-superseded version — what
        read_previous() and the change feed reference — always
        survives the write that supersedes it. The row count is
        observed by the write job itself and lands, with the schema,
        in the version's ``_meta.json`` before the pointer swap."""
        with self._writer_lock():
            v = self.latest_version()
            new_v = 0 if v is None else v + 1
            path = self._path(new_v)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
            self._write_meta(new_v, df.schema, obs.get["rows"])
            tmp = self._pointer() + ".tmp"
            os.makedirs(self.dir, exist_ok=True)
            with open(tmp, "w") as f:
                f.write(str(new_v))
            os.replace(tmp, self._pointer())  # atomic pointer swap
            self._prune(new_v, max(int(keep_versions), 2))
            return new_v

    def _prune(self, latest: int, keep: int) -> None:
        import shutil

        for entry in os.listdir(self.dir):
            if entry.startswith("v="):
                ver = int(entry.split("=", 1)[1])
                if ver <= latest - keep:
                    shutil.rmtree(os.path.join(self.dir, entry), ignore_errors=True)


def backfill_meta(spark: SparkSession, root: str) -> dict[str, list[int]]:
    """One-shot upgrade of a warehouse written before versions carried
    a ``_meta.json`` sidecar: for every snapshot table under ``root``
    (a directory holding a ``_latest`` pointer), write the sidecar of
    each committed version that lacks one, inferred from its parquet
    files (one schema and one count job per version), under the
    table's writer lock. Returns the versions written per table
    directory; running it again writes nothing."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith("v="))
        if "_latest" not in files:
            continue
        tbl = SnapshotTable(os.path.dirname(dirpath), os.path.basename(dirpath))
        out[dirpath] = []
        with tbl._writer_lock():
            latest = tbl.latest_version()
            for entry in sorted(os.listdir(dirpath)):
                if not entry.startswith("v="):
                    continue
                v = int(entry.split("=", 1)[1])
                if latest is None or v > latest or os.path.exists(os.path.join(tbl._path(v), META)):
                    continue
                df = spark.read.parquet(tbl._path(v))
                tbl._write_meta(v, df.schema, df.count())
                out[dirpath].append(v)
    return out


if __name__ == "__main__":
    import sys

    from ..session import get_spark

    if len(sys.argv) != 2:
        sys.exit("usage: python -m real_time_data_pipeline_for_restaurant_analytics_spark"
                 ".sources.snapshot <warehouse root>")
    for table, versions in backfill_meta(get_spark(), sys.argv[1]).items():
        print(f"{table}: backfilled {versions or 'nothing'}")
