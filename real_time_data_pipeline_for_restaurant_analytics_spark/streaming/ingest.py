"""Structured Streaming ingest: the reference's stream→MERGE loop
made literal (SURVEY §2.7, §3.1).

The reference's "real-time" is a daily task draining Snowflake
streams into MERGEs (C1-C4). Here the same per-entity pipeline body
(clean transform → SCD1 → SCD2 from pipeline/runner.py) runs inside
``foreachBatch`` over a file-source stream:

- `readStream` file source over the entity's landing directory =
  the append-only stage stream (C1). The checkpoint gives exactly-once
  file consumption — the transactional offset-advance Snowflake
  provides natively.
- each micro-batch is one "day" of the reference's cadence; the merge
  bodies are *identical* to the batch path (one library, two drivers —
  the design SURVEY §7/M5 calls for).
- the Kafka path is ``kafka_stage_stream`` (``format("kafka")`` →
  ``parse_kafka_records``): same stage contract, same merge loop —
  ``ingest_stream`` takes any streaming DataFrame with the entity's
  source columns, and tests/test_kafka.py proves the seam broker-less
  by replaying Kafka-wire-shaped records through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.entities import EntitySpec
from ..pipeline.runner import Warehouse, merge_entity_batch
from ..sources.readers import AUDIT_COLS, text_schema, with_audit_columns


def stage_file_stream(
    spark: SparkSession,
    spec: EntitySpec,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """C1: append-only stage stream from a landing directory.
    Kafka-ready seam: return any streaming DF with spec.source_columns.

    ``max_files_per_trigger`` bounds each micro-batch (production
    back-pressure): a backlog of N files then drains as ceil(N/k)
    ORDERED micro-batches within one availableNow run, each flowing
    through the full SCD1/SCD2 merge body — the file-source twin of
    Kafka's maxOffsetsPerTrigger."""
    reader = spark.readStream.schema(text_schema(spec.source_columns))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if spec.ext == "json":
        out = reader.json(landing_dir)
    else:
        # mode=FAILFAST mirrors the batch reader's on_error='abort'
        # (COPY on_error=abort_statement): a malformed row fails the
        # load in BOTH drivers instead of silently null-padding here.
        out = (
            reader.option("header", "true")
            .option("quote", '"')
            .option("nullValue", "\\N")
            .option("mode", "FAILFAST")
            .csv(landing_dir)
        )
    return with_audit_columns(out)


#: Schema of Spark's Kafka source output (one row per record) — also
#: the wire shape the broker-less seam test replays through
#: ``parse_kafka_records`` → ``ingest_stream(source=...)``.
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT"
)


def parse_kafka_records(records: DataFrame, spec: EntitySpec) -> DataFrame:
    """Kafka wire rows → stage rows for one entity (works on a
    streaming OR batch DataFrame with :data:`KAFKA_WIRE_SCHEMA`).

    - ``value`` is decoded with the SAME all-text positional contract
      as the file stage (S1/S2): ``from_csv`` for csv entities (quote
      ``"``, null token ``\\N``), ``from_json`` for json entities —
      one record per Kafka message.
    - The four audit columns (S4) get their Kafka analogs, folding
      topic/partition/offset into the label as promised by the module
      docstring: ``_stg_file_name`` = ``kafka://topic/partition/offset``
      (per-record provenance, replayable), ``_stg_file_load_ts`` = the
      broker append timestamp (the mtime analog), ``_stg_file_md5`` =
      md5 of the (topic, partition, offset) triple — the exactly-once
      identity Kafka guarantees, like the file source's
      (path, size, mtime).

    Narrow map-only projection — no shuffle, safe at any partition
    count; downstream ``merge_microbatch`` is unchanged (one merge
    library, two drivers, now three sources).
    """
    ddl = ", ".join(f"`{c}` STRING" for c in spec.source_columns)
    payload = F.col("value").cast("string")
    if spec.ext == "json":
        parsed = F.from_json(payload, ddl)
    else:
        parsed = F.from_csv(payload, ddl, {"quote": '"', "nullValue": "\\N"})
    return records.select(
        parsed.alias("_rec"),
        F.concat(
            F.lit("kafka://"), F.col("topic"), F.lit("/"),
            F.col("partition"), F.lit("/"), F.col("offset"),
        ).alias("_stg_file_name"),
        F.col("timestamp").alias("_stg_file_load_ts"),
        F.md5(F.concat_ws("|", "topic", "partition", "offset")).alias("_stg_file_md5"),
        F.current_timestamp().alias("_copy_data_ts"),
    ).select("_rec.*", *AUDIT_COLS)


def kafka_stage_stream(
    spark: SparkSession,
    spec: EntitySpec,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """C1 over Kafka: the append-only stage stream read from a topic
    instead of a landing directory (the north-star's "Structured
    Streaming + Kafka" path).

    Returns a streaming DataFrame with ``spec.source_columns`` + the
    four audit columns — drop-in for ``stage_file_stream`` as the
    ``source=`` argument of :func:`ingest_stream`; everything below
    the source (clean transform → SCD1 → SCD2 merges) is shared.

    Requires the ``spark-sql-kafka`` connector on the classpath (ship
    via ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13``);
    without it Spark fails loudly at ``.load()`` with "Failed to find
    data source: kafka". The broker-less seam is covered by replaying
    :data:`KAFKA_WIRE_SCHEMA`-shaped files through
    :func:`parse_kafka_records` (tests/test_kafka.py).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # exactly-once into foreachBatch: offsets advance through the
        # checkpoint, mirroring the file source's consumed-files log
        .option("failOnDataLoss", "true")
        .load()
    )
    return parse_kafka_records(raw, spec)


def with_stream_audit_columns(df: DataFrame, source_label: str) -> DataFrame:
    """Audit columns for non-file streaming sources (Kafka etc.):
    there is no file name/mtime, so the label + ingest timestamp stand
    in (for Kafka you'd fold topic/partition/offset into the label)."""
    return (
        df.withColumn("_stg_file_name", F.lit(source_label))
        .withColumn("_stg_file_load_ts", F.current_timestamp())
        .withColumn("_stg_file_md5", F.md5(F.lit(source_label)))
        .withColumn("_copy_data_ts", F.current_timestamp())
    )


def merge_microbatch(spark: SparkSession, wh: Warehouse, spec: EntitySpec, batch: DataFrame) -> None:
    """The foreachBatch body: delegates to the batch runner's
    :func:`~..pipeline.runner.merge_entity_batch` — literally one merge
    library behind both load paths (its ``localCheckpoint`` is what lets
    the merges scan a micro-batch source that cannot be re-read, and
    the row count it observes there ends an empty micro-batch before
    any merge, with no probe job of its own)."""
    merge_entity_batch(spark, wh, spec, batch, F.current_timestamp())


def ingest_stream(
    spark: SparkSession,
    wh: Warehouse,
    spec: EntitySpec,
    landing_dir: str | None,
    checkpoint_dir: str,
    available_now: bool = True,
    source: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Launch the stream→merge loop for one entity.

    ``available_now=True`` drains everything currently in the landing
    dir then stops (deterministic batch-incremental, like the daily
    task); False keeps the query live for true continuous ingest.

    ``source`` is the Kafka seam: pass ANY streaming DataFrame with
    spec.source_columns + the four audit columns (e.g.
    ``readStream.format("kafka")`` → ``from_json(value)`` →
    ``with_stream_audit_columns``) and the merge loop below is
    unchanged; ``landing_dir`` is then ignored.
    """
    stream = source if source is not None else stage_file_stream(
        spark, spec, landing_dir, max_files_per_trigger
    )

    def _body(batch: DataFrame, _batch_id: int) -> None:
        merge_microbatch(spark, wh, spec, batch)

    writer = (
        stream.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def to_kafka_frame(df: DataFrame, spec: EntitySpec) -> DataFrame:
    """Entity rows → Kafka producer frame (``key BINARY, value BINARY``)
    — the symmetric seam to :func:`parse_kafka_records`. ``value`` is
    the row's source columns encoded in the SAME wire format the
    entity's source parser reads (``to_csv`` with the stage quote/null
    options for csv entities, ``to_json`` for json entities) — so
    publish(entity) → consume(entity) round-trips for every registered
    spec, not just json ones. ``key`` is the entity's business key, so
    a compacted topic keeps latest-per-key and partition assignment
    co-locates a key's history — ordering per key, which is exactly
    what the SCD merges downstream rely on.

    Publish with ``df.write.format("kafka")`` / ``writeStream`` plus
    bootstrap/topic options (connector jar required, as for the
    source); shape is connector-independent and round-trip-tested
    broker-less against parse_kafka_records.
    """
    row = F.struct(*spec.source_columns)
    if spec.ext == "json":
        value = F.to_json(row)
    else:
        value = F.to_csv(row, {"quote": '"', "nullValue": "\\N"})
    return df.select(
        F.encode(F.concat_ws("|", *_source_key_columns(spec)), "utf-8").alias("key"),
        F.encode(value, "utf-8").alias("value"),
    )


def _source_key_columns(spec: EntitySpec) -> list[str]:
    """The business key in SOURCE-column names: clean-layer key names
    drop their underscores in the source contract (menu_id ↔ menuid)
    and composite-key components carry a ``_fk`` suffix the source
    never has (order_id_fk ↔ orderid), so match on the
    underscore-stripped, suffix-stripped form and fail loudly if an
    entity ever breaks the convention."""
    out = []
    for k in spec.key:
        want = k.removesuffix("_fk").replace("_", "").lower()
        match = next(
            (c for c in spec.source_columns if c.replace("_", "").lower() == want), None
        )
        if match is None:
            raise KeyError(f"no source column matches key {k!r} for entity {spec.name!r}")
        out.append(match)
    return out
