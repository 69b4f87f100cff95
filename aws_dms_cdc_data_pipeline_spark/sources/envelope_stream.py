"""S2/S3/S4 — the CDC change-record stream source.

In the reference the stream is DMS tailing the MySQL binlog
(dms_aurora_mysql_to_kinesis.py:50-59,145) into Kinesis
(kds.py:23-27), consumed by Firehose (firehose.py:159-163). In our
engine both hops collapse into one ``readStream`` of one-line JSON
envelopes. Tests use the file source (deterministic, replayable —
the 24 h Kinesis retention analog is simply the files still being
there); production swaps in the Kinesis/Kafka connector with the
same downstream plan:

    spark.readStream.format("kafka")  # or kinesis connector
         .option(...)
         .load()
         .select(col("value").cast("string"))
         → parse_envelope_lines(...)

The wire format carries ``doc_id`` (shard-sequence-number analog,
reference README.md:457) alongside the envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S

# Primary-key field inside data — a record without it cannot be keyed
# (it would silently collapse into the NULL-key group in the state
# store), so it is dead-lettered like any other malformed line.
_PK_FIELD = "trans_id"


def _parse(lines: DataFrame, *, pk_field: str = _PK_FIELD) -> DataFrame:
    """Wire lines → (data, metadata, doc_id, _raw, _corrupt).

    PERMISSIVE parse: a malformed line yields NULL structs and is
    flagged ``_corrupt`` for the DLQ (S7) instead of failing the
    stream. Timestamps use Spark's default lenient ISO-8601 parsing,
    which accepts both 'Z' and numeric offsets ('+00:00'), with or
    without fractional seconds — an explicit pattern would null out
    legal producer variants.
    """
    parsed = lines.withColumn(
        "_env", F.from_json(F.col("value"), S.KEYED_ENVELOPE_SCHEMA)
    )
    return parsed.select(
        F.col("_env.data").alias("data"),
        F.col("_env.metadata").alias("metadata"),
        F.col("_env.doc_id").alias("doc_id"),
        F.col("value").alias("_raw"),
        (
            F.col("_env").isNull()
            | F.col("_env.metadata").isNull()
            | F.col("_env.data").isNull()
            | F.col("_env.doc_id").isNull()
            | F.col(f"_env.data.{pk_field}").isNull()
        ).alias("_corrupt"),
    )


def parse_envelope_lines(lines: DataFrame, *, line_col: str = "value") -> DataFrame:
    """Public parse entry point: a DataFrame with one wire line per row
    (``line_col``) → keyed envelopes with the ``_corrupt`` DLQ flag.

    Use cases: custom transports feeding the same delivery plan, and
    replaying dead-lettered records (the DLQ stores the original wire
    line under ``raw``) back through the exact production parse.
    """
    if line_col != "value":
        lines = lines.select(F.col(line_col).alias("value"))
    return _parse(lines)


def read_envelope_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source of keyed envelopes from JSONL files.

    ``maxFilesPerTrigger`` is the per-trigger size cap — the analog of
    Firehose's 1 MB buffering hint (firehose.py:139-142).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _parse(reader.load(path))


def read_envelope_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the same wire files (backfill / full-load path, T5)."""
    return _parse(spark.read.format("text").load(path))


def read_envelope_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production stream source: the same envelope stream off Kafka
    (or a Kinesis connector with identical shape).

    Config-only swap for :func:`read_envelope_stream` — the downstream
    plan (parse → DLQ flag → select → triple sink) is unchanged, which
    is the point: the engine's semantics don't depend on the transport.
    The Kafka key carries the DMS partition key (the table PK,
    reference dms_aurora_mysql_to_kinesis.py:121-123), so per-key
    ordering survives the hop exactly as it does on Kinesis shards.
    Untested in this sandbox (no broker); the wire contract is covered
    by the file-source tests.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    lines = reader.load().select(F.col("value").cast("string").alias("value"))
    return _parse(lines)


def read_envelope_kinesis(
    spark: SparkSession,
    stream_name: str,
    region: str,
    *,
    starting_position: str = "TRIM_HORIZON",
    endpoint_url: str | None = None,
    consumer_type: str = "GetRecords",
) -> DataFrame:
    """Production stream source matching the reference's ACTUAL
    transport: DMS → Kinesis Data Streams (kds.py:23-27) consumed
    downstream (firehose.py:159-163).

    Uses the open-source Amazon Kinesis connector for Spark Structured
    Streaming (``aws-kinesis`` format, spark-streaming-sql-kinesis-
    connector); its record schema exposes the payload as a ``data``
    binary column, cast here to the one-line-JSON wire string. Like
    :func:`read_envelope_kafka` this is a config-only swap for
    :func:`read_envelope_stream` — the downstream plan is unchanged.
    Kinesis preserves per-shard ordering and DMS partitions by table
    PK (dms_aurora_mysql_to_kinesis.py:121-123), so per-key ordering
    survives the hop (T2). ``consumer_type="EFO"`` selects enhanced
    fan-out for dedicated read throughput. Untested in this sandbox
    (no stream); the wire contract is covered by the file-source tests.
    """
    reader = (
        spark.readStream.format("aws-kinesis")
        .option("kinesis.streamName", stream_name)
        .option("kinesis.region", region)
        .option("kinesis.consumerType", consumer_type)
        .option("kinesis.startingPosition", starting_position)
    )
    if endpoint_url:
        reader = reader.option("kinesis.endpointUrl", endpoint_url)
    lines = reader.load().select(F.col("data").cast("string").alias("value"))
    return _parse(lines)
