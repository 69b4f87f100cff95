"""P2/P3/P4 — envelope mapping, JSON serde, metadata enrichment.

The reference's DMS mapping rule 2 (``map-record-to-record``,
dms_aurora_mysql_to_kinesis.py:108-117) projects each captured row
into the two-part ``{data, metadata}`` envelope and serializes it as
one-line JSON (``message_format="json-unformatted"``, :89). Contract:
reference README.md:454-492.

The envelope operators are pure Catalyst expressions (``from_json`` /
``to_json`` / ``struct``) — JVM-side, whole-stage-codegen'd, no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S


def parse_envelopes(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P3 (deserialize): one-line-JSON strings → typed envelope rows.

    Malformed lines yield a NULL struct (PERMISSIVE) and are routed to
    the DLQ by the sink stage rather than failing the stream.
    """
    parsed = raw.withColumn("_env", F.from_json(F.col(value_col), S.ENVELOPE_SCHEMA))
    cols = [F.col("_env.data").alias("data"), F.col("_env.metadata").alias("metadata")]
    if "doc_id" in raw.columns:
        cols.append(F.col("doc_id"))
    return parsed.select(*cols)


def serialize_envelopes(df: DataFrame) -> DataFrame:
    """P3 (serialize): typed envelopes → one-line JSON strings.

    Timestamps are formatted ISO-8601 UTC to match the wire contract
    (README.md:468,471).
    """
    return df.select(
        F.to_json(
            F.struct(F.col("data"), F.col("metadata")),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX"},
        ).alias("value")
    )


def _metadata_struct(
    operation: Column,
    timestamp: Column,
    transaction_id: Column,
    schema_name: str,
    table_name: str,
) -> Column:
    """P4 — metadata enrichment: capture time, verb, txn id, constants
    (output contract README.md:470-478)."""
    return F.struct(
        timestamp.alias("timestamp"),
        F.lit(S.RECORD_TYPE_DATA).alias("record-type"),
        operation.alias("operation"),
        F.lit(S.PARTITION_KEY_TYPE).alias("partition-key-type"),
        F.lit(schema_name).alias("schema-name"),
        F.lit(table_name).alias("table-name"),
        transaction_id.alias("transaction-id"),
    )


def to_envelope(
    rows: DataFrame,
    *,
    operation: Column | str = S.OP_LOAD,
    timestamp: Column | None = None,
    transaction_id: Column | None = None,
    schema_name: str = S.DEFAULT_SCHEMA_NAME,
    table_name: str = S.DEFAULT_TABLE_NAME,
) -> DataFrame:
    """P2 — map-record-to-record: bare rows → ``{data, metadata}``.

    Identity projection of the row into ``data`` (the reference rule
    applies no column transforms) plus enriched metadata. Default verb
    ``load`` matches a full-load snapshot pass.
    """
    op = F.lit(operation) if isinstance(operation, str) else operation
    ts = timestamp if timestamp is not None else F.current_timestamp()
    txn = (
        transaction_id
        if transaction_id is not None
        else F.monotonically_increasing_id()
    )
    data_cols = [F.col(f.name) for f in S.DATA_SCHEMA.fields]
    return rows.select(
        F.struct(*data_cols).alias("data"),
        _metadata_struct(op, ts, txn, schema_name, table_name).alias("metadata"),
    )


def schema_drift_report(
    df: DataFrame,
    expected_keys: list[str],
    *,
    json_col: str = "value",
) -> DataFrame:
    """Per-key schema-drift report over a stream of JSON payloads.

    CDC pipelines break silently when the source schema evolves — an
    added column vanishes into PERMISSIVE parsing, a dropped one
    becomes NULLs. This audits the raw wire bytes instead: for every
    key observed in any payload ∪ every key the contract expects,
    report how many records carry it, how many lack it, and whether
    the contract knows it. Unexpected keys with n_present > 0 (new
    source column) and expected keys with n_missing > 0 (dropped /
    renamed column) are the drift alarms.

    Scale shape: one explode of the key arrays + wordcount groupBy
    (map-side combine; key cardinality ~ schema width, so the shuffle
    is tiny), total count rides as a broadcast 1-row aggregate, the
    expected-key contract is a literal relation — no second scan, no
    driver collect.
    """
    spark = df.sparkSession
    keys = F.json_object_keys(F.col(json_col))
    obs = (
        df.select(F.explode(keys).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_present"))
    )
    exp = spark.createDataFrame([(k,) for k in expected_keys], "key string")
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    return (
        obs.join(exp.withColumn("_exp", F.lit(1)), "key", "full_outer")
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            F.coalesce(F.col("n_present"), F.lit(0)).cast("long").alias("n_present"),
            (F.col("_n") - F.coalesce(F.col("n_present"), F.lit(0)))
            .cast("long")
            .alias("n_missing"),
            F.when(F.col("_exp").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("in_schema"),
        )
    )
