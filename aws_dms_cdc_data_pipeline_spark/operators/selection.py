"""P1 — table-selection filter.

The reference's DMS table-mapping rule 1 keeps only
``(schema-name, table-name) = (testdb, retail_trans)`` with
``rule-action: "include"`` and no row-level predicates
(dms_aurora_mysql_to_kinesis.py:96-107). In Spark this is a plain
equality predicate on two metadata columns — Catalyst folds it into
the scan (predicate pushdown) when the envelopes come from a
columnar source, and evaluates it pre-shuffle on a stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S


def table_predicate(
    schema_name: str = S.DEFAULT_SCHEMA_NAME,
    table_name: str = S.DEFAULT_TABLE_NAME,
) -> Column:
    """True for change records of one source table."""
    return (F.col(S.meta("schema-name")) == F.lit(schema_name)) & (
        F.col(S.meta("table-name")) == F.lit(table_name)
    )


def select_table(
    df: DataFrame,
    schema_name: str = S.DEFAULT_SCHEMA_NAME,
    table_name: str = S.DEFAULT_TABLE_NAME,
) -> DataFrame:
    """Keep only change records for one source table."""
    return df.filter(table_predicate(schema_name, table_name))
