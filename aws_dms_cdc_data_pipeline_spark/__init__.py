"""PySpark-native CDC analytics engine.

Re-creates the capabilities of the AWS DMS → Kinesis → Firehose →
OpenSearch change-data-capture pipeline (reference:
aws-samples/aws-dms-cdc-data-pipeline) idiomatically on Apache Spark:

- a typed DMS-style change-record envelope ``{data, metadata}``
  (reference contract: README.md:454-492),
- table-selection and record-mapping operators
  (dms_aurora_mysql_to_kinesis.py:96-117),
- primary-key-partitioned ordered apply
  (dms_aurora_mysql_to_kinesis.py:121-139),
- micro-batched delivery into an upsertable current-state table, an
  hourly-partitioned raw archive and a dead-letter path
  (firehose.py:114-155),
- and a relational + search query surface over the replicated state.

Everything is expressed with the public DataFrame / SQL / Structured
Streaming API so Catalyst + Tungsten pick the physical strategy.
"""

__version__ = "0.1.0"

from aws_dms_cdc_data_pipeline_spark.session import get_spark  # noqa: F401
