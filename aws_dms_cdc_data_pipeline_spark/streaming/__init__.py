"""Structured Streaming wiring of the CDC pipeline."""

from aws_dms_cdc_data_pipeline_spark.streaming.pipeline import (  # noqa: F401
    CdcStreamConfig,
    start_cdc_stream,
)
