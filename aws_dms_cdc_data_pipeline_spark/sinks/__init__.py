"""Sinks: upsertable current-state store, raw archive, DLQ."""
