"""Maintenance jobs: storage-layout hygiene for long-running pipelines."""
