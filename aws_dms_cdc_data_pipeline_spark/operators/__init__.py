"""Operator library — each module maps to SURVEY.md §2 inventory rows."""
