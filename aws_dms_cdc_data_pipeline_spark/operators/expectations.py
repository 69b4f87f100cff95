"""Declarative data-contract checks — the dbt-test / Delta-constraint
analog, engine-native.

A replication pipeline's consumers assume invariants the wire format
can't enforce (non-negative amounts, mandatory keys, bounded enums);
the operational question is "how many rows violate each contract
RIGHT NOW". This operator evaluates a named set of SQL predicates in
ONE scan: every check becomes a conditional count in a single
aggregation — map-side partials, no shuffle of data rows, one output
row per constraint. At 100 TB, adding a tenth check costs one more
counter per task, not another scan.

Checks are ordinary Spark SQL boolean expressions over the table, so
the same strings document the contract, run here, and paste into any
SQL engine (the registry query's DuckDB oracle runs them verbatim).
NULL predicate results count as violations (unknown ≠ pass) — the
same strictness Delta's CHECK constraints apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _passes(predicate: str) -> Column:
    """TRUE where the SQL ``predicate`` holds; NULL counts as a fail."""
    return F.coalesce(F.expr(predicate), F.lit(False))


def check_constraints(df: DataFrame, checks: dict[str, str]) -> DataFrame:
    """One row per named check: (check_name, n_rows, n_violations,
    pass_flag). ``checks`` maps name → boolean SQL over ``df``'s
    columns; a row violates when the predicate is FALSE or NULL.
    """
    if not checks:
        raise ValueError("check_constraints needs at least one check")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for name, predicate in sorted(checks.items()):
        aggs.append(
            F.sum(F.when(_passes(predicate), 0).otherwise(1))
            .cast("long")
            .alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"_v_{name}").alias("n_violations"),
            (F.col(f"_v_{name}") == 0).cast("long").alias("pass_flag"),
        )
        for name in sorted(checks)
    ]
    return wide.select(F.explode(F.array(*rows)).alias("_c")).select("_c.*")


__all__ = ["check_constraints", "quarantine_violations", "violations"]


def violations(checks: dict[str, str]) -> Column:
    """The sorted array of the names of the ``checks`` a row fails
    (empty when it passes them all). A predicate that is FALSE or NULL
    fails: unknown is not a pass."""
    return F.array_compact(
        F.array(
            *[
                F.when(~_passes(pred), F.lit(name))
                for name, pred in sorted(checks.items())
            ]
        )
    )


def quarantine_violations(
    df: DataFrame, checks: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Row-level contract enforcement: ``(good, quarantined)``.

    Where :func:`check_constraints` answers "how many violate", this
    answers "WHICH rows, and why" — the Delta-Live-Tables
    expectation-with-quarantine pattern (dbt ``store_failures``).
    ``quarantined`` is the violating rows plus ``violations``: the
    sorted array of failed check names (NULL predicate = violation,
    same strictness as check_constraints). ``good`` is the rest with
    the original schema. Both come off ONE annotated projection —
    Catalyst shares the scan between the two filters, every predicate
    is evaluated once per row map-side, and no shuffle exists in
    either branch, so quarantining adds no pass over the data.
    """
    if not checks:
        raise ValueError("quarantine_violations needs at least one check")
    annotated = df.withColumn("violations", violations(checks))
    good = annotated.filter(F.size("violations") == 0).drop("violations")
    bad = annotated.filter(F.size("violations") > 0)
    return good, bad
