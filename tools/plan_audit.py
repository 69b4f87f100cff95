"""Generate PLANS.md: physical-plan audit of every registry query.

For each query at sf0.01, counts the plan features that matter at
100 TB: shuffle exchanges, join strategies, parquet scans with pushed
filters, and whole-stage-codegen coverage. Run after plan-shape
changes; the output is committed so reviewers can diff plan
regressions like code.

Counting walks the PHYSICAL PLAN TREE (py4j), not the plan's
toString: ``InMemoryTableScan`` is a genuine leaf node, so the
cache-BUILD recipe printed under each ``InMemoryRelation`` is
excluded exactly — earlier rounds' text-stripping leaked recipe
bodies into the scan count because Spark prints the cached plan at a
SHALLOWER indentation than the InMemoryRelation line itself (an r8
audit counted "23 FileScans" for a query whose tree has 3 executed
parquet scans). ``ReusedExchange`` /
``ReusedSubquery`` are likewise leaves — reused work is not
re-counted. Subquery plans hanging off expressions ARE walked (they
execute). The warm numbers are therefore "work a second run of the
plan actually executes".

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_SHUFFLES = {"ShuffleExchangeExec"}
_SCANS = {"FileSourceScanExec", "BatchScanExec"}
_BCAST_JOIN = {"BroadcastHashJoinExec"}
_SMJ = {"SortMergeJoinExec"}
_SHJ = {"ShuffledHashJoinExec"}
_NESTED = {"BroadcastNestedLoopJoinExec", "CartesianProductExec"}
# leaves whose referenced plan already ran elsewhere — do not descend
_REUSED = {"ReusedExchangeExec", "ReusedSubqueryExec", "InMemoryTableScanExec"}


def _iter_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _walk(node, counts) -> None:
    cls = node.getClass().getSimpleName()
    if cls in _REUSED:
        return
    if cls == "AdaptiveSparkPlanExec":
        # AQE roots are leaves wrapping the (possibly re-planned)
        # plan; audit whatever the query would execute now
        _walk(node.executedPlan(), counts)
        return
    if cls in _SCANS:
        counts["scans"] += 1
        pushed = ""
        try:
            opt = node.metadata().get("PushedFilters")
            if not opt.isEmpty():
                pushed = opt.get()
        except Exception:  # noqa: BLE001 - BatchScanExec has no metadata map
            pushed = "pushedFilters" if "RuntimeFilters" in str(node) else ""
        if pushed and pushed != "[]":
            counts["pushed"] += 1
    elif cls in _SHUFFLES:
        counts["shuffles"] += 1
    elif cls in _BCAST_JOIN:
        counts["bcast_join"] += 1
    elif cls in _SMJ:
        counts["smj"] += 1
    elif cls in _SHJ:
        counts["shj"] += 1
    elif cls in _NESTED:
        counts["nested_loop"] += 1
    for child in _iter_seq(node.children()):
        _walk(child, counts)
    for sub in _iter_seq(node.subqueries()):
        _walk(sub, counts)


def audit_jplan(jplan) -> dict[str, int | str]:
    counts = {
        "shuffles": 0,
        "bcast_join": 0,
        "smj": 0,
        "shj": 0,
        "nested_loop": 0,
        "scans": 0,
        "pushed": 0,
    }
    _walk(jplan, counts)
    n_pushed, n_scans = counts.pop("pushed"), counts["scans"]
    counts["pushed"] = f"{n_pushed}/{n_scans}" if n_scans else "-"
    return counts


def audit_df(df) -> dict[str, int | str]:
    return audit_jplan(df._jdf.queryExecution().executedPlan())


def main() -> None:
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY
    from aws_dms_cdc_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
    only = set(sys.argv[1:])
    rows = []
    for name, qd in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            # Execute once, then re-derive: operators that persist()
            # shared intermediates (gram index, shingle hashes) show
            # their RUNTIME shape — the shared subtree audits as one
            # InMemoryTableScan per consumer instead of a full
            # duplicated scan+shuffle chain per consumer, which is
            # what actually executes on a warm plan.
            spark.catalog.clearCache()
            qd.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            df = qd.fn(spark, SF_DIR)
            a = audit_df(df)
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e)[:60]}))
            continue
        rows.append((name, a))

    if only:
        for name, a in rows:
            print(name, a)
        return

    out = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)",
        "",
        f"Registry queries at `{SF_DIR}`, warm physical plans (each query",
        "executed once first, so plan-keyed persisted intermediates audit",
        "as the InMemoryTableScan reuse that actually runs; AQE runtime",
        "re-planning still not applied). Counts walk the physical tree:",
        "InMemoryTableScan / ReusedExchange / ReusedSubquery are leaves, so",
        "cache-build recipes and reused work are excluded — these are the",
        "operators a WARM run executes. `pushed` = parquet scans with at",
        "least one pushed filter / total scans. NestedLoop joins appear",
        "only where semantically required (tiny literal relations).",
        "",
        "| query | shuffles | bcast | smj | shj | nested | scans | pushed |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if "error" in a:
            out.append(f"| {name} | ERROR: {a['error']} | | | | | | |")
        else:
            out.append(
                f"| {name} | {a['shuffles']} | {a['bcast_join']} | {a['smj']} | "
                f"{a['shj']} | {a['nested_loop']} | {a['scans']} | {a['pushed']} |"
            )
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
