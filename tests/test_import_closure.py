"""The engine's import closure stays on the CDC path.

Importing the streaming pipeline and the aggregate view must load only
the modules the engine runs — no search, retrieval or query-registry
code, and no pandas — so bringing up a CDC stream never pays for the
rest of the package. The maintenance jobs and the full-load seed, and
the Discover read (``operators.aggs``), are held to the same bar.
Checked in a fresh interpreter, because the test session itself has
long since imported everything.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "aws_dms_cdc_data_pipeline_spark"

ENGINE = {
    PKG,
    f"{PKG}.session",
    f"{PKG}.schema",
    f"{PKG}.operators",
    f"{PKG}.operators.selection",
    f"{PKG}.operators.upsert",
    f"{PKG}.sinks",
    f"{PKG}.sinks.state_store",
    f"{PKG}.sources",
    f"{PKG}.sources.envelope_stream",
    f"{PKG}.streaming",
    f"{PKG}.streaming.pipeline",
    f"{PKG}.streaming.matview",
}

MAINTENANCE = {
    PKG,
    f"{PKG}.session",
    f"{PKG}.schema",
    f"{PKG}.operators",
    f"{PKG}.operators.envelope",
    f"{PKG}.operators.upsert",
    f"{PKG}.sinks",
    f"{PKG}.sinks.state_store",
    f"{PKG}.sources",
    f"{PKG}.sources.envelope_stream",
    f"{PKG}.sources.full_load",
    f"{PKG}.maintenance",
    f"{PKG}.maintenance.compact",
    f"{PKG}.maintenance.erasure",
    f"{PKG}.maintenance.layout",
    f"{PKG}.maintenance.replay",
    f"{PKG}.maintenance.retention",
}

READ = {
    PKG,
    f"{PKG}.session",
    f"{PKG}.operators",
    f"{PKG}.operators.aggs",
    f"{PKG}.operators.partitioning",
}

_PROBE = """
import json, sys
import {modules}
print(json.dumps({{
    "package": sorted(m for m in sys.modules if m.split(".")[0] == "{pkg}"),
    "pandas": "pandas" in sys.modules,
}}))
"""


def _probe(modules: list[str]) -> dict:
    code = _PROBE.format(modules=", ".join(f"{PKG}.{m}" for m in modules), pkg=PKG)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_engine_import_loads_only_engine_modules():
    loaded = _probe(["streaming.pipeline", "streaming.matview"])
    off_path = sorted(set(loaded["package"]) - ENGINE)
    assert not off_path, f"engine import loads off-path modules: {off_path}"
    assert not loaded["pandas"], "engine import loads pandas"


def test_maintenance_import_loads_only_cdc_modules():
    loaded = _probe([
        "maintenance.erasure",
        "maintenance.replay",
        "maintenance.retention",
        "maintenance.compact",
        "maintenance.layout",
        "sources.full_load",
    ])
    off_path = sorted(set(loaded["package"]) - MAINTENANCE)
    assert not off_path, f"maintenance import loads off-path modules: {off_path}"
    assert not loaded["pandas"], "maintenance import loads pandas"


def test_read_import_loads_no_search_stack():
    loaded = _probe(["operators.aggs"])
    off_path = sorted(set(loaded["package"]) - READ)
    assert not off_path, f"aggs import loads off-path modules: {off_path}"
    assert f"{PKG}.operators.aggs" in loaded["package"]
    assert not loaded["pandas"], "aggs import loads pandas"
