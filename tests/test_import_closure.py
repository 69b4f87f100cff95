"""The engine's import closure stays on the CDC path.

Importing the streaming pipeline and the aggregate view must load only
the modules the engine runs — no search, retrieval or query-registry
code, and no pandas — so bringing up a CDC stream never pays for the
rest of the package. Checked in a fresh interpreter, because the test
session itself has long since imported everything.
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

_PROBE = f"""
import json, sys
import {PKG}.streaming.pipeline, {PKG}.streaming.matview
print(json.dumps({{
    "package": sorted(m for m in sys.modules if m.split(".")[0] == "{PKG}"),
    "pandas": "pandas" in sys.modules,
}}))
"""


def test_engine_import_loads_only_engine_modules():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        check=True,
    )
    loaded = json.loads(out.stdout.strip().splitlines()[-1])
    off_path = sorted(set(loaded["package"]) - ENGINE)
    assert not off_path, f"engine import loads off-path modules: {off_path}"
    assert not loaded["pandas"], "engine import loads pandas"
