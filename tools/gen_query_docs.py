"""Generate QUERIES.md: the registry's user-facing index.

One row per registered query: name, correctness gate (DuckDB oracle
vs rows-only), and the first sentence of its design doc. PLANS.md
answers "what does the physical plan look like"; this answers "what
can I run and how is it checked". Regenerate after registry changes:

    python tools/gen_query_docs.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def first_sentence(doc: str) -> str:
    text = " ".join(doc.split())
    m = re.match(r"(.+?\.)(?:\s|$)", text)
    return (m.group(1) if m else text)[:220]


def main() -> None:
    from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle)
    lines = [
        "# Query registry index",
        "",
        f"{len(REGISTRY)} queries; {n_oracle} value-checked against a "
        "DuckDB oracle on identical parquet, "
        f"{len(REGISTRY) - n_oracle} rows-only (no SQL mirror; the "
        "reason is at each entry's `None` oracle and in its SURVEY.md "
        "§2 row). Physical-plan audit per query: PLANS.md.",
        "",
        "| query | gate | what it is |",
        "|---|---|---|",
    ]
    for name, qd in REGISTRY.items():
        gate = "oracle" if qd.oracle else "rows-only"
        lines.append(f"| {name} | {gate} | {first_sentence(qd.doc)} |")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "QUERIES.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
