"""CI guard: the KG build's stage sequence is defined once.

``KGPipeline.run`` (``plans/pipeline.py``) is the only place that chains
the build's operators.  The driver queries and the bench run the pipeline
and read its tables; a second hand-assembled chain drifts from the real
one whenever a stage changes.  This greps the driver-facing modules for
calls to the build operators outside the pipeline.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).parent.parent
SCANNED = [
    *sorted((ROOT / "ta2_minmod_kg_spark" / "plans").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]
OWNER = ROOT / "ta2_minmod_kg_spark" / "plans" / "pipeline.py"
BUILD_CALL = re.compile(
    r"\b(build_membership|merge_dedup_sites|select_dedup_inventories"
    r"|grade_tonnage_view|normalize_sites|site_rows|doc_pass|write_doc_tables)\("
)


def test_only_the_pipeline_chains_the_build():
    # the guard means something only while the pipeline calls these names
    assert set(BUILD_CALL.findall(OWNER.read_text())) == {
        "build_membership",
        "merge_dedup_sites",
        "select_dedup_inventories",
        "grade_tonnage_view",
        "write_doc_tables",
    }
    offenders = []
    for path in SCANNED:
        if path == OWNER:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if BUILD_CALL.search(line) and not line.strip().startswith("#"):
                offenders.append(f"{path.relative_to(ROOT)}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
