"""CI guard: the KG build's stage sequence is defined once.

``KGPipeline.run`` (``plans/pipeline.py``) is the only place that chains
the build's operators.  The driver queries and the bench run the pipeline
and read its tables; a second hand-assembled chain drifts from the real
one whenever a stage changes.  This greps the driver-facing modules for
calls to the build operators outside the pipeline, ``extract.py`` for a
second per-document kernel, ``dedup.py`` for a second per-group one, and
the package for a second staged-pass kernel.
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
    r"|normalize_sites|doc_rows|doc_pass|write_doc_tables"
    r"|group_pass|write_group_tables)\("
)


def test_only_the_pipeline_chains_the_build():
    # the guard means something only while the pipeline calls these names
    assert set(BUILD_CALL.findall(OWNER.read_text())) == {
        "build_membership",
        "write_doc_tables",
        "write_group_tables",
    }
    offenders = []
    for path in SCANNED:
        if path == OWNER:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if BUILD_CALL.search(line) and not line.strip().startswith("#"):
                offenders.append(f"{path.relative_to(ROOT)}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_one_per_document_kernel():
    """Every document goes through one batch builder: ``extract.py``
    calls ``_valid_site`` (the one parse and validation per document) in
    one place, and runs no ``mapInPandas`` kernel over documents."""
    text = (ROOT / "ta2_minmod_kg_spark" / "operators" / "extract.py").read_text()
    code = [ln for ln in text.splitlines() if not ln.strip().startswith("#")]
    calls = [ln for ln in code if re.search(r"(?<!def )\b_valid_site\(", ln)]
    assert len(calls) == 1, calls
    assert not [ln for ln in code if "mapInPandas" in ln]


def test_one_per_group_kernel():
    """Every same-as group goes through one batch builder: ``dedup.py``
    calls ``merge_group`` (the dedup_sites row) and
    ``select_inventories_group`` (the dedup_inventories rows) in one
    place each, and runs no ``mapInPandas`` kernel over groups."""
    text = (ROOT / "ta2_minmod_kg_spark" / "operators" / "dedup.py").read_text()
    code = [ln for ln in text.splitlines() if not ln.strip().startswith("#")]
    for fn in ("merge_group", "select_inventories_group"):
        calls = [ln for ln in code if re.search(rf"(?<!def )\b{fn}\(", ln)]
        assert len(calls) == 1, (fn, calls)
    assert not [ln for ln in code if "mapInPandas" in ln]


def test_one_staged_pass_kernel():
    """Both passes run ``arrowkit.staged_pass``: ``TaskContext``, which a
    kernel needs to name its files by task attempt, occurs in one package
    module, ``functions/arrowkit.py``."""
    package = ROOT / "ta2_minmod_kg_spark"
    users = sorted(
        str(p.relative_to(package))
        for p in package.rglob("*.py")
        if "TaskContext" in p.read_text()
    )
    assert users == ["functions/arrowkit.py"], users
