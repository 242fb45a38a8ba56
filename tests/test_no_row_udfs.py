"""CI guard: no per-row Python UDFs and no object-attribute side channels.

Only Arrow-vectorized forms are allowed: pandas_udf / applyInPandas /
mapInPandas / mapInArrow.  This greps the package source for the per-row
constructs, and for private attributes set on or read from another object
(``df._marker = ...`` / ``getattr(df, "_marker")``): an operator whose
behavior depends on such a marker has a fast path that a plain
``select`` silently turns off.  Operators take what they need as
arguments instead.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).parent.parent / "ta2_minmod_kg_spark"

FORBIDDEN = [
    re.compile(r"(?<!pandas_)\budf\s*\("),  # F.udf( / @udf(
    re.compile(r"spark\.udf\.register"),
    re.compile(r"\.rdd\b"),  # any RDD drop-down (flatMap/map live there)
    # Python-RDD-backed frames: every action re-reads them in Python tasks;
    # small constant tables go through a pyarrow.Table (a JVM LocalRelation)
    re.compile(r"\.parallelize\("),
    re.compile(r"createDataFrame\(\s*\["),
    # object-attribute side channels (a private attribute pinned to, or
    # read off, an object the code does not own)
    re.compile(r'getattr\([^)]*,\s*"_'),
    re.compile(r"^\s*(?!self\b)\w+\._\w+\s*=", re.M),
]


def test_no_per_row_python():
    offenders = []
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        for rx in FORBIDDEN:
            for m in rx.finditer(text):
                line = text[: m.start()].count("\n") + 1
                snippet = text.splitlines()[line - 1].strip()
                if snippet.startswith("#"):
                    continue
                offenders.append(f"{path}:{line}: {snippet}")
    assert not offenders, "\n".join(offenders)
