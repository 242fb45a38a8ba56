"""Vocabularies behind the entity-triple goldens, and the golden writer.

``tests/golden_entity_triples.json`` holds the rows the Spark column
emitter of ``operators/entity_triples.py`` produced for three
vocabularies, before the emitter became the pure-Python one it is now.
That emitter trimmed aliases with ``F.transform(split, F.trim)``, which
passes each element's index as ``trim``'s second argument and so strips
the index's digits instead of spaces; the goldens were made with it
corrected to ``lambda x: F.trim(x)`` (strip U+0020 only), as recorded in
their provenance.  The vocabularies:

- ``synthetic``: ``sources.vocab.vocab_dataframes``;
- ``planted``: typed like ``VOCAB_SCHEMAS``, with the edge values the
  emission rules branch on: null, empty, blank, tab-only and ``a||b``
  aliases; null aliases beside ISO codes; ``"``, ``\\``, newline, CR and
  tab in labels; ``is_critical_commodity`` null/0/1/2/-1; a state with no
  matching country, one with two and one with a null country name;
  conversion and score values None, NaN, ±inf, 1e-4, 1e7, 2e23 and
  5e-324; rows without an id, which emit no triple (the Spark emitter
  gave them a null subject; those rows were removed from the goldens, as
  their provenance records);
- ``planted_csv``: the same rows shaped like ``read_vocab_csvs`` output:
  every column a string (``is_critical_commodity`` in Spark's
  string→boolean spellings), an ``alias_list`` column, the state's
  ``country_id`` already resolved, score and conversion cast to double.

Regenerate (only when the emission rules change on purpose, and then
restate the ``emitter`` note ``main`` writes into the provenance) with

    PYTHONPATH=. python tests/entity_golden_vocab.py
"""

from __future__ import annotations

import json
import os
import subprocess

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_entity_triples.json")

NAN = float("nan")
INF = float("inf")

_PLANTED = {
    "commodity": (
        "minmod_id string, name string, aliases string, parent string, "
        "is_critical_commodity bigint",
        [
            ("Q1", "Plain", None, None, None),
            ("Q2", 'Quote " and \\ back', "", "Q1", 0),
            ("Q3", "Line\nbreak\tTab\rCR", "   ", None, 1),
            ("Q4", "Double bar", "a||b", None, 2),
            ("Q5", "Padded", " x | y |", None, -1),
            ("Q6", None, " \t ", None, 0),
            ("Q7", "Bar only", "|", None, 1),
            ("Q8", "Escaped aliases", 'q"uo\\te|new\nline| nbsp ', None, None),
        ],
    ),
    "unit": (
        "minmod_id string, name string, aliases string",
        [
            ("U1", "no aliases", None),
            ("U2", "empty aliases", ""),
            ("U3", "double bar", "a||b"),
            ("U4", None, " t |tonne"),
        ],
    ),
    "country": (
        "minmod_id string, name string, aliases string, iso3 string, iso2 string",
        [
            ("C1", "Alpha", None, "ALP", "AL"),
            ("C2", "Beta", "", " BET ", None),
            ("C3", "Gamma", "g1|g2", "", "  "),
            ("C4", "Gamma", "gg", "GMA", "\tGM"),
            ("C5", None, "x", None, None),
            ("C6", "Delta", "   ", "DLT", ""),
        ],
    ),
    "state_or_province": (
        "minmod_id string, name string, country_name string",
        [
            ("S1", "North", "Alpha"),
            ("S2", "Nowhere", "Atlantis"),
            ("S3", "Twice", "Gamma"),
            ("S4", "No country", None),
            ("S5", None, "Beta"),
        ],
    ),
    "deposit_type": (
        "minmod_id string, deposit_type string, deposit_environment string, "
        "deposit_group string",
        [
            ("D1", "Plain type", None, None),
            ("D2", 'Tab\there "q"', "env\\x", ""),
        ],
    ),
    "commodity_form": (
        "minmod_id string, name string, formula string, commodity_id string, "
        "conversion double",
        [
            ("F1", "none", "X", "Q1", None),
            ("F2", "nan", None, "Q1", NAN),
            ("F3", "inf", "X2", None, INF),
            ("F4", "ninf", "X3", "Q2", -INF),
            ("F5", "small", "X4", "Q2", 1e-4),
            ("F6", "big", "X5", "Q3", 1e7),
            ("F7", "huge", "X6", "Q3", 2e23),
            ("F8", "denormal", "X7", "Q4", 5e-324),
            ("F9", "half", "X8", "Q4", 0.5),
            ("F10", "zero", "X9", "Q4", -0.0),
        ],
    ),
    "crs": (
        "minmod_id string, name string",
        [("R1", "EPSG:4326"), ("R2", None), (None, "no id")],
    ),
    "data_source": (
        "uri string, name string, type string, created_by string, "
        "description string, score double, connection string",
        [
            ("https://ex.org/none", "none", "db", "u", "", None, None),
            ("https://ex.org/nan", "nan", "db", "u", "d", NAN, "c"),
            ("https://ex.org/inf", "inf", None, None, None, INF, None),
            ("https://ex.org/small", 'sm"all', "db", "u", "line\nbreak", 1e-4, ""),
            ("https://ex.org/big", "big", "db", "u", "d", 1e7, None),
            ("https://ex.org/huge", "huge", "db", "u", "d", 2e23, None),
            ("https://ex.org/denormal", "denormal", "db", "u", "d", 5e-324, None),
            (None, "no uri", "db", "u", "d", 0.75, None),
        ],
    ),
    "category": (
        "id string, label string",
        [("Inferred", "Inferred"), ("Odd", 'back\\slash "and" tab\t'), (None, "no id")],
    ),
}

# string spellings Spark's string→boolean cast accepts (surrounding
# control characters and spaces are trimmed first)
_CSV_CRITICAL = [None, "0", "1", "true", " Yes ", "\tf\n", "N", "t"]


def _csv_shaped() -> dict[str, tuple[str, list[tuple]]]:
    """``_PLANTED`` as ``read_vocab_csvs`` would return it."""
    out = {}
    for name, (ddl, rows) in _PLANTED.items():
        cols = [c.split()[0] for c in ddl.split(", ")]
        rows = [
            tuple(
                v if v is None or c in ("score", "conversion") else str(v)
                for c, v in zip(cols, r)
            )
            for r in rows
        ]
        types = ["double" if c in ("score", "conversion") else "string" for c in cols]
        if name == "commodity":
            rows = [r[:4] + (crit,) for r, crit in zip(rows, _CSV_CRITICAL)]
        if "aliases" in cols:
            i = cols.index("aliases")
            cols.append("alias_list")
            types.append("array<string>")
            rows = [r + (None if r[i] is None else r[i].split("|"),) for r in rows]
        if name == "state_or_province":
            # the reader's left join on the country name
            ids: dict[str, list[str]] = {}
            for c in _PLANTED["country"][1]:
                if c[1] is not None:  # a null key never joins
                    ids.setdefault(c[1], []).append(c[0])
            cols = ["country_name", "minmod_id", "name", "country_id"]
            types = ["string"] * 4
            rows = [
                (r[2], r[0], r[1], cid)
                for r in rows
                for cid in (ids.get(r[2]) or [None])
            ]
        ddl = ", ".join(f"{c} {t}" for c, t in zip(cols, types))
        out[name] = (ddl, rows)
    return out


def frames(spark, tables: dict[str, tuple[str, list[tuple]]]) -> dict:
    """``{name: (ddl, rows)}`` → LocalRelation frames, built like
    ``vocab_dataframes`` (Arrow keeps None a null and NaN a NaN)."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    out = {}
    for name, (ddl, rows) in tables.items():
        schema = StructType.fromDDL(ddl)
        table = pa.table(
            {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
        )
        out[name] = spark.createDataFrame(table, schema=schema)
    return out


def golden_vocabularies(spark) -> dict[str, dict]:
    from ta2_minmod_kg_spark.sources.vocab import vocab_dataframes

    return {
        "synthetic": vocab_dataframes(spark),
        "planted": frames(spark, _PLANTED),
        "planted_csv": frames(spark, _csv_shaped()),
    }


def sorted_rows(rows) -> list[list]:
    return sorted(([s, p, o] for s, p, o in rows), key=json.dumps)


def main() -> None:
    from ta2_minmod_kg_spark.operators.entity_triples import entity_triples
    from ta2_minmod_kg_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    out = {
        "provenance": {
            "commit": commit,
            "command": "PYTHONPATH=. python tests/entity_golden_vocab.py",
            "emitter": "operators/entity_triples.py entity_triples (Spark "
            "column expressions: concat/explode/union) at that commit, with "
            "_split_aliases trimming by lambda x: F.trim(x) in place of "
            "F.transform(..., F.trim), which trimmed each alias of its "
            "index's digits",
            "edit": "null-subject rows removed by hand afterwards (10 in each "
            "planted vocabulary, none in synthetic): a vocabulary row without "
            "an id emits no triple, since a triple without a subject is not "
            "RDF and the TTL sink wrote it as a line with no subject; every "
            "other row is the Spark emitter's",
        },
        "vocabularies": {
            name: sorted_rows(tuple(r) for r in entity_triples(v).collect())
            for name, v in golden_vocabularies(spark).items()
        },
    }
    with open(GOLDEN, "w") as f:
        json.dump(out, f, indent=1, ensure_ascii=False)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
