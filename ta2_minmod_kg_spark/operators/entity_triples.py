"""Entity-vocabulary triple emission (SURVEY §2.1 S2 → KG export side).

The reference emits every vocabulary record (commodity, unit, country,
state_or_province, deposit_type, commodity_form, crs, data_source,
category) as an RDF subject with labels/aliases to ``entities.ttl``
(`minmodkg/etl/kgrel_entity.py:105-126` via each kgrel entity's
``to_kg().to_triples()``; KG shapes in `minmodkg/models/kg/entities/*.py`
and `minmodkg/models/kg/data_source.py`).  Without these, a triple-store
user has no labels to join against.

The vocabulary stays on the driver: the reference itself holds it in
in-memory dicts, the document pass already ships it to its tasks as
dicts (``extract._vocab_dicts``), and at a few hundred rows any Spark
plan over it is pure fixed cost.  So emission is a Python loop over the
build's one collected snapshot (``sources.vocab.vocab_rows``), and the
result goes back to Spark as an Arrow ``LocalRelation``: building,
collecting or scanning it runs no Spark job.

The rows are the ones the earlier Spark column emitter produced, kept
byte for byte (tests/golden_entity_triples.json), less that emitter's
triples with a null subject: a vocabulary row without an id (a
``data_source`` without ``uri``, a ``crs`` or ``category`` without an id)
now emits nothing, where the Spark emitter wrote triples that the TTL
sink turned into lines with no subject.  Doubles render as the
session JVM's ``Double.toString`` (Spark's ``cast(double as string)``),
booleans follow Spark's casts, trims strip only U+0020.  Literal formats
follow rdflib N3 semantics (plain quoted xsd:string,
``"…"^^xsd:boolean`` / ``^^xsd:decimal`` otherwise), byte-checked against
the reference's executed ``to_triples`` in tests/test_entity_triples.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

MR_NS = "https://minmod.isi.edu/resource/"

ENTITY_TRIPLE_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("subj", "pred", "obj")]
)

_ESC = str.maketrans(
    {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}
)

# Spark's string -> boolean cast: trim bytes <= U+0020, then lower-case
_CAST_WS = "".join(map(chr, range(0x21)))
_TRUE = frozenset(("t", "true", "y", "yes", "1"))
_FALSE = frozenset(("f", "false", "n", "no", "0"))


def _lit(s: str | None) -> str | None:
    """Escape + quote a string as an N3 plain literal."""
    return None if s is None else '"' + s.translate(_ESC) + '"'


def _aliases(s: str | None) -> list[str] | None:
    """'|'-separated aliases → trimmed list; blank → empty list
    (ref kgrel_entity.py:160-166); null stays null."""
    if s is None:
        return None
    if s.strip(" ") == "":
        return []
    return [a.strip(" ") for a in s.split("|")]


def _bool_lit(v) -> str:
    """``"true"``/``"false"^^xsd:boolean`` by Spark's cast to boolean;
    null renders false.  A string Spark cannot cast raises, as the cast
    does under ANSI mode (Spark's default)."""
    if isinstance(v, str):
        t = v.strip(_CAST_WS).lower()
        if t not in _TRUE and t not in _FALSE:
            raise ValueError(f"cannot cast {v!r} to boolean")
        v = t in _TRUE
    return '"true"^^xsd:boolean' if v else '"false"^^xsd:boolean'


def _decimal_lit(v, dtoa) -> str | None:
    """``"…"^^xsd:decimal``; null and NaN emit nothing (the reference's
    ``Optional[float]`` emits no literal for an absent value).  ``dtoa``
    renders a double as Spark's ``cast(double as string)`` does."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return '"' + (dtoa(v) if isinstance(v, float) else str(v)) + '"^^xsd:decimal'


def _state_rows(snapshot: dict[str, list[dict]]) -> list[dict]:
    """State rows with ``country_id``: the CSV reader resolves it already;
    otherwise a left join on the country name (no match → null id, a
    duplicated name → duplicated rows)."""
    states = snapshot["state_or_province"]
    if not states or "country_id" in states[0]:
        return states
    ids: dict[str, list[str]] = {}
    for c in snapshot["country"]:
        if c["name"] is not None:
            ids.setdefault(c["name"], []).append(c["minmod_id"])
    return [
        {**s, "country_id": cid}
        for s in states
        for cid in ids.get(s["country_name"]) or [None]
    ]


def entity_triple_rows(snapshot: dict[str, list[dict]], dtoa) -> list[tuple]:
    """All nine vocabulary tables' ``(subj, pred, obj)`` N3 rows, matching
    the reference's ``to_kg().to_triples()`` per entity exactly."""
    out: list[tuple] = []

    def emit(subj, pairs, aliases=None) -> None:
        # a row without an id names no subject: a triple needs one
        if subj is None:
            return
        out.extend((subj, p, o) for p, o in pairs if o is not None)
        if aliases is not None:
            out.extend((subj, "mo:aliases", _lit(a)) for a in aliases)

    def mr(v):
        return None if v is None else "mr:" + v

    def mr_uri(v):
        return None if v is None else _lit(MR_NS + v)

    for r in snapshot["commodity"]:
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:Commodity"),
                ("mo:id", _lit(r["minmod_id"])),
                ("rdfs:label", _lit(r["name"])),
                ("mo:parent", _lit(r["parent"])),
                ("mo:is_critical", _bool_lit(r["is_critical_commodity"])),
            ],
            _aliases(r["aliases"]),
        )
    for r in snapshot["unit"]:
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:Unit"),
                ("mo:id", _lit(r["minmod_id"])),
                ("rdfs:label", _lit(r["name"])),
            ],
            _aliases(r["aliases"]),
        )
    for r in snapshot["country"]:
        # the reference's country reader appends iso3/iso2 to the alias
        # list (kgrel_entity.py:209-214); null aliases drop both
        aliases = _aliases(r["aliases"])
        if aliases is not None:
            iso = (r["iso3"], r["iso2"])
            aliases += [c.strip(" ") for c in iso if c is not None and c.strip(" ")]
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:Country"),
                ("mo:id", _lit(r["minmod_id"])),
                ("rdfs:label", _lit(r["name"])),
            ],
            aliases,
        )
    for r in _state_rows(snapshot):
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:StateOrProvince"),
                ("mo:id", _lit(r["minmod_id"])),
                ("rdfs:label", _lit(r["name"])),
                ("mo:country", _lit(r["country_id"])),
            ],
        )
    for r in snapshot["deposit_type"]:
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:DepositType"),
                ("mo:id", _lit(r["minmod_id"])),
                ("rdfs:label", _lit(r["deposit_type"])),
                ("mo:environment", _lit(r["deposit_environment"])),
                ("mo:group", _lit(r["deposit_group"])),
            ],
        )
    for r in snapshot["commodity_form"]:
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:CommodityForm"),
                ("rdfs:label", _lit(r["name"])),
                ("mo:formula", _lit(r["formula"])),
                # to_kg expands the commodity FK to its absolute IRI, emitted
                # as an xsd:string dataprop (kgrel/entities/commodity_form.py:50)
                ("mo:commodity", mr_uri(r["commodity_id"])),
                ("mo:conversion", _decimal_lit(r["conversion"], dtoa)),
            ],
        )
    for r in snapshot["crs"]:
        emit(
            mr(r["minmod_id"]),
            [
                ("rdf:type", "mo:CoordinateReferenceSystem"),
                # kg CRS carries its own absolute uri as a dataprop
                ("mo:uri", mr_uri(r["minmod_id"])),
                ("rdfs:label", _lit(r["name"])),
            ],
        )
    for r in snapshot["data_source"]:
        emit(
            # DataSource subject uses the no-rel namespace → absolute <uri>
            # (models/kg/data_source.py Subject key_ns=NS_MR_NO_REL)
            None if r["uri"] is None else f"<{r['uri']}>",
            [
                ("rdf:type", "mo:DataSource"),
                ("rdfs:label", _lit(r["name"])),
                ("mo:type", _lit(r["type"])),
                ("mo:created_by", _lit(r["created_by"])),
                ("mo:description", _lit(r["description"])),
                ("mo:score", _decimal_lit(r["score"], dtoa)),
                ("mo:connection", _lit(r["connection"])),
            ],
        )
    for r in snapshot["category"]:
        emit(
            mr(r["id"]),
            [
                ("rdf:type", "mo:Category"),
                ("mo:id", _lit(r["id"])),
                ("rdfs:label", _lit(r["label"])),
            ],
        )
    return out


def entity_triples(
    vocab: dict[str, DataFrame], snapshot: dict[str, list[dict]] | None = None
) -> DataFrame:
    """The vocabulary's entity triples as a ``LocalRelation`` frame.
    ``snapshot`` is ``vocab_rows(vocab)`` when the caller already holds
    it (``KGPipeline.run`` does); otherwise it is collected here."""
    import pyarrow as pa

    from ..sources.vocab import vocab_rows

    spark = next(iter(vocab.values())).sparkSession
    if snapshot is None:
        snapshot = vocab_rows(vocab)
    rows = entity_triple_rows(snapshot, spark._jvm.java.lang.Double.toString)
    table = pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(ENTITY_TRIPLE_SCHEMA.names)},
        schema=pa.schema([(c, pa.string()) for c in ENTITY_TRIPLE_SCHEMA.names]),
    )
    return spark.createDataFrame(table, schema=ENTITY_TRIPLE_SCHEMA)
