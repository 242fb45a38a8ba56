"""Vocabulary-membership validation (SURVEY §2.2 P7).

The reference checks every CandidateEntity ``normalized_uri`` against its
vocabulary's URI set and raises on the first violation
(`minmodkg/validators.py:354-419` + ``ValidatorHelper.optional_uri``).
At pipeline scale a raise is the wrong shape — bad records are
quarantined and reported as ``(field, uri)`` rows instead of killing the
job.

Execution: the vocabularies are broadcast-dim sized, so they collapse to
driver-side ``field -> frozenset(uri)`` dicts (``allowed_uri_sets``) that
ship in the task closure, and ``record_vocab_violations`` walks one
already-parsed record with set lookups.  The walk runs inside the
document batch builder (``extract._doc_batches``), on the same
``json.loads`` that validates and normalizes the record — no
``from_json`` lex, no anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.geo import supported_crs_names

MR_NS = "https://minmod.isi.edu/resource/"

# (field label used by the reference's error messages, vocab table, id col)
_FIELD_VOCAB = [
    ("location_info.country", "country", "minmod_id"),
    ("location_info.state_or_province", "state_or_province", "minmod_id"),
    ("location_info.crs", "crs", "minmod_id"),
    ("deposit_type_candidate", "deposit_type", "minmod_id"),
    ("mineral_inventory.commodity", "commodity", "minmod_id"),
    ("mineral_inventory.category", "category", "id"),
    ("mineral_inventory.grade", "unit", "minmod_id"),
    ("mineral_inventory.cutoff_grade", "unit", "minmod_id"),
    ("mineral_inventory.ore", "unit", "minmod_id"),
    ("mineral_inventory.material_form", "commodity_form", "minmod_id"),
]

# every CRS the inline reprojection handles (functions/geo.py) — the
# reference's crs.csv vocabulary is a strict subset
SUPPORTED_CRS = frozenset(supported_crs_names())

CRS_UNSUPPORTED = "location_info.crs.unsupported"


def allowed_uri_sets(vocab: dict[str, DataFrame]) -> dict[str, frozenset]:
    """field → every URI that field may reference, collected to the
    driver (each vocabulary table is a few dozen rows)."""
    ids: dict[tuple[str, str], frozenset] = {}
    out = {}
    for field, table, id_col in _FIELD_VOCAB:
        if (table, id_col) not in ids:
            ids[table, id_col] = frozenset(
                MR_NS + r[0]
                for r in vocab[table].select(id_col).collect()
                if r[0] is not None
            )
        out[field] = ids[table, id_col]
    return out


def record_vocab_violations(
    site: dict, allowed: dict[str, frozenset], crs_names: dict
) -> list[dict]:
    """The ``{field, uri}`` violation rows of one valid record.

    P7: every non-null ``normalized_uri`` outside its field's vocabulary,
    one row per mention (a URI repeated in a record is reported each
    time).  P3 guard: a record with a location whose CRS the engine
    cannot reproject also gets a ``location_info.crs.unsupported`` row —
    NOT a silent (lat, lon) = (null, null); the reference raises in
    misc/geo.py:84-96 where we quarantine instead.

    ``site`` has passed ``constrained.site_record_error``, so every
    candidate entity is a dict and every list field a list."""
    out: list[dict] = []

    def check(field: str, entity) -> None:
        if entity is not None:
            uri = entity.get("normalized_uri")
            if uri is not None and uri not in allowed[field]:
                out.append({"field": field, "uri": uri})

    loc = site.get("location_info") or {}
    for e in loc.get("country") or ():
        check("location_info.country", e)
    for e in loc.get("state_or_province") or ():
        check("location_info.state_or_province", e)
    crs = loc.get("crs")
    check("location_info.crs", crs)
    for e in site.get("deposit_type_candidate") or ():
        check("deposit_type_candidate", e)
    for inv in site.get("mineral_inventory") or ():
        check("mineral_inventory.commodity", inv.get("commodity"))
        for k in ("grade", "cutoff_grade", "ore"):
            m = inv.get(k)
            if m is not None:
                check("mineral_inventory." + k, m.get("unit"))
        check("mineral_inventory.material_form", inv.get("material_form"))
        for c in inv.get("category") or ():
            check("mineral_inventory.category", c)

    crs_uri = crs.get("normalized_uri") if crs is not None else None
    if (
        loc.get("location") is not None
        and crs_uri is not None
        and crs_names.get(crs_uri) not in SUPPORTED_CRS
    ):
        out.append({"field": CRS_UNSUPPORTED, "uri": crs_uri})
    return out
