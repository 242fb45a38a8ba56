"""P6 constrained-type validation (ref `minmodkg/misc/deserializer.py`
+ `minmodkg/misc/utils.py:193-210` + `minmodkg/validators.py:330-339`).

The reference's schema-driven deserializer rejects a record when any field
violates its constrained type:

- ``CleanedNotEmptyStr`` — a str with ``len > 0`` and ``s.strip() == s``
  (utils.py:198-200);
- ``Confidence`` — an int/float in ``[0, 1]`` (utils.py:208-210), numeric
  strings NOT accepted;
- ``IRI`` — a str that parses as a URL with scheme + netloc and no spaces
  (utils.py:203-205, 261-267);
- ``int`` — int, int-string, or integral float (deserializer.py:59-70);
- ``float`` — int/float or float-parseable string (deserializer.py:92-100);
- required dataclass fields present, list fields actually lists, nested
  dicts actually dicts; unknown keys ignored (deserializer.py:344-372);
- ``modified_at`` present (validators.py:336-339).

This module re-implements that predicate tree over the raw JSON dict so
the engine quarantines exactly the records the reference rejects.  It is
oracle-tested by EXECUTING the reference's own
``get_dataclass_deserializer(MineralSite)`` via tests/refshim.py and
asserting accept/reject equality (tests/test_constrained.py).

Execution: ``site_record_error(path, content)`` is the whole
record-validity rule — the filename charset and STRUCTURAL rules
(parseable document, identity fields, exactly one site-level reference)
and then this tree, short-circuiting on the first error like the
reference's raise.  The document batch builder (``extract._doc_batches``)
calls it inside its single parse, and ``split_violations`` runs it through
one Arrow-batched UDF (``site_error_udf``), so a record is valid in
every output or in none.  No ``from_json`` field access is needed — each
access would be its own full-document lex (Catalyst prunes the parse
schema per ``GetStructField``; CSE never merges them).
"""

from __future__ import annotations

import functools
import json
import math
import re
from typing import Any, Optional
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def _is_cleaned(s: Any) -> bool:
    # equivalent to `s.strip() == s` without allocating the stripped
    # copy: strip() removes exactly the chars for which isspace() is
    # true, so a string equals its strip iff neither end char is
    # whitespace (r06; this predicate runs ~40x per record)
    return (
        isinstance(s, str)
        and len(s) > 0
        and not s[0].isspace()
        and not s[-1].isspace()
    )


def _confidence_err(v: Any) -> bool:
    # NonNegMax1FloatDeser: isinstance((int, float)) and 0 <= v <= 1.
    # (bool is an int subclass in Python; the reference accepts it — mirror.)
    return not (isinstance(v, (int, float)) and 0.0 <= v <= 1.0)


@functools.lru_cache(maxsize=16384)
def _is_url_str(s: str) -> bool:
    try:
        r = urlparse(s)
    except ValueError:
        # e.g. "http://[" raises 'Invalid IPv6 URL'; the reference's
        # deserializer raises the same error and its caller rejects the
        # record — here that means "not a URL".
        return False
    return len(r.scheme) > 0 and len(r.netloc) > 0


def _is_url(s: Any) -> bool:
    if not isinstance(s, str) or " " in s:
        return False
    # cached: normalized_uri values are a small vocabulary repertoire
    # repeated across millions of records; urlparse was ~30% of the
    # validation walk (r06; pure function, bounded cache)
    return _is_url_str(s)


def _int_err(v: Any) -> bool:
    if isinstance(v, bool):
        return False  # bool is int in Python; deserialize_int accepts
    if isinstance(v, int):
        return False
    if isinstance(v, str):
        try:
            int(v)
            return False
        except ValueError:
            return True
    if isinstance(v, float):
        # json.loads accepts NaN/Infinity literals; int(nan) raises
        # ValueError and int(inf) OverflowError — both mean "not an int".
        return not math.isfinite(v) or v != int(v)
    return True


def _float_err(v: Any) -> bool:
    if isinstance(v, (int, float)):
        return False
    if isinstance(v, str):
        try:
            float(v)
            return False
        except ValueError:
            return True
    return True


def _cleaned_opt(d: dict, key: str, path: str) -> Optional[str]:
    v = d.get(key)
    if v is not None and not _is_cleaned(v):
        return path
    return None


def _candidate_entity_err(v: Any, path: str) -> Optional[str]:
    if not isinstance(v, dict):
        return path
    if not _is_cleaned(v.get("source")):
        return f"{path}.source"
    if "confidence" not in v or _confidence_err(v["confidence"]):
        return f"{path}.confidence"
    on = v.get("observed_name")
    if on is not None and not _is_cleaned(on):
        return f"{path}.observed_name"
    nu = v.get("normalized_uri")
    if nu is not None and not _is_url(nu):
        return f"{path}.normalized_uri"
    return None


def _ce_list_err(
    d: Any, key: str, path: str
) -> Optional[str]:
    """Non-Optional list[CandidateEntity] field: MISSING is fine (default
    factory) but an explicitly-present None/non-list is rejected — the
    reference's deserializer runs the list deser on any present value
    (deserializer.py:360-366)."""
    if not isinstance(d, dict) or key not in d:
        return None
    v = d[key]
    if not isinstance(v, list):
        return path
    for i, item in enumerate(v):
        e = _candidate_entity_err(item, f"{path}[{i}]")
        if e:
            return e
    return None


def _measure_err(v: Any, path: str) -> Optional[str]:
    if v is None:
        return None
    if not isinstance(v, dict):
        return path
    mv = v.get("value")
    if mv is not None and _float_err(mv):
        return f"{path}.value"
    unit = v.get("unit")
    if unit is not None:
        return _candidate_entity_err(unit, f"{path}.unit")
    return None


def _document_err(v: Any, path: str) -> Optional[str]:
    if not isinstance(v, dict):
        return path
    if v.get("doi") is not None and not _is_cleaned(v["doi"]):
        return f"{path}.doi"
    if v.get("uri") is not None and not _is_url(v["uri"]):
        return f"{path}.uri"
    if v.get("title") is not None and not _is_cleaned(v["title"]):
        return f"{path}.title"
    return None


def _bbox_err(v: Any, path: str) -> Optional[str]:
    if not isinstance(v, dict):
        return path
    for k in ("x_max", "x_min", "y_max", "y_min"):
        if k not in v or _float_err(v[k]):
            return f"{path}.{k}"
    return None


def _page_info_err(v: Any, path: str) -> Optional[str]:
    if not isinstance(v, dict):
        return path
    if "page" not in v or _int_err(v["page"]):
        return f"{path}.page"
    bb = v.get("bounding_box")
    if bb is not None:
        return _bbox_err(bb, f"{path}.bounding_box")
    return None


def _reference_err(v: Any, path: str) -> Optional[str]:
    if not isinstance(v, dict):
        return path
    if "document" not in v:
        return f"{path}.document"
    e = _document_err(v["document"], f"{path}.document")
    if e:
        return e
    if "page_info" in v:
        pis = v["page_info"]
        if not isinstance(pis, list):  # includes explicit null
            return f"{path}.page_info"
        for i, pi in enumerate(pis):
            e = _page_info_err(pi, f"{path}.page_info[{i}]")
            if e:
                return e
    for k in ("comment", "property"):
        e = _cleaned_opt(v, k, f"{path}.{k}")
        if e:
            return e
    return None


def _rock_type_err(v: Any, path: str) -> Optional[str]:
    if v is None:
        return None
    if not isinstance(v, dict):
        return path
    for k in ("unit", "type"):
        e = _cleaned_opt(v, k, f"{path}.{k}")
        if e:
            return e
    return None


def _geology_err(v: Any, path: str) -> Optional[str]:
    if v is None:
        return None
    if not isinstance(v, dict):
        return path
    for k in (
        "alteration",
        "concentration_process",
        "ore_control",
        "structure",
        "tectonic",
    ):
        e = _cleaned_opt(v, k, f"{path}.{k}")
        if e:
            return e
    for k in ("host_rock", "associated_rock"):
        e = _rock_type_err(v.get(k), f"{path}.{k}")
        if e:
            return e
    return None


def _location_err(v: Any, path: str) -> Optional[str]:
    if v is None:
        return None
    if not isinstance(v, dict):
        return path
    for k in ("country", "state_or_province"):
        e = _ce_list_err(v, k, f"{path}.{k}")
        if e:
            return e
    crs = v.get("crs")
    if crs is not None:
        e = _candidate_entity_err(crs, f"{path}.crs")
        if e:
            return e
    return _cleaned_opt(v, "location", f"{path}.location")


def _inventory_err(v: Any, path: str) -> Optional[str]:
    if not isinstance(v, dict):
        return path
    if "commodity" not in v:
        return f"{path}.commodity"
    e = _candidate_entity_err(v["commodity"], f"{path}.commodity")
    if e:
        return e
    if "reference" not in v:
        return f"{path}.reference"
    e = _reference_err(v["reference"], f"{path}.reference")
    if e:
        return e
    e = _cleaned_opt(v, "date", f"{path}.date")
    if e:
        return e
    e = _cleaned_opt(v, "zone", f"{path}.zone")
    if e:
        return e
    e = _ce_list_err(v, "category", f"{path}.category")
    if e:
        return e
    for k in ("grade", "cutoff_grade", "ore"):
        e = _measure_err(v.get(k), f"{path}.{k}")
        if e:
            return e
    mf = v.get("material_form")
    if mf is not None:
        return _candidate_entity_err(mf, f"{path}.material_form")
    return None


def constrained_type_error(d: Any) -> Optional[str]:
    """First constrained-type violation in a raw site dict, or None.

    Mirrors ``get_dataclass_deserializer(minmodkg.models.kg.mineral_site.
    MineralSite)`` + the ``modified_at``-presence check
    (validators.py:336-339); the site-level reference-count rule
    (== 1, validators.py:52-54) is checked by ``site_record_error``.
    """
    if not isinstance(d, dict):
        return "$"
    for k in ("source_id", "record_id", "created_by"):
        if k not in d or not _is_cleaned(d[k]):
            return k
    if "modified_at" not in d or not isinstance(d["modified_at"], str):
        return "modified_at"
    for k in ("name", "site_rank", "site_type"):
        e = _cleaned_opt(d, k, k)
        if e:
            return e
    for k in ("aliases", "mineral_form"):
        if k in d:
            v = d[k]
            if not isinstance(v, list):  # includes explicit null
                return k
            for i, s in enumerate(v):
                if not _is_cleaned(s):
                    return f"{k}[{i}]"
    if d.get("discovered_year") is not None and _int_err(d["discovered_year"]):
        return "discovered_year"
    e = _geology_err(d.get("geology_info"), "geology_info")
    if e:
        return e
    e = _location_err(d.get("location_info"), "location_info")
    if e:
        return e
    e = _ce_list_err(d, "deposit_type_candidate", "deposit_type_candidate")
    if e:
        return e
    if "mineral_inventory" in d:
        invs = d["mineral_inventory"]
        if not isinstance(invs, list):  # includes explicit null
            return "mineral_inventory"
        for i, inv in enumerate(invs):
            e = _inventory_err(inv, f"mineral_inventory[{i}]")
            if e:
                return e
    if "reference" in d:
        refs = d["reference"]
        if not isinstance(refs, list):  # includes explicit null
            return "reference"
        for i, r in enumerate(refs):
            e = _reference_err(r, f"reference[{i}]")
            if e:
                return e
    return None


_FILENAME_RE = re.compile(r"[a-zA-Z0-9_\-,./]+")


def path_ok(path: Optional[str]) -> bool:
    """The filename charset rule on the ingest ``path``; a NULL path is
    accepted.  ``fullmatch``, not an anchored ``match``: both Java's and
    Python's ``$`` also match before a trailing line terminator, which
    would let ``"a.json\\n"`` (or, in Java, ``"a.json\\r"``) through."""
    return path is None or _FILENAME_RE.fullmatch(path) is not None


def site_record_error(
    path: Optional[str], content: Optional[str]
) -> tuple[Optional[str], Optional[dict]]:
    """The record-validity rule, the one definition every consumer shares
    (the document batch builder ``extract._doc_batches``,
    ``split_violations``).

    Checked in order, first failure wins: the ``path`` charset rule and
    the structural rules (parseable document, identity fields present,
    exactly one site-level reference — validators.py:44-54), both
    labelled 'structural'; then the constrained-type tree, labelled with
    the failing field path.

    Returns ``(reason, parsed_dict)``: ``reason`` is None for a valid
    record, and callers that go on to consume it reuse ``parsed_dict``
    instead of running ``json.loads`` a second time.  ``parsed_dict`` is
    None whenever the document was not parsed into a dict."""
    if not path_ok(path) or content is None:
        return "structural", None
    try:
        d = json.loads(content)
    except Exception:
        return "structural", None
    if not isinstance(d, dict):
        return "structural", None
    if (
        d.get("source_id") is None
        or d.get("record_id") is None
        or d.get("created_by") is None
    ):
        return "structural", d
    refs = d.get("reference")
    if not isinstance(refs, list) or len(refs) != 1:
        return "structural", d
    try:
        return constrained_type_error(d), d
    except Exception:
        return "$", d  # quarantine contract: reject the ONE record, not the job


@pandas_udf(StringType())
def site_error_udf(path: pd.Series, content: pd.Series) -> pd.Series:
    """``site_record_error``'s reason per row, one ``json.loads`` each."""
    return pd.Series(
        [site_record_error(p, c)[0] for p, c in zip(path, content)],
        dtype="object",
    )
