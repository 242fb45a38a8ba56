"""K2: the reference's merged ``dedup_sites.json`` layout.

``prep_kgrel_input`` (`minmodkg/etl/mineral_site.py:302-365`) writes one
JSON document with four sections — ``DedupMineralSite`` / ``MineralSite`` /
``MineralInventoryView`` / ``DedupMineralInventoryView`` — whose row shapes
are the kgrel models' ``to_dict`` layouts
(`models/kgrel/dedup_mineral_site.py:385-419`, `mineral_site.py:246-293`,
`views/mineral_inventory_view.py:31-41,91-103`,
`custom_types/{ref_value,site_and_score,location}.py`).  Downstream loaders
consume exactly this file.

``dedup_sites_json`` formats it on the driver: the four tables it reads
(``dedup_sites``, ``sites_rel``, ``inv_views``, ``dedup_inventories``)
are collected once each through Arrow, which runs one scan job per table
and no Python worker, and the shapers below run over their rows.  The
sections' per-site lookups are dicts, not Spark joins: the document is
assembled on the driver anyway, so a Spark frame per section would only
add a Python stage and shuffles in front of the same collect.  The
pipeline's parquet tables stay the scalable relational output (K1).
"""

from __future__ import annotations

import json
import math
from operator import itemgetter
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rdf import format_nanoseconds
from ..operators.dedup import DEFAULT_SOURCE_SCORE, SYSTEM_PREFIX

# -- makedict equivalents (ref misc/utils.py makedict) -------------------------


def _lst(v) -> list:
    """Arrow hands array fields to pandas as numpy arrays — `v or []` is
    ambiguous there; always convert explicitly."""
    return [] if v is None else list(v)


def _clean(v):
    import numpy as np

    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _wn(pairs) -> dict:
    return {k: _clean(v) for k, v in pairs if _clean(v) is not None}


def _wnel(pairs) -> dict:
    out = {}
    for k, v in pairs:
        v = _clean(v)
        if v is None or (isinstance(v, list) and len(v) == 0):
            continue
        out[k] = v
    return out


# -- kg-model shapers (CandidateEntity / Measure / Reference / Inventory) -----


def _cand(c: Optional[dict]):
    if c is None:
        return None
    return _wn(
        (
            ("source", c.get("source")),
            ("confidence", c.get("confidence")),
            ("observed_name", c.get("observed_name")),
            ("normalized_uri", c.get("normalized_uri")),
        )
    )


def _measure(m: Optional[dict]):
    if m is None:
        return None
    return _wn((("value", m.get("value")), ("unit", _cand(m.get("unit")))))


def _page_info(pi: dict):
    bb = pi.get("bounding_box")
    return _wn(
        (
            ("page", pi.get("page")),
            (
                "bounding_box",
                (
                    {
                        "x_max": bb.get("x_max"),
                        "x_min": bb.get("x_min"),
                        "y_max": bb.get("y_max"),
                        "y_min": bb.get("y_min"),
                    }
                    if bb is not None
                    else None
                ),
            ),
        )
    )


def _reference(r: Optional[dict]):
    if r is None:
        return None
    doc = r.get("document") or {}
    return _wnel(
        (
            (
                "document",
                _wn(
                    (
                        ("doi", doc.get("doi")),
                        ("uri", doc.get("uri")),
                        ("title", doc.get("title")),
                    )
                ),
            ),
            ("page_info", [_page_info(p) for p in _lst(r.get("page_info"))]),
            ("comment", r.get("comment")),
            ("property", r.get("property")),
        )
    )


def _inventory(inv: dict):
    return _wnel(
        (
            ("reference", _reference(inv.get("reference"))),
            ("commodity", _cand(inv.get("commodity"))),
            ("category", [_cand(c) for c in _lst(inv.get("category"))]),
            ("grade", _measure(inv.get("grade"))),
            ("material_form", _cand(inv.get("material_form"))),
            ("ore", _measure(inv.get("ore"))),
            ("cutoff_grade", _measure(inv.get("cutoff_grade"))),
            ("date", inv.get("date")),
            ("zone", inv.get("zone")),
        )
    )


# -- kgrel MineralSite row shaper ----------------------------------------------


def _site_score(row: dict) -> dict:
    """SiteScore.to_dict (`custom_types/site_and_score.py:32-36,79-92`)."""
    is_expert = not row["created_by"].startswith(SYSTEM_PREFIX)
    if is_expert:
        return {"score": 1.0, "suborder": [True, row["modified_at"]]}
    # a null double reaches here as NaN from a pandas column
    score = _clean(row.get("source_score"))
    if score is None or score < 0:
        score = DEFAULT_SOURCE_SCORE
    return {
        "score": min(score, 0.99),
        "suborder": [False, row["source_id"], row["record_id"], row["modified_at"]],
    }


def ms_to_dict(row: dict) -> dict:
    """kgrel MineralSite.to_dict (`models/kgrel/mineral_site.py:246-293`)."""
    location = _wnel(
        (
            ("country", [_cand(c) for c in _lst(row.get("country_candidates"))]),
            (
                "state_or_province",
                [_cand(c) for c in _lst(row.get("state_candidates"))],
            ),
            ("crs", _cand(row.get("location_crs"))),
            ("coordinates", row.get("location_wkt")),
        )
    )
    location_view = _wnel(
        (
            ("lat", row.get("lat")),
            ("lon", row.get("lon")),
            ("country", [str(x) for x in _lst(row.get("country"))]),
            ("state_or_province", [str(x) for x in _lst(row.get("state_or_province"))]),
        )
    )
    geo = row.get("geology_info")
    # pandas holds a nullable int column as float64; the model's field is int
    dy = _clean(row.get("discovered_year"))
    return _wnel(
        (
            ("site_id", row["site_id"]),
            ("dedup_site_id", row.get("dedup_site_id")),
            ("source_id", row["source_id"]),
            ("source_score", row.get("source_score")),
            ("record_id", row["record_id"]),
            ("name", row.get("name")),
            ("aliases", [str(x) for x in _lst(row.get("aliases"))]),
            ("rank", row.get("rank")),
            ("type", row.get("type")),
            ("location", location or None),
            ("location_view", location_view or None),
            (
                "deposit_type_candidates",
                [_cand(c) for c in _lst(row.get("deposit_type_candidates"))],
            ),
            ("inventories", [_inventory(i) for i in _lst(row.get("inventories"))]),
            ("reference", [_reference(r) for r in _lst(row.get("reference"))]),
            (
                "geology_info",
                (
                    _wn(
                        (
                            ("alteration", geo.get("alteration")),
                            (
                                "concentration_process",
                                geo.get("concentration_process"),
                            ),
                            ("ore_control", geo.get("ore_control")),
                            (
                                "host_rock",
                                _wn(
                                    (
                                        ("unit", (geo.get("host_rock") or {}).get("unit")),
                                        ("type", (geo.get("host_rock") or {}).get("type")),
                                    )
                                )
                                or None,
                            ),
                            (
                                "associated_rock",
                                _wn(
                                    (
                                        (
                                            "unit",
                                            (geo.get("associated_rock") or {}).get("unit"),
                                        ),
                                        (
                                            "type",
                                            (geo.get("associated_rock") or {}).get("type"),
                                        ),
                                    )
                                )
                                or None,
                            ),
                            ("structure", geo.get("structure")),
                            ("tectonic", geo.get("tectonic")),
                        )
                    )
                    if geo is not None
                    else None
                ),
            ),
            ("mineral_form", [str(x) for x in _lst(row.get("mineral_form"))]),
            ("discovered_year", None if dy is None else int(dy)),
            ("created_by", row["created_by"]),
            ("modified_at", row["modified_at"]),
        )
    )


# -- DedupMineralSite row shaper -------------------------------------------------


def _refval(v: Optional[dict]):
    return (
        {"value": _clean(v.get("value")), "refid": v["refid"]}
        if v is not None
        else None
    )


def _ref_geology(geojson: Optional[str]) -> dict:
    """RefGeologyInfo.to_dict — all seven keys, None when absent."""
    g = json.loads(geojson) if geojson else {}

    def rock(r):
        if r is None:
            return None
        return {
            "unit": _refval(r.get("unit")),
            "type": _refval(r.get("type")),
        }

    return {
        "alteration": _refval(g.get("alteration")),
        "concentration_process": _refval(g.get("concentration_process")),
        "ore_control": _refval(g.get("ore_control")),
        "host_rock": rock(g.get("host_rock")),
        "associated_rock": rock(g.get("associated_rock")),
        "structure": _refval(g.get("structure")),
        "tectonic": _refval(g.get("tectonic")),
    }


def dedup_to_dict(row: dict, ranked_meta: list[dict]) -> dict:
    """kgrel DedupMineralSite.to_dict (`dedup_mineral_site.py:385-419`).

    ``ranked_meta``: per ranked site (in rank order) the score-metadata
    fields (created_by, source_id, record_id, modified_at, source_score).
    """
    coords = row.get("coordinates")
    dy = row.get("discovered_year")
    return _wnel(
        (
            ("id", row["dedup_site_id"]),
            ("name", _refval(row.get("name"))),
            ("type", _refval(row.get("type"))),
            ("rank", _refval(row.get("rank"))),
            (
                "deposit_types",
                [
                    {
                        "value": {
                            "id": dt["id"],
                            "source": dt["source"],
                            "confidence": _clean(dt["confidence"]),
                        },
                        "refid": dt["refid"],
                    }
                    for dt in _lst(row.get("ranked_deposit_types"))
                ],
            ),
            (
                "coordinates",
                (
                    {
                        "value": _wn(
                            (("lat", coords.get("lat")), ("lon", coords.get("lon")))
                        ),
                        "refid": coords["refid"],
                    }
                    if coords is not None
                    else None
                ),
            ),
            ("country", _refval_list(row.get("country"))),
            ("state_or_province", _refval_list(row.get("state_or_province"))),
            ("mineral_form", _refval_list(row.get("mineral_form"))),
            ("geology_info", _ref_geology(row.get("geology_info"))),
            (
                "discovered_year",
                {"value": int(dy["value"]), "refid": dy["refid"]} if dy else None,
            ),
            (
                "ranked_sites",
                [
                    {"site_id": m["site_id"], "score": _site_score(m)}
                    for m in ranked_meta
                ],
            ),
            ("modified_at", row["modified_at"]),
        )
    )


def _refval_list(v: Optional[dict]):
    if v is None:
        return None
    return {"value": [str(x) for x in _lst(v.get("value"))], "refid": v["refid"]}


# -- the merged document, formatted on the driver ------------------------------


SECTIONS = (
    "DedupMineralSite",
    "MineralSite",
    "MineralInventoryView",
    "DedupMineralInventoryView",
)


_INV_KEYS = ("commodity", "contained_metal", "tonnage", "grade", "date")


def _records(df: DataFrame) -> list[dict]:
    """One Arrow collect (a single scan job, no Python worker)."""
    return df.toPandas().to_dict("records")


def dedup_sites_json(out: dict[str, DataFrame]) -> dict:
    """The reference's single merged document from ``KGPipeline.run``'s
    ``dedup_sites``, ``sites_rel``, ``inv_views`` and ``dedup_inventories``.

    Each table is collected once; the per-site lookups the sections need
    (a ranked site's score metadata, a site's inventory views, a site's
    dedup group, taken from the DedupMineralSite rows' ``ranked_sites``)
    are dicts.  Rows come in a fixed order: DedupMineralSite by ``id``,
    MineralSite and MineralInventoryView by site, DedupMineralInventoryView
    by (dedup site, commodity); a site's ``invs`` keep ``inv_views``' row
    order, its document's commodity order."""
    sites = sorted(_records(out["sites_rel"]), key=itemgetter("site_id"))
    by_site = {r["site_id"]: r for r in sites}
    invs: dict[str, list[dict]] = {}
    for r in _records(out["inv_views"]):
        invs.setdefault(r["site_id"], []).append(_wn((k, r[k]) for k in _INV_KEYS))

    dedup_rows, group = [], {}
    for d in sorted(_records(out["dedup_sites"]), key=itemgetter("dedup_site_id")):
        # a ranked site missing from sites_rel has no metadata and is left
        # out, as an inner join would
        ranked = [
            by_site[s["site_id"]]
            for s in _lst(d["ranked_sites"])
            if s["site_id"] in by_site
        ]
        for m in ranked:
            group[m["site_id"]] = d["dedup_site_id"]
        dedup_rows.append(dedup_to_dict(d, ranked))

    dedup_invs = sorted(
        _records(out["dedup_inventories"]),
        key=itemgetter("dedup_site_id", "commodity"),
    )
    return {
        "DedupMineralSite": dedup_rows,
        "MineralSite": [
            ms_to_dict({**r, "dedup_site_id": group.get(r["site_id"])}) for r in sites
        ],
        # one entry per SITE: the reference iterates id2site, so a site
        # without any normalized-commodity inventory has empty invs
        "MineralInventoryView": [
            {"invs": invs.get(r["site_id"], []), "site": r["site_id"]} for r in sites
        ],
        "DedupMineralInventoryView": [
            _wn((k, r[k]) for k in (*_INV_KEYS, "site_id", "dedup_site_id"))
            for r in dedup_invs
        ],
    }


def dump_dedup_sites_json(doc: dict, path: str) -> None:
    """Write a merged document: its sections in ``SECTIONS`` order, each
    row with sorted keys.  A ``.lz4`` path writes the reference's
    compressed layout (`etl/mineral_site.py:30,357-365`) via
    functions/lz4frame.py — the real lz4 package when importable, else a
    spec-conformant stored-block frame (documented there)."""
    text = (
        "{"
        + ", ".join(
            f"{json.dumps(name)}: {json.dumps(doc[name], sort_keys=True)}"
            for name in SECTIONS
        )
        + "}"
    )
    if path.endswith(".lz4"):
        from ..functions.lz4frame import compress

        with open(path, "wb") as f:
            f.write(compress(text.encode("utf-8")))
    else:
        with open(path, "w") as f:
            f.write(text)


def write_dedup_sites_json(out: dict[str, DataFrame], path: str) -> None:
    """K2: the merged document of ``out`` written to ``path``."""
    dump_dedup_sites_json(dedup_sites_json(out), path)


def read_dedup_sites_json(path: str) -> dict:
    """Read back both layouts (plain and .lz4)."""
    if path.endswith(".lz4"):
        from ..functions.lz4frame import decompress

        return json.loads(decompress(open(path, "rb").read()).decode("utf-8"))
    return json.load(open(path))


# -- CDR export projection (VERDICT r03 #6) -----------------------------------
#
# The reference ships a CriticalMAAS CDR sync whose record reshaping
# (`minmodkg/integrations/cdr/cdr.py:120-223` format_dedup_site, schemas in
# `cdr_schemas.py` DedupSite/DedupSiteRecord/DepositTypeCandidate) turns one
# DedupMineralSitePublic into one CDR DedupSite record PER grade-tonnage
# commodity.  The HTTP push is out of scope (like K4); the projection is the
# export view implemented here — parity vs the reference's EXECUTED
# formatter asserted in tests/test_export.py.

CDR_SYSTEM = "minmod"  # cdr_helper.py:25 default
CDR_SYSTEM_VERSION = "2.0.0a"


def _strip_none(v):
    """Recursive None-removal — the shape of pydantic's
    ``model_dump_json(exclude_none=True)``, which excludes None fields at
    EVERY nesting level (e.g. a None deposit_type_candidate confidence is
    omitted, not serialized as ``null``)."""
    if isinstance(v, dict):
        return {k: _strip_none(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_strip_none(x) for x in v]
    return v


def _cdr_site_records(rid: str, dedup_id: str, row: dict) -> list[dict]:
    recs = [
        {
            "id": f"{rid}___{dedup_id}___{m['site_id']}",
            "mineral_site_id": m["site_id"],
            "name": "",
            "country": "",
            "province": "",
            "site_rank": "",
            "site_type": "",
        }
        for m in _lst(row.get("ranked_sites"))
    ]
    return recs


def cdr_records_for_row(
    row: dict,
    gts: list[dict],
    commodity_id2name: dict,
    country_id2name: dict,
    province_id2name: dict,
) -> list[dict]:
    """format_dedup_site for one merged dedup row + its selected
    inventories; returns the list of CDR DedupSite dicts (the shape of
    ``model_dump_json(exclude_none=True)``)."""
    dedup_id = row["dedup_site_id"]
    name = (row.get("name") or {}).get("value") or ""
    site_type = (row.get("type") or {}).get("value") or "NotSpecified"
    site_rank = (row.get("rank") or {}).get("value") or "U"
    coords = row.get("coordinates")
    lat = coords.get("lat") if coords else None
    lon = coords.get("lon") if coords else None
    country_ids = [str(x) for x in _lst((row.get("country") or {}).get("value"))]
    province_ids = [
        str(x) for x in _lst((row.get("state_or_province") or {}).get("value"))
    ]
    # DedupMineralSitePublic.location is None iff everything is empty
    # (public_dedup_mineral_site.py:133-141); format_dedup_site gates the
    # centroid and country/province strings on it
    loc_present = (
        lat is not None or lon is not None or country_ids or province_ids
    )

    centroid = ""
    if loc_present and lat is not None and lon is not None:
        centroid = f"POINT ({lon} {lat})"  # Python repr floats, like the ref

    dt_cands = [
        {
            "observed_name": "",
            "deposit_type_id": dt["id"],
            "confidence": _clean(dt["confidence"]),
            "source": dt["source"],
        }
        for dt in _lst(row.get("ranked_deposit_types"))
    ]
    modified_at = format_nanoseconds(int(row["modified_at"]))

    # commodity must be unique per record (cdr.py:184-187 assert)
    assert len({gt["commodity"] for gt in gts}) == len(gts), dedup_id

    out = []
    for gt in gts:
        rid = f"{dedup_id}?commodity={gt['commodity']}"
        sites = _cdr_site_records(rid, dedup_id, row)
        if sites:
            sites[0]["name"] = name
            sites[0]["site_type"] = site_type
            sites[0]["site_rank"] = site_rank
            if loc_present:
                if country_ids:
                    sites[0]["country"] = ", ".join(
                        country_id2name[c] for c in country_ids
                    )
                if province_ids:
                    sites[0]["province"] = ", ".join(
                        province_id2name[p] for p in province_ids
                    )
        rec = {
            "id": rid,
            "sites": sites,
            "commodity": commodity_id2name[gt["commodity"]],
            "contained_metal": _clean(gt.get("contained_metal")),
            "contained_metal_units": "million tonnes",
            "tonnage": _clean(gt.get("tonnage")),
            "tonnage_units": "million tonnes",
            "grade": _clean(gt.get("grade")),
            "grade_units": "percent",
            "crs": "EPSG:4326",
            "centroid": centroid,
            "geom": centroid,
            "deposit_type_candidate": dt_cands,
            "system": CDR_SYSTEM,
            "system_version": CDR_SYSTEM_VERSION,
            "data_snapshot": "",
            "data_snapshot_date": modified_at,
        }
        out.append(_strip_none(rec))
    return out


def cdr_export_json_rows(
    dedup_attrs: DataFrame,
    dedup_invs: DataFrame,
    commodity_id2name: dict,
    country_id2name: dict,
    province_id2name: dict,
) -> DataFrame:
    """One JSON row per (dedup site, grade-tonnage commodity) — the CDR
    collection the reference uploads.  Pure map over the joined merged
    views (one shuffle for the inventory regroup); the id→name dims ride
    the task closure (broadcast-sized vocabularies)."""
    gts = dedup_invs.groupBy("dedup_site_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("commodity", "contained_metal", "tonnage", "grade", "date")
            )
        ).alias("_gts")
    )
    # inner join: sites with no selected inventory emit no CDR record
    # (format_dedup_site loops over grade_tonnage)
    full = dedup_attrs.join(gts, "dedup_site_id")

    from ..functions.arrowkit import chunked_kernel

    def per_chunk(pdf):
        ids, comms, docs = [], [], []
        for r in pdf.to_dict("records"):
            recs = cdr_records_for_row(
                r,
                [dict(g) for g in _lst(r.get("_gts"))],
                commodity_id2name,
                country_id2name,
                province_id2name,
            )
            for g, rec in zip(_lst(r.get("_gts")), recs):
                ids.append(r["dedup_site_id"])
                comms.append(g["commodity"])
                docs.append(json.dumps(rec, sort_keys=True))
        return pd.DataFrame(
            {"dedup_site_id": ids, "commodity": comms, "json": docs}
        )

    return full.mapInPandas(
        chunked_kernel(per_chunk, max_rows=1024),
        schema="dedup_site_id string, commodity string, json string",
    )
