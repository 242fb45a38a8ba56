"""Grade-tonnage aggregation — the flagship non-SQL aggregate (SURVEY §2.4 A1/A2).

Per ``(site, commodity)`` the model:

1. groups inventories by ``date`` then ``zone``;
2. unit-converts ore→Mt and grade→percent (skipping unconvertible rows),
   applies the material-form conversion factor to the ore;
3. drops invalid category combinations — a category set must be a subset of
   the resource categories, a subset of the reserve categories, or a single
   "other" category (OriginalResource/Extracted/CumulativeExtracted) — and
   negative values;
4. per category-set keeps the best estimate ("best" = highest contained
   metal, later-wins on ties);
5. merges **disjoint** category sets by summing (pairwise closure loop);
6. zone aggregation: zone=NULL rows are the "site level" figure, named
   zones are summed, final = field-wise max(site level, Σ zones);
7. date aggregation: keep the most recent date (missing date sorts as
   "0000-00-00"), and back-fill ``cumulative_extracted`` from history
   (walk dates descending: first reported cumulative wins, otherwise sum
   the extracted figures);
8. ``total = max(max(resource, reserve) + cumulative_extracted, original)``;
   grade = contained_metal / tonnage × 100 (percent).

Clean-room reimplementation of
`/root/reference/minmodkg/grade_tonnage_model.py:225-459` (semantics only;
the inner algebra is a per-group closure that no SQL aggregate expresses).

Spark execution: ``grade_tonnage_view(sites_rel, vocab)`` runs this model
in one ``mapInPandas`` pass over sites_rel with no shuffle — every
inventory of a site sits in that site's one row, so the per-``(site_id,
commodity)`` grouping is done in the row.  The heavy key for skew is the
*dedup group*, handled in operators/dedup.py.
"""

from __future__ import annotations

import math
from typing import Iterable, Optional

import pandas as pd

from ..functions.arrowkit import chunked_kernel
from ..functions.units import (
    UNIT_MT,
    UNIT_PERCENT,
    UnconvertibleUnitError,
    unit_conversion,
)

MR = "https://minmod.isi.edu/resource/"

RESOURCE_CATS = frozenset({MR + c for c in ("Inferred", "Indicated", "Measured")})
RESERVE_CATS = frozenset({MR + c for c in ("Proven", "Probable")})
CAT_ORIGINAL = MR + "OriginalResource"
CAT_EXTRACTED = MR + "Extracted"
CAT_CUMULATIVE_EXTRACTED = MR + "CumulativeExtracted"
OTHER_CATS = frozenset({CAT_ORIGINAL, CAT_EXTRACTED, CAT_CUMULATIVE_EXTRACTED})

# estimate = (tonnage_mt, contained_metal_mt)
Est = tuple[float, float]


def _est_add(a: Est, b: Est) -> Est:
    return (a[0] + b[0], a[1] + b[1])


def _est_lt(a: Est, b: Est) -> bool:
    # order by contained metal, ties by tonnage (ref GradeTonnageEstimate.__lt__)
    if a[1] == b[1]:
        return a[0] < b[0]
    return a[1] < b[1]


def _est_max(a: Optional[Est], b: Optional[Est]) -> Optional[Est]:
    if a is None:
        return b
    if b is None:
        return a
    return b if _est_lt(a, b) else a


def _best_est(ests: Iterable[Est]) -> Optional[Est]:
    """'is_equal_or_better' selection: replace when contained_metal >= best
    (later entries win ties) — matches the reference's cmp_to_key(max) quirk
    (grade_tonnage_model.py:311-320)."""
    best = None
    for e in ests:
        if best is None or e[1] >= best[1]:
            best = e
    return best


_ATTRS = ("resource", "reserve", "original", "extracted", "cumulative_extracted")


def _zone_estimates(invs: list[dict]) -> Optional[dict]:
    """Steps 2-5 for the inventories of one (date, zone) cell."""
    cat2ests: dict[frozenset, list[Est]] = {}
    cat_order: list[frozenset] = []
    for inv in invs:
        try:
            ore = unit_conversion(inv["ore_value"], inv["ore_unit"], UNIT_MT)
            grade = unit_conversion(inv["grade_value"], inv["grade_unit"], UNIT_PERCENT)
        except UnconvertibleUnitError:
            continue  # broken data, skip
        if inv.get("material_form_conversion") is not None:
            ore *= inv["material_form_conversion"]

        cats = list(inv["category"])
        cat = frozenset(cats)
        if not (
            cat.issubset(RESOURCE_CATS)
            or cat.issubset(RESERVE_CATS)
            or (len(cats) == 1 and cats[0] in OTHER_CATS)
        ):
            continue  # erroneous category mix
        if ore < 0.0 or grade < 0.0:
            continue  # allow 0.0, drop negatives
        if cat not in cat2ests:
            cat2ests[cat] = []
            cat_order.append(cat)
        cat2ests[cat].append((ore, ore * grade / 100.0))

    if not cat2ests:
        return None

    cat_est: list[tuple[frozenset, Est]] = [
        (cat, _best_est(cat2ests[cat])) for cat in cat_order
    ]

    out: dict[str, Optional[Est]] = {a: None for a in _ATTRS}
    for attr, family in (("resource", RESOURCE_CATS), ("reserve", RESERVE_CATS)):
        ests = [(c, e) for c, e in cat_est if c.issubset(family)]
        # pairwise closure: sum estimates of disjoint category sets
        allcats = {c for c, _ in ests}
        while True:
            new_ests = []
            n = len(ests)
            for i in range(n):
                cat_i, est_i = ests[i]
                for j in range(i + 1, n):
                    if cat_i.isdisjoint(ests[j][0]):
                        newcat = cat_i | ests[j][0]
                        if newcat not in allcats:
                            new_ests.append((newcat, _est_add(est_i, ests[j][1])))
                            allcats.add(newcat)
            if not new_ests:
                break
            ests.extend(new_ests)
        if ests:
            out[attr] = _best_est(e for _, e in ests)

    other_est = [(c, e) for c, e in cat_est if c.issubset(OTHER_CATS)]
    for attr, catval in (
        ("original", CAT_ORIGINAL),
        ("extracted", CAT_EXTRACTED),
        ("cumulative_extracted", CAT_CUMULATIVE_EXTRACTED),
    ):
        out[attr] = _best_est(e for c, e in other_est if catval in c)
    return out


def _add_zone(a: dict, b: dict) -> dict:
    """Field-wise sum of two zone aggregates (original summed too —
    handle_original_estimate='add' in the zone path)."""
    out = {}
    for attr in _ATTRS:
        x, y = a.get(attr), b.get(attr)
        out[attr] = _est_add(x, y) if (x is not None and y is not None) else (x or y)
    return out


def _max_zone(a: dict, b: dict) -> dict:
    return {attr: _est_max(a.get(attr), b.get(attr)) for attr in _ATTRS}


def compute_grade_tonnage(invs: list[dict]) -> Optional[dict]:
    """The full model for one (site, commodity).

    ``invs``: dicts with keys ``date zone category material_form_conversion
    ore_value ore_unit grade_value grade_unit``.

    Returns ``{resource, reserve, original, extracted, cumulative_extracted:
    Est|None, date: str|None, total: Est|None}``.
    """
    # group by date (insertion order), then zone
    by_date: dict[Optional[str], list[dict]] = {}
    for inv in invs:
        by_date.setdefault(inv.get("date"), []).append(inv)

    per_date: list[tuple[Optional[str], dict]] = []
    for date, date_invs in by_date.items():
        by_zone: dict[Optional[object], list[dict]] = {}
        for inv in date_invs:
            by_zone.setdefault(inv.get("zone"), []).append(inv)

        site_level: Optional[dict] = None
        zone_sum: Optional[dict] = None
        any_data = False
        for zone, zinvs in by_zone.items():
            agg = _zone_estimates(zinvs)
            if agg is None:
                continue
            any_data = True
            if zone is None:
                site_level = agg
            else:
                zone_sum = agg if zone_sum is None else _add_zone(zone_sum, agg)
        if not any_data:
            continue
        if site_level is not None and zone_sum is not None:
            merged = _max_zone(site_level, zone_sum)
        else:
            merged = site_level if site_level is not None else zone_sum
        per_date.append((date, merged))

    if not per_date:
        return None

    # pick the most recent date (None sorts lowest; first-wins on ties)
    best_date, best = per_date[0]
    for date, agg in per_date[1:]:
        if (date or "0000-00-00") > (best_date or "0000-00-00"):
            best_date, best = date, agg

    # back-fill cumulative_extracted from history
    if best.get("cumulative_extracted") is None and any(
        agg.get("extracted") is not None
        or agg.get("cumulative_extracted") is not None
        for _, agg in per_date
    ):
        acc: list[Est] = []
        for date, agg in sorted(
            ((d, a) for d, a in per_date if d is not None),
            key=lambda x: x[0],
            reverse=True,
        ):
            if agg.get("cumulative_extracted") is not None:
                acc.append(agg["cumulative_extracted"])
                break
            if agg.get("extracted") is not None:
                acc.append(agg["extracted"])
        if acc:
            tot = (0.0, 0.0)
            for e in acc:
                tot = _est_add(tot, e)
            best = dict(best)
            best["cumulative_extracted"] = tot

    # total estimate
    remained = best.get("resource")
    if best.get("reserve") is not None:
        remained = _est_max(remained, best["reserve"])
    if best.get("cumulative_extracted") is not None and remained is not None:
        remained = _est_add(remained, best["cumulative_extracted"])
    total = _est_max(remained, best.get("original"))

    out = dict(best)
    out["date"] = best_date
    out["total"] = total
    return out


def total_grade_pct(total: Optional[Est]) -> Optional[float]:
    if total is None:
        return None
    tonnage, cm = total
    if cm == 0.0:
        return 0.0
    return cm / tonnage * 100.0


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

GT_VIEW_SCHEMA = (
    "site_id string, commodity string, contained_metal double, "
    "tonnage double, grade double, date string"
)

def _gt_output_row(site_id, commodity, invs: list[dict]) -> dict:
    """One (site, commodity) → one view row.  Invalid-only commodities
    still emit an all-null row (ref kgrel/mineral_site.py:140-150)."""
    clean = []
    for inv in invs:
        if not inv["valid_gt"]:
            continue
        mfc = inv.get("material_form_conversion")
        if mfc is not None and isinstance(mfc, float) and math.isnan(mfc):
            mfc = None
        clean.append(
            {
                "date": inv.get("date"),
                "zone": inv.get("zone"),
                "category": list(inv["category"]) if inv.get("category") is not None else [],
                "material_form_conversion": mfc,
                "ore_value": inv["ore_value"],
                "ore_unit": inv["ore_unit"],
                "grade_value": inv["grade_value"],
                "grade_unit": inv["grade_unit"],
            }
        )
    gt = compute_grade_tonnage(clean) if clean else None
    if gt is not None and gt["total"] is not None:
        tonnage, cm = gt["total"]
        return {
            "site_id": site_id,
            "commodity": commodity,
            "contained_metal": cm,
            "tonnage": tonnage,
            "grade": total_grade_pct(gt["total"]),
            "date": None,
        }
    return {
        "site_id": site_id,
        "commodity": commodity,
        "contained_metal": None,
        "tonnage": None,
        "grade": None,
        "date": None,
    }


def _gt_batch_fn(batches):
    """mapInPandas kernel over pre-grouped rows (one row = one group) —
    the kernel of the ``grade_tonnage_view_exploded`` parity reference."""

    def per_chunk(pdf):
        cols: dict[str, list] = {c: [] for c in _GT_OUT_COLS}
        for site_id, commodity, invs in zip(
            pdf["site_id"], pdf["commodity"], pdf["invs"]
        ):
            row = _gt_output_row(site_id, commodity, invs)
            for c in _GT_OUT_COLS:
                cols[c].append(row[c])
        return pd.DataFrame(cols, columns=_GT_OUT_COLS)

    # bounded chunks + paused cyclic GC — see functions/arrowkit.py
    yield from chunked_kernel(per_chunk)(batches)


_GT_OUT_COLS = [
    "site_id",
    "commodity",
    "contained_metal",
    "tonnage",
    "grade",
    "date",
]

_MR_NS = MR  # commodity normalized_uri prefix (== functions.ids.MR_NS)


def _gt_fused_batch_fn(form_conv: dict):
    """Zero-shuffle GT kernel over sites_rel rows (r06).

    Every inventory of a site lives in that site's single ``inventories``
    array, so the per-(site, commodity) grouping the model needs is free:
    bucket within the row (dict preserves doc order — the model's
    later-wins tie-break is order-sensitive), restate explode_inventories'
    field semantics, run the model.  Byte-equivalent to
    ``grade_tonnage_view_exploded`` (tests/test_grade_tonnage.py)."""

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        cols: dict[str, list] = {c: [] for c in _GT_OUT_COLS}
        for site_id, inventories in zip(pdf["site_id"], pdf["inventories"]):
            if inventories is None or len(inventories) == 0:
                continue
            comm2invs: dict[str, list[dict]] = {}
            for inv in inventories:
                if inv is None:
                    continue
                ce = inv.get("commodity")
                nu = ce.get("normalized_uri") if ce is not None else None
                if nu is None:
                    continue
                commodity = nu.replace(_MR_NS, "")
                cat_raw = inv.get("category")
                has_cat = cat_raw is not None and len(cat_raw) > 0
                cats = [
                    c["normalized_uri"]
                    for c in (cat_raw if has_cat else [])
                    if c is not None and c.get("normalized_uri") is not None
                ]
                ore = inv.get("ore") or {}
                grade = inv.get("grade") or {}
                ore_value = ore.get("value")
                ore_unit = (ore.get("unit") or {}).get("normalized_uri")
                grade_value = grade.get("value")
                grade_unit = (grade.get("unit") or {}).get("normalized_uri")
                mf = inv.get("material_form")
                form_uri = mf.get("normalized_uri") if mf is not None else None
                comm2invs.setdefault(commodity, []).append(
                    {
                        "date": inv.get("date"),
                        "zone": inv.get("zone"),
                        "category": cats,
                        "material_form_conversion": (
                            form_conv.get(form_uri)
                            if form_uri is not None
                            else None
                        ),
                        "ore_value": ore_value,
                        "ore_unit": ore_unit,
                        "grade_value": grade_value,
                        "grade_unit": grade_unit,
                        # valid_gt checks the RAW category list (unlinked
                        # entries count), matching explode_inventories
                        "valid_gt": (
                            ore_value is not None
                            and ore_unit is not None
                            and grade_value is not None
                            and grade_unit is not None
                            and has_cat
                        ),
                    }
                )
            for commodity, invs in comm2invs.items():
                row = _gt_output_row(site_id, commodity, invs)
                for c in _GT_OUT_COLS:
                    cols[c].append(row[c])
        return pd.DataFrame(cols, columns=_GT_OUT_COLS)

    return chunked_kernel(per_chunk)


def grade_tonnage_view(sites_rel, vocab):
    """The MineralInventoryView of ``sites_rel``: one row per (site,
    commodity) with a normalized commodity; invalid-only commodities yield
    null views.

    Zero-shuffle: ``_gt_fused_batch_fn`` reads each site's inventories in
    place, so no explode→groupBy(site, commodity) round trip regroups
    inventories that already sit together in one row (guide §2.4, remove
    shuffles outright).  The material-form conversion vocabulary collapses
    to a closure dict, like the document pass's crs/source-score dicts
    (``extract._vocab_dicts``).
    """
    form_conv = {
        MR + r["minmod_id"]: (
            float(r["conversion"]) if r["conversion"] is not None else None
        )
        for r in vocab["commodity_form"].collect()
    }
    return sites_rel.select("site_id", "inventories").mapInPandas(
        _gt_fused_batch_fn(form_conv), schema=GT_VIEW_SCHEMA
    )


def grade_tonnage_view_exploded(inv_rows):
    """Parity reference for ``grade_tonnage_view`` over
    ``extract.explode_inventories`` rows (one row per inventory whose
    commodity is normalized; ``valid_gt`` marks rows with complete
    ore/grade/category data).  No production caller: the tests pin the
    in-row kernel against it.

    One shuffle on (site_id, commodity) via a JVM ``collect_list``
    aggregate (map-side partials), then an Arrow batch kernel.
    ``collect_list`` element order is NOT guaranteed after a shuffle, but
    the model's best-estimate tie-break is order-sensitive (later-wins on
    exact contained-metal ties, matching the reference's cmp_to_key quirk) —
    so the collected structs lead with ``inv_pos`` and are ``array_sort``ed
    back into the reference's document order before the kernel runs.
    """
    from pyspark.sql import functions as F

    grouped = inv_rows.groupBy("site_id", "commodity").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "inv_pos",  # first struct field ⇒ array_sort = doc order
                    "date",
                    "zone",
                    "category",
                    "material_form_conversion",
                    "ore_value",
                    "ore_unit",
                    "grade_value",
                    "grade_unit",
                    "valid_gt",
                )
            )
        ).alias("invs")
    )
    return grouped.mapInPandas(_gt_batch_fn, schema=GT_VIEW_SCHEMA)
