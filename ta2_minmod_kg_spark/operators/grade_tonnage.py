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

Spark execution: the pipeline's document pass (``extract._doc_batches``)
runs this model on each valid record it parses, through
``site_view_rows``, and writes the rows to its bucketed ``inv_views``
table.  Every inventory of a site sits in that site's one record, so the
per-``(site_id, commodity)`` grouping is done in the record: the view has
no stage, read or shuffle of its own.  The heavy key for skew is the
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
from ..schemas import INV_VIEW

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
# The view rows
# ---------------------------------------------------------------------------

_GT_OUT_COLS = INV_VIEW.fieldNames()


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


def _measure_value(measure: dict) -> Optional[float]:
    """A measure's value as ``sites_rel`` stores it: a double, so an int
    or a bool becomes a float and NaN becomes null (the Arrow conversion
    of the site row; the constrained tree accepts all three).  A raw NaN
    would otherwise count as a value and reach the model."""
    v = measure.get("value")
    if v is None:
        return None
    v = float(v)
    return None if math.isnan(v) else v


def site_view_rows(
    site_id: str, inventories: list[dict], form_conv: dict
) -> list[dict]:
    """The MineralInventoryView rows of one valid record (ref
    kgrel/mineral_site.py:71-150): one ``_gt_output_row`` per normalized
    commodity of ``inventories`` (the record's ``mineral_inventory``
    dicts).  ``form_conv`` maps a material-form URI to its conversion
    factor.

    Every inventory of a site is in its one record, so the per-(site,
    commodity) grouping is done here, in document order (the model's
    later-wins tie-break is order-sensitive), with
    ``extract.explode_inventories``' field semantics: the view of
    ``grade_tonnage_view_exploded`` over it (tests/test_grade_tonnage.py)."""
    comm2invs: dict[str, list[dict]] = {}
    for inv in inventories:
        nu = inv["commodity"].get("normalized_uri")
        if nu is None:
            continue
        cat_raw = inv.get("category") or []
        ore = inv.get("ore") or {}
        grade = inv.get("grade") or {}
        ore_value = _measure_value(ore)
        ore_unit = (ore.get("unit") or {}).get("normalized_uri")
        grade_value = _measure_value(grade)
        grade_unit = (grade.get("unit") or {}).get("normalized_uri")
        form_uri = (inv.get("material_form") or {}).get("normalized_uri")
        comm2invs.setdefault(nu.replace(MR, ""), []).append(
            {
                "date": inv.get("date"),
                "zone": inv.get("zone"),
                "category": [
                    c["normalized_uri"]
                    for c in cat_raw
                    if c.get("normalized_uri") is not None
                ],
                "material_form_conversion": form_conv.get(form_uri),
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
                    and len(cat_raw) > 0
                ),
            }
        )
    return [_gt_output_row(site_id, c, invs) for c, invs in comm2invs.items()]


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


def grade_tonnage_view_exploded(inv_rows):
    """Parity reference for the document pass's ``inv_views`` rows
    (``site_view_rows``) over ``extract.explode_inventories`` rows (one
    row per inventory whose commodity is normalized; ``valid_gt`` marks
    rows with complete ore/grade/category data).  No production caller:
    the tests pin the pass's rows against it.

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
    return grouped.mapInPandas(_gt_batch_fn, schema=INV_VIEW)
