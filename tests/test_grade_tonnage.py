"""Golden tests for the grade-tonnage model.

Scenarios and expected numbers mirror the reference suite
(`/root/reference/tests/test_grade_tonnage_model.py:13-601`) — the numeric
oracle for our clean-room implementation.
"""

from __future__ import annotations

import pytest

from ta2_minmod_kg_spark.operators.grade_tonnage import (
    compute_grade_tonnage,
    total_grade_pct,
)

MR = "https://minmod.isi.edu/resource/"
MT = MR + "Q202"
PCT = MR + "Q201"


def inv(
    category,
    ore_value,
    grade_value,
    date="2005-11",
    zone=None,
    mfc=None,
    ore_unit=MT,
    grade_unit=PCT,
):
    return {
        "date": date,
        "zone": zone,
        "category": [MR + c for c in category],
        "material_form_conversion": mfc,
        "ore_value": ore_value,
        "ore_unit": ore_unit,
        "grade_value": grade_value,
        "grade_unit": grade_unit,
    }


def total(invs):
    gt = compute_grade_tonnage(invs)
    return None if gt is None else gt["total"]


def test_resource_estimate():
    # Indicated 100Mt@1% + Inferred 70Mt@1.5%, same date → summed
    assert total(
        [inv(["Indicated"], 100.0, 1.0), inv(["Inferred"], 70.0, 1.5)]
    ) == (170.0, 2.05)


def test_select_recent_data():
    assert total(
        [
            inv(["Indicated"], 100.0, 1.0, date="2005-11"),
            inv(["Inferred"], 70.0, 1.5, date="2006-11"),
        ]
    ) == (70.0, 1.05)


def test_material_form():
    t = total([inv(["Indicated"], 70.0, 1.5, mfc=0.464)])
    assert t is not None
    assert abs(t[0] - 32.48) < 1e-7 and abs(t[1] - 0.4872) < 1e-7


def test_zero_grade_or_tonnage_estimate():
    assert total([inv(["Indicated", "Inferred"], 100.0, 0.0)]) == (100.0, 0.0)
    assert total([inv(["Indicated", "Inferred"], 0.0, 5.0)]) == (0.0, 0.0)


def test_ignore_negative_grade_or_tonnage():
    assert total(
        [inv(["Indicated"], 100.0, 1.0), inv(["Inferred"], 70.0, -1.5)]
    ) == (100.0, 1.0)
    assert total(
        [inv(["Indicated"], 100.0, -1.0), inv(["Inferred"], 70.0, 1.5)]
    ) == (70.0, 1.05)


def test_ignore_invalid_unit():
    # percent as an ore unit is unconvertible → the row is skipped
    assert total(
        [
            inv(["Inferred"], 100.0, 1.0, ore_unit=PCT),
            inv(["Indicated"], 70.0, 1.5),
        ]
    ) == (70.0, 1.05)


def test_ignore_invalid_category():
    # Indicated (resource) + Probable (reserve) mixed → invalid
    assert total(
        [
            inv(["Indicated", "Probable"], 100.0, 1.0, date="2006-11"),
            inv(["Inferred"], 70.0, 1.5, date="2005-11"),
        ]
    ) == (70.0, 1.05)


def test_ignore_all_invalid_data():
    assert (
        compute_grade_tonnage(
            [
                inv(["Indicated", "Probable"], 100.0, 1.0, date="2006-11"),
                inv(["Inferred"], 70.0, -1.5, date="2005-11"),
            ]
        )
        is None
    )


def test_handle_zone():
    # different zones are summed up
    assert total(
        [
            inv(["Indicated"], 100.0, 1.0, zone="zone 1"),
            inv(["Inferred"], 70.0, 1.5, zone="zone 2"),
        ]
    ) == (170.0, 2.05)
    # site-level figure competes with the zone sum; larger wins
    assert total(
        [
            inv(["Indicated"], 100.0, 1.0, zone="zone 1"),
            inv(["Inferred"], 70.0, 1.5, zone="zone 2"),
            inv(["Probable"], 170.0, 1.5, zone=None),
        ]
    ) == (170.0, 2.55)


def test_duplicated_zone():
    # overlapping category sets are NOT summed; best single estimate wins
    assert total(
        [
            inv(["Indicated", "Inferred"], 100.0, 1.0),
            inv(["Indicated", "Measured"], 70.0, 1.5),
        ]
    ) == (70.0, 1.05)


def test_combine_extracted_data():
    assert total(
        [
            inv(["Inferred", "Indicated"], 100.0, 1.0, date="2010-11"),
            inv(["Extracted"], 70.0, 1.5, date="2006-11"),
        ]
    ) == (170.0, 2.05)


def test_combine_cumulative_extracted():
    assert total(
        [
            inv(["Inferred", "Indicated"], 100.0, 1.0, date="2010-11"),
            inv(["CumulativeExtracted"], 70.0, 1.0, date="2006-11"),
            inv(["Extracted"], 70.0, 1.5, date="2006-11"),
        ]
    ) == (170.0, 1.7)


def test_combine_recent_cumulative_extracted():
    assert total(
        [
            inv(["Inferred", "Indicated"], 100.0, 1.0, date="2010-11"),
            inv(["CumulativeExtracted"], 50.0, 1.0, date="2007-11"),
            inv(["CumulativeExtracted"], 70.0, 1.0, date="2006-11"),
            inv(["Extracted"], 70.0, 1.5, date="2006-11"),
        ]
    ) == (150.0, 1.5)


def test_zero_grade():
    assert total_grade_pct((100.0, 0.0)) == 0.0
    assert total_grade_pct((0.0, 0.0)) == 0.0
    assert total_grade_pct(None) is None


def test_view_doc_order_tiebreak(spark):
    """collect_list order is shuffle-dependent; the view must sort collected
    inventories back into document order (inv_pos) so the reference's
    later-wins tie-break (cmp_to_key quirk) is deterministic."""
    import pandas as pd

    from ta2_minmod_kg_spark.operators.grade_tonnage import (
        MR,
        grade_tonnage_view_exploded,
    )

    def row(pos, ore, grade):
        return {
            "site_id": "s1",
            "inv_pos": pos,
            "commodity": "Q1000",
            "date": None,
            "zone": None,
            "category": [MR + "Inferred"],
            "material_form_conversion": None,
            "ore_value": ore,
            "ore_unit": MR + "Q202",
            "grade_value": grade,
            "grade_unit": MR + "Q201",
            "valid_gt": True,
        }

    # equal contained metal (0.1 Mt), different tonnage: doc-order-later
    # (inv_pos=1, tonnage 10) must win regardless of physical row order
    for order in ([0, 1], [1, 0]):
        rows = [row(0, 20.0, 0.5), row(1, 10.0, 1.0)]
        pdf = pd.DataFrame([rows[i] for i in order])
        df = spark.createDataFrame(pdf).repartition(4)
        out = grade_tonnage_view_exploded(df).toPandas()
        assert len(out) == 1
        assert out["tonnage"].iloc[0] == 10.0
        assert out["contained_metal"].iloc[0] == 0.1


def _planted_view_records() -> list[dict]:
    """Valid records whose inventories exercise the view's input mapping.
    Values the site row's Arrow conversion changes: NaN (null), ``true``
    (1.0), ints and numeric strings.  A NaN inventory is listed FIRST in
    its category, so a NaN fed to the model wins the best-estimate scan
    and nulls the site's view.  Also: unlinked and empty categories, an
    inventory without a commodity ``normalized_uri``, a material form,
    several dates and zones per commodity, an invalid-only commodity and
    an infinite ore value at zero grade (a NaN the model computes)."""
    from ta2_minmod_kg_spark.sources import synthetic
    from ta2_minmod_kg_spark.sources.vocab import material_form_qid

    def ce(uri=None, observed=None):
        out = {"source": "planted", "confidence": 1.0}
        if observed is not None:
            out["observed_name"] = observed
        if uri is not None:
            out["normalized_uri"] = MR + uri
        return out

    def inv(ore, grade, cats=("Indicated",), commodity="Q1001", date="2020-01",
            zone=None, ore_unit="Q202", grade_unit="Q201", form=None):
        out = {
            "commodity": ce(commodity, "Lithium" if commodity else "Unobtainium"),
            "reference": {"document": {"uri": "https://repository.example.org/docs/p"}},
            "category": [ce(c) if c else ce(None, "unlinked") for c in cats],
            "ore": {"value": ore, "unit": ce(ore_unit)},
            "grade": {"value": grade, "unit": ce(grade_unit)},
        }
        if date is not None:
            out["date"] = date
        if zone is not None:
            out["zone"] = zone
        if form is not None:
            out["material_form"] = ce(form)
        return out

    nan = float("nan")
    inventories = [
        [inv(nan, 1.0), inv(10.0, 1.0)],
        [inv(10.0, nan), inv(10.0, 1.0)],
        [inv("NaN", 1.0), inv(10.0, 1.0)],
        [
            inv(nan, 2.0, cats=("Inferred",)),
            inv(5.0, 1.0),
            inv(3.0, 1.0, cats=("Measured",)),
        ],
        [inv(True, 2), inv(7, True, cats=("Proven",))],
        [inv("12.5", "0.75"), inv("3", "1e1", cats=("Probable",))],
        [inv(4, 1, ore_unit="Q200", grade_unit="Q203")],
        [inv(10.0, 1.0, cats=(None,)), inv(10.0, 1.0, cats=(None, "Inferred"))],
        [inv(10.0, 1.0, cats=()), inv(2.0, 1.0)],
        [inv(10.0, 1.0, commodity=None), inv(2.0, 1.0, commodity="Q1002")],
        [inv(10.0, 1.0, form=material_form_qid(0)), inv(10.0, 1.0, form="Q1699")],
        [inv(nan, 1.0, commodity="Q1003"), inv(1.0, 1.0, cats=())],
        [inv(float("inf"), 0.0)],
        [
            inv(10.0, 1.0, date=None),
            inv(20.0, 1.0, date="2019", zone="A"),
            inv(30.0, 1.0, date="2019", zone="B"),
            inv(nan, 1.0, date="2019", zone="B"),
            inv(5.0, 2.0, date="2021-05", zone="A"),
            inv(1.0, 1.0, cats=("Extracted",), date="2018"),
            inv(2.0, 1.0, cats=("CumulativeExtracted",), date="2017",
                commodity="Q1002"),
            inv(9.0, 1.0, cats=("OriginalResource",), date="2021-05", zone="A"),
        ],
    ]
    out = []
    for k, invs in enumerate(inventories):
        rec = synthetic.make_record(k, 40)
        rec["record_id"] = f"planted-view-{k}"
        rec["mineral_inventory"] = invs
        out.append(rec)
    return out


def test_fused_gt_view_matches_exploded_path(spark):
    """The document pass's ``inv_views`` rows (``site_view_rows`` on each
    parsed record) equal the explode→groupBy parity reference over
    ``sites_rel``, whose Arrow conversion made every measure value a
    double (NaN a null), incl. NULL rows for invalid-only commodities and
    null (not NaN) for a NaN the model computes: on the synthetic corpus
    plus the planted records."""
    import json

    from pyspark.sql import functions as F

    from ta2_minmod_kg_spark.operators import extract
    from ta2_minmod_kg_spark.operators.grade_tonnage import (
        grade_tonnage_view_exploded,
    )
    from ta2_minmod_kg_spark.sources import synthetic, vocab

    planted = _planted_view_records()
    extra = spark.createDataFrame(
        [
            ("planted", f"data/planted_{k}.json", "c", "json", json.dumps(rec))
            for k, rec in enumerate(planted)
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    ingest = synthetic.synthesize_ingest(spark, 400, partitions=8).unionByName(extra)
    vdfs = vocab.vocab_dataframes(spark)
    docs = extract.with_lineage(ingest)
    sites = extract.normalize_sites(docs, vdfs).persist()
    site_of = {
        r["record_id"]: r["site_id"]
        for r in sites.filter(F.col("repo") == "planted").collect()
    }
    assert len(site_of) == len(planted), "a planted record was rejected"

    def rows(collected):
        # repr keeps null (None) and NaN apart, and compares floats exactly
        return sorted(repr(tuple(r)) for r in collected)

    fused = extract.doc_rows(docs, vdfs, "inv_views").collect()
    unfused = grade_tonnage_view_exploded(
        extract.explode_inventories(sites, vdfs)
    ).collect()
    assert rows(fused) == rows(unfused)
    assert len(fused) > len(planted)
    # the NaN-first records keep their valid inventory's figure
    view = {(r["site_id"], r["commodity"]): r for r in fused}
    for k in (0, 1, 2):
        got = view[(site_of[f"planted-view-{k}"], "Q1001")]
        assert (got["tonnage"], got["contained_metal"]) == (10.0, 0.1), got
    sites.unpersist()
