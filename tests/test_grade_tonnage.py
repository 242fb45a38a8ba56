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


def test_fused_gt_view_matches_exploded_path(spark):
    """grade_tonnage_view computes zero-shuffle from sites_rel.  The in-row
    kernel must be value-identical (incl. NULL rows for invalid-only
    commodities) to the explode→groupBy parity reference on the full
    synthetic corpus."""
    import pandas as pd

    from ta2_minmod_kg_spark.operators import extract
    from ta2_minmod_kg_spark.operators.grade_tonnage import (
        grade_tonnage_view,
        grade_tonnage_view_exploded,
    )
    from ta2_minmod_kg_spark.sources import synthetic, vocab

    ingest = synthetic.synthesize_ingest(spark, 400, partitions=8)
    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs).persist()

    fused = grade_tonnage_view(sites, vdfs).toPandas()
    unfused = grade_tonnage_view_exploded(
        extract.explode_inventories(sites, vdfs)
    ).toPandas()

    key = ["site_id", "commodity"]
    fused = fused.sort_values(key).reset_index(drop=True)
    unfused = unfused.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(fused, unfused)
    assert len(fused) > 0
    sites.unpersist()
