"""Vocabulary CSV roundtrip (S2) and sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ta2_minmod_kg_spark.sources import vocab


def test_vocab_csv_roundtrip(spark, tmp_path):
    d = str(tmp_path / "entities")
    vocab.write_vocab_csvs(d)
    dfs = vocab.read_vocab_csvs(spark, d)
    assert set(dfs) == {
        "commodity",
        "unit",
        "country",
        "state_or_province",
        "deposit_type",
        "commodity_form",
        "crs",
        "data_source",
        "category",
    }
    comm = dfs["commodity"].toPandas()
    assert len(comm) == len(vocab.COMMODITY_NAMES)
    # '|'-separated aliases split into arrays
    assert comm["alias_list"].map(len).min() >= 1
    # state→country FK resolved by name via broadcast join
    st = dfs["state_or_province"].toPandas()
    assert st["country_id"].notna().all()
    assert st["country_id"].str.startswith("Q").all()
    # numeric casts
    ds = dfs["data_source"].toPandas()
    assert ds["score"].dtype.kind == "f"
    cf = dfs["commodity_form"].toPandas()
    assert abs(cf[cf["name"] == "Lithium oxide"]["conversion"].iloc[0] - 0.464) < 1e-9


def test_lookup_maps():
    maps = vocab.lookup_maps()
    mr = "https://minmod.isi.edu/resource/"
    assert maps["crs_name"][mr + "Q1700"] == "EPSG:4326"
    assert maps["commodity_form_conversion"][mr + "Q1601"] == 0.464


def _jobs_run(spark, group: str, action) -> int:
    """Spark jobs started by ``action()`` under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_vocab_dataframes_are_jvm_local_relations(spark, arrow):
    """Every vocabulary table is a JVM ``LocalRelation`` in any session, so
    reading one runs no Spark job and no Python task."""
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
    dfs = vocab.vocab_dataframes(s)
    for name, df in dfs.items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation", (name, plan)
    rows = {}
    n_jobs = _jobs_run(
        s,
        f"vocab_collect_{arrow}",
        lambda: rows.update({n: df.collect() for n, df in dfs.items()}),
    )
    assert n_jobs == 0
    assert sum(len(r) for r in rows.values()) == sum(
        len(r) for r in vocab.synthetic_vocab().values()
    )
    # control: the tracker does see a job that scans a real relation
    assert _jobs_run(s, f"vocab_control_{arrow}", lambda: s.range(4).count()) > 0
