"""Parity smoke on the reference's OWN fixture corpus.

Reads the mineral-site JSON fixtures from the read-only reference checkout
(`/root/reference/tests/resources/kgdata/mineral-sites/json/`) as *input
data* and pushes them through the full engine — proof the pipeline ingests
real reference-shaped records (real CDR source ids, 26-inventory sites,
real WKT multipolygons), not just our synthetic corpus.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pandas as pd
import pytest

from ta2_minmod_kg_spark.functions.ids import get_username, make_site_id
from ta2_minmod_kg_spark.functions.rdf import site_to_triples
from ta2_minmod_kg_spark.operators import canonicalize, dedup, extract
from ta2_minmod_kg_spark.sources import vocab

FIXTURE_DIR = Path("/root/reference/tests/resources/kgdata/mineral-sites/json")

pytestmark = pytest.mark.skipif(
    not FIXTURE_DIR.exists(), reason="reference fixtures not available"
)


def _load_records():
    recs = []
    for f in sorted(FIXTURE_DIR.glob("*.json")):
        recs.extend(json.load(open(f)))
    return recs


def _ingest_df(spark):
    rows = [
        {
            "repo": "reference-fixtures",
            "path": f"inferlink/cdr/0/rec-{i}.json",
            "commit": f"{i:08x}",
            "lang": "json",
            "content": json.dumps(r, sort_keys=True),
        }
        for i, r in enumerate(_load_records())
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_pure_python_surface_on_fixtures():
    recs = _load_records()
    assert len(recs) >= 14
    for r in recs:
        site_id, triples = site_to_triples(r)
        expected = make_site_id(
            get_username(r["created_by"]), r["source_id"], str(r["record_id"])
        )
        assert site_id == expected
        preds = {p for _, p, _ in triples}
        assert {"rdf:type", "mo:source_id", "mo:record_id"} <= preds
        # deterministic re-emission
        assert site_to_triples(r)[1] == triples


def test_engine_end_to_end_on_fixtures(spark):
    ingest = _ingest_df(spark)
    parsed = extract.parse_sites(ingest)
    ok, bad = extract.split_violations(parsed)
    # the corpus contains exactly two records the REFERENCE's own
    # deserializer rejects (padded observed_name strings) — the engine
    # must quarantine the same two, no more (tests/test_constrained.py
    # pins the per-record parity)
    bad_rows = bad.select("violation_reason").collect()
    assert len(bad_rows) == 2, bad_rows
    assert all("observed_name" in r["violation_reason"] for r in bad_rows)
    n = ingest.count() - 2

    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(parsed, vdfs).persist()
    pdf = sites.toPandas()
    assert len(pdf) == n
    assert pdf["site_id"].str.startswith("site__").all()
    assert (pdf["modified_at"] > 1_500_000_000 * 10**9).all()  # ns since epoch

    # real fixture records carry real commodity/category URIs → GT views
    gt = extract.doc_rows(parsed, vdfs, "inv_views").toPandas()
    assert len(gt) > 0
    with_gt = gt[gt["contained_metal"].notna()]
    assert (with_gt["contained_metal"] >= 0).all()
    assert (with_gt["tonnage"] >= 0).all()

    # canonicalize + merge: the fixture sites share (source, record) only
    # within themselves → singleton-heavy grouping must still work
    membership = canonicalize.build_membership(sites, None, None)
    swd = sites.drop("dedup_site_id").join(membership, "site_id")
    merged = dedup.merge_dedup_sites(swd).toPandas()
    assert len(merged) == membership.select("dedup_site_id").distinct().count()
    assert merged["name"].notna().any()

    triples = extract.extract_triples(ingest).toPandas()
    # 14-record Forrestania file alone has 26-inventory sites → plenty
    assert len(triples) > 100 * n
    sites.unpersist()
