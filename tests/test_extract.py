"""End-to-end smoke of synthetic ingest → parse → normalize → triples."""

from __future__ import annotations

import hashlib
import json

from ta2_minmod_kg_spark.functions.rdf import site_to_triples, triples_to_ttl
from ta2_minmod_kg_spark.operators import extract
from ta2_minmod_kg_spark.sources import synthetic, vocab

N = 120


def test_make_record_deterministic():
    a = synthetic.make_record(7, N)
    b = synthetic.make_record(7, N)
    assert a == b
    assert a["source_id"].startswith("https://")
    assert len(a["reference"]) == 1


def test_site_to_triples_shape():
    rec = synthetic.make_record(3, N)
    site_id, triples = site_to_triples(rec)
    assert site_id.startswith("site__")
    subjects = {s for s, _, _ in triples}
    # root typed triple present
    assert (f"mr:{site_id}", "rdf:type", "mo:MineralSite") in triples
    # deterministic: same input, same triple list
    assert site_to_triples(rec)[1] == triples
    # every nested node referenced from somewhere
    objs = {o for _, _, o in triples}
    for s in subjects:
        if s != f"mr:{site_id}" and s.startswith("mr:"):
            assert s in objs
    ttl = triples_to_ttl(triples)
    assert ttl.startswith("@prefix mr:")


def test_ingest_pipeline(spark):
    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    rows = ingest.count()
    assert rows > N  # expert duplicates add extra rows

    parsed = extract.parse_sites(ingest)
    ok, bad = extract.split_violations(parsed)
    assert bad.count() == 0
    assert ok.count() == rows

    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(parsed, vdfs)
    pdf = sites.toPandas()
    assert len(pdf) == rows
    assert pdf["site_id"].str.startswith("site__").all()
    # sha256 invariant: recompute from content and compare
    raw = ingest.select("content").toPandas()["content"]
    expect = sorted(hashlib.sha256(c.encode()).hexdigest() for c in raw)
    assert sorted(pdf["content_sha256"]) == expect
    # experts duplicate the system rows on (source_id, record_id)
    n_dups = len(pdf) - pdf[["source_id", "record_id"]].drop_duplicates().shape[0]
    assert n_dups == sum(1 for n in range(N) if synthetic.has_expert_dup(n))
    # centroid parsed for POINT rows
    assert pdf["lat"].notna().sum() > 0
    assert pdf["lat"].dropna().between(-90, 90).all()

    triples = extract.extract_triples(ingest)
    tp = triples.toPandas()
    assert (tp["pred"] == "rdf:type").sum() >= rows
    # spark output matches the single-node emitter on the same content
    one = json.loads(raw.iloc[0])
    sid, expected = site_to_triples(one)
    got = set(
        map(tuple, tp[tp["site_id"] == sid][["subj", "pred", "obj"]].values)
    )
    assert set(expected) <= got


def test_extract_triples_arrow_kernel_exact(spark):
    """r06 O8: extract_triples moved from mapInPandas to an Arrow-native
    mapInArrow kernel.  Assert EXACT multiset equality with the per-row
    single-node emitter over the full corpus — plus quarantine behavior
    (malformed JSON, a bad path charset and a constrained-type reject emit
    nothing, valid rows are unaffected)."""
    from collections import Counter

    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    raw = ingest.select("repo", "path", "content").toPandas()

    expected = Counter()
    for _, r in raw.iterrows():
        site = json.loads(r["content"])
        sid, triples = site_to_triples(site)
        for s, p, o in triples:
            expected[(s, p, o, sid)] += 1

    tp = extract.extract_triples(ingest).toPandas()
    got = Counter(map(tuple, tp[["subj", "pred", "obj", "site_id"]].values))
    assert got == expected

    # quarantine: malformed JSON, a bad path charset and a constrained
    # reject (confidence out of [0, 1] — split_violations routes it to the
    # violations table) emit no triples
    bad_conf = next(
        d
        for d in map(json.loads, raw["content"])
        if (d.get("location_info") or {}).get("crs")
    )
    bad_conf["record_id"] = "badconf"
    bad_conf["location_info"]["crs"]["confidence"] = 7.5
    poisoned = ingest.unionByName(
        spark.createDataFrame(
            [
                ("repo", "ok/name.json", "c", "en", "{not json"),
                ("repo", "bad name!.json", "c", "en", raw["content"].iloc[0]),
                ("repo", "u/badconf.json", "c", "en", json.dumps(bad_conf)),
            ],
            ingest.schema,
        )
    )
    _, vio = extract.split_violations(extract.parse_sites(poisoned))
    assert "location_info.crs.confidence" in {
        r["violation_reason"] for r in vio.collect()
    }
    tq = extract.extract_triples(poisoned).toPandas()
    assert Counter(map(tuple, tq[["subj", "pred", "obj", "site_id"]].values)) == expected


def test_explode_inventories(spark):
    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs)
    inv = extract.explode_inventories(sites, vdfs).toPandas()
    assert len(inv) > 0
    assert inv["commodity"].str.startswith("Q").all()
    assert inv["valid_gt"].any()
    # material-form conversions resolved via the broadcast join
    assert inv["material_form_conversion"].notna().sum() > 0


def test_fused_normalize_matches_unfused(spark):
    """normalize_sites validates inside its own single parse.  Its output
    must equal the normalized rows of exactly the records split_violations
    keeps — on a corpus WITH violations (bad path charset, broken JSON,
    constrained-type rejects, and paths ending in a line terminator that
    Java's ``$`` and Python's ``re.match`` ``$`` both let through) — so
    every input row lands in exactly one of the normalize output and the
    violations side."""
    ingest = synthetic.synthesize_ingest(spark, 60, partitions=4)
    # plant violations: a bad path, a broken document, a bad confidence
    good = ingest.limit(1).collect()[0]
    # each adversarial path gets a distinct record, so a row that lands on
    # neither side (or both) is visible by its site id
    doc = json.loads(good["content"])

    def variant(i):
        d = dict(doc, record_id=f"adversarial-{i}")
        return json.dumps(d)

    odd_paths = ["u/cr.json\r", "u/nl.json\n", "u/nel.json\u0085", "u/ls.json\u2028"]
    bad_rows = [
        (good["repo"], "bad path with spaces!", "c0", "json", good["content"]),
        (good["repo"], "u/broken.json", "c1", "json", "{not json"),
        (
            good["repo"],
            "u/badconf.json",
            "c2",
            "json",
            good["content"].replace('"confidence": 0.99', '"confidence": 7.5'),
        ),
    ] + [
        (good["repo"], p, f"p{i}", "json", variant(i))
        for i, p in enumerate(odd_paths)
    ]
    dirty = ingest.unionAll(
        spark.createDataFrame(bad_rows, schema=ingest.schema)
    )
    vdfs = vocab.vocab_dataframes(spark)
    parsed = extract.parse_sites(dirty)
    ok, bad = extract.split_violations(parsed)
    bad_paths = {r["path"] for r in bad.select("path").collect()}
    assert set(odd_paths) <= bad_paths
    assert {"bad path with spaces!", "u/broken.json", "u/badconf.json"} <= bad_paths

    fused = extract.normalize_sites(parsed, vdfs).toPandas()
    # reference: the same kernel over the rows split_violations kept
    filtered = extract.normalize_sites(ok, vdfs).toPandas()

    fused = fused.sort_values("site_id").reset_index(drop=True)
    filtered = filtered.sort_values("site_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(fused, filtered)
    # every input row in exactly one of: normalize output, violations
    n_in = dirty.count()
    assert len(fused) == ok.count()
    assert len(fused) + bad.count() == n_in
    kept = set(zip(fused["path"], fused["content_sha256"]))
    rejected = {
        (r["path"], r["content_sha256"])
        for r in bad.select("path", "content_sha256").collect()
    }
    assert not kept & rejected
    assert len(kept | rejected) == n_in
