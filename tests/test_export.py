"""K2 dedup_sites.json export (ref etl/mineral_site.py:302-365).

Checks on the reference's own fixture corpus:
- the four-section layout and per-row key shapes,
- raw-roundtrip oracle: the exported MineralSite rows' nested content
  (location candidates, inventories, references, geology) must equal the
  shapers applied DIRECTLY to the raw fixture JSON — any field the Spark
  schema drops or mangles shows up as a diff,
- ranked_sites are in score-descending order with the reference's
  suborder tie-break encoding.

Checks on a ``KGPipeline.run`` build of 30 synthetic records: both file
layouts, every MineralSite row's dedup group, an int ``discovered_year``,
a fixed row order (two builds write the same bytes), and a guard that the
export runs one single-stage scan job per table it reads.

The lz4 frame codec and none-stripping checks need no fixture and run
everywhere; only the fixture-corpus tests skip when it is absent.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest

from ta2_minmod_kg_spark.functions.ids import get_username, make_site_id
from ta2_minmod_kg_spark.operators import canonicalize, dedup, extract
from ta2_minmod_kg_spark.plans.export import (
    SECTIONS,
    _inventory,
    _reference,
    _cand,
    dedup_sites_json,
)
from ta2_minmod_kg_spark.sources import vocab

FIXTURE_DIR = Path("/root/reference/tests/resources/kgdata/mineral-sites/json")


def _load_records():
    from ta2_minmod_kg_spark.operators.constrained import constrained_type_error

    recs = []
    for f in sorted(FIXTURE_DIR.glob("*.json")):
        recs.extend(json.load(open(f)))
    # the corpus contains two records the REFERENCE's own deserializer
    # rejects (padded observed_name values) — split_violations now
    # quarantines them identically (tests/test_constrained.py), so the
    # export fixture works on the accepted subset
    return [r for r in recs if constrained_type_error(r) is None]


@pytest.fixture(scope="module")
def exported(spark):
    if not FIXTURE_DIR.exists():
        pytest.skip("reference fixtures not available")
    recs = _load_records()
    rows = [
        {
            "repo": "reference-fixtures",
            "path": f"inferlink/cdr/0/rec-{i}.json",
            "commit": f"{i:08x}",
            "lang": "json",
            "content": json.dumps(r, sort_keys=True),
        }
        for i, r in enumerate(recs)
    ]
    ingest = spark.createDataFrame(pd.DataFrame(rows))
    vdfs = vocab.vocab_dataframes(spark)
    docs = extract.parse_sites(ingest)
    sites = extract.normalize_sites(docs, vdfs).persist()
    membership = canonicalize.build_membership(sites, None, None)
    swd = sites.drop("dedup_site_id").join(membership, "site_id").persist()
    gt = extract.doc_rows(docs, vdfs, "inv_views")
    out = {
        "sites_rel": swd,
        "dedup_sites": dedup.merge_dedup_sites(swd),
        "inv_views": gt,
        "dedup_inventories": dedup.select_dedup_inventories(swd, gt),
    }
    doc = dedup_sites_json(out)
    return recs, doc, out


def test_sections_and_counts(exported):
    recs, doc, _ = exported
    assert set(doc) == set(SECTIONS)
    assert len(doc["MineralSite"]) == len(recs)
    assert len(doc["MineralInventoryView"]) == len(recs)
    assert 0 < len(doc["DedupMineralSite"]) <= len(recs)
    dedup_ids = {d["id"] for d in doc["DedupMineralSite"]}
    for ms in doc["MineralSite"]:
        assert ms["dedup_site_id"] in dedup_ids
    for inv in doc["DedupMineralInventoryView"]:
        assert inv["dedup_site_id"] in dedup_ids


def test_mineral_site_rows_roundtrip_raw(exported):
    """Exported nested content == shapers over the RAW fixture dict."""
    recs, doc, _ = exported
    by_id = {ms["site_id"]: ms for ms in doc["MineralSite"]}
    for raw in recs:
        sid = make_site_id(
            get_username(raw["created_by"]), raw["source_id"], str(raw["record_id"])
        )
        ms = by_id[sid]
        assert ms["source_id"] == raw["source_id"]
        assert ms["record_id"] == str(raw["record_id"])
        assert ms["created_by"] == raw["created_by"]
        want_invs = [_inventory(i) for i in raw.get("mineral_inventory", [])]
        assert ms.get("inventories", []) == want_invs, sid
        want_refs = [_reference(r) for r in raw.get("reference", [])]
        assert ms.get("reference", []) == want_refs, sid
        loc = raw.get("location_info")
        if loc:
            got_loc = ms.get("location", {})
            assert got_loc.get("coordinates") == loc.get("location")
            want_c = [_cand(c) for c in loc.get("country", [])]
            assert got_loc.get("country", []) == want_c, sid
            want_s = [_cand(c) for c in loc.get("state_or_province", [])]
            assert got_loc.get("state_or_province", []) == want_s, sid
        if raw.get("name") is not None:
            assert ms["name"] == raw["name"]


def test_dedup_rows_shape(exported):
    _, doc, _ = exported
    allowed = {
        "id", "name", "type", "rank", "deposit_types", "coordinates",
        "country", "state_or_province", "mineral_form", "geology_info",
        "discovered_year", "ranked_sites", "modified_at",
    }
    geo_keys = {
        "alteration", "concentration_process", "ore_control", "host_rock",
        "associated_rock", "structure", "tectonic",
    }
    for d in doc["DedupMineralSite"]:
        assert set(d) <= allowed, d.keys()
        assert {"id", "country", "state_or_province", "mineral_form",
                "geology_info", "ranked_sites", "modified_at"} <= set(d)
        assert set(d["geology_info"]) == geo_keys
        # ranked order: score desc with reference suborder tie-break
        keys = [
            (s["score"]["score"], tuple(map(str, s["score"]["suborder"])))
            for s in d["ranked_sites"]
        ]
        assert keys == sorted(keys, reverse=True) or len(keys) <= 1
        for dt in d.get("deposit_types", []):
            assert set(dt) == {"value", "refid"}
            assert set(dt["value"]) == {"id", "source", "confidence"}


def test_inventory_view_rows(exported):
    recs, doc, _ = exported
    for entry in doc["MineralInventoryView"]:
        assert set(entry) == {"invs", "site"}
        for inv in entry["invs"]:
            assert "commodity" in inv
            assert set(inv) <= {
                "commodity", "contained_metal", "tonnage", "grade", "date",
            }


def test_lz4_frame_codec_roundtrip():
    """K2 compression parity (VERDICT r02 #10): spec-conformant LZ4 frame
    write + full-decoder read; xxh32 empty-input vector pinned."""
    from ta2_minmod_kg_spark.functions.lz4frame import (
        _decode_block,
        compress,
        decompress,
        xxh32,
    )

    assert xxh32(b"") == 0x02CC5D05  # published spec vector
    for payload in (b"", b"x", b"hello world" * 1000, bytes(range(256)) * 999):
        assert decompress(compress(payload)) == payload
    # the block decoder handles real compressed sequences, incl. the
    # RLE-style overlapping match (offset 1)
    # literals "ab" then match(offset=1, len=8): "ab" + "b"*8
    blk = bytes([0x24, ord("a"), ord("b"), 0x01, 0x00])
    assert _decode_block(blk) == b"ab" + b"b" * 8


# -- the merged document of a pipeline build ------------------------------------

MR = "https://minmod.isi.edu/resource/"
# a planted site whose commodities are not in sorted order, each listed
# once: its MineralInventoryView entry must keep this order
PLANTED_COMMODITIES = ["Q1018", "Q1013", "Q1005", "Q1003"]


def _kg_ingest(spark):
    """30 synthetic records: record 0 has a non-ASCII name and a
    discovered year, record 1 the planted commodity order."""
    from ta2_minmod_kg_spark.sources import synthetic

    rows = []
    for i in range(30):
        rec = synthetic.make_record(i, 30)
        if i == 0:
            rec["name"] = "Mina S\u00e3o Jo\u00e3o \u2013 \u00fc"
            rec["discovered_year"] = 1883
        if i == 1:
            inv = rec["mineral_inventory"][0]
            rec["mineral_inventory"] = [
                {**inv, "commodity": {**inv["commodity"], "normalized_uri": MR + q}}
                for q in PLANTED_COMMODITIES
            ]
        rows.append(("r", f"data/s{i}.json", "c", "json", json.dumps(rec)))
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def _kg_build(spark, workdir):
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline

    return KGPipeline(spark, str(workdir), n_buckets=4).run(
        _kg_ingest(spark), vocab.vocab_dataframes(spark)
    )


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    """``KGPipeline.run``'s tables and their merged document."""
    out = _kg_build(spark, tmp_path_factory.mktemp("kg") / "wd")
    return out, dedup_sites_json(out)


def test_write_read_dedup_sites_json_both_layouts(kg, tmp_path):
    """write .json and .json.lz4 of a pipeline build; read back both;
    identical documents, each the formatted one."""
    from ta2_minmod_kg_spark.plans.export import (
        read_dedup_sites_json,
        write_dedup_sites_json,
    )

    out, doc = kg
    plain = str(tmp_path / "dedup_sites.json")
    packed = str(tmp_path / "dedup_sites.json.lz4")
    write_dedup_sites_json(out, plain)
    write_dedup_sites_json(out, packed)
    a, b = read_dedup_sites_json(plain), read_dedup_sites_json(packed)
    assert a == b == doc and list(a) == list(SECTIONS)
    assert len(a["MineralSite"]) >= 30
    # the lz4 file is a real frame (magic) readable by any lz4 tool
    assert open(packed, "rb").read(4) == b"\x04\x22\x4d\x18"


def test_merged_file_is_the_dumped_document(kg, tmp_path):
    """``dump_dedup_sites_json`` writes the document as ASCII JSON (a
    non-ASCII name is escaped, float measures kept), its sections in
    ``SECTIONS`` order and each row's keys sorted; the ``.lz4`` file
    decompresses to the plain file's bytes."""
    from ta2_minmod_kg_spark.functions.lz4frame import decompress
    from ta2_minmod_kg_spark.plans.export import dump_dedup_sites_json

    _, doc = kg
    plain = str(tmp_path / "dedup_sites.json")
    packed = str(tmp_path / "dedup_sites.json.lz4")
    dump_dedup_sites_json(doc, plain)
    dump_dedup_sites_json(doc, packed)
    raw = open(plain, "rb").read()
    assert decompress(open(packed, "rb").read()) == raw
    assert raw.isascii() and b"\\u00e3" in raw
    assert json.loads(raw) == doc and len(doc["MineralSite"]) == 30
    pairs = json.loads(raw, object_pairs_hook=lambda kv: kv)
    assert [k for k, _ in pairs] == list(SECTIONS)
    for _, rows in pairs:
        for row in rows:
            keys = [k for k, _ in row]
            assert keys == sorted(keys), keys


def test_mineral_sites_carry_their_dedup_group(kg):
    """Every MineralSite row names its dedup group: a DedupMineralSite
    ``id``, the one ``membership`` gives the site, and the group whose
    ``ranked_sites`` list it.  (``KGPipeline.run``'s ``sites_rel`` holds
    no ``dedup_site_id``; the formatter takes it from the groups.)"""
    out, doc = kg
    membership = {
        r["site_id"]: r["dedup_site_id"] for r in out["membership"].collect()
    }
    dedup_ids = {d["id"] for d in doc["DedupMineralSite"]}
    ranked = {
        s["site_id"]: d["id"]
        for d in doc["DedupMineralSite"]
        for s in d["ranked_sites"]
    }
    assert len(doc["MineralSite"]) == len(membership) == 30
    for ms in doc["MineralSite"]:
        assert ms["dedup_site_id"] in dedup_ids
        assert ms["dedup_site_id"] == membership[ms["site_id"]]
        assert ms["dedup_site_id"] == ranked[ms["site_id"]]


def test_discovered_year_is_an_int(kg):
    """The kgrel MineralSite model's ``discovered_year`` is an int; pandas
    holds the nullable column as float64, which must not leak as 1883.0."""
    _, doc = kg
    years = [
        ms["discovered_year"] for ms in doc["MineralSite"] if "discovered_year" in ms
    ]
    assert 1883 in years
    assert all(type(y) is int for y in years), years
    assert '"discovered_year": 1883,' in json.dumps(doc["MineralSite"], sort_keys=True)
    for d in doc["DedupMineralSite"]:
        if "discovered_year" in d:
            assert type(d["discovered_year"]["value"]) is int


def test_sections_in_a_fixed_order(kg, spark, tmp_path):
    """Two builds of one corpus into two workdirs write byte-identical
    files; the sections are sorted by their keys, and the planted site's
    ``invs`` follow its document's commodity order."""
    from ta2_minmod_kg_spark.plans.export import write_dedup_sites_json

    out, doc = kg
    files = []
    for name, tables in (("a", out), ("b", _kg_build(spark, tmp_path / "wd"))):
        path = tmp_path / f"{name}.json"
        write_dedup_sites_json(tables, str(path))
        files.append(path.read_bytes())
    assert files[0] == files[1]

    def keys(section, *ks):
        return [tuple(r[k] for k in ks) for r in doc[section]]

    assert keys("DedupMineralSite", "id") == sorted(keys("DedupMineralSite", "id"))
    assert keys("MineralSite", "site_id") == sorted(keys("MineralSite", "site_id"))
    site_order = [r["site"] for r in doc["MineralInventoryView"]]
    assert site_order == [k for (k,) in keys("MineralSite", "site_id")]
    dmi = keys("DedupMineralInventoryView", "dedup_site_id", "commodity")
    assert dmi == sorted(dmi) and dmi
    planted = [
        [i["commodity"] for i in r["invs"]]
        for r in doc["MineralInventoryView"]
        if len(r["invs"]) == len(PLANTED_COMMODITIES)
        and {i["commodity"] for i in r["invs"]} == set(PLANTED_COMMODITIES)
    ]
    assert planted == [PLANTED_COMMODITIES]


def test_export_runs_one_scan_job_per_table(kg, spark, tmp_path):
    """CI guard: the export reads its four tables with at most one Spark
    job each, and every job is one stage — no section join, shuffle or
    Python stage in front of the collect."""
    from ta2_minmod_kg_spark.plans.export import write_dedup_sites_json

    out, _ = kg
    sc = spark.sparkContext
    group = "guard-export"
    sc.setJobGroup(group, group)
    try:
        write_dedup_sites_json(out, str(tmp_path / "dedup_sites.json.lz4"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 4, jobs
    for j in jobs:
        assert len(tracker.getJobInfo(j).stageIds) == 1, (j, tracker.getJobInfo(j))


def _ref_format_dedup_site():
    """The reference's EXECUTED format_dedup_site
    (integrations/cdr/cdr.py:120-223): cdr_schemas.py is imported directly
    (pure pydantic); the formatter function is extracted from cdr.py by
    AST because the module's top-level imports (httpx/serde/loguru) are
    not in this container."""
    import ast
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "ref_cdr_schemas",
        "/root/reference/minmodkg/integrations/cdr/cdr_schemas.py",
    )
    schemas = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = schemas
    spec.loader.exec_module(schemas)

    src = "/root/reference/minmodkg/integrations/cdr/cdr.py"
    tree = ast.parse(open(src).read())
    fn = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "format_dedup_site"
    )
    ns = {
        "DedupSite": schemas.DedupSite,
        "DedupSiteRecord": schemas.DedupSiteRecord,
        "DepositTypeCandidate": schemas.DepositTypeCandidate,
        "MINMOD_SYSTEM": "minmod",  # cdr_helper.py:25 default
        "DedupMineralSitePublic": object,
        "InternalID": str,
        "list": list,
        "dict": dict,
    }
    mod = ast.Module(body=[fn], type_ignores=[])
    exec(compile(ast.fix_missing_locations(mod), src, "exec"), ns)
    return ns["format_dedup_site"]


def test_cdr_export_parity_vs_executed_reference(exported, spark):
    """CDR projection parity on the reference fixture corpus: the engine's
    cdr_export_json_rows must be field-identical to the reference's own
    format_dedup_site run on the same merged dedup views."""
    from types import SimpleNamespace

    from ta2_minmod_kg_spark.functions.rdf import format_nanoseconds
    from ta2_minmod_kg_spark.plans.export import cdr_export_json_rows

    _, _, out = exported
    fmt = _ref_format_dedup_site()

    # id→name dims: the fixture corpus references the real minmod
    # vocabulary (ids the synthetic vocab lacks); the maps are an INPUT to
    # both formatters, so cover every id present with deterministic names
    # (the reference would use MinmodHelper.get_*_id2name here)
    v = vocab.synthetic_vocab()
    commodity_id2name = {r["minmod_id"]: r["name"] for r in v["commodity"]}
    country_id2name = {r["minmod_id"]: r["name"] for r in v["country"]}
    province_id2name = {r["minmod_id"]: r["name"] for r in v["state_or_province"]}
    for r in out["dedup_inventories"].select("commodity").distinct().collect():
        commodity_id2name.setdefault(r["commodity"], f"commodity {r['commodity']}")
    for r in out["dedup_sites"].collect():
        for c in (r["country"] or {})["value"] or []:
            country_id2name.setdefault(str(c), f"country {c}")
        for p in (r["state_or_province"] or {})["value"] or []:
            province_id2name.setdefault(str(p), f"province {p}")

    got_rows = cdr_export_json_rows(
        out["dedup_sites"],
        out["dedup_inventories"],
        commodity_id2name,
        country_id2name,
        province_id2name,
    ).collect()
    got = {
        (r["dedup_site_id"], r["commodity"]): json.loads(r["json"])
        for r in got_rows
    }

    # reference path: duck DedupMineralSitePublic from the same merged rows
    merged = {r["dedup_site_id"]: r for r in out["dedup_sites"].collect()}
    invs_by = {}
    for r in out["dedup_inventories"].collect():
        invs_by.setdefault(r["dedup_site_id"], []).append(r)

    want = {}
    n_src_records = 0
    for did, row in merged.items():
        gts = sorted(invs_by.get(did, []), key=lambda r: r["commodity"])
        coords = row["coordinates"]
        country_ids = list((row["country"] or {})["value"] or [])
        prov_ids = list((row["state_or_province"] or {})["value"] or [])
        loc = SimpleNamespace(
            lat=coords["lat"] if coords else None,
            lon=coords["lon"] if coords else None,
            country=country_ids,
            state_or_province=prov_ids,
        )
        loc_empty = (
            loc.lat is None
            and loc.lon is None
            and not country_ids
            and not prov_ids
        )
        duck = SimpleNamespace(
            id=did,
            name=(row["name"]["value"] if row["name"] else ""),
            type=(row["type"]["value"] if row["type"] else "NotSpecified"),
            rank=(row["rank"]["value"] if row["rank"] else "U"),
            sites=[
                SimpleNamespace(id=m["site_id"], score=m["score"])
                for m in row["ranked_sites"]
            ],
            deposit_types=[
                SimpleNamespace(
                    id=dt["id"], confidence=dt["confidence"], source=dt["source"]
                )
                for dt in (row["ranked_deposit_types"] or [])
            ],
            location=None if loc_empty else loc,
            grade_tonnage=[
                SimpleNamespace(
                    commodity=g["commodity"],
                    total_contained_metal=g["contained_metal"],
                    total_tonnage=g["tonnage"],
                    total_grade=g["grade"],
                )
                for g in gts
            ],
            modified_at=format_nanoseconds(int(row["modified_at"])),
        )
        for rec in fmt(duck, commodity_id2name, country_id2name, province_id2name):
            d = json.loads(rec.model_dump_json(exclude_none=True))
            commodity_id = d["id"].split("?commodity=")[1]
            want[(did, commodity_id)] = d
            n_src_records += 1

    assert n_src_records > 0
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], (key, got[key], want[key])


def test_cdr_none_stripping_is_recursive():
    """ADVICE r04 (low): model_dump_json(exclude_none=True) excludes None
    fields RECURSIVELY — a None nested in deposit_type_candidate must be
    omitted from the record, not serialized as null."""
    from ta2_minmod_kg_spark.plans.export import _strip_none

    rec = {
        "id": "x",
        "tonnage": None,
        "deposit_type_candidate": [
            {"deposit_type_id": "d1", "confidence": None, "source": "s"},
            {"deposit_type_id": "d2", "confidence": 0.5, "source": None},
        ],
        "sites": [{"name": "", "country": None}],
    }
    got = _strip_none(rec)
    assert got == {
        "id": "x",
        "deposit_type_candidate": [
            {"deposit_type_id": "d1", "source": "s"},
            {"deposit_type_id": "d2", "confidence": 0.5},
        ],
        "sites": [{"name": ""}],
    }
