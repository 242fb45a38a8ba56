"""P7 vocabulary-membership validation (ref validators.py:354-419) and
the P3 unsupported-CRS guard, both emitted by the document batch builder
(``extract.doc_rows``' ``vocab_violations`` rows) from its single parse."""

from __future__ import annotations

import copy
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ta2_minmod_kg_spark.operators import extract
from ta2_minmod_kg_spark.sources import synthetic, vocab

MR = "https://minmod.isi.edu/resource/"
INGEST_DDL = "repo string, path string, commit string, lang string, content string"


def _ingest(spark, recs: dict, commit: str = "c"):
    """One ingest row per ``path -> record`` (a str is sent verbatim)."""
    rows = [
        ("r", path, commit, "json", rec if isinstance(rec, str) else json.dumps(rec))
        for path, rec in recs.items()
    ]
    return spark.createDataFrame(rows, INGEST_DDL)


def _vocab_violations(spark, ingest) -> list[tuple]:
    rows = extract.doc_rows(
        extract.with_lineage(ingest), vocab.vocab_dataframes(spark), "vocab_violations"
    )
    return sorted(tuple(r) for r in rows.select("path", "field", "uri").collect())


def _ce(uri=None, **extra):
    d = {"source": "t", "confidence": 1.0, **extra}
    if uri is not None:
        d["normalized_uri"] = MR + uri
    return d


def test_clean_corpus_has_no_violations(spark):
    ingest = synthetic.synthesize_ingest(spark, 80, partitions=4)
    assert _vocab_violations(spark, ingest) == []


def test_planted_violations_detected(spark):
    rec = synthetic.make_record(3, 80)
    # out-of-vocab commodity on inventory 0 + bogus category + bad unit
    rec["mineral_inventory"][0]["commodity"]["normalized_uri"] = MR + "Q99999"
    rec["mineral_inventory"][0]["category"] = [_ce("NotACategory")]
    rec["mineral_inventory"][0]["ore"]["unit"]["normalized_uri"] = MR + "Q999"
    rec["location_info"] = {
        "country": [_ce("Q1303"), _ce("BadCountry")],
        "crs": _ce("Q1700"),
    }
    got = _vocab_violations(spark, _ingest(spark, {"data/p0.json": rec}))
    assert got == sorted(
        [
            ("data/p0.json", "mineral_inventory.commodity", MR + "Q99999"),
            ("data/p0.json", "mineral_inventory.category", MR + "NotACategory"),
            ("data/p0.json", "mineral_inventory.ore", MR + "Q999"),
            ("data/p0.json", "location_info.country", MR + "BadCountry"),
        ]
    )


def test_mentions_skip_nulls(spark):
    rec = synthetic.make_record(5, 80)
    # unlinked mentions: observed name only, no normalized_uri → not a
    # violation, even though neither name is in any vocabulary
    rec["deposit_type_candidate"] = [
        {"source": "t", "confidence": 0.5, "observed_name": "mystery type"}
    ]
    rec["location_info"] = {"country": [_ce(observed_name="Atlantis")]}
    assert _vocab_violations(spark, _ingest(spark, {"data/p1.json": rec})) == []


def test_merc_inverse_golden():
    """EPSG:3857 → 4326 pure-math reprojection against the projection's
    published constants (web-mercator bounds and a known city point)."""
    from ta2_minmod_kg_spark.functions.geo import _merc_inverse_xy
    from ta2_minmod_kg_spark.operators.extract import _wkt_centroid

    lon, lat = _merc_inverse_xy(0.0, 0.0)
    assert lat == 0.0 and lon == 0.0
    lon, lat = _merc_inverse_xy(20037508.342789244, 20037508.342789244)
    assert abs(lon - 180.0) < 1e-9
    assert abs(lat - 85.05112877980659) < 1e-9  # mercator latitude bound
    # NYC: x,y from the standard forward transform of (-74, 40.7128)
    lon, lat = _merc_inverse_xy(-8237642.318702244, 4970071.579142425)
    assert abs(lon - (-74.0)) < 1e-9
    assert abs(lat - 40.7128) < 1e-6

    lat, lon = _wkt_centroid("POINT (-8237642.318702244 4970071.579142425)", "EPSG:3857")
    assert abs(lon - (-74.0)) < 1e-9 and abs(lat - 40.7128) < 1e-6
    # unknown CRS still yields nulls here (violation row emitted separately)
    assert _wkt_centroid("POINT (1 2)", "EPSG:27700") == (None, None)
    # UTM / Oregon Lambert points reproject inline now
    lat, lon = _wkt_centroid("POINT (500000 4982950.4)", "EPSG:26912")
    assert abs(lon - (-111.0)) < 1e-6 and abs(lat - 45.0) < 1e-6


def test_3857_location_reprojected_in_normalize(spark):
    rec = synthetic.make_record(7, 80)
    rec["location_info"] = {
        "crs": _ce("Q1701"),  # EPSG:3857
        "location": "POINT (-8237642.318702244 4970071.579142425)",
    }
    ingest = _ingest(spark, {"data/p2.json": rec})
    sites = extract.normalize_sites(
        extract.parse_sites(ingest), vocab.vocab_dataframes(spark)
    ).toPandas()
    assert abs(sites["lon"].iloc[0] - (-74.0)) < 1e-9
    assert abs(sites["lat"].iloc[0] - 40.7128) < 1e-6
    # a supported CRS is NOT a violation
    assert _vocab_violations(spark, ingest) == []


def test_projected_crs_corpus_slice_reprojects_not_quarantined(spark):
    """The synthetic corpus's UTM-12N / Oregon-Lambert / NAD27 / 3857
    slices (the reference's own crs.csv set) must yield coordinates in
    normalize — matching the inverse projection — and must NOT land in
    the CRS violations table (VERDICT r02 #2)."""
    from ta2_minmod_kg_spark.functions import geo

    ingest = synthetic.synthesize_ingest(spark, 400, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)
    assert not [
        v for v in _vocab_violations(spark, ingest) if v[1].startswith("location_info.crs")
    ]

    qid_to_name = {
        MR + "Q1701": "EPSG:3857",
        MR + "Q1702": "EPSG:4267",
        MR + "Q1703": "EPSG:26912",
        MR + "Q1704": "EPSG:2994",
    }
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs)
    got = sites.select(
        "site_id",
        "location_wkt",
        sites["location_crs"]["normalized_uri"].alias("crs_uri"),
        "lat",
        "lon",
    ).toPandas()
    by_crs = got.groupby("crs_uri").size().to_dict()
    # every projected CRS actually appears in the corpus
    for uri in qid_to_name:
        assert by_crs.get(uri, 0) > 0, (uri, by_crs)
    import re

    pt = re.compile(r"POINT \(([-\d.e+]+) ([-\d.e+]+)\)")
    checked = 0
    for _, r in got.iterrows():
        name = qid_to_name.get(r["crs_uri"])
        if name in ("EPSG:26912", "EPSG:2994") and r["location_wkt"]:
            m = pt.match(r["location_wkt"])
            lon, lat = geo.point_to_wgs84(
                float(m.group(1)), float(m.group(2)), name
            )
            assert abs(r["lat"] - lat) < 1e-9 and abs(r["lon"] - lon) < 1e-9
            checked += 1
    assert checked > 0


def test_unsupported_crs_routed_to_violations(spark):
    rec = synthetic.make_record(9, 80)
    rec["location_info"] = {
        "crs": _ce("Q1799"),
        "location": "POINT (500000 4649776)",
    }
    # the same unknown CRS without a location: a membership row only
    rec2 = synthetic.make_record(10, 80)
    rec2["location_info"] = {"crs": _ce("Q1799")}
    ingest = _ingest(spark, {"data/p3.json": rec, "data/p4.json": rec2})
    assert _vocab_violations(spark, ingest) == [
        ("data/p3.json", "location_info.crs", MR + "Q1799"),
        ("data/p3.json", "location_info.crs.unsupported", MR + "Q1799"),
        ("data/p4.json", "location_info.crs", MR + "Q1799"),
    ]


def _planted_corpus() -> dict:
    """path -> record: every planted violation kind, plus clean and
    rejected documents.  Out-of-vocab units sit on measures without a
    value, so the grade-tonnage stage never converts them."""
    recs: dict = {}

    rec = synthetic.make_record(11, 80)
    rec["location_info"] = {
        "country": [_ce("BadC")],
        "state_or_province": [_ce("BadS")],
        "crs": _ce("BadCrs"),
    }
    rec["deposit_type_candidate"] = [_ce("BadDT")]
    inv = {"reference": rec["reference"][0]}
    inv.update(
        commodity=_ce("BadCom"),
        category=[_ce("BadCat")],
        grade={"unit": _ce("BadGU")},
        cutoff_grade={"unit": _ce("BadCU")},
        ore={"unit": _ce("BadOU")},
        material_form=_ce("BadMF"),
    )
    rec["mineral_inventory"] = [inv]
    recs["data/every_field.json"] = rec

    rec = synthetic.make_record(13, 80)
    rec["location_info"] = {"country": [_ce("Dup"), _ce("Q1303"), _ce("Dup")]}
    recs["data/dup_mention.json"] = rec

    # valid: the constrained tree accepts numeric strings — a
    # float-parseable measure value and box coordinate, an int-string
    # page and year
    rec = synthetic.make_record(15, 80)
    rec["mineral_inventory"] = [
        {
            "reference": rec["reference"][0],
            "commodity": _ce("Q99998"),
            "grade": {"value": "1.5", "unit": _ce("Q201")},
        }
    ]
    box = {"x_min": "0.5", "x_max": 2, "y_min": 0, "y_max": 4.5}
    rec["reference"] = [
        dict(rec["reference"][0], page_info=[{"page": "3", "bounding_box": box}])
    ]
    rec["discovered_year"] = "1990"
    recs["data/float_string.json"] = rec

    rec = synthetic.make_record(17, 80)
    rec["deposit_type_candidate"] = [
        {"source": "t", "confidence": 0.5, "observed_name": "mystery type"}
    ]
    recs["data/null_mention.json"] = rec

    rec = synthetic.make_record(19, 80)
    rec["location_info"] = {
        "crs": _ce("Q1701"),
        "location": "POINT (-8237642.318702244 4970071.579142425)",
    }
    recs["data/crs_3857.json"] = rec

    rec = synthetic.make_record(21, 80)
    rec["location_info"] = {"crs": _ce("Q1799"), "location": "POINT (1 2)"}
    recs["data/crs_unknown.json"] = rec

    recs["data/clean.json"] = synthetic.make_record(23, 80)
    recs["data/structural.json"] = '{"foo": 1}'
    rec = synthetic.make_record(25, 80)
    rec["location_info"] = {"country": [_ce("Q1303", confidence=2.0)]}
    recs["data/constrained.json"] = rec
    # an out-of-vocab URI on a REJECTED record is not a vocab violation
    rec = copy.deepcopy(recs["data/every_field.json"])
    rec["name"] = " padded"
    recs["data/rejected_vocab.json"] = rec
    return recs


def test_planted_violations_through_pipeline(spark, tmp_path):
    """The pipeline's side tables on a corpus with every planted
    violation kind, row for row against hand-written expectations."""
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline

    recs = _planted_corpus()
    wd = str(tmp_path / "wd")
    KGPipeline(spark, wd, n_buckets=4).run(
        _ingest(spark, recs), vocab.vocab_dataframes(spark)
    )

    def read(name, cols):
        df = spark.read.parquet(os.path.join(wd, name))
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert read("violations", ["path", "commit", "violation_reason"]) == [
        ("data/constrained.json", "c", "location_info.country[0].confidence"),
        ("data/rejected_vocab.json", "c", "name"),
        ("data/structural.json", "c", "structural"),
    ]
    every = [
        ("deposit_type_candidate", "BadDT"),
        ("location_info.country", "BadC"),
        ("location_info.crs", "BadCrs"),
        ("location_info.state_or_province", "BadS"),
        ("mineral_inventory.category", "BadCat"),
        ("mineral_inventory.commodity", "BadCom"),
        ("mineral_inventory.cutoff_grade", "BadCU"),
        ("mineral_inventory.grade", "BadGU"),
        ("mineral_inventory.material_form", "BadMF"),
        ("mineral_inventory.ore", "BadOU"),
    ]
    assert read("vocab_violations", ["path", "field", "uri"]) == sorted(
        [("data/every_field.json", f, MR + u) for f, u in every]
        + [
            ("data/crs_unknown.json", "location_info.crs", MR + "Q1799"),
            ("data/crs_unknown.json", "location_info.crs.unsupported", MR + "Q1799"),
            ("data/dup_mention.json", "location_info.country", MR + "Dup"),
            ("data/dup_mention.json", "location_info.country", MR + "Dup"),
            ("data/float_string.json", "mineral_inventory.commodity", MR + "Q99998"),
        ]
    )
    # every valid document is one sites_rel row; numeric strings become
    # the numbers the reference's deserializer makes of them
    sites = spark.read.parquet(os.path.join(wd, "sites_rel"))
    assert sorted(r["path"] for r in sites.select("path").collect()) == sorted(
        p for p in recs if p not in {
            "data/constrained.json", "data/rejected_vocab.json", "data/structural.json"
        }
    )
    numeric = (
        sites.filter(F.col("path") == "data/float_string.json")
        .select(
            F.col("inventories")[0]["grade"]["value"],
            F.col("reference")[0]["page_info"][0]["page"],
            F.col("reference")[0]["page_info"][0]["bounding_box"]["x_min"],
            "discovered_year",
        )
        .first()
    )
    assert tuple(numeric) == (1.5, 3, 0.5, 1990)


def _sorted_rows(df) -> list[str]:
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )


def test_document_pass_matches_the_frame_operators(spark, tmp_path):
    """On the planted corpus, the five tables the pipeline's document pass
    writes with pyarrow read back with the schemas and sorted rows of the
    frame operator's output (``doc_rows``, run per bucket) written by
    Spark's partitioned writer, and no file carries an ``ARROW:schema``
    or ``pandas`` footer key."""
    import glob
    from functools import reduce

    import pyarrow.parquet as pq

    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline, with_bucket

    n_buckets = 4
    ingest = _ingest(spark, _planted_corpus())
    vdfs = vocab.vocab_dataframes(spark)
    wd = str(tmp_path / "wd")
    KGPipeline(spark, wd, n_buckets=n_buckets).run(ingest, vdfs)

    docs = extract.with_lineage(with_bucket(ingest, n_buckets))
    for table in extract.DOC_TABLES:
        # the pass's bucket is a directory, not a column of its rows
        frame = reduce(
            DataFrame.unionAll,
            [
                extract.doc_rows(docs.filter(F.col("bucket") == b), vdfs, table)
                .withColumn("bucket", F.lit(b))
                for b in range(n_buckets)
            ],
        )
        ref = str(tmp_path / "ref" / table)
        frame.write.partitionBy("bucket").parquet(ref)
        want = spark.read.parquet(ref)
        got = spark.read.parquet(os.path.join(wd, table))
        assert want.count() > 0, table
        assert got.schema == want.schema, (table, got.schema, want.schema)
        assert _sorted_rows(got) == _sorted_rows(want), table
        files = glob.glob(os.path.join(wd, table, "bucket=*", "*.parquet"))
        assert files, table
        for f in files:
            keys = set(pq.read_metadata(f).metadata or {})
            assert not keys & {b"ARROW:schema", b"pandas"}, (f, keys)


def test_pipeline_returns_the_quarantine_tables(spark, tmp_path):
    """``KGPipeline.run`` returns ``violations`` and ``vocab_violations``
    with their declared columns: empty on a clean corpus (no file is
    written there, only ``_SUCCESS``), the planted rows otherwise."""
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline

    vdfs = vocab.vocab_dataframes(spark)
    clean = KGPipeline(spark, str(tmp_path / "clean"), n_buckets=4).run(
        _ingest(spark, {"data/clean.json": synthetic.make_record(23, 80)}), vdfs
    )
    columns = {
        "violations": [
            "repo", "path", "commit", "content_sha256", "violation_reason", "bucket"
        ],
        "vocab_violations": ["repo", "path", "field", "uri", "bucket"],
    }
    for table, cols in columns.items():
        assert clean[table].columns == cols, (table, clean[table].columns)
        assert clean[table].count() == 0, table

    planted = KGPipeline(spark, str(tmp_path / "planted"), n_buckets=4).run(
        _ingest(spark, _planted_corpus()), vdfs
    )
    for table, cols in columns.items():
        assert planted[table].columns == cols, (table, planted[table].columns)
    assert sorted(
        tuple(r) for r in planted["violations"].select("path", "violation_reason").collect()
    ) == [
        ("data/constrained.json", "location_info.country[0].confidence"),
        ("data/rejected_vocab.json", "name"),
        ("data/structural.json", "structural"),
    ]
    assert planted["vocab_violations"].count() == 15
    # the bucket column is the hive directory's
    assert planted["vocab_violations"].filter(F.col("bucket").isNull()).count() == 0


def _planted_groups() -> dict:
    """path -> record: a singleton group; a three-site group of a system
    and an expert record sharing a commodity (the user/system cascade)
    and an expert site without inventories; and two documents of one
    site (one ``site_id``), whose rank keys tie."""
    recs: dict = {}

    def planted(n, record_id, created_by=None, **fields):
        rec = synthetic.make_record(n, 80, expert=created_by is not None)
        rec["record_id"] = record_id
        if created_by is not None:
            rec["created_by"] = created_by
        rec.update(fields)
        return rec

    recs["group/singleton.json"] = planted(31, "planted-singleton")
    system = planted(33, "planted-trio")
    assert system.get("mineral_inventory")
    recs["group/trio_system.json"] = system
    recs["group/trio_expert.json"] = planted(
        33,
        "planted-trio",
        synthetic.EXPERT_USER,
        mineral_inventory=copy.deepcopy(system["mineral_inventory"]),
    )
    recs["group/trio_no_inventory.json"] = planted(
        35,
        "planted-trio",
        "https://minmod.isi.edu/users/u/bob",
        source_id=system["source_id"],
        mineral_inventory=[],
    )
    one = planted(37, "planted-duplicate")
    assert one.get("mineral_inventory")
    recs["group/duplicate_a.json"] = one
    recs["group/duplicate_b.json"] = dict(copy.deepcopy(one), name="Second document")
    return recs


def test_group_pass_matches_the_frame_operators(spark, tmp_path):
    """On the synthetic corpus plus planted groups, the group pass's
    ``dedup_sites`` and ``dedup_inventories`` read back with the schemas
    and sorted rows of the frame operators (``merge_dedup_sites``,
    ``select_dedup_inventories``), and its ``sameas_triples`` equal the
    same-as rule restated over ``membership``: per group, the min member
    (``relabel_min``) ``owl:sameAs`` every other member, or itself for a
    group of one."""
    from ta2_minmod_kg_spark.operators import dedup
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline

    n = 400
    ingest = synthetic.synthesize_ingest(spark, n, partitions=4).unionByName(
        _ingest(spark, _planted_groups())
    )
    out = KGPipeline(spark, str(tmp_path / "wd"), n_buckets=4).run(
        ingest,
        vocab.vocab_dataframes(spark),
        synthetic.synthesize_system_edges(spark, n, partitions=4),
        synthetic.curated_edges_df(spark, n),
    )

    swd = out["sites_rel"].drop("dedup_site_id").join(
        out["membership"], "site_id", "left"
    )
    frames = {
        "dedup_sites": dedup.merge_dedup_sites(swd),
        "dedup_inventories": dedup.select_dedup_inventories(swd, out["inv_views"]),
    }
    for table, frame in frames.items():
        assert out[table].schema == frame.schema, table
        assert _sorted_rows(out[table]) == _sorted_rows(frame), table

    groups: dict = {}
    for site_id, dedup_id in out["membership"].collect():
        groups.setdefault(dedup_id, set()).add(site_id)
    want = sorted(
        ("mr:" + min(g), "owl:sameAs", "mr:" + m, min(g))
        for g in groups.values()
        for m in g
        if m != min(g) or len(g) == 1
    )
    assert sorted(tuple(r) for r in out["sameas_triples"].collect()) == want

    # the plants landed: one site_id from two documents, a singleton, and
    # a three-site group with a member without inventories
    paths = {p: sid for p, sid in out["sites_rel"].select("path", "site_id").collect()}
    dup = paths["group/duplicate_a.json"]
    assert paths["group/duplicate_b.json"] == dup
    member = dict(out["membership"].collect())
    assert len(groups[member[paths["group/singleton.json"]]]) == 1
    trio = groups[member[paths["group/trio_system.json"]]]
    kinds = ("system", "expert", "no_inventory")
    assert {paths[f"group/trio_{k}.json"] for k in kinds} <= trio
    viewed = {r[0] for r in out["inv_views"].select("site_id").collect()}
    assert paths["group/trio_no_inventory.json"] not in viewed
    assert dup in viewed
