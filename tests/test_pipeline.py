"""Pipeline end-to-end: run, per-bucket lineage, kill-and-resume, sinks,
triple diff, serving queries."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ta2_minmod_kg_spark.plans.pipeline import KGPipeline, with_bucket
from ta2_minmod_kg_spark.sources import synthetic, vocab

N = 100


def _assert_jvm_times(metrics: dict) -> None:
    """Every stage that ran carries the driver JVM's JIT and GC time over
    it; a skipped stage carries neither."""
    for stage, m in metrics.items():
        for key in ("jit_ms", "gc_ms"):
            if m["skipped"]:
                assert key not in m, (stage, key, m)
            else:
                assert type(m[key]) is int and m[key] >= 0, (stage, key, m)


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("kgwd"))
    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)
    edges = synthetic.synthesize_system_edges(spark, N, partitions=4)
    curated = spark.createDataFrame(
        pd.DataFrame(synthetic.synthesize_curated_edges(N))
    )
    pipe = KGPipeline(spark, wd, n_buckets=8)
    out = pipe.run(ingest, vdfs, edges, curated)
    return wd, pipe, out, (ingest, vdfs, edges, curated)


def test_outputs_and_lineage(pipeline_out):
    wd, pipe, out, _ = pipeline_out
    assert out["sites_rel"].count() > N
    assert out["triples"].count() > 20 * N
    assert out["dedup_sites"].count() == out["membership"].select(
        "dedup_site_id"
    ).distinct().count()
    # per-bucket lineage recorded with hashes + metrics
    meta = json.load(open(os.path.join(wd, "_LINEAGE_sites_rel.json")))
    assert meta["n_buckets"] >= 1
    assert all("content_hash" in r and "n_rows" in r for r in meta["per_bucket"])
    assert meta["wall_ms"] > 0
    with open(os.path.join(wd, "metrics.json")) as f:
        metrics = json.load(f)
    # every returned table is a recorded stage, but the two quarantine
    # tables the sites_rel stage writes beside its own
    assert set(metrics) == set(out) - {"violations", "vocab_violations"}
    assert not any(m["skipped"] for m in metrics.values()), metrics
    _assert_jvm_times(metrics)


def test_sha256_invariant(pipeline_out, spark):
    """Per-row invariant: sha256(content) survives into sites_rel."""
    import hashlib

    wd, pipe, out, (ingest, *_ ) = pipeline_out
    raw = ingest.select("content").toPandas()["content"]
    expect = sorted(hashlib.sha256(c.encode()).hexdigest() for c in raw)
    got = sorted(out["sites_rel"].select("content_sha256").toPandas()["content_sha256"])
    assert got == expect


def test_resume_skips_completed_stages(pipeline_out, spark):
    wd, _, out, (ingest, vdfs, edges, curated) = pipeline_out
    pipe2 = KGPipeline(spark, wd, n_buckets=8)
    out2 = pipe2.run(ingest, vdfs, edges, curated)
    assert all(m["skipped"] for m in pipe2.metrics.values()), pipe2.metrics
    _assert_jvm_times(pipe2.metrics)
    assert out2["triples"].count() > 0
    # the skip path reads each table with the schema the run path returned
    assert {t: df.schema for t, df in out2.items()} == {
        t: df.schema for t, df in out.items()
    }


def test_changed_buckets(pipeline_out, spark):
    from ta2_minmod_kg_spark.plans.pipeline import bucket_hashes

    wd, pipe, out, (ingest, *_ ) = pipeline_out
    b = with_bucket(ingest, 8)
    pb = [r.asDict() for r in bucket_hashes(b).collect()]
    assert pipe.lineage.changed_buckets("ingest", pb) == []
    pb[0]["content_hash"] = "tampered"
    assert pipe.lineage.changed_buckets("ingest", pb) == [pb[0]["bucket"]]


def test_ttl_sink(pipeline_out, spark, tmp_path):
    from ta2_minmod_kg_spark.sources.sinks import write_ttl

    _, _, out, _ = pipeline_out
    path = str(tmp_path / "ttl")
    write_ttl(out["triples"].limit(100), path)
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert files
    text = open(os.path.join(path, files[0])).read()
    assert text.splitlines()[0].endswith(". ")
    assert open(os.path.join(path, "_prefixes.ttl")).read().startswith("@prefix mr:")


def test_triple_diff(pipeline_out, spark):
    from ta2_minmod_kg_spark.streaming.events import triple_diff

    _, _, out, _ = pipeline_out
    t = out["triples"].select("subj", "pred", "obj")
    changed = t.limit(5).withColumn("obj", F.lit('"edited"'))
    new = t.exceptAll(t.limit(5)).unionAll(changed)
    d = triple_diff(t, new)
    assert d["delete"].count() == 5
    assert d["insert"].count() == 5


def test_serving_queries(pipeline_out, spark):
    from ta2_minmod_kg_spark.plans import serving

    _, _, out, _ = pipeline_out
    vdfs = vocab.vocab_dataframes(spark)
    ds, di = out["dedup_sites"], out["dedup_inventories"]

    all_rows = serving.find_dedup_sites(ds, di)
    assert all_rows.count() == ds.count()

    some_commodity = di.filter(F.col("contained_metal").isNotNull()).first()
    got = serving.find_dedup_sites(
        ds, di, commodity=some_commodity["commodity"], has_grade_tonnage=True
    )
    assert 0 < got.count() <= ds.count()

    page = serving.find_dedup_sites(ds, di, limit=5, offset=2).toPandas()
    full = serving.find_dedup_sites(ds, di).toPandas()
    assert list(page["dedup_site_id"]) == list(full["dedup_site_id"][2:7])

    ids = [r["site_id"] for r in out["sites_rel"].select("site_id").head(3)]
    assert serving.find_by_ids(out["sites_rel"], ids).count() == 3

    csv_rows = serving.export_csv_rows(ds, di, vdfs["commodity"])
    assert csv_rows.count() == di.count()
    assert "total_tonnage_tonnes" in csv_rows.columns

    subj = out["triples"].first()["subj"]
    sub = serving.describe_resource(out["triples"], subj, hops=1)
    assert sub.count() > 0


def test_zz_resume_recomputes_on_input_change(pipeline_out, spark, tmp_path):
    """Input change invalidates the fingerprint → stage recomputes.
    Runs LAST, on a COPY of the workdir, so earlier tests' lazy parquet
    readers keep their files."""
    import shutil

    wd, _, _, (_, vdfs, edges, curated) = pipeline_out
    wd2 = str(tmp_path / "wd2")
    shutil.copytree(wd, wd2)
    ingest2 = synthetic.synthesize_ingest(spark, N + 10, partitions=4)
    pipe3 = KGPipeline(spark, wd2, n_buckets=8)
    pipe3.run(ingest2, vdfs, edges, curated)
    assert not pipe3.metrics["sites_rel"]["skipped"]


def test_zz2_incremental_changed_bucket_recompute(pipeline_out, spark, tmp_path):
    """One modified ingest row → only its bucket recomputes in the
    bucket-partitioned stages (dynamic partition overwrite), and the
    outputs reflect the edit."""
    import shutil

    from pyspark.sql import functions as F

    wd, _, _, (ingest, vdfs, edges, curated) = pipeline_out
    wd2 = str(tmp_path / "wd_inc")
    shutil.copytree(wd, wd2)

    target = ingest.select("path").first()["path"]
    ingest2 = ingest.withColumn(
        "content",
        F.when(
            F.col("path") == target,
            F.regexp_replace("content", r'"name": "[^"]*"', '"name": "EDITED NAME"'),
        ).otherwise(F.col("content")),
    )
    pipe = KGPipeline(spark, wd2, n_buckets=8)
    out = pipe.run(ingest2, vdfs, edges, curated)
    m = pipe.metrics["sites_rel"]
    assert m["skipped"] is False and m["incremental_buckets"] == 1, m
    assert pipe.metrics["triples"]["incremental_buckets"] == 1
    _assert_jvm_times(pipe.metrics)
    # total row counts preserved; edit visible in the output table
    assert out["sites_rel"].count() == ingest.count()
    names = out["sites_rel"].filter(F.col("path") == target).select("name").collect()
    assert names[0]["name"] == "EDITED NAME"
    # triples regenerated for the edited record only, none lost
    assert out["triples"].count() > 0
    assert (
        out["triples"].filter(F.col("obj") == '"EDITED NAME"').count() >= 1
    )


def test_zz3_deleted_bucket_clears_stale_partition(pipeline_out, spark, tmp_path):
    """Deleting every file of a bucket must clear its output partitions on
    the incremental path — dynamic overwrite alone would leave them stale."""
    import shutil

    wd, _, _, (ingest, vdfs, edges, curated) = pipeline_out
    wd2 = str(tmp_path / "wd_del")
    shutil.copytree(wd, wd2)

    b = with_bucket(ingest, 8)
    victim = b.select("bucket").first()["bucket"]
    ingest2 = b.filter(F.col("bucket") != victim).drop("bucket")

    pipe = KGPipeline(spark, wd2, n_buckets=8)
    out = pipe.run(ingest2, vdfs, edges, curated)
    assert pipe.metrics["sites_rel"]["skipped"] is False
    # stale rows gone from both bucket-partitioned outputs
    assert out["sites_rel"].filter(F.col("bucket") == victim).count() == 0
    assert out["triples"].filter(F.col("bucket") == victim).count() == 0
    assert out["sites_rel"].count() > 0
    # read-back from disk agrees (not just the returned handle)
    disk = spark.read.parquet(os.path.join(wd2, "sites_rel"))
    assert disk.filter(F.col("bucket") == victim).count() == 0


def test_zz4_violations_survive_incremental_runs(spark, tmp_path):
    """Violations are bucket-partitioned: an incremental run over changed
    buckets must not clobber other buckets' violation rows."""
    wd = str(tmp_path / "wd_vio")
    base = synthetic.synthesize_ingest(spark, 60, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)

    def bad_row(path):
        return ("minmod-data", path, "c0", "json", '{"foo": 1}')

    # two malformed docs landing in different buckets
    paths = [f"data/bad_{i}.json" for i in range(20)]
    extra = spark.createDataFrame(
        [bad_row(p) for p in paths],
        "repo string, path string, commit string, lang string, content string",
    )
    ingest1 = base.unionByName(extra)
    pipe1 = KGPipeline(spark, wd, n_buckets=8)
    pipe1.run(ingest1, vdfs)
    vio1 = spark.read.parquet(os.path.join(wd, "violations"))
    buckets_with_vio = {
        r["bucket"] for r in vio1.select("bucket").distinct().collect()
    }
    assert len(buckets_with_vio) >= 2, "fixture needs violations in ≥2 buckets"
    assert vio1.count() == len(paths)

    # edit ONE good row (single changed bucket, no new violations there)
    target = base.select("path").first()["path"]
    ingest2 = ingest1.withColumn(
        "content",
        F.when(
            F.col("path") == target,
            F.regexp_replace("content", r'"name": "[^"]*"', '"name": "EDITED"'),
        ).otherwise(F.col("content")),
    )
    pipe2 = KGPipeline(spark, wd, n_buckets=8)
    pipe2.run(ingest2, vdfs)
    assert pipe2.metrics["sites_rel"]["incremental_buckets"] is not None
    vio2 = spark.read.parquet(os.path.join(wd, "violations"))
    assert vio2.count() == len(paths), "unchanged buckets' violations were lost"


def test_zz5_config_change_invalidates_fingerprint(spark, tmp_path):
    """Re-running the same workdir with different output-affecting config
    must recompute, not serve the previous configuration's outputs."""
    wd = str(tmp_path / "wd_cfg")
    ingest = synthetic.synthesize_ingest(spark, 40, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)

    pipe1 = KGPipeline(spark, wd, n_buckets=8, include_extra_triples=False)
    pipe1.run(ingest, vdfs)
    pipe2 = KGPipeline(spark, wd, n_buckets=8, include_extra_triples=True)
    pipe2.run(ingest, vdfs)
    assert not pipe2.metrics["triples"]["skipped"], (
        "include_extra_triples change must invalidate the triples stage"
    )


def test_zz6_config_change_with_content_change_full_rebuild(spark, tmp_path):
    """A config change coinciding with a content change in ≥1 bucket must
    force a FULL rebuild — the incremental path would rebuild only the
    content-dirty buckets under the new config while clean buckets keep
    old-config rows, yielding a permanently mixed-config table
    (ADVICE r02 #1)."""
    wd = str(tmp_path / "wd_cfg_mix")
    ingest = synthetic.synthesize_ingest(spark, 40, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)

    pipe1 = KGPipeline(spark, wd, n_buckets=8, include_extra_triples=False)
    pipe1.run(ingest, vdfs)
    n_plain = spark.read.parquet(os.path.join(wd, "triples")).count()

    # edit one record AND flip the config in the same run
    target = ingest.select("path").first()["path"]
    ingest2 = ingest.withColumn(
        "content",
        F.when(
            F.col("path") == target,
            F.regexp_replace("content", r'"name": "[^"]*"', '"name": "EDITED"'),
        ).otherwise(F.col("content")),
    )
    pipe2 = KGPipeline(spark, wd, n_buckets=8, include_extra_triples=True)
    out = pipe2.run(ingest2, vdfs)
    m = pipe2.metrics["triples"]
    assert m["skipped"] is False and m["incremental_buckets"] is None, (
        "config change must disable the incremental path",
        m,
    )
    # every bucket now carries new-config rows: a reference full run under
    # the new config in a fresh workdir produces the same triple count
    wd_ref = str(tmp_path / "wd_cfg_ref")
    pipe_ref = KGPipeline(spark, wd_ref, n_buckets=8, include_extra_triples=True)
    out_ref = pipe_ref.run(ingest2, vdfs)
    n_mixed = out["triples"].count()
    assert n_mixed == out_ref["triples"].count() != n_plain
    # and a subsequent identical run skips (fingerprint now consistent)
    pipe3 = KGPipeline(spark, wd, n_buckets=8, include_extra_triples=True)
    pipe3.run(ingest2, vdfs)
    assert pipe3.metrics["triples"]["skipped"] is True


def test_duplicate_paths_one_sites_rel_row_per_valid_ingest_row(spark, tmp_path):
    """A path ingested at two commits is two documents: sites_rel holds one
    row per valid ingest row, each in its own row's bucket — not the
    cross product of a (repo, path) re-join."""
    rec = synthetic.make_record(19, 80)
    other = dict(rec, name="Other Name")  # same identity, new content
    rows = [
        ("r", "data/p0.json", "c1", "json", json.dumps(rec)),
        ("r", "data/p0.json", "c2", "json", json.dumps(other)),
        ("r", "data/p1.json", "c1", "json", json.dumps(synthetic.make_record(20, 80))),
        ("r", "data/p2.json", "c1", "json", json.dumps(synthetic.make_record(21, 80))),
    ]
    ingest = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    wd = str(tmp_path / "wd_dup")
    KGPipeline(spark, wd, n_buckets=4).run(ingest, vocab.vocab_dataframes(spark))
    import hashlib

    sites = spark.read.parquet(os.path.join(wd, "sites_rel")).collect()
    assert sorted((r["path"], r["content_sha256"]) for r in sites) == sorted(
        (r[1], hashlib.sha256(r[4].encode()).hexdigest()) for r in rows
    )
    want_bucket = {
        r["path"]: r["bucket"]
        for r in with_bucket(ingest, 4).select("path", "bucket").collect()
    }
    assert all(r["bucket"] == want_bucket[r["path"]] for r in sites)


def test_vocab_fingerprint_matches_per_table_formula(spark):
    """The one-query vocabulary fingerprint equals the per-table
    ``bucket_hashes`` formula, an empty table included."""
    import hashlib

    from ta2_minmod_kg_spark.plans.pipeline import Lineage, bucket_hashes

    vdfs = dict(vocab.vocab_dataframes(spark))
    vdfs["zz_empty"] = vdfs["crs"].filter(F.lit(False))
    lineage = Lineage("/nonexistent", config="n_buckets=8;include_extra=False")

    vh = hashlib.sha256(lineage.config.encode())
    for name in sorted(vdfs):
        pb = [
            r.asDict()
            for r in bucket_hashes(vdfs[name].withColumn("bucket", F.lit(0))).collect()
        ]
        vh.update(name.encode())
        vh.update(lineage.fingerprint(pb).encode())
    assert lineage.vocab_fingerprint(vdfs) == vh.hexdigest()


BUCKETED_TABLES = (
    "sites_rel", "violations", "vocab_violations", "triples", "inv_views"
)
# the recorded stages the document pass writes
PASS_STAGES = ("sites_rel", "triples", "inv_views")


def _files_per_bucket(wd: str, table: str) -> dict[str, int]:
    root = os.path.join(wd, table)
    return {
        d: sum(f.startswith("part-") for f in os.listdir(os.path.join(root, d)))
        for d in os.listdir(root)
        if d.startswith("bucket=")
    }


def test_one_file_per_bucket_full_and_incremental(spark, tmp_path):
    """Every bucket-partitioned table holds at most one data file per
    bucket, after a full build and after a one-row-edit incremental
    rebuild, however the ingest is partitioned; ``metrics.json`` records
    the file count of each stage that ran."""
    from ta2_minmod_kg_spark.functions.ids import MR_NS

    n_buckets = 4
    rows = []
    for i in range(40):
        rec = synthetic.make_record(i, 40)
        if i % 4 == 0 and rec.get("mineral_inventory"):
            # out of vocabulary: a vocab_violations row
            rec["mineral_inventory"][0]["commodity"]["normalized_uri"] = (
                MR_NS + "Q99999"
            )
        rows.append(("r", f"data/s{i}.json", "c1", "json", json.dumps(rec)))
    # malformed documents: violations rows
    rows += [("r", f"data/bad_{i}.json", "c1", "json", '{"foo": 1}') for i in range(12)]
    # round-robin: every task holds rows of every bucket
    ingest = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).repartition(3)
    vdfs = vocab.vocab_dataframes(spark)
    wd = str(tmp_path / "wd_layout")

    def check(pipe, expect_incremental):
        for table in BUCKETED_TABLES:
            per_bucket = _files_per_bucket(wd, table)
            assert per_bucket, (table, "no buckets written")
            assert max(per_bucket.values()) == 1, (table, per_bucket)
        with open(os.path.join(wd, "metrics.json")) as f:
            metrics = json.load(f)
        for stage in PASS_STAGES:
            m = metrics[stage]
            assert m["incremental_buckets"] == expect_incremental, (stage, m)
            assert 0 < m["n_files"] <= n_buckets, (stage, m)
        assert all(
            type(m["n_files"]) is int for m in metrics.values() if not m["skipped"]
        ), metrics

    pipe = KGPipeline(spark, wd, n_buckets=n_buckets)
    pipe.run(ingest, vdfs)
    check(pipe, None)

    edited = ingest.withColumn(
        "content",
        F.when(
            F.col("path") == "data/s1.json",
            F.regexp_replace("content", r'"name": "[^"]*"', '"name": "EDITED"'),
        ).otherwise(F.col("content")),
    )
    pipe = KGPipeline(spark, wd, n_buckets=n_buckets)
    pipe.run(edited, vdfs)
    check(pipe, 1)


def test_one_document_edit_rewrites_one_inv_views_bucket(spark, tmp_path):
    """The grade-tonnage view is rebuilt per bucket with the document
    pass: a one-document edit rewrites only that document's bucket of
    ``inv_views`` (every other bucket keeps its file), the edit reaches
    the view, and the table's rows equal a fresh full build's."""
    n_buckets = 4
    recs = [synthetic.make_record(i, 40) for i in range(40)]
    schema = "repo string, path string, commit string, lang string, content string"

    def ingest_of(records):
        return spark.createDataFrame(
            [
                ("r", f"data/s{i}.json", "c1", "json", json.dumps(r))
                for i, r in enumerate(records)
            ],
            schema,
        ).repartition(3)

    edited_recs = json.loads(json.dumps(recs))
    inv = edited_recs[1]["mineral_inventory"][0]

    def ce(qid):
        return {
            "source": "s",
            "confidence": 1.0,
            "normalized_uri": "https://minmod.isi.edu/resource/" + qid,
        }

    inv["commodity"] = ce("Q1001")
    inv["category"] = [ce("Indicated")]
    inv["ore"] = {"value": 12345.0, "unit": ce("Q202")}
    inv["grade"] = {"value": 1.0, "unit": ce("Q201")}
    edited_recs[1]["mineral_inventory"] = [inv]
    vdfs = vocab.vocab_dataframes(spark)
    wd = str(tmp_path / "wd_edit")

    def files(table):
        root = os.path.join(wd, table)
        return {
            (d, f, os.stat(os.path.join(root, d, f)).st_mtime_ns)
            for d in os.listdir(root)
            if d.startswith("bucket=")
            for f in os.listdir(os.path.join(root, d))
        }

    KGPipeline(spark, wd, n_buckets=n_buckets).run(ingest_of(recs), vdfs)
    before = files("inv_views")
    assert len({d for d, _, _ in before}) == n_buckets

    edited = ingest_of(edited_recs)
    pipe = KGPipeline(spark, wd, n_buckets=n_buckets)
    out = pipe.run(edited, vdfs)
    assert pipe.metrics["inv_views"]["incremental_buckets"] == 1, pipe.metrics
    dirty = with_bucket(edited, n_buckets).filter(F.col("path") == "data/s1.json")
    dirty = f"bucket={dirty.first()['bucket']}"
    after = files("inv_views")
    assert {x for x in before if x[0] != dirty} == {x for x in after if x[0] != dirty}
    assert {x for x in before if x[0] == dirty} != {x for x in after if x[0] == dirty}

    site = out["sites_rel"].filter(F.col("path") == "data/s1.json").first()["site_id"]
    view = out["inv_views"].filter(F.col("site_id") == site).collect()
    assert [(r["commodity"], r["tonnage"]) for r in view] == [("Q1001", 12345.0)], view

    fresh = KGPipeline(spark, str(tmp_path / "wd_fresh"), n_buckets=n_buckets).run(
        edited, vdfs
    )
    assert _sorted_rows(out["inv_views"]) == _sorted_rows(fresh["inv_views"])


def test_jvm_times_never_iterate_a_java_list(spark, monkeypatch):
    """The GC bean list is indexed, not iterated: py4j ends every
    iteration of a Java list with a NoSuchElementException that crosses
    py4j and pyspark's exception converter, ~40 ms per call."""
    from py4j.java_collections import JavaIterator

    from ta2_minmod_kg_spark.plans.pipeline import _jvm_jit_gc_ms

    def no_iteration(self):
        raise AssertionError("iterated a py4j list")

    monkeypatch.setattr(JavaIterator, "next", no_iteration)
    monkeypatch.setattr(JavaIterator, "__next__", no_iteration)
    jit, gc = _jvm_jit_gc_ms(spark)
    assert type(jit) is int and jit >= 0, jit
    assert type(gc) is int and gc >= 0, gc


# a subprocess at local[2,2] (one retry per task) whose document-pass
# kernel writes all its files, then fails its first attempt; argv: the
# faulted workdir, the clean workdir, the file that lists the failed
# attempts' files
FAULT_PROBE = """
import json, os, sys
from pyspark import TaskContext
from ta2_minmod_kg_spark.functions.ids import MR_NS
from ta2_minmod_kg_spark.operators import extract
from ta2_minmod_kg_spark.plans.pipeline import KGPipeline
from ta2_minmod_kg_spark.session import get_spark
from ta2_minmod_kg_spark.sources import synthetic, vocab

faulted, clean, failed_log = sys.argv[1:4]
spark = get_spark(app_name="fault-probe", master="local[2,2]")
rows = []
for i in range(40):
    rec = synthetic.make_record(i, 40)
    if i % 4 == 0 and rec.get("mineral_inventory"):
        # out of vocabulary: a vocab_violations row
        rec["mineral_inventory"][0]["commodity"]["normalized_uri"] = MR_NS + "Q99999"
    rows.append(("r", f"data/s{i}.json", "c", "json", json.dumps(rec)))
rows += [("r", f"data/bad_{i}.json", "c", "json", '{"foo": 1}') for i in range(6)]
ingest = spark.createDataFrame(
    rows, "repo string, path string, commit string, lang string, content string"
).repartition(2)
vdfs = vocab.vocab_dataframes(spark)
KGPipeline(spark, clean, n_buckets=4).run(ingest, vdfs)

real = extract._doc_pass_kernel

def failing_first_attempt(*args, **kwargs):
    kernel = real(*args, **kwargs)

    def gen(batches):
        out = list(kernel(batches))
        if TaskContext.get().attemptNumber() == 0:
            with open(failed_log, "a") as f:
                for b in out:
                    for p in b.column("path").to_pylist():
                        f.write(p + "\\n")
            raise RuntimeError("injected: attempt 0 fails after writing its files")
        yield from out

    return gen

extract._doc_pass_kernel = failing_first_attempt
KGPipeline(spark, faulted, n_buckets=4).run(ingest, vdfs)
spark.stop()
print(json.dumps("ok"))
"""


def _sorted_rows(df) -> list[str]:
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )


def test_failed_attempt_files_never_reach_the_tables(spark, tmp_path):
    """Every task of the document pass writes its files and then fails on
    its first attempt; the retry succeeds.  The four tables equal a clean
    build's, hold one file per bucket (none of the failed attempts'), and
    no staging directory is left behind."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    faulted, clean = str(tmp_path / "faulted"), str(tmp_path / "clean")
    failed_log = str(tmp_path / "failed_attempt_files.txt")
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", FAULT_PROBE, faulted, clean, failed_log],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the fault fired, after the failed attempts had written files
    with open(failed_log) as f:
        failed_files = [line.strip() for line in f if line.strip()]
    assert failed_files
    assert not [p for p in failed_files if os.path.exists(p)], failed_files
    assert not [d for d in os.listdir(faulted) if d.startswith("_staging")]
    names = {os.path.basename(p) for p in failed_files}
    for table in BUCKETED_TABLES:
        per_bucket = _files_per_bucket(faulted, table)
        assert per_bucket and max(per_bucket.values()) == 1, (table, per_bucket)
        on_disk = {
            f
            for d in per_bucket
            for f in os.listdir(os.path.join(faulted, table, d))
        }
        assert not on_disk & names, (table, on_disk & names)
        got = spark.read.parquet(os.path.join(faulted, table))
        want = spark.read.parquet(os.path.join(clean, table))
        assert got.schema == want.schema, table
        assert _sorted_rows(got) == _sorted_rows(want), table
    for stage in PASS_STAGES:
        fp = [
            json.load(open(os.path.join(wd, f"_LINEAGE_{stage}.json")))[
                "output_fingerprint"
            ]
            for wd in (faulted, clean)
        ]
        assert fp[0] == fp[1], stage
