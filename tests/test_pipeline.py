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
    assert os.path.exists(os.path.join(wd, "metrics.json"))


def test_sha256_invariant(pipeline_out, spark):
    """Per-row invariant: sha256(content) survives into sites_rel."""
    import hashlib

    wd, pipe, out, (ingest, *_ ) = pipeline_out
    raw = ingest.select("content").toPandas()["content"]
    expect = sorted(hashlib.sha256(c.encode()).hexdigest() for c in raw)
    got = sorted(out["sites_rel"].select("content_sha256").toPandas()["content_sha256"])
    assert got == expect


def test_resume_skips_completed_stages(pipeline_out, spark):
    wd, _, _, (ingest, vdfs, edges, curated) = pipeline_out
    pipe2 = KGPipeline(spark, wd, n_buckets=8)
    out2 = pipe2.run(ingest, vdfs, edges, curated)
    assert all(m["skipped"] for m in pipe2.metrics.values()), pipe2.metrics
    assert out2["triples"].count() > 0


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
