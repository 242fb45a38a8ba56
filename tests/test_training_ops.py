"""Text dedup / similarity / multimodal / streaming operator tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "web"),
        (2, "The quick  brown fox jumps over the lazy dog ", "web"),  # exact dup (normalized)
        (3, "the quick brown fox jumps over the lazy cat", "web"),  # near dup
        (4, "completely different text about mineral deposits in chile", "pdf"),
        (5, "a short one", "pdf"),
        (6, "completely different text about mineral deposits in peru", "pdf"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )


def test_exact_duplicates(spark):
    from ta2_minmod_kg_spark.operators.text_dedup import exact_duplicates

    out = exact_duplicates(_docs(spark)).toPandas()
    assert len(out) == 1
    assert list(out.iloc[0]["doc_ids"]) == [1, 2]


def test_minhash_lsh_finds_near_dups(spark):
    from ta2_minmod_kg_spark.operators.text_dedup import lsh_candidate_pairs

    out = lsh_candidate_pairs(
        _docs(spark), num_hashes=32, bands=16, shingle_k=2
    ).toPandas()
    pairs = {(a, b): j for a, b, j in out.itertuples(index=False)}
    assert pairs.get((1, 2)) == pytest.approx(1.0)
    assert (1, 3) in pairs or (3, 1) in pairs  # near-dup caught by banding
    assert pairs.get((1, 3), 0) < 1.0


def test_simhash_near_duplicates(spark):
    from ta2_minmod_kg_spark.operators.text_dedup import simhash_near_duplicates

    out = simhash_near_duplicates(_docs(spark), max_hamming=0).toPandas()
    assert ((out["doc_a"] == 1) & (out["doc_b"] == 2)).any()


def test_simhash_sig_packing_matches_sql_fold(spark):
    """r06: simhash_signatures packs bits→2×int64 inside the numpy vote
    kernel; the packing must equal the SQL aggregate fold the driver-entry
    invariant uses (slice(bits, j*32+1, 32) folded acc*2+b)."""
    from ta2_minmod_kg_spark.operators.text_dedup import simhash_signatures

    sigs = simhash_signatures(_docs(spark))
    packed = None
    for j in range(2):
        half = F.aggregate(
            F.slice(F.col("bits"), j * 32 + 1, 32),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + b.cast("long"),
        )
        packed = half if packed is None else F.array(packed, half)
    bad = (
        sigs.select("sig", packed.alias("sig2"))
        .filter(F.col("sig") != F.col("sig2"))
        .count()
    )
    assert bad == 0


def test_simhash_degenerate_bucket_capped(spark):
    """r06 (VERDICT r05 #2): thousands of identical docs land in one
    (band, bucket) — the capped ids-only pair builder must skip the
    bucket (no n² pair explosion on one task) and still finish fast."""
    from ta2_minmod_kg_spark.operators.text_dedup import simhash_near_duplicates

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical degenerate document body text").alias("text"),
    )
    out = simhash_near_duplicates(docs, max_hamming=3, max_bucket=100)
    # every bucket exceeds the cap → all skipped (counted + logged, never
    # exploded into ~4.5M pairs)
    assert out.count() == 0
    # under-cap corpus on the same path still finds its pairs
    small = spark.range(0, 5).select(
        F.col("id").alias("doc_id"),
        F.lit("identical degenerate document body text").alias("text"),
    )
    assert simhash_near_duplicates(small, max_hamming=3).count() == 10


def test_brute_force_topk_matches_numpy(spark):
    from ta2_minmod_kg_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((30, 8)).astype("float32")
    pdf = pd.DataFrame(
        {"vec_id": range(30), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    out = brute_force_topk(df, df.filter(F.col("vec_id") < 3), k=2).toPandas()

    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    for q in range(3):
        order = [
            i for i in np.argsort(-sims[q]) if i != q
        ][:2]
        got = out[out["query_id"] == q].sort_values("rank")["neighbor_id"].tolist()
        assert got == order


def test_lsh_topk_recall(spark):
    from ta2_minmod_kg_spark.operators.similarity import lsh_topk

    rng = np.random.default_rng(1)
    base = rng.standard_normal((10, 16)).astype("float32")
    # pairs of very-near vectors → LSH must bucket them together
    vecs = np.vstack([base, base + rng.standard_normal((10, 16)) * 0.01])
    pdf = pd.DataFrame(
        {"vec_id": range(20), "embedding": [v.tolist() for v in vecs]}
    )
    out = lsh_topk(spark.createDataFrame(pdf), k=1, nbits=16, bands=8).toPandas()
    top1 = dict(zip(out[out["rank"] == 1]["query_id"], out[out["rank"] == 1]["neighbor_id"]))
    hits = sum(1 for q in range(10) if top1.get(q) == q + 10)
    assert hits >= 8  # high recall on planted twins


def test_multimodal_plumbing(spark):
    from ta2_minmod_kg_spark.operators.multimodal import (
        decode_image,
        frame_sample_plan,
        image_features,
        resize_plan,
        synth_assets,
    )

    assets = synth_assets(spark, 30)
    feats = image_features(assets, fake=True).toPandas()
    assert len(feats) == 10  # every 3rd asset is an image
    assert all(len(f) == 16 for f in feats["feat"])
    # deterministic: same asset same features
    feats2 = image_features(assets, fake=True).toPandas()
    assert feats.sort_values("asset_id")["mean_luma"].tolist() == pytest.approx(
        feats2.sort_values("asset_id")["mean_luma"].tolist()
    )
    # compressed codecs (JPEG magic) are the only unsupported path now —
    # BMP/PPM/WAV decode natively (tests/test_multimodal_codecs.py)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg", fake=False)

    rp = resize_plan(assets, max_side=256).toPandas()
    assert (rp[rp["needs_resize"]]["target_w"] <= 256).all()
    fp = frame_sample_plan(assets).toPandas()
    assert (fp["frame_ts"].map(len) > 0).all()


def test_streaming_incremental_update(spark, tmp_path):
    """U1-U5 batch-incremental path: an expert edit touches one dedup group
    and only that group is recomputed."""
    import pandas as pd

    from ta2_minmod_kg_spark.operators import canonicalize, dedup, extract
    from ta2_minmod_kg_spark.sources import synthetic, vocab
    from ta2_minmod_kg_spark.streaming import events as ev

    N = 60
    ingest = synthetic.synthesize_ingest(spark, N, partitions=2)
    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs)
    membership = canonicalize.build_membership(sites, None, None)
    swd = sites.drop("dedup_site_id").join(membership, "site_id")

    # event: expert re-edits site n=0 with a new name
    import json as _json

    rec = synthetic.make_record(0, N, expert=True)
    rec["name"] = "Renamed By Expert"
    rec["modified_at"] = "2025-12-01T00:00:00.000000Z"
    events = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "id": 1,
                    "type": "site:update",
                    "data": _json.dumps(rec),
                    "kg_synced": "false",
                    "timestamp": 1,
                }
            ]
        )
    )
    new_ingest = ev.events_to_ingest(events)
    new_sites = extract.normalize_sites(extract.parse_sites(new_ingest), vdfs)
    updated = ev.upsert_sites(sites, new_sites)
    assert updated.count() == sites.count()  # update, not insert

    touched = ev.touched_groups(membership, new_sites.select("site_id"))
    assert touched.count() == 1
    swd2 = updated.drop("dedup_site_id").join(membership, "site_id")
    new_dedup, _ = ev.recompute_touched_groups(
        swd2, spark.createDataFrame([], "site_id string, commodity string, contained_metal double, tonnage double, grade double, date string"), touched
    )
    row = new_dedup.toPandas().iloc[0]
    assert row["name"]["value"] == "Renamed By Expert"


def test_windowed_event_counts(spark):
    from ta2_minmod_kg_spark.streaming.events import windowed_event_counts

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(e)
    assert out.count() > 0
    assert set(out.columns) == {"window_start", "event_type", "n", "sum_value"}


def test_ivf_topk_recall(spark):
    from ta2_minmod_kg_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(3)
    # 4 well-separated clusters of 25 vectors each
    centers = rng.standard_normal((4, 12)) * 6
    vecs = np.vstack([c + rng.standard_normal((25, 12)) for c in centers])
    pdf = pd.DataFrame(
        {"vec_id": range(100), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q = df.filter(F.col("vec_id") % 10 == 0)

    exact = brute_force_topk(df, q, k=5).toPandas()
    approx = ivf_topk(df, q, k=5, n_centroids=8, nprobe=3).toPandas()

    recall_hits, total = 0, 0
    for qid in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        a = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recall_hits += len(e & a)
        total += len(e)
    assert recall_hits / total >= 0.9  # high recall on separated clusters
    # determinism
    approx2 = ivf_topk(df, q, k=5, n_centroids=8, nprobe=3).toPandas()
    pd.testing.assert_frame_equal(
        approx.sort_values(["query_id", "rank"]).reset_index(drop=True),
        approx2.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def test_docs_simhash_invariant_fires_on_corruption(spark, monkeypatch):
    """The rows-only docs_simhash entry carries in-engine invariants
    (VERDICT r03 #9); a deliberately corrupted result (hamming off by one)
    must raise instead of returning silently-green rows."""
    from ta2_minmod_kg_spark.operators import text_dedup
    from ta2_minmod_kg_spark.plans import queries as Q

    real = text_dedup.simhash_near_duplicates

    def corrupted(documents, max_hamming=3, nbits=64, **kw):
        return real(documents, max_hamming=max_hamming, nbits=nbits, **kw).withColumn(
            "hamming", F.col("hamming") + 1
        )

    monkeypatch.setattr(text_dedup, "simhash_near_duplicates", corrupted)
    with pytest.raises(AssertionError, match="kg invariant"):
        Q.docs_simhash(spark, "/root/testdata/sf0.001").count()


def test_docs_simhash_invariant_fires_on_dropped_twin(spark, monkeypatch, tmp_path):
    """Dropping a pair that exact-fingerprint twins guarantee (Hamming 0,
    pigeonhole-caught) must trip the recall lower-bound invariant.
    Twins are planted in a scratch documents.parquet (sf0.001 has none)."""
    from ta2_minmod_kg_spark.operators import text_dedup
    from ta2_minmod_kg_spark.plans import queries as Q

    rows = [(i, f"src{i % 3}", f"unique document text number {i} with words")
            for i in range(20)]
    rows += [(100, "src0", "planted twin body"), (101, "src1", "planted twin body")]
    spark.createDataFrame(
        rows, schema="doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    real = text_dedup.simhash_near_duplicates

    def dropped(documents, max_hamming=3, nbits=64, **kw):
        out = real(documents, max_hamming=max_hamming, nbits=nbits, **kw)
        return out.filter(F.col("hamming") > 0)  # drop all exact twins

    monkeypatch.setattr(text_dedup, "simhash_near_duplicates", dropped)
    with pytest.raises(AssertionError, match="exact-twin"):
        Q.docs_simhash(spark, str(tmp_path)).count()
    monkeypatch.setattr(text_dedup, "simhash_near_duplicates", real)
    # un-corrupted run on the same table is clean and contains the twin
    got = Q.docs_simhash(spark, str(tmp_path)).toPandas()
    assert ((got["doc_a"] == 100) & (got["doc_b"] == 101)).any()
