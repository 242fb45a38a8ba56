"""S5: vocabulary TTL scan + TTL-derived linker docs."""

from __future__ import annotations

import pytest

from ta2_minmod_kg_spark.operators.entity_triples import entity_triples
from ta2_minmod_kg_spark.operators.linking import (
    RDFS_LABEL,
    link_mentions,
    read_ttl_triples,
    unlinked_mentions,
    vocab_docs,
    vocab_docs_from_ttl,
)
from ta2_minmod_kg_spark.sources.sinks import write_ttl
from ta2_minmod_kg_spark.sources.vocab import synthetic_vocab, vocab_dataframes

MR = "https://minmod.isi.edu/resource/"


@pytest.fixture(scope="module")
def entity_ttl(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ttl") / "entities.ttl")
    write_ttl(entity_triples(vocab_dataframes(spark)), path)
    return path


def test_ttl_roundtrip(spark, entity_ttl):
    t = read_ttl_triples(spark, entity_ttl)
    n_written = entity_triples(vocab_dataframes(spark)).count()
    assert t.count() == n_written
    # prefix expansion + literal roundtrip on a curie-subject row
    nickel = t.filter(
        (t.subj == MR + "Q1000") & (t.pred == RDFS_LABEL)
    ).first()
    assert nickel is not None, "curie subject was not prefix-expanded"
    assert nickel["obj_literal"] == "Nickel" and nickel["obj_uri"] is None


def test_ttl_roundtrip_hostile_literals(spark, tmp_path):
    """Backslash-bearing literals must survive write→read exactly
    (ADVICE r02 #2: sequential-replace unescape and the backward
    closing-quote scan both corrupted them)."""
    hostile = [
        "back\\slash",          # literal backslash + 'n'-adjacent char
        "ends with backslash\\",
        'quote " inside',
        "tab\there",
        "multi\nline",
        "\\n not a newline",    # written as '\\\\n': backslash then 'n'
        'trailing escaped backslash then quote \\"ok',
    ]
    from ta2_minmod_kg_spark.functions.rdf import lit_str

    path = str(tmp_path / "hostile.ttl")
    rows = [(f"<{MR}H{i}>", f"<{RDFS_LABEL}>", lit_str(s)) for i, s in enumerate(hostile)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    write_ttl(df, path)
    got = {
        r["subj"]: r["obj_literal"]
        for r in read_ttl_triples(spark, path).collect()
    }
    for i, s in enumerate(hostile):
        assert got[f"{MR}H{i}"] == s, (i, s, got.get(f"{MR}H{i}"))


def test_ttl_docs_match_csv_docs(spark, entity_ttl):
    v = synthetic_vocab()
    docs = {d["id"]: d for d in vocab_docs_from_ttl(spark, entity_ttl)}
    for r in v["commodity"]:
        d = docs[r["minmod_id"]]
        assert d["labels"][0] == r["name"]
        assert set(d["labels"]) == {r["name"], *r["aliases"].split("|")}
    for r in v["deposit_type"]:
        assert docs[r["minmod_id"]]["labels"][0] == r["deposit_type"]


def test_linking_from_ttl_equals_csv(spark, entity_ttl):
    """L1 via TTL-derived docs must produce the same links as CSV docs."""
    from ta2_minmod_kg_spark.operators import extract
    from ta2_minmod_kg_spark.sources import synthetic, vocab

    ingest = synthetic.synthesize_ingest(spark, 120, partitions=4)
    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs).persist()
    mentions = unlinked_mentions(sites, "deposit_type").persist()

    csv_docs = vocab_docs(
        vdfs["deposit_type"], name_col="deposit_type", alias_col=None
    )
    ttl_docs = [
        d
        for d in vocab_docs_from_ttl(spark, entity_ttl)
        if d["id"].startswith("Q15")  # deposit-type qids
    ]
    got_csv = (
        link_mentions(mentions, csv_docs)
        .select("mention_id", "entity_id", "score")
        .toPandas()
        .sort_values("mention_id")
        .reset_index(drop=True)
    )
    got_ttl = (
        link_mentions(mentions, ttl_docs)
        .select("mention_id", "entity_id", "score")
        .toPandas()
        .sort_values("mention_id")
        .reset_index(drop=True)
    )
    assert len(got_csv) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(got_csv, got_ttl)
