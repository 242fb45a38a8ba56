"""Bucketed co-located joins (SURVEY §2.3 scale claim): two tables
bucketed+sorted on the join key join with NO shuffle exchange — the plan
must contain a SortMergeJoin with zero Exchange operators."""

from __future__ import annotations

import pytest

from ta2_minmod_kg_spark.operators import canonicalize, extract
from ta2_minmod_kg_spark.sources import synthetic, vocab
from ta2_minmod_kg_spark.sources.sinks import write_bucketed


def test_bucketed_join_is_shuffle_free(spark):
    ingest = synthetic.synthesize_ingest(spark, 120, partitions=4)
    sites = extract.normalize_sites(
        extract.parse_sites(ingest), vocab.vocab_dataframes(spark)
    )
    membership = canonicalize.build_membership(sites, None, None)

    spark.sql("DROP TABLE IF EXISTS sites_b")
    spark.sql("DROP TABLE IF EXISTS membership_b")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(sites.drop("dedup_site_id"), "sites_b", "site_id", 8)
        write_bucketed(membership, "membership_b", "site_id", 8)

        # at test scale the planner would broadcast the small side and skip
        # bucketing entirely; disable broadcast to expose the co-located
        # sort-merge path a 100 TB fact⋈fact join would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("sites_b")
        b = spark.table("membership_b")
        joined = a.join(b, "site_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:3000]
        # and it actually computes the right thing
        assert joined.count() == sites.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS sites_b")
        spark.sql("DROP TABLE IF EXISTS membership_b")
