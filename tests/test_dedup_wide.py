"""Equivalence: the mega-group SQL merge path vs the Arrow kernel path.

_merge_big_groups_sql is the skew path (pure column expressions with
map-side partial aggregation) — it must be byte-identical to the kernel,
including on the planted giant cluster, and the dispatch must route that
cluster to it.
"""

from __future__ import annotations

from ta2_minmod_kg_spark.operators import canonicalize, dedup, extract
from ta2_minmod_kg_spark.sources import synthetic, vocab


def _swd(spark, n):
    ingest = synthetic.synthesize_ingest(spark, n, partitions=4)
    sites = extract.normalize_sites(
        extract.parse_sites(ingest), vocab.vocab_dataframes(spark)
    )
    edges = synthetic.synthesize_system_edges(spark, n, partitions=4)
    membership = canonicalize.build_membership(sites, edges, None)
    return sites.drop("dedup_site_id").join(membership, "site_id").persist()


def _rows_json(df):
    return sorted(df.orderBy("dedup_site_id").toJSON().collect())


def test_sql_mega_group_path_matches_kernel_exactly(spark):
    """_merge_big_groups_sql over the ENTIRE corpus must be byte-identical
    (JSON row serialization) to the Arrow kernel — every field, including
    geology JSON, ranked_sites order, and ranked top-5 deposit types."""
    swd = _swd(spark, 240)
    kernel = dedup.merge_dedup_sites(swd, big_group_threshold=10**9)
    sql = dedup._merge_big_groups_sql(dedup.with_site_score(swd))
    assert _rows_json(kernel) == _rows_json(sql)
    swd.unpersist()


def test_sql_mega_group_plan_has_no_window(spark):
    """Scale guard (VERDICT r02 #1): the mega-group path must be pure
    partial aggregates — no window function, which would sort a whole
    mega-group's wide rows inside one task."""
    swd = _swd(spark, 120)
    sql = dedup._merge_big_groups_sql(dedup.with_site_score(swd))
    plan = sql._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    swd.unpersist()


def test_dispatch_routes_giant_group(spark):
    """With the threshold below the planted giant cluster, the dispatch
    splits the plan (big groups → SQL path) yet the merged output is
    identical to the kernel-only run."""
    swd = _swd(spark, 200)
    thr = synthetic.giant_size(200)  # giant cluster >= threshold → SQL path
    dispatched = dedup.merge_dedup_sites(swd, big_group_threshold=thr)
    kernel_only = dedup.merge_dedup_sites(swd, big_group_threshold=10**9)
    assert _rows_json(dispatched) == _rows_json(kernel_only)
    # the giant group really is present and really took the SQL branch
    narrow = dedup.with_site_score(swd)
    from pyspark.sql import functions as F2

    big = (
        narrow.groupBy("dedup_site_id")
        .agg(F2.count(F2.lit(1)).alias("n"))
        .filter(F2.col("n") >= thr)
    )
    assert big.count() >= 1
    swd.unpersist()
