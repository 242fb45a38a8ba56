"""Driver contract for the spark-graft builder (PySpark target).

``entry``      — flagship: the KG build's dedup sites (one
                 ``KGPipeline.run`` over the synthetic corpus) summarized
                 against the sf0.001 documents table.
``queries``    — one entry per implemented operator (SURVEY.md §2 +
                 training-data ops); see ta2_minmod_kg_spark/plans/queries.py.
``oracle_sql`` — DuckDB-equivalent SQL for every SQL-expressible query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: join the engine's dedup
    KG output with the documents table statistics."""
    from pyspark.sql import functions as F

    from ta2_minmod_kg_spark.plans.queries import kg_dedup_sites

    sf_dir = "/root/testdata/sf0.001"
    dedup = kg_dedup_sites(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return dedup.crossJoin(F.broadcast(doc_stats))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ta2_minmod_kg_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from ta2_minmod_kg_spark.plans.data_oracles import build_data_oracles
    from ta2_minmod_kg_spark.plans.queries import ORACLE_SQL

    # data-dependent expected-VALUES oracles (pure-python xxh64 simhash,
    # formula-derived image stats) are built lazily here — against
    # $ORACLE_SF_DIR (default the driver's correctness scale, sf0.01)
    out = dict(ORACLE_SQL)
    out.update(build_data_oracles())
    return out
