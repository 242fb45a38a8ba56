"""Sinks (SURVEY §2.1 K1/K2).

- ``write_ttl``      — triples → Turtle text, one shard per partition with
                       the prefix header (matches the reference's
                       ``"s p o . "`` line format, etl/mineral_site.py:479-486).
                       Distributed by construction: each task writes its
                       own shard; no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rdf import PREFIX_PART


def ttl_lines(triples: DataFrame) -> DataFrame:
    return triples.select(
        F.concat_ws(" ", "subj", "pred", "obj").alias("line")
    ).select(F.concat(F.col("line"), F.lit(". ")).alias("value"))


def write_ttl(triples: DataFrame, path: str, header: bool = True) -> None:
    """Write the triple set as sharded .ttl text files.

    The prefix header goes into a sibling ``_prefixes.ttl`` (concatenating
    shards after a distributed write is the consumer's job; per-shard
    headers would break naive concatenation).
    """
    ttl_lines(triples).write.mode("overwrite").text(path)
    if header:
        import os

        with open(os.path.join(path, "_prefixes.ttl"), "w") as f:
            f.write(PREFIX_PART)


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 64
) -> None:
    """Hive-bucketed parquet table (``bucketBy`` + ``sortBy`` on the join
    key, catalog-registered): two tables bucketed the same way join with
    NO exchange — at 100 TB the sites⋈membership / dedup⋈inventory joins
    are pre-co-located instead of reshuffling the fact side every run.
    Verified shuffle-free in tests/test_bucketed_join.py."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
