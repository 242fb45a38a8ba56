"""End-to-end KG construction pipeline with checkpoint/lineage (SURVEY §3.1).

Stages (each materialized as parquet under ``workdir``):

  ingest → sites_rel → inv_views → membership → dedup_sites +
  dedup_inventories → triples + sameas_triples

Checkpoint & lineage model — the Spark analog of the reference's sqlite
content-hash memo (`etl/mineral_site.py:400-408`):

- every row carries ``bucket = pmod(xxhash64(repo, path), n_buckets)`` —
  the unit of incremental recompute and the output partition key;
- after each stage we record one lineage row **per bucket**:
  (stage, bucket, content_hash, n_rows, wall_ms, code_version, run_id) —
  the per-partition lineage + metrics the north rule requires;
- a stage is **skipped on resume** when its ``_LINEAGE`` fingerprint
  (hash over per-bucket hashes + code version) matches the current input —
  kill the job at any point and re-submit: completed stages are read back
  from parquet instead of recomputed;
- per-bucket hashes make a finer-grained diff possible (dynamic partition
  overwrite of only the changed buckets) — exposed via ``changed_buckets``.

Run it under spark-submit (via the root-level ``run_pipeline.py`` shim —
spark-submit takes a file path, and this module's relative imports need
the package on ``--py-files``):

    python -m zipfile -c /tmp/pkg.zip ta2_minmod_kg_spark
    spark-submit --master local[32] --py-files /tmp/pkg.zip \
        run_pipeline.py --n-sites 100000 --workdir /tmp/kg
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# v5: sites_rel carries bucket from its own ingest row — a path ingested
# at two commits no longer multiplies through a (repo, path) re-join, so a
# resumed workdir must not reuse v4 outputs
CODE_VERSION = "v5"
N_BUCKETS_DEFAULT = 256


def _clear_partitions(
    spark: SparkSession, out_path: str, buckets: list[int]
) -> None:
    """Delete ``bucket=<b>`` partition directories ahead of a dynamic
    partition overwrite, so dirty buckets that emit no rows don't leave
    stale data behind.  Routed through the Hadoop FileSystem API so it
    works on ANY workdir scheme (HDFS, object stores) — a local
    shutil.rmtree would silently no-op there and resurrect the stale
    partitions this helper exists to remove."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for b in buckets:
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(out_path, f"bucket={b}"))
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)).cast("int")
    )


def bucket_hashes(df: DataFrame, bucket_col: str = "bucket") -> DataFrame:
    """Order-insensitive per-bucket content hash: sum of row hashes."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns if c != bucket_col])
    return df.groupBy(bucket_col).agg(
        F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("content_hash"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def split_site_rows(rows: DataFrame) -> dict[str, DataFrame]:
    """The ``sites_rel`` stage's three tables as filters and projections
    of one ``extract.site_rows`` frame (with ``bucket``):

    - ``violations``: the rejected documents and their reason;
    - ``vocab_violations``: one ``(field, uri)`` row per out-of-vocabulary
      mention or unsupported CRS of a valid record;
    - ``sites_rel``: the valid rows, ``repo, path, <rest of SITE_REL>,
      bucket`` — the column order the per-bucket lineage hashes see.
    """
    from ..operators.extract import SITE_REL_COLS

    bad = F.col("violation_reason").isNotNull()
    ok = rows.filter(~bad)
    return {
        "violations": rows.filter(bad).select(
            "repo", "path", "commit", "content_sha256", "violation_reason", "bucket"
        ),
        "vocab_violations": ok.select(
            "repo", "path", "bucket", F.explode("vocab_violations").alias("v")
        ).select("repo", "path", "bucket", "v.field", "v.uri"),
        "sites_rel": ok.select(
            "repo",
            "path",
            *[c for c in SITE_REL_COLS if c not in ("repo", "path")],
            "bucket",
        ),
    }


@dataclass
class Lineage:
    workdir: str
    run_id: str = field(default_factory=lambda: f"run_{int(time.time() * 1000)}")
    config: str = ""  # output-affecting pipeline config, folded into fingerprints

    def path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _meta_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"_LINEAGE_{stage}.json")

    def fingerprint(self, per_bucket: list[dict]) -> str:
        import hashlib

        payload = (
            json.dumps(sorted((r["bucket"], r["content_hash"]) for r in per_bucket))
            + CODE_VERSION
            + self.config
        )
        return hashlib.sha256(payload.encode()).hexdigest()

    def vocab_fingerprint(self, vocab: dict[str, DataFrame]) -> str:
        """sha256 over (name, whole-table fingerprint) of every vocabulary
        table, in name order — the same per-table hash as
        ``bucket_hashes`` over a single bucket, computed for all tables in
        ONE query; a table with no rows contributes ``fingerprint([])``."""
        import hashlib
        from functools import reduce

        names = sorted(vocab)
        hashed = reduce(
            DataFrame.unionAll,
            [
                vocab[n].select(
                    F.lit(n).alias("name"),
                    F.xxhash64(*[F.col(c) for c in vocab[n].columns]).alias("h"),
                )
                for n in names
            ],
        )
        content = {
            r["name"]: r["content_hash"]
            for r in hashed.groupBy("name")
            .agg(
                F.sum(F.col("h").cast("decimal(38,0)"))
                .cast("string")
                .alias("content_hash")
            )
            .collect()
        }
        vh = hashlib.sha256(self.config.encode())
        for n in names:
            pb = [{"bucket": 0, "content_hash": content[n]}] if n in content else []
            vh.update(n.encode())
            vh.update(self.fingerprint(pb).encode())
        return vh.hexdigest()

    def is_done(self, stage: str, input_fingerprint: str | None) -> bool:
        p = self._meta_path(stage)
        if not os.path.exists(p):
            return False
        meta = json.load(open(p))
        if meta.get("code_version") != CODE_VERSION:
            return False
        if input_fingerprint is not None and meta.get("input_fingerprint") != input_fingerprint:
            return False
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))

    def record(
        self,
        stage: str,
        per_bucket: list[dict],
        wall_ms: float,
        input_fingerprint: str | None,
    ) -> None:
        meta = {
            "stage": stage,
            "run_id": self.run_id,
            "code_version": CODE_VERSION,
            "config": self.config,
            "input_fingerprint": input_fingerprint,
            "output_fingerprint": self.fingerprint(per_bucket),
            "wall_ms": wall_ms,
            "n_rows": sum(r["n_rows"] for r in per_bucket),
            "n_buckets": len(per_bucket),
            "per_bucket": per_bucket,
        }
        with open(self._meta_path(stage), "w") as f:
            json.dump(meta, f)

    def read_meta(self, stage: str) -> dict | None:
        p = self._meta_path(stage)
        return json.load(open(p)) if os.path.exists(p) else None

    def changed_buckets(self, stage: str, per_bucket: list[dict]) -> list[int]:
        """Buckets whose content hash differs from the recorded lineage —
        the incremental-recompute work list.  Includes buckets present in
        the OLD lineage but absent from the new input (all their files were
        deleted): their stale output partitions must be cleared, not just
        left out of the dynamic overwrite."""
        meta = self.read_meta(stage)
        if meta is None:
            return [r["bucket"] for r in per_bucket]
        old = {r["bucket"]: r["content_hash"] for r in meta["per_bucket"]}
        new_keys = {r["bucket"] for r in per_bucket}
        changed = [
            r["bucket"]
            for r in per_bucket
            if old.get(r["bucket"]) != r["content_hash"]
        ]
        changed.extend(b for b in old if b not in new_keys)
        return changed


class KGPipeline:
    """Orchestrates the stages with stage-level skip-on-resume and
    per-bucket lineage."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        n_buckets: int = N_BUCKETS_DEFAULT,
        include_extra_triples: bool = False,
    ):
        self.spark = spark
        self.workdir = workdir
        self.n_buckets = n_buckets
        self.include_extra = include_extra_triples
        # output-affecting config participates in every stage fingerprint —
        # re-running the same workdir with a different flag must recompute,
        # not silently serve the previous configuration's outputs
        self.lineage = Lineage(
            workdir,
            config=f"n_buckets={n_buckets};include_extra={include_extra_triples}",
        )
        os.makedirs(workdir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    # -- stage runner ---------------------------------------------------------

    def _run_stage(
        self,
        stage: str,
        build,
        input_fingerprint: str | None,
        bucket_col: str | None = "bucket",
        partition_by: str | None = None,
        changed_buckets: list[int] | None = None,
    ) -> DataFrame:
        """Run, skip, or *incrementally* recompute a stage.

        Incremental path (the Spark analog of the reference's per-file
        sqlite memo): when the stage is bucket-partitioned, a previous run
        exists, and the caller passes the ``changed_buckets`` diff of the
        ingest lineage, only those buckets are rebuilt — ``build(buckets)``
        receives the work list and the writer dynamically overwrites just
        the dirty partitions.
        """
        out_path = self.lineage.path(stage)
        if self.lineage.is_done(stage, input_fingerprint):
            meta = self.lineage.read_meta(stage)
            self.metrics[stage] = {"skipped": True, **{k: meta[k] for k in ("n_rows", "wall_ms")}}
            return self.spark.read.parquet(out_path)

        old_meta = self.lineage.read_meta(stage)
        incremental = (
            partition_by == "bucket"
            and changed_buckets is not None
            and old_meta is not None
            and old_meta.get("code_version") == CODE_VERSION
            # the previous run must have used the SAME output-affecting
            # config: otherwise only content-dirty buckets would be rebuilt
            # under the new config while clean buckets keep old-config rows,
            # and the recorded fingerprint would claim the whole table
            # matches the new config — a permanently mixed-config table
            and old_meta.get("config") == self.lineage.config
            and os.path.exists(os.path.join(out_path, "_SUCCESS"))
            and 0 < len(changed_buckets)
        )
        t0 = time.time()
        if incremental:
            import inspect

            df = (
                build(changed_buckets)
                if len(inspect.signature(build).parameters) > 0
                else build().filter(F.col("bucket").isin(changed_buckets))
            )
            # dynamic overwrite only touches partitions the new DataFrame
            # emits — a changed bucket that now produces ZERO rows (all its
            # files deleted) would keep its stale partition. Clear every
            # dirty partition first; the write rebuilds the non-empty ones.
            _clear_partitions(self.spark, out_path, changed_buckets)
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(out_path)
            )
        else:
            import inspect

            df = (
                build(None)
                if len(inspect.signature(build).parameters) > 0
                else build()
            )
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(out_path)
        out = self.spark.read.parquet(out_path)
        if bucket_col and bucket_col in out.columns:
            pb = [r.asDict() for r in bucket_hashes(out, bucket_col).collect()]
        else:
            # single logical partition: whole-table hash
            pb_df = out.withColumn("bucket", F.lit(0))
            pb = [r.asDict() for r in bucket_hashes(pb_df).collect()]
        wall_ms = (time.time() - t0) * 1000
        self.lineage.record(stage, pb, wall_ms, input_fingerprint)
        self.metrics[stage] = {
            "skipped": False,
            "incremental_buckets": len(changed_buckets) if incremental else None,
            "n_rows": sum(r["n_rows"] for r in pb),
            "wall_ms": wall_ms,
        }
        return out

    # -- full run ---------------------------------------------------------------

    def run(
        self,
        ingest: DataFrame,
        vocab: dict[str, DataFrame],
        system_edges: DataFrame | None = None,
        curated_edges: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        from ..operators import canonicalize, dedup, extract, grade_tonnage

        ingest = with_bucket(ingest, self.n_buckets)
        ingest_pb = [r.asDict() for r in bucket_hashes(ingest).collect()]
        ingest_fp = self.lineage.fingerprint(ingest_pb)
        # diff against the previous run BEFORE overwriting the ingest lineage
        changed = self.lineage.changed_buckets("ingest", ingest_pb)
        self.lineage.record("ingest", ingest_pb, 0.0, None)

        cached: list[DataFrame] = []

        def build_sites(buckets=None):
            src = (
                ingest.filter(F.col("bucket").isin(buckets))
                if buckets is not None
                else ingest
            )
            # one kernel pass per document, materialized once; the three
            # tables are filters and projections of the cached rows
            rows = extract.site_rows(extract.with_lineage(src), vocab).persist()
            cached.append(rows)
            tables = split_site_rows(rows)

            # violations are bucket-partitioned like every other per-record
            # output: an incremental run rewrites only the dirty buckets'
            # violation partitions instead of clobbering the whole table
            def write_side(df, name):
                p = os.path.join(self.workdir, name)
                if buckets is None:
                    df.write.mode("overwrite").partitionBy("bucket").parquet(p)
                else:
                    _clear_partitions(self.spark, p, buckets)
                    (
                        df.write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("bucket")
                        .parquet(p)
                    )

            write_side(tables["violations"], "violations")
            # P7 out-of-vocabulary URIs (validators.py:354-419) + P3
            # locations with a CRS the engine cannot reproject
            write_side(tables["vocab_violations"], "vocab_violations")
            return tables["sites_rel"]

        try:
            sites = self._run_stage(
                "sites_rel",
                build_sites,
                ingest_fp,
                partition_by="bucket",
                changed_buckets=changed,
            )
        finally:
            for df in cached:
                df.unpersist()

        inv_views = self._run_stage(
            "inv_views",
            lambda: grade_tonnage.grade_tonnage_view(sites, vocab),
            ingest_fp,
            bucket_col=None,
        )

        membership = self._run_stage(
            "membership",
            lambda: canonicalize.build_membership(sites, system_edges, curated_edges),
            ingest_fp,
            bucket_col=None,
        )

        sites_with_dedup = sites.drop("dedup_site_id").join(
            membership, "site_id", "left"
        )

        dedup_sites = self._run_stage(
            "dedup_sites",
            lambda: dedup.merge_dedup_sites(sites_with_dedup),
            ingest_fp,
            bucket_col=None,
        )
        dedup_invs = self._run_stage(
            "dedup_inventories",
            lambda: dedup.select_dedup_inventories(sites_with_dedup, inv_views),
            ingest_fp,
            bucket_col=None,
        )

        def build_triples(buckets=None):
            src = (
                ingest.filter(F.col("bucket").isin(buckets))
                if buckets is not None
                else ingest
            )
            # triples are bucketed like their ingest rows, so a dirty
            # ingest bucket maps 1:1 to a dirty triples partition
            t = extract.extract_triples(
                src.select("repo", "path", "bucket", "content"),
                include_extra=self.include_extra,
            )
            return t

        triples = self._run_stage(
            "triples",
            build_triples,
            ingest_fp,
            partition_by="bucket",
            changed_buckets=changed,
        )

        # entity-vocabulary triples (ref etl/kgrel_entity.py:105-126) —
        # fingerprinted on the vocab tables' content, not the ingest
        vocab_fp = self.lineage.vocab_fingerprint(vocab)

        from ..operators.entity_triples import entity_triples as entity_triples_op

        entity_t = self._run_stage(
            "entity_triples",
            # a few hundred rows from 12 union branches: one file, not one
            # per branch partition
            lambda: entity_triples_op(vocab).coalesce(1),
            vocab_fp,
            bucket_col=None,
        )

        sameas = self._run_stage(
            "sameas_triples",
            lambda: canonicalize.sameas_triples(
                membership.select(
                    F.col("site_id").alias("node"),
                    F.col("dedup_site_id").alias("component"),
                )
            ),
            ingest_fp,
            bucket_col=None,
        )

        with open(os.path.join(self.workdir, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=2)

        return {
            "sites_rel": sites,
            "inv_views": inv_views,
            "membership": membership,
            "dedup_sites": dedup_sites,
            "dedup_inventories": dedup_invs,
            "triples": triples,
            "entity_triples": entity_t,
            "sameas_triples": sameas,
        }


def main(argv=None):
    import argparse

    from ..session import get_spark
    from ..sources import synthetic, vocab as vocab_mod

    ap = argparse.ArgumentParser()
    ap.add_argument("--n-sites", type=int, default=10000)
    ap.add_argument("--workdir", default="/tmp/kg_pipeline")
    ap.add_argument("--master", default=None)
    ap.add_argument("--n-buckets", type=int, default=N_BUCKETS_DEFAULT)
    ap.add_argument(
        "--export-kgrel",
        action="store_true",
        help="also write the reference's dedup_sites.json merged layout "
        "(K2) under <workdir>/kgrel/",
    )
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master)
    t0 = time.time()
    ingest = synthetic.synthesize_ingest(spark, args.n_sites)
    vdfs = vocab_mod.vocab_dataframes(spark)
    edges = synthetic.synthesize_system_edges(spark, args.n_sites)
    curated = synthetic.curated_edges_df(spark, args.n_sites)
    pipe = KGPipeline(spark, args.workdir, n_buckets=args.n_buckets)
    out = pipe.run(ingest, vdfs, edges, curated)
    if args.export_kgrel:
        from .export import write_dedup_sites_json, write_dedup_sites_jsonl

        os.makedirs(os.path.join(args.workdir, "kgrel"), exist_ok=True)
        write_dedup_sites_jsonl(out, os.path.join(args.workdir, "kgrel"))
        # the reference ships the compressed layout by default
        # (etl/mineral_site.py:30: COMPRESSION = ".lz4")
        write_dedup_sites_json(
            out, os.path.join(args.workdir, "kgrel", "dedup_sites.json.lz4")
        )
        write_dedup_sites_json(
            out, os.path.join(args.workdir, "kgrel", "dedup_sites.json")
        )
    n_triples = out["triples"].count()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "n_sites": args.n_sites,
                "n_triples": n_triples,
                "wall_sec": wall,
                "triples_per_sec": n_triples / wall,
                "stages": pipe.metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
