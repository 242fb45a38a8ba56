"""End-to-end KG construction pipeline with checkpoint/lineage (SURVEY §3.1).

Stages (each materialized as parquet under ``workdir``):

  ingest → sites_rel + triples + inv_views → membership → dedup_sites +
  dedup_inventories → entity_triples, sameas_triples

The vocabulary is driver-sized: ``run`` collects it once
(``sources.vocab.vocab_rows``) and that snapshot feeds the document
pass's lookups, the ``entity_triples`` emitter and the vocabulary
fingerprint, none of which runs a Spark job of its own.

Checkpoint & lineage model — the Spark analog of the reference's sqlite
content-hash memo (`etl/mineral_site.py:400-408`):

- every row carries ``bucket = pmod(xxhash64(repo, path), n_buckets)`` —
  the unit of incremental recompute and the output partition key;
- ONE document pass (``extract.doc_pass``) parses each document once and
  writes ``sites_rel``, ``violations``, ``vocab_violations``, ``triples``
  and the grade-tonnage view ``inv_views`` with pyarrow.  Its input is
  hash-clustered on ``bucket`` (``cluster_by_bucket``) and sorted by it
  within each task, so each bucket's rows meet in one task and every one
  of those tables holds one file (one row group) per bucket;
- the pass commits by manifest: its tasks write into a per-run staging
  directory and report each file they wrote; Spark returns results only
  from successful task attempts, so the driver moves exactly the reported
  files into ``<table>/bucket=<b>/`` (``KGPipeline._commit``), then
  writes ``_SUCCESS``.  A failed attempt's files never reach a table;
- after each stage we record one lineage row **per bucket**:
  (stage, bucket, content_hash, n_rows, wall_ms, code_version, run_id) —
  the per-partition lineage + metrics the north rule requires.  The pass
  records three stages, ``sites_rel``, ``triples`` and ``inv_views``; it
  is skipped only when all three match, and otherwise rewrites all five
  tables.  Every lineage file also records its table's schema, so a
  skipped stage is read back without a schema-inference job;
- a stage is **skipped on resume** when its ``_LINEAGE`` fingerprint
  (hash over per-bucket hashes + code version) matches the current input —
  kill the job at any point and re-submit: completed stages are read back
  from parquet instead of recomputed;
- per-bucket hashes give the incremental path its work list
  (``changed_buckets``): the pass then re-reads only the dirty buckets'
  documents and replaces only their partitions.

Run it under spark-submit (via the root-level ``run_pipeline.py`` shim —
spark-submit takes a file path, and this module's relative imports need
the package on ``--py-files``):

    python -m zipfile -c /tmp/pkg.zip ta2_minmod_kg_spark
    spark-submit --master local[32] --py-files /tmp/pkg.zip \
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \
        run_pipeline.py --n-sites 100000 --workdir /tmp/kg

(spark-submit launches the driver JVM before ``get_spark`` runs, so the
C1-only flag ``get_spark`` sets must be passed on the command line.)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

# v6: inv_views is written by the document pass, one bucket directory per
# bucket, where v5 wrote one unpartitioned table — an incremental run
# over a v5 workdir would patch bucket directories into that table.  v6
# lineage files also record each table's schema, which the skip path reads
CODE_VERSION = "v6"
N_BUCKETS_DEFAULT = 256


def _jvm_jit_gc_ms(spark: SparkSession) -> tuple[int, int]:
    """The driver JVM's cumulative (JIT compilation, GC) milliseconds, from
    its ``CompilationMXBean`` and summed ``GarbageCollectorMXBean`` times.
    In local mode that JVM also runs the tasks, so a stage's deltas cover
    its executor work too."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    # indexed, not iterated: py4j ends every iteration of a Java list with
    # a NoSuchElementException that pyspark's exception converter then
    # handles, ~40 ms a call against ~1 ms for size()/get(i)
    beans = mf.getGarbageCollectorMXBeans()
    gc = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return jit, gc


def _delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``, if it exists.  Routed through the
    Hadoop FileSystem API so it works on ANY workdir scheme (HDFS, object
    stores) — a local shutil.rmtree would silently no-op there and
    resurrect the stale data the callers exist to remove."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)


def _clear_partitions(
    spark: SparkSession, out_path: str, buckets: list[int]
) -> None:
    """Delete the dirty buckets' ``bucket=<b>`` partition directories
    before an incremental rebuild's files move in, so a dirty bucket that
    now emits no rows doesn't keep its stale partition."""
    for b in buckets:
        _delete(spark, os.path.join(out_path, f"bucket={b}"))


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)).cast("int")
    )


def cluster_by_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Hash-repartition ``df`` on ``bucket`` so every bucket's rows reach
    exactly one task: the document pass after it then writes one file per
    (table, bucket).  Called on the pass's input, it moves the documents,
    not the pass's many times larger output.

    The partition count is explicit, ``min(n_buckets,
    defaultParallelism)``: a by-column ``repartition("bucket")`` is one
    AQE may coalesce (at 1000 sites into a single partition, running the
    Python kernel on one core), a by-number one it never does."""
    n = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, "bucket")


def bucket_hashes(df: DataFrame) -> DataFrame:
    """Order-insensitive per-bucket content hash: sum of row hashes."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns if c != "bucket"])
    return df.groupBy("bucket").agg(
        F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("content_hash"),
        F.count(F.lit(1)).alias("n_rows"),
    )


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

    def vocab_fingerprint(
        self, vocab: dict[str, DataFrame], snapshot: dict[str, list[dict]]
    ) -> str:
        """sha256 over the config and, per vocabulary table in name order,
        its name, schema string and sorted canonical-JSON rows, read from
        the build's snapshot (``vocab_rows``): no Spark job.  JSON keeps
        null apart from NaN and 1 apart from 1.0."""
        import hashlib

        vh = hashlib.sha256(self.config.encode())
        for n in sorted(vocab):
            rows = sorted(
                json.dumps(list(r.values()), default=str) for r in snapshot[n]
            )
            vh.update(json.dumps([n, vocab[n].schema.simpleString(), rows]).encode())
        return vh.hexdigest()

    def is_done(self, stage: str, input_fingerprint: str | None) -> bool:
        meta = self.read_meta(stage)
        if meta is None:
            return False
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
        schema: StructType,
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
            "schema": schema.jsonValue(),
        }
        with open(self._meta_path(stage), "w") as f:
            json.dump(meta, f)

    def read_meta(self, stage: str) -> dict | None:
        p = self._meta_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

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
        # every recorded stage's output, read back from the workdir
        self.tables: dict[str, DataFrame] = {}

    # -- stage runner ---------------------------------------------------------

    def _incremental_ok(self, stage: str) -> bool:
        """Whether ``stage``'s table on disk may be patched bucket by
        bucket: a complete previous run of the same code version and the
        SAME output-affecting config.  Otherwise only content-dirty buckets
        would be rebuilt under the new config while clean buckets keep
        old-config rows, and the recorded fingerprint would claim the
        whole table matches the new config — a permanently mixed-config
        table."""
        old_meta = self.lineage.read_meta(stage)
        return (
            old_meta is not None
            and old_meta.get("code_version") == CODE_VERSION
            and old_meta.get("config") == self.lineage.config
            and os.path.exists(os.path.join(self.lineage.path(stage), "_SUCCESS"))
        )

    def _run_stage(
        self,
        stage: str,
        build,
        input_fingerprint: str | None,
        partitioned: bool = False,
        changed_buckets: list[int] | None = None,
        writes: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run, skip, or *incrementally* recompute a stage; return its
        output read back from the workdir.

        An unpartitioned stage's ``build()`` returns the frame written to
        ``<workdir>/<stage>``, hashed as one table.  A ``partitioned``
        stage's ``build(buckets)`` writes its own bucket-partitioned
        tables for the bucket work list (``None`` = all): ``stage``'s,
        those of the further recorded stages named in ``writes``, and any
        unrecorded side tables.  The recorded stages are reused only
        together, when every one's lineage matches; when the build runs,
        each is hashed per bucket and recorded.  Every recorded stage's
        read-back frame lands in ``self.tables``.

        Incremental path (the Spark analog of the reference's per-file
        sqlite memo): when the stage is partitioned, every recorded stage
        passes ``_incremental_ok``, and the caller passes a non-empty
        ``changed_buckets`` diff of the ingest lineage, only those buckets
        are rebuilt — ``build(changed_buckets)`` replaces just the dirty
        partitions.
        """
        names = (stage, *writes)
        if all(self.lineage.is_done(s, input_fingerprint) for s in names):
            for s in names:
                meta = self.lineage.read_meta(s)
                self.metrics[s] = {
                    "skipped": True,
                    **{k: meta[k] for k in ("n_rows", "wall_ms")},
                }
                self.tables[s] = self._read(s)
            return self.tables[stage]

        incremental = (
            partitioned
            and bool(changed_buckets)
            and all(self._incremental_ok(s) for s in names)
        )
        t0 = time.time()
        jit0, gc0 = _jvm_jit_gc_ms(self.spark)
        written = None
        if partitioned:
            build(changed_buckets if incremental else None)
        else:
            df = build()
            df.write.mode("overwrite").parquet(self.lineage.path(stage))
            written = df.schema
        # the build's time is its stage's; each further recorded stage's
        # entry covers only its own read-back and hashing
        for s in names:
            out = self._read(s, written)
            # an unpartitioned stage is one logical bucket: a whole-table hash
            hashed = out if partitioned else out.withColumn("bucket", F.lit(0))
            pb = [r.asDict() for r in bucket_hashes(hashed).collect()]
            t1 = time.time()
            jit1, gc1 = _jvm_jit_gc_ms(self.spark)
            self.lineage.record(
                s, pb, (t1 - t0) * 1000, input_fingerprint, out.schema
            )
            self.metrics[s] = {
                "skipped": False,
                "incremental_buckets": len(changed_buckets) if incremental else None,
                "n_rows": sum(r["n_rows"] for r in pb),
                "wall_ms": (t1 - t0) * 1000,
                "jit_ms": jit1 - jit0,
                "gc_ms": gc1 - gc0,
                # the layout on disk, from the driver's file listing (no job)
                "n_files": len(out.inputFiles()),
            }
            self.tables[s] = out
            t0, jit0, gc0 = t1, jit1, gc1
        return self.tables[stage]

    def _commit(
        self, staging: str, manifest: list[tuple], buckets: list[int] | None
    ) -> None:
        """Move the document pass's files from ``staging`` into their
        tables (``extract.DOC_TABLES``), through the Hadoop FileSystem API
        like ``_clear_partitions``.

        First the target partitions are cleared: the whole table on a
        full run, the dirty buckets on an incremental one (a dirty bucket
        that now emits no rows must not keep its stale partition).  Then
        exactly the manifest's files move to ``<table>/bucket=<b>/``; a
        failed or superseded task attempt's files are not in the manifest
        and stay behind, for the caller to delete with the staging
        directory.  Then ``_SUCCESS``."""
        from ..operators.extract import DOC_TABLES

        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        fs = Path(staging).getFileSystem(self.spark._jsc.hadoopConfiguration())
        for table in DOC_TABLES:
            if buckets is None:
                _delete(self.spark, self.lineage.path(table))
            else:
                _clear_partitions(self.spark, self.lineage.path(table), buckets)
        made: set[str] = set()
        for table, bucket, path, _ in manifest:
            src = Path(path)
            dst_dir = os.path.join(self.lineage.path(table), f"bucket={bucket}")
            if dst_dir not in made:
                fs.mkdirs(Path(dst_dir))
                made.add(dst_dir)
            if not fs.rename(src, Path(dst_dir, src.getName())):
                raise OSError(f"cannot move {path} into {dst_dir}")
        for table in DOC_TABLES:
            fs.create(Path(self.lineage.path(table), "_SUCCESS"), True).close()

    def _read(self, stage: str, schema: StructType | None = None) -> DataFrame:
        """A stage's table, read back from the workdir with a known schema,
        so no schema-inference job runs: ``schema`` when given (the frame
        an unpartitioned stage just wrote), else the document pass's
        declared file schema plus ``bucket`` for its tables
        (``extract.DOC_TABLES`` — a quarantine table of a clean corpus
        holds no file, only ``_SUCCESS``, from which Spark could infer
        nothing), else the schema the stage's lineage recorded."""
        from ..operators.extract import DOC_FILE_SCHEMAS

        if schema is None:
            schema = (
                StructType(
                    DOC_FILE_SCHEMAS[stage].fields
                    + [StructField("bucket", IntegerType())]
                )
                if stage in DOC_FILE_SCHEMAS
                else StructType.fromJson(self.lineage.read_meta(stage)["schema"])
            )
        return self.spark.read.schema(schema).parquet(self.lineage.path(stage))

    # -- full run ---------------------------------------------------------------

    def run(
        self,
        ingest: DataFrame,
        vocab: dict[str, DataFrame],
        system_edges: DataFrame | None = None,
        curated_edges: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Build (or resume) every stage; return each recorded stage's
        table and the two quarantine tables, ``violations`` and
        ``vocab_violations``."""
        from ..operators import canonicalize, dedup, extract
        from ..operators.entity_triples import entity_triples
        from ..sources.vocab import vocab_rows

        # the vocabulary's one driver snapshot: the pass's lookups, the
        # entity triples and the vocabulary fingerprint all read it
        snapshot = vocab_rows(vocab)
        ingest = with_bucket(ingest, self.n_buckets)
        ingest_pb = [r.asDict() for r in bucket_hashes(ingest).collect()]
        ingest_fp = self.lineage.fingerprint(ingest_pb)
        # diff against the previous run BEFORE overwriting the ingest lineage
        changed = self.lineage.changed_buckets("ingest", ingest_pb)
        self.lineage.record("ingest", ingest_pb, 0.0, None, ingest.schema)

        def build_docs(buckets=None):
            src = (
                ingest.filter(F.col("bucket").isin(buckets))
                if buckets is not None
                else ingest
            )
            # ONE pass per document writes sites_rel, violations,
            # vocab_violations, triples and inv_views; its input meets one
            # task per bucket, in bucket order, so the pass holds one
            # bucket's output at a time and writes one file per (table,
            # bucket).  Every table is bucketed like its ingest rows, so a
            # dirty ingest bucket maps 1:1 to a dirty partition of each.
            docs = extract.with_lineage(
                cluster_by_bucket(src, self.n_buckets).sortWithinPartitions("bucket")
            )
            staging = os.path.join(
                os.path.abspath(self.workdir), f"_staging_{self.lineage.run_id}"
            )
            try:
                manifest = extract.write_doc_tables(
                    docs, snapshot, staging, include_extra=self.include_extra
                )
                self._commit(staging, manifest, buckets)
            finally:
                # failed attempts' files, or a failed pass's
                _delete(self.spark, staging)

        sites = self._run_stage(
            "sites_rel",
            build_docs,
            ingest_fp,
            partitioned=True,
            changed_buckets=changed,
            writes=("triples", "inv_views"),
        )
        # P5/P6 rejects and P7 out-of-vocabulary URIs (validators.py:
        # 354-419) + P3 locations with a CRS the engine cannot reproject
        violations = self._read("violations")
        vocab_violations = self._read("vocab_violations")

        inv_views = self.tables["inv_views"]

        membership = self._run_stage(
            "membership",
            lambda: canonicalize.build_membership(sites, system_edges, curated_edges),
            ingest_fp,
        )

        sites_with_dedup = sites.drop("dedup_site_id").join(
            membership, "site_id", "left"
        )

        self._run_stage(
            "dedup_sites",
            lambda: dedup.merge_dedup_sites(sites_with_dedup),
            ingest_fp,
        )
        self._run_stage(
            "dedup_inventories",
            lambda: dedup.select_dedup_inventories(sites_with_dedup, inv_views),
            ingest_fp,
        )

        # entity-vocabulary triples (ref etl/kgrel_entity.py:105-126) —
        # fingerprinted on the vocab tables' content, not the ingest
        self._run_stage(
            "entity_triples",
            # a few hundred rows: one file, not one per local partition
            lambda: entity_triples(vocab, snapshot).coalesce(1),
            self.lineage.vocab_fingerprint(vocab, snapshot),
        )

        self._run_stage(
            "sameas_triples",
            lambda: canonicalize.sameas_triples(
                membership.select(
                    F.col("site_id").alias("node"),
                    F.col("dedup_site_id").alias("component"),
                )
            ),
            ingest_fp,
        )

        with open(os.path.join(self.workdir, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=2)

        return {
            **self.tables,
            "violations": violations,
            "vocab_violations": vocab_violations,
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
        from .export import dedup_sites_json, dump_dedup_sites_json

        kgrel = os.path.join(args.workdir, "kgrel")
        os.makedirs(kgrel, exist_ok=True)
        doc = dedup_sites_json(out)
        # the reference ships the compressed layout by default
        # (etl/mineral_site.py:30: COMPRESSION = ".lz4")
        for name in ("dedup_sites.json.lz4", "dedup_sites.json"):
            dump_dedup_sites_json(doc, os.path.join(kgrel, name))
    n_triples = pipe.metrics["triples"]["n_rows"]
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
