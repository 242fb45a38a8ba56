"""Extra measurement harness for optimization rounds (guide §1).

NOT part of the frozen driver contract (bench.py).  Provides:

- ``--explain [names...]``: dump ``.explain('formatted')`` for declared
  queries to ``plans/<tag>/<name>_<suffix>.txt``;
- ``--stage-kg N_SITES``: the bench kg job with per-stage wall breakdown
  printed as JSON (same operators as bench.py's _kg_job, finer timers);
- ``--noop NAME``: time one declared query with the noop sink, best of 3.

Usage:
    python bench_extra.py --explain --tag r06 --suffix before
    python bench_extra.py --stage-kg 60000
    python bench_extra.py --noop docs_simhash
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from ta2_minmod_kg_spark.session import get_spark

    return get_spark(app_name="bench-extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS)


def dump_explains(names, tag: str, suffix: str) -> None:
    import __spark_entry__ as em

    spark = _spark()
    qmap = em.queries()
    outdir = os.path.join(os.path.dirname(__file__), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names or qmap.keys():
        try:
            df = qmap[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}", flush=True)
        except Exception as e:  # noqa: BLE001 — keep dumping the rest
            print(f"EXPLAIN FAILED {name}: {e!r}", flush=True)
    spark.stop()


def noop_query(name: str, trials: int = 3) -> None:
    import __spark_entry__ as em

    spark = _spark()
    qmap = em.queries()
    times = []
    for _ in range(trials):
        t0 = time.time()
        df = qmap[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
    print(json.dumps({"query": name, "trials": times, "min": min(times)}))
    spark.stop()


def stage_kg(n_sites: int) -> None:
    """bench.py's _kg_job with finer-grained stage timers (same operators,
    same order; measurement-only — durations printed as JSON)."""
    from pyspark.sql import functions as F

    from ta2_minmod_kg_spark.operators import (
        canonicalize,
        dedup,
        extract,
        grade_tonnage,
    )
    from ta2_minmod_kg_spark.sources import synthetic, vocab as vocab_mod

    spark = _spark()
    sc = spark.sparkContext
    # warm the python workers like bench.py does
    spark.range(0, 1000, 1, 8).mapInPandas(
        lambda it: it, schema="id long"
    ).groupBy((F.col("id") % 8).alias("k")).count().count()

    t: dict[str, float] = {}

    def mark(label, fn):
        sc.setJobDescription(label)
        t0 = time.time()
        out = fn()
        t[label] = round(time.time() - t0, 3)
        print(f"[stage] {label}: {t[label]}", file=sys.stderr, flush=True)
        return out

    n_parts = max(128, -(-n_sites // 2230))
    ingest = synthetic.synthesize_ingest(spark, n_sites, partitions=n_parts)
    ingest = ingest.persist()
    mark("gen+count", ingest.count)

    vdfs = mark("vocab", lambda: vocab_mod.vocab_dataframes(spark))
    sites = extract.normalize_sites(extract.parse_sites(ingest), vdfs).persist()
    mark("normalize+count", sites.count)

    edges = synthetic.synthesize_system_edges(spark, n_sites, partitions=n_parts)
    curated = synthetic.curated_edges_df(spark, n_sites)
    membership = mark(
        "build_membership",
        lambda: canonicalize.build_membership(sites, edges, curated).persist(),
    )
    mark("membership_count", membership.count)

    swd = sites.drop("dedup_site_id").join(membership, "site_id").persist()
    gt = grade_tonnage.grade_tonnage_view(sites, vdfs)
    mega = synthetic.giant_size(n_sites)
    merged = dedup.merge_dedup_sites(swd, big_group_threshold=mega)
    from concurrent.futures import ThreadPoolExecutor

    def counts():
        with ThreadPoolExecutor(2) as pool:
            f1, f2 = pool.submit(merged.count), pool.submit(gt.count)
            return f1.result(), f2.result()

    n_dedup, n_gt = mark("dedup_gt", counts)
    mark("triples", extract.extract_triples(ingest).count)
    t["n_dedup"], t["n_gt"] = n_dedup, n_gt
    print("STAGES " + json.dumps(t), flush=True)
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--explain":
        tag, suffix, names = "r06", "before", []
        rest = args[1:]
        while rest:
            if rest[0] == "--tag":
                tag, rest = rest[1], rest[2:]
            elif rest[0] == "--suffix":
                suffix, rest = rest[1], rest[2:]
            else:
                names.append(rest[0])
                rest = rest[1:]
        dump_explains(names, tag, suffix)
    elif args and args[0] == "--stage-kg":
        stage_kg(int(args[1]))
    elif args and args[0] == "--noop":
        noop_query(args[1])
    else:
        print(__doc__)
