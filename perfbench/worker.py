"""One benchmark measurement inside one Spark session.

``run.py`` starts this module as a child process (so the parent can sample
its memory and always reap it) and reads the JSON it writes to ``--out``.
The workload drives the package's public entry points only:
``KGPipeline.run``, ``plans.export.write_dedup_sites_json``, the
``plans.serving`` functions and the ``streaming.events`` functions.

With ``--trace 1`` the session writes Spark's event log and every Spark job
is tagged with ``setJobGroup`` from the spans below; after the session
stops, ``eventlog.fold`` turns the log into the per-layer metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import corpus
import eventlog
import proctree

STAGES = (
    "sites_rel",
    "inv_views",
    "membership",
    "dedup_sites",
    "dedup_inventories",
    "triples",
    "entity_triples",
    "sameas_triples",
)
SERVE_OPS = ("find_dedup_sites", "find_by_ids", "export_csv_rows", "lod_closure")
# the requests every serve_mixed run makes: the lookups, then the CSV export
LOOKUPS = ("find_dedup_sites", "find_by_ids")
EXPORT_OP = "export_csv_rows"
REQUESTS = LOOKUPS + (EXPORT_OP,)
UPDATE_STEPS = ("ingest", "recompute", "triple_diff")
LINEAGE_CALLSITE = r"^collect at .*plans[/\\]pipeline\.py"
# set-up repetitions per run; setup_s is the median of their CPU times,
# which follow the host's steal less than wall times do
SETUP_REPS = 3


class Spans:
    """Wall time and CPU time (of this process, the JVM and the Python
    workers) per named span, kept in memory; when tracing, each span also
    becomes the Spark job group of the jobs it causes."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.cpus: dict[str, list[float]] = defaultdict(list)
        self._stack = ["bench"]
        if traced:
            sc.setJobGroup("bench", "bench")

    @contextmanager
    def __call__(self, name: str):
        self._stack.append(name)
        if self.traced:
            self.sc.setJobGroup(name, name)
        c0 = proctree.cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name].append(time.perf_counter() - t0)
            self.cpus[name].append(proctree.cpu_s(os.getpid()) - c0)
            self._stack.pop()
            if self.traced:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def start_spark(run_dir: str, nproc: int, traced: bool):
    from ta2_minmod_kg_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_record(spark) -> dict:
    get = spark.conf.get
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "adaptive": get("spark.sql.adaptive.enabled"),
        "arrow_batch": get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    }


# -- inputs and checks ---------------------------------------------------------


def pipeline_class(spans: Spans):
    """The package's pipeline; when tracing, a subclass whose stage runner
    runs inside a ``stage:<name>`` span."""
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline

    if not spans.traced:
        return KGPipeline

    class TracedPipeline(KGPipeline):
        def _run_stage(self, stage, *args, **kwargs):
            with spans(f"stage:{stage}"):
                return super()._run_stage(stage, *args, **kwargs)

    return TracedPipeline


def fingerprints(workdir: str) -> dict[str, str]:
    out = {}
    for stage in STAGES:
        with open(os.path.join(workdir, f"_LINEAGE_{stage}.json")) as f:
            out[stage] = json.load(f)["output_fingerprint"]
    return out


def membership_ok(spark, workdir: str, n_sites: int) -> bool:
    from ta2_minmod_kg_spark.plans.kg_oracles import _membership_py

    got = dict(
        spark.read.parquet(os.path.join(workdir, "membership"))
        .select("site_id", "dedup_site_id")
        .collect()
    )
    # the oracle labels a group by its min member; the engine's dedup id is
    # "dedup_" + that member (functions/ids.py)
    return got == {sid: "dedup_" + c for sid, c in _membership_py(n_sites).items()}


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Inputs:
    """The materialized corpus plus the in-memory vocab/curated tables."""

    def __init__(self, spark, p: corpus.Plan, paths: dict[str, str]):
        from ta2_minmod_kg_spark.operators.extract import read_ingest
        from ta2_minmod_kg_spark.sources import synthetic, vocab

        self.ingest = read_ingest(spark, paths["ingest"])
        self.edges = spark.read.parquet(paths["edges"])
        self.vocab = vocab.vocab_dataframes(spark)
        self.curated = synthetic.curated_edges_df(spark, p.n_sites)

    def run(self, cls, spark, workdir: str):
        pipe = cls(spark, workdir, n_buckets=corpus.N_BUCKETS)
        out = pipe.run(self.ingest, self.vocab, self.edges, self.curated)
        return pipe, out


def source_digest() -> str:
    """Hash of the package's source and of the code that makes the corpus,
    so a cached build is only ever reused by the code that built it.  Both
    processes run from the repository root."""
    root = os.path.join(os.getcwd(), "ta2_minmod_kg_spark")
    files = [(os.path.basename(corpus.__file__), os.path.abspath(corpus.__file__))]
    for d, dirs, names in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [
            (os.path.relpath(os.path.join(d, n), root), os.path.join(d, n))
            for n in sorted(names)
            if n.endswith(".py")
        ]
    h = hashlib.sha256()
    for rel, path in files:
        with open(path, "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()[:16]


def cache_key(cache_dir: str, p: corpus.Plan) -> str:
    return os.path.join(
        cache_dir, f"kg_n{p.n_sites}_b{corpus.N_BUCKETS}_{source_digest()}"
    )


def reference(key: str) -> dict | None:
    """Stage fingerprints of the cached build of this corpus, if any."""
    path = os.path.join(key, "fingerprints.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def install_reference(key: str, workdir: str, fps: dict) -> None:
    """Cache a checked full build of the corpus: later runs check
    their fingerprints against it and serve_mixed reads it."""
    tmp = key + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(workdir, os.path.join(tmp, "kg"))
    with open(os.path.join(tmp, "fingerprints.json"), "w") as f:
        json.dump(fps, f)
    shutil.rmtree(key, ignore_errors=True)
    os.rename(tmp, key)


def serving_path(key: str) -> str:
    """The serve_mixed requests and their answers, next to the cached build."""
    return os.path.join(key, "serving.json")


def prime(spark, p, run_dir, cache_dir, spans, res, out, setup_only=False):
    """Cache the full build serve_mixed reads, its fixed read requests and
    their answers.  ``run.py`` runs this in a process of its own before the
    first serve_mixed run of a checkout, so every measured serve_mixed
    process does the same work."""
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline
    from ta2_minmod_kg_spark.sources import vocab

    key = cache_key(cache_dir, p)
    if reference(key) is None:
        paths = corpus.write_corpus(spark, p.n_sites, os.path.join(run_dir, "input"))
        wd = os.path.join(run_dir, "prime")
        Inputs(spark, p, paths).run(KGPipeline, spark, wd)
        if not membership_ok(spark, wd, p.n_sites):
            res.op(False, "prime build: membership differs from the oracle")
            raise SystemExit(1)
        install_reference(key, wd, fingerprints(wd))
    srv = Serving(spark, os.path.join(key, "kg"), vocab.vocab_dataframes(spark))
    reqs = corpus.read_requests(p.n_sites, srv.catalog())
    digests = []
    for kind, params in reqs:
        _, digest, sane = srv.read(kind, params)
        if not sane:
            res.op(False, f"prime {kind}: answer fails its sanity check")
            raise SystemExit(1)
        digests.append(digest)
    tmp = serving_path(key) + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"requests": reqs, "digests": digests}, f)
    os.rename(tmp, serving_path(key))


# -- workloads -----------------------------------------------------------------


def build_full(spark, p, run_dir, cache_dir, spans, res, out, setup_only=False):
    """The operator's cycle: a full build into an empty workdir, then the
    lz4 ``dedup_sites.json`` export.  Set-up materializes the corpus to
    parquet."""
    from ta2_minmod_kg_spark.plans.export import (
        read_dedup_sites_json,
        write_dedup_sites_json,
    )

    # every repetition rewrites the same files
    for _ in range(SETUP_REPS):
        with spans("setup"):
            paths = corpus.write_corpus(spark, p.n_sites, os.path.join(run_dir, "input"))
    out["setup_s"] = spans.cpus["setup"]
    if setup_only:
        return
    inputs = Inputs(spark, p, paths)
    key = cache_key(cache_dir, p)
    ref = reference(key)
    wd = os.path.join(run_dir, "kg")
    export = os.path.join(run_dir, "export", "dedup_sites.json.lz4")
    os.makedirs(os.path.dirname(export))

    with spans("build"):
        pipe, kg = inputs.run(pipeline_class(spans), spark, wd)
    fps = fingerprints(wd)
    ok = (ref is None or fps == ref) and membership_ok(spark, wd, p.n_sites)
    res.op(ok, "build: stage fingerprints differ from set-up's or membership from the oracle")
    out["stage_rows"] = {s: pipe.metrics[s]["n_rows"] for s in STAGES}
    if ref is None and ok:
        install_reference(key, wd, fps)
    out["ops"] = {"build": spans.walls["build"]}
    out["ops_cpu"] = {"build": spans.cpus["build"]}
    out["main_cpu_ms"] = 1e3 * spans.cpus["build"][-1]
    out["output_bytes"] = dir_bytes(wd)
    with spans("export"):
        write_dedup_sites_json(kg, export)
    doc = read_dedup_sites_json(export)
    res.op(
        len(doc.get("DedupMineralSite", ())) == pipe.metrics["dedup_sites"]["n_rows"],
        "export: DedupMineralSite count differs from dedup_sites",
    )
    out["export_bytes"] = os.path.getsize(export)
    out["output_bytes"] += out["export_bytes"]
    out["ops"]["export"] = spans.walls["export"]
    out["ops_cpu"]["export"] = spans.cpus["export"]
    out["cycle_cpu_ms"] = out["main_cpu_ms"] + 1e3 * spans.cpus["export"][-1]


def _digest(rows) -> str:
    lines = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Serving:
    """The build's output tables and one method per API request kind."""

    def __init__(self, spark, kg_dir: str, vocab):
        self.t = {
            name: spark.read.parquet(os.path.join(kg_dir, name))
            for name in (
                "sites_rel",
                "inv_views",
                "membership",
                "dedup_sites",
                "dedup_inventories",
                "triples",
            )
        }
        self.vocab = vocab

    def catalog(self) -> dict:
        from pyspark.sql import functions as F

        t = self.t

        def values(df, col):
            return sorted(r[0] for r in df.select(col).distinct().collect() if r[0])

        # every site has one membership row; the table is far smaller than
        # the bucketed sites_rel
        site_ids = values(t["membership"], "site_id")
        return {
            "commodities": values(t["dedup_inventories"], "commodity"),
            "countries": values(
                t["dedup_sites"].select(F.explode("country.value").alias("c")), "c"
            ),
            "site_ids": site_ids,
            # a site's own node in the KG (functions/rdf.py: mr:<site_id>)
            "subjects": ["mr:" + s for s in site_ids],
        }

    def read(self, kind: str, params: dict) -> tuple[int, str, bool]:
        """Run one request to completion: (rows returned, digest, sane)."""
        from ta2_minmod_kg_spark.plans import serving

        t = self.t
        if kind == "find_dedup_sites":
            rows = serving.find_dedup_sites(
                t["dedup_sites"], t["dedup_inventories"], **params
            ).collect()
            return len(rows), _digest(rows), len(rows) <= params["limit"]
        if kind == "find_by_ids":
            rows = serving.find_by_ids(t["sites_rel"], params["site_ids"]).collect()
            got = {r["site_id"] for r in rows}
            return len(rows), _digest(rows), got == set(params["site_ids"])
        if kind == "export_csv_rows":
            rows = serving.export_csv_rows(
                t["dedup_sites"], t["dedup_inventories"], self.vocab["commodity"]
            ).collect()
            return len(rows), _digest(rows), len(rows) > 0
        if kind == "lod_closure":
            closure = serving.lod_closure(t["triples"], params["subj"])
            tree = serving.lod_entity_json(closure, params["subj"])
            doc = json.dumps(tree, sort_keys=True, default=str)
            n = closure.count()
            return n, hashlib.sha256(doc.encode()).hexdigest(), n > 0
        raise ValueError(kind)

    def update(self, spark, events: list[dict], renamed: dict, n_sites: int, spans):
        """One event-log batch through the package's update path:
        events_to_ingest → parse/normalize → upsert_sites → touched_groups
        → recompute_touched_groups → extract_triples → triple_diff.
        Returns whether the batch's checks held."""
        from pyspark.sql import functions as F

        from ta2_minmod_kg_spark.operators import extract
        from ta2_minmod_kg_spark.plans.pipeline import with_bucket
        from ta2_minmod_kg_spark.schemas import EVENT_LOG
        from ta2_minmod_kg_spark.sources import synthetic
        from ta2_minmod_kg_spark.streaming import events as ev

        t = self.t
        with spans("update:ingest"):
            log = spark.createDataFrame(
                [tuple(e.get(f.name) for f in EVENT_LOG.fields) for e in events],
                schema=EVENT_LOG,
            )
            new_ingest = ev.events_to_ingest(log)
            parsed, _ = extract.split_violations(extract.parse_sites(new_ingest))
            # upsert_sites aligns on the pipeline table's columns, which
            # include the partition column the pipeline adds
            new_sites = with_bucket(
                extract.normalize_sites(parsed, self.vocab), corpus.N_BUCKETS
            ).localCheckpoint(eager=True)
            updated = ev.upsert_sites(t["sites_rel"], new_sites)
            new_ids = [r["site_id"] for r in new_sites.select("site_id").collect()]
        with spans("update:recompute"):
            touched = ev.touched_groups(t["membership"], new_sites.select("site_id"))
            swd = updated.drop("dedup_site_id").join(t["membership"], "site_id")
            new_dedup, new_invs = ev.recompute_touched_groups(swd, t["inv_views"], touched)
            groups = {
                r["dedup_site_id"]: r["name"]["value"] if r["name"] else None
                for r in new_dedup.select("dedup_site_id", "name").collect()
            }
            new_invs.count()
        with spans("update:triple_diff"):
            new_t = extract.extract_triples(new_ingest.select("path", "content"))
            old_t = t["triples"].filter(F.col("site_id").isin(new_ids))
            diff = ev.triple_diff(old_t, new_t)
            n_insert = diff["insert"].count()
            diff["delete"].count()
        member = {
            r["site_id"]: r["dedup_site_id"]
            for r in t["membership"].filter(F.col("site_id").isin(new_ids)).collect()
        }
        ok = n_insert > 0 and len(new_ids) == len(events)
        for n, name in renamed.items():
            sid = synthetic.site_id_of(n, n_sites, expert=True)
            group = member.get(sid)
            ok = ok and group in groups and groups[group] == name
        return ok


def serve_mixed(spark, p, run_dir, cache_dir, spans, res, out, setup_only=False):
    """One API client over one build's outputs: the lookups, then the CSV
    export, each request once.  When tracing, an event-log update batch and
    ``lod_closure`` follow, so the requests before them run as they do
    untraced.  Set-up opens the build's tables; the requests and their
    answers were fixed when the build was cached."""
    from ta2_minmod_kg_spark.sources import vocab

    key = cache_key(cache_dir, p)
    with open(serving_path(key)) as f:
        cached = json.load(f)
    reqs = [(kind, params) for kind, params in cached["requests"]]
    expected = cached["digests"]
    for _ in range(SETUP_REPS):
        with spans("setup"):
            srv = Serving(spark, os.path.join(key, "kg"), vocab.vocab_dataframes(spark))
    out["setup_s"] = spans.cpus["setup"]
    if setup_only:
        return
    rows_returned: dict[str, int] = defaultdict(int)

    def read(kinds) -> None:
        for idx, (kind, params) in enumerate(reqs):
            if kind not in kinds:
                continue
            with spans(f"serve:{kind}"):
                n, digest, sane = srv.read(kind, params)
            rows_returned[kind] += n
            res.op(sane and digest == expected[idx], f"{kind}: answer differs from the cached one")

    # one pass, cold: the first requests after the tables open pay the plan
    # compilation and Python-worker start-up every client of a fresh
    # server meets
    read(REQUESTS)
    kinds = [f"serve:{k}" for k in REQUESTS]
    if spans.traced:
        renamable = corpus.renamable_sites(p.n_sites)
        events, renamed = corpus.update_events(p, 0, renamable)
        with spans("update"):
            ok = srv.update(spark, events, renamed, p.n_sites, spans)
        res.op(ok, "update batch: renamed site or INSERT set missing")
        read(("lod_closure",))
        kinds += ["update", "serve:lod_closure"]
        out["update_sites"] = corpus.UPDATE_BATCH
    out["ops"] = {k: spans.walls[k] for k in kinds}
    out["ops_cpu"] = {k: spans.cpus[k] for k in kinds}
    # each lookup kind weighs the same, whatever its cost: a gain in either
    # moves the geometric mean by the same share
    out["main_cpu_ms"] = 1e3 * statistics.geometric_mean(
        [statistics.median(spans.cpus[f"serve:{k}"]) for k in LOOKUPS]
    )
    out["cycle_cpu_ms"] = 1e3 * sum(sum(spans.cpus[f"serve:{k}"]) for k in REQUESTS)
    out["rows_returned"] = dict(rows_returned)
    out["output_bytes"] = dir_bytes(os.path.join(key, "kg"))


WORKLOADS = {"build_full": build_full, "serve_mixed": serve_mixed, "prime": prime}


# -- per-layer metrics -----------------------------------------------------------


def layer_metrics(out: dict, folded: dict, walls: dict, nproc: int) -> dict[str, float]:
    """Per-layer metrics from the folded event log and the spans.  Stage,
    lineage and export metrics describe build_full's one full build and
    export; serving and update metrics are medians or per-call means over
    serve_mixed's loop.  Layers a workload does not run report 0."""
    zero = dict.fromkeys(eventlog._FIELDS, 0)
    m: dict[str, float] = {}
    for stage in STAGES:
        g = folded.get(f"stage:{stage}", zero)
        wall = sum(walls.get(f"stage:{stage}", ()))
        n_rows = out.get("stage_rows", {}).get(stage, 0)
        m.update(
            {
                f"{stage}.wall_s": wall,
                f"{stage}.jobs": g["jobs"],
                f"{stage}.tasks": g["tasks"],
                f"{stage}.cpu_s": g["cpu_s"],
                f"{stage}.python_s": g["python_s"],
                f"{stage}.python_us_per_row": 1e6 * g["python_s"] / n_rows if n_rows else 0.0,
                f"{stage}.shuffle_write_mb": g["shuffle_write_bytes"] / 1e6,
                f"{stage}.spill_mb": g["spill_bytes"] / 1e6,
                f"{stage}.rows_out": n_rows,
                f"{stage}.files_written": g["files_written"],
                f"{stage}.core_util": g["run_s"] / (wall * nproc) if wall else 0.0,
            }
        )
    # bucket hashing of the build's input and of each stage's output
    lin = [v for k, v in folded.items() if k.startswith(("stage:", "build"))]
    m["lineage.wall_s"] = sum(g["lineage_wall_s"] for g in lin)
    m["lineage.jobs"] = sum(g["lineage_jobs"] for g in lin)
    m["lineage.rows_hashed"] = sum(g["lineage_rows"] for g in lin)
    m["export.wall_s"] = sum(walls.get("export", ()))
    m["export.python_s"] = folded.get("export", zero)["python_s"]
    m["export.bytes"] = out.get("export_bytes", 0)
    for op in SERVE_OPS:
        g = folded.get(f"serve:{op}", zero)
        w = walls.get(f"serve:{op}", ())
        returned = out.get("rows_returned", {}).get(op, 0)
        m[f"serve.{op}.wall_ms"] = 1e3 * statistics.median(w) if w else 0.0
        m[f"serve.{op}.jobs"] = g["jobs"] / len(w) if w else 0.0
        m[f"serve.{op}.files_read"] = g["files_read"] / len(w) if w else 0.0
        m[f"serve.{op}.rows_scanned_per_row_returned"] = (
            g["scan_rows"] / returned if returned else 0.0
        )
    scanned = 0
    for step in UPDATE_STEPS:
        w = walls.get(f"update:{step}", ())
        m[f"update.{step}_ms"] = 1e3 * statistics.median(w) if w else 0.0
        scanned += folded.get(f"update:{step}", zero)["scan_rows"]
    sites = out.get("update_sites", 0)
    m["update.rows_scanned_per_site_updated"] = scanned / sites if sites else 0.0
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--setup-only",
        action="store_true",
        help="the set-up only (the untraced half of a traced run)",
    )
    a = ap.parse_args(argv)

    p = corpus.plan(a.seed, a.workload)
    traced = bool(a.trace)
    spark = start_spark(a.run_dir, a.nproc, traced)
    spans = Spans(spark.sparkContext, traced)
    res = Result()
    out: dict = {"workload": a.workload, "n_sites": p.n_sites, "session": session_record(spark)}
    WORKLOADS[a.workload](spark, p, a.run_dir, a.cache_dir, spans, res, out, a.setup_only)
    out["setup_cpu_ms"] = 1e3 * sum(spans.cpus["setup"])
    walls = {k: list(v) for k, v in spans.walls.items()}
    out["span_s"] = {k: round(sum(v), 3) for k, v in walls.items() if ":" not in k}
    spark.stop()
    if traced:
        (log,) = glob.glob(os.path.join(a.run_dir, "eventlog", "*"))
        folded = eventlog.fold(log, LINEAGE_CALLSITE)
        out["layers"] = layer_metrics(out, folded, walls, a.nproc)
    out.update(attempted=res.attempted, failed=res.failed, problems=res.problems)
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
