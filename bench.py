"""Benchmark harness (driver contract).

Runs:
1. headline queries from ``__spark_entry__.queries()`` at
   ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1);
2. the KG build: ``KGPipeline.run`` over a synthetic corpus written to
   parquet before the clock starts, reporting its wall, triples/sec and
   the pipeline's per-stage metrics;
3. the two-parallelism scaling probes required by BASELINE.md: the same
   kg phase, same input size, at N and 4N cores, derived from the box
   (a quarter of its CPUs vs all of them);
   efficiency = (thr_4N / thr_N) / (4N / N) on the ``triples`` stage's
   triples/sec, median over clean-lo x clean-hi cross-pairs.

Timeout-proofing (VERDICT r04 #1 — BENCH_r04.json was rc 124 with
NOTHING recorded because everything printed only at the very end):

- the one-line summary JSON is RE-PRINTED (flushed) after every completed
  unit of work — each individual headline query, each KG trial, each
  scaling probe — so the last ~2000 stdout chars the driver keeps always
  contain a complete, parseable snapshot of everything finished so far
  (``"partial": true`` until the run completes);
- ``BENCH_FULL.json`` is likewise rewritten incrementally;
- the scaling loop is bounded by a WALL-CLOCK budget
  (``$BENCH_WALL_BUDGET`` seconds, default 2400 — comfortably under the
  driver's timeout) and degrades to fewer probes instead of silence;
- probes are gated on a PRE-probe calm window (poll /proc/stat steal and
  start only when the recent box-wide steal rate is low — VERDICT r04
  #2) rather than retried after contamination, so clean probes accumulate
  even on a noisy box; every recorded probe still carries its measured
  in-run steal fraction for auditability;
- scaling probes are single-SIDE and cross-paired (r5): any steal-clean
  lo probe pairs with any steal-clean hi probe — both measure the same
  job on the same input — so a clean median needs clean WINDOWS, not
  clean back-to-back pair runs (the failure mode that cost rounds 3-5
  their driver medians).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TOTAL_CPUS = os.cpu_count() or 1
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or TOTAL_CPUS)
KG_N_SITES = int(os.environ.get("BENCH_KG_SITES", "60000"))
# 150k sites for the scaling probes (VERDICT r03 #3): at 60k the probe's
# scale-invariant residue (driver CC tail + per-stage scheduler cost,
# ~8 s) is ~20% of the 8-core wall and caps the measurable pipeline
# efficiency near 0.6; at 150k it falls under 10% and the ratio reflects
# the operators.
SCALING_N_SITES = int(os.environ.get("BENCH_SCALING_SITES", "150000"))
# N → 4N cores for the scaling-efficiency criterion, from the box: a
# quarter of its CPUs against all of them (1 → 4 on a 4-CPU box)
SCALING_CORES = (max(1, TOTAL_CPUS // 4), TOTAL_CPUS)
# total wall budget for the whole bench run; the driver killed round 4's
# ~80-minute run, so everything after the queries phase fits itself to
# what remains of this (r5: 2400 -> 2100 — the round-5 full run took
# 2336 s wall, leaving no margin under an unknown driver timeout; 2100
# still fits ~4 scaling pairs after the queries + kg phases)
WALL_BUDGET = float(os.environ.get("BENCH_WALL_BUDGET", "2100"))
# a probe (pre-gate + run) whose in-run steal exceeds this fraction of
# its busy-core time (wall x cores) is recorded as contaminated; medians
# prefer clean pairs (objective, pre-registered criterion — r02)
STEAL_CLEAN_FRAC = 0.10
# pre-probe calm gate: start a probe only when the box-wide steal rate
# over a short window is under this fraction of ALL cpus (neighbors
# quiet), or the calm-wait allowance runs out
CALM_RATE = float(os.environ.get("BENCH_CALM_RATE", "0.02"))
CALM_WINDOW_SEC = 3.0

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "events_sessionized",
    "orders_running_total",
    "cc_customer_order_graph",
    "docs_exact_dups",
    "docs_minhash_lsh",
    "docs_simhash",
    "docs_token_stats",
    "emb_topk_cosine",
    "emb_lsh_neardups",
]


def _kg_parts(n_sites: int) -> int:
    """Split count for synthesizing the kg corpus (the number of parquet
    files the kg phase writes): grows with data (like real 128 MB file
    splits — a bigger table means MORE splits, never bigger ones),
    independent of core count, at most ~2.2k rows per split.  Floor 128
    keeps the sf0.1 headline's historical split count."""
    return max(128, -(-n_sites // 2230))


def kg_job(spark, n_sites: int, workdir: str) -> dict:
    """The measured KG build: ``KGPipeline.run`` (default bucket count)
    into ``<workdir>/kg``, over the synthesized ingest and system edges
    read back from parquet under ``workdir``.  Synthesis and its write
    happen before the clock starts; ``wall_sec`` is the run's wall, and
    ``stages`` the pipeline's own per-stage metrics."""
    from ta2_minmod_kg_spark.operators.extract import read_ingest
    from ta2_minmod_kg_spark.plans.pipeline import KGPipeline
    from ta2_minmod_kg_spark.sources import synthetic, vocab as vocab_mod

    n_parts = _kg_parts(n_sites)
    ingest_path = os.path.join(workdir, "ingest")
    edges_path = os.path.join(workdir, "edges")
    synthetic.synthesize_ingest(spark, n_sites, partitions=n_parts).write.parquet(
        ingest_path
    )
    synthetic.synthesize_system_edges(
        spark, n_sites, partitions=n_parts
    ).write.parquet(edges_path)
    ingest = read_ingest(spark, ingest_path)
    n_rows = ingest.count()
    vdfs = vocab_mod.vocab_dataframes(spark)
    edges = spark.read.parquet(edges_path)
    curated = synthetic.curated_edges_df(spark, n_sites)

    pipe = KGPipeline(spark, os.path.join(workdir, "kg"))
    t0 = time.time()
    pipe.run(ingest, vdfs, edges, curated)
    wall = time.time() - t0
    stages = pipe.metrics
    n_triples = stages["triples"]["n_rows"]
    return {
        "n_ingest_rows": n_rows,
        "n_sites": stages["sites_rel"]["n_rows"],
        "n_dedup": stages["dedup_sites"]["n_rows"],
        "n_gt_views": stages["inv_views"]["n_rows"],
        "n_triples": n_triples,
        "wall_sec": round(wall, 3),
        # the document pass writes triples inside the sites_rel stage; the
        # triples entry times only their read-back and hashing
        "triples_per_sec": round(
            n_triples
            / ((stages["sites_rel"]["wall_ms"] + stages["triples"]["wall_ms"]) / 1000),
            1,
        ),
        "pipeline_rows_per_sec": round(n_rows / wall, 1),
        "stages": stages,
    }


def queries_phase() -> None:
    """Subprocess: run the headline queries at local[CPUS].

    Emits an ``EVT {"query": ..., "sec": ...}`` line (flushed) after EACH
    query so the parent can checkpoint incrementally — a timeout mid-phase
    keeps every finished number."""
    import __spark_entry__ as entrymod
    from ta2_minmod_kg_spark.session import get_spark

    spark = get_spark(app_name="bench-queries", master=f"local[{CPUS}]")
    qmap = entrymod.queries()
    results = {}
    for name in BENCH_QUERIES:
        if name not in qmap:
            continue
        # best of three trials: the box is shared, and a cold page cache or
        # a neighbor's burst can triple a 3-second query — the min is the
        # honest steady-state figure
        trials = []
        for _ in range(3):
            t0 = time.time()
            df = qmap[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            trials.append(time.time() - t0)
        results[name] = round(min(trials), 3)
        print("EVT " + json.dumps({"query": name, "sec": results[name]}), flush=True)
    spark.stop()
    print("PHASE_JSON " + json.dumps(results), flush=True)


def kg_phase(cores: int, n_sites: int) -> None:
    """Subprocess: one ``kg_job`` at ``local[cores]`` in a fresh JVM, into
    a temporary workdir removed afterwards.

    Every measured phase gets its own process: a SparkSession that has run
    other work (or merely lingers after .stop(); the py4j JVM lives until
    the Python process exits) degrades subsequent in-process measurements
    3-5x — measured on this box.
    """
    import shutil
    import tempfile

    from ta2_minmod_kg_spark.session import get_spark

    spark = get_spark(app_name=f"bench-kg-{cores}", master=f"local[{cores}]")
    workdir = tempfile.mkdtemp(prefix="bench_kg_")
    try:
        r = kg_job(spark, n_sites, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()
    print("PHASE_JSON " + json.dumps(r), flush=True)


def _run_phase(args: list[str], on_event=None) -> dict:
    """Run a phase subprocess, streaming its stdout: EVT lines go to
    ``on_event`` as they happen; the PHASE_JSON line is the result."""
    import subprocess

    with open("/tmp/bench_phase_stderr.log", "ab") as errf:
        proc = subprocess.Popen(
            [sys.executable, __file__, *args],
            stdout=subprocess.PIPE,
            stderr=errf,
            text=True,
        )
        result = None
        assert proc.stdout is not None
        for line in proc.stdout:
            line = line.strip()
            if line.startswith("EVT ") and on_event is not None:
                try:
                    on_event(json.loads(line[4:]))
                except (ValueError, KeyError):
                    pass
            elif line.startswith("PHASE_JSON "):
                result = json.loads(line[len("PHASE_JSON "):])
        rc = proc.wait()
    if rc != 0 or result is None:
        raise RuntimeError(
            f"phase {args} failed rc={rc} (stderr tail in "
            f"/tmp/bench_phase_stderr.log)"
        )
    return result


def _steal_sec() -> float:
    """Cumulative hypervisor-steal seconds from /proc/stat (field 8)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _calm_wait(allowance_sec: float) -> dict:
    """Pre-probe calm gate (VERDICT r04 #2): sample box-wide steal rate
    over CALM_WINDOW_SEC windows; return once the recent rate is under
    CALM_RATE of all CPUs or the allowance is spent.  Waiting costs only
    idle wall, never a wasted probe."""
    waited = 0.0
    rate = 0.0
    while True:
        s0 = _steal_sec()
        time.sleep(CALM_WINDOW_SEC)
        rate = (_steal_sec() - s0) / (CALM_WINDOW_SEC * TOTAL_CPUS)
        if rate <= CALM_RATE or waited >= allowance_sec:
            return {
                "calm_rate": round(rate, 4),
                "calm_waited_sec": round(waited, 1),
                "calm": rate <= CALM_RATE,
            }
        waited += CALM_WINDOW_SEC


def _run_probe(args: list[str], cores: int) -> dict:
    """One measured probe with its in-run steal fraction recorded.  No
    in-place retry: the caller's budget-bounded loop decides whether to
    run more probes (contaminated ones are recorded and excluded from
    clean medians — auditable, never silent)."""
    s0 = _steal_sec()
    t0 = time.time()
    r = _run_phase(args)
    steal = _steal_sec() - s0
    wall = time.time() - t0
    frac = steal / max(wall * cores, 1e-9)
    r["steal_sec"] = round(steal, 1)
    r["steal_frac_of_busy"] = round(frac, 3)
    if frac > STEAL_CLEAN_FRAC:
        r["steal_contaminated"] = True
    return r


def _scaling_block_cross(
    lo_probes: list[dict], hi_probes: list[dict], n_lo: int, n_hi: int
) -> tuple[dict, dict]:
    """(compact summary, full detail) from single-side probes, medians
    over the clean-lo × clean-hi CROSS-pairs (each probe is an
    independent measurement of the same job on the same input, so every
    clean combination is a valid efficiency sample).  Falls back to all
    probes when either side has no clean sample — flagged in
    ``median_basis`` so a contaminated record can never masquerade as a
    clean one."""
    ratio = n_hi / n_lo

    def clean(ps):
        return [p for p in ps if not p.get("steal_contaminated")]

    c_lo, c_hi = clean(lo_probes), clean(hi_probes)
    basis = "clean_cross" if c_lo and c_hi else "all_cross"
    use_lo = c_lo if c_lo else lo_probes
    use_hi = c_hi if c_hi else hi_probes
    effs = sorted(
        h["triples_per_sec"] / l["triples_per_sec"] / ratio
        for l in use_lo
        for h in use_hi
    )
    pipes = sorted(
        l["wall_sec"] / h["wall_sec"] / ratio for l in use_lo for h in use_hi
    )
    med_lo = sorted(use_lo, key=lambda p: p["triples_per_sec"])[len(use_lo) // 2]
    med_hi = sorted(use_hi, key=lambda p: p["triples_per_sec"])[len(use_hi) // 2]
    compact = {
        "cores_n": n_lo,
        "cores_4n": n_hi,
        "n_probes_lo": len(lo_probes),
        "n_probes_hi": len(hi_probes),
        "n_clean_lo": len(c_lo),
        "n_clean_hi": len(c_hi),
        "n_cross_pairs": len(effs),
        "median_basis": basis,
        "thr_n_triples_per_sec": round(med_lo["triples_per_sec"], 1),
        "thr_4n_triples_per_sec": round(med_hi["triples_per_sec"], 1),
        "efficiency": round(effs[len(effs) // 2], 3),
        "efficiency_best": round(effs[-1], 3),
        "pipeline_thr_n": round(med_lo["n_triples"] / med_lo["wall_sec"], 1),
        "pipeline_thr_4n": round(med_hi["n_triples"] / med_hi["wall_sec"], 1),
        "pipeline_efficiency": round(pipes[len(pipes) // 2], 3),
        "pipeline_efficiency_best": round(pipes[-1], 3),
    }

    def strip(p):
        return {
            "wall_sec": p["wall_sec"],
            "triples_per_sec": p["triples_per_sec"],
            "steal_frac_of_busy": p.get("steal_frac_of_busy"),
            "calm_gate": p.get("calm_gate"),
            "contaminated": bool(p.get("steal_contaminated")),
        }

    detail = {
        f"local_{n_lo}": med_lo,
        f"local_{n_hi}": med_hi,
        "probes_lo": [strip(p) for p in lo_probes],
        "probes_hi": [strip(p) for p in hi_probes],
    }
    return compact, detail


class _Emitter:
    """Rewrites BENCH_FULL.json and re-prints the one-line summary after
    every completed unit of work, so a kill at ANY point leaves the most
    recent complete snapshot in both the file and the stdout tail."""

    def __init__(self, sf, t0: float):
        self.t0 = t0
        self.summary = {
            "metric": "bench_total",
            "value": 0.0,
            "unit": "sec",
            "partial": True,
            "queries": {},
            "sf": sf,
        }
        self.detail: dict = {}

    def emit(self):
        self.summary["value"] = round(time.time() - self.t0, 3)
        full = dict(self.summary)
        if "scaling" in self.summary:
            full["scaling"] = {**self.summary["scaling"], "detail": self.detail}
        try:
            with open(
                os.path.join(os.path.dirname(__file__), "BENCH_FULL.json"), "w"
            ) as f:
                json.dump(full, f, indent=1)
        except OSError:
            pass
        # the driver records only the last ~2000 stdout chars and parses
        # the tail — keep the line under 1900 chars (shed kg sub-timings
        # first) and always re-print the WHOLE current snapshot
        line_summary = self.summary
        line = json.dumps(line_summary)
        if len(line) > 1900 and "kg" in self.summary:
            line_summary = dict(self.summary)
            line_summary["kg"] = {
                k: self.summary["kg"][k]
                for k in ("n_triples", "wall_sec", "triples_per_sec")
                if k in self.summary["kg"]
            }
            line = json.dumps(line_summary)
        print(line, flush=True)


def main():
    if len(sys.argv) >= 2 and sys.argv[1] == "--queries-phase":
        queries_phase()
        return
    if len(sys.argv) >= 4 and sys.argv[1] == "--kg-phase":
        kg_phase(int(sys.argv[2]), int(sys.argv[3]))
        return

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    t0 = time.time()
    deadline = t0 + WALL_BUDGET

    def time_left() -> float:
        return deadline - time.time()

    em = _Emitter(sf, t0)

    # -- phase 1: headline queries (incremental per-query checkpoints) ------
    qs0 = _steal_sec()

    def on_query(evt):
        em.summary["queries"][evt["query"]] = evt["sec"]
        em.emit()

    qwall0 = time.time()
    _run_phase(["--queries-phase"], on_event=on_query)
    em.detail["queries_phase_steal_frac_of_box"] = round(
        (_steal_sec() - qs0) / max((time.time() - qwall0) * TOTAL_CPUS, 1e-9), 4
    )
    em.emit()

    # -- phase 2: KG pipeline at local[CPUS] (up to 2 trials, keep faster) --
    kg_trials = []
    for trial in range(2):
        gate = _calm_wait(min(45.0, max(0.0, time_left() - 120.0)))
        r = _run_probe(["--kg-phase", str(CPUS), str(KG_N_SITES)], CPUS)
        r["calm_gate"] = gate
        kg_trials.append(r)
        kg = min(kg_trials, key=lambda t: t["wall_sec"])
        em.summary["queries"]["kg_pipeline"] = kg["wall_sec"]
        em.summary["kg"] = kg
        em.detail["kg_trials"] = kg_trials
        em.emit()
        # second trial only if it leaves room for ≥2 scaling pairs
        # (pair ≈ lo+hi walls + startup; prior: ~420 s)
        if trial == 0 and time_left() < r["wall_sec"] * 1.5 + 900:
            break

    # -- phase 3: scaling probes, budget-bounded, calm-gated -----------------
    #
    # Single-SIDE probes with cross-pairing (r5 salvage protocol): each
    # probe is an independent measurement of the same job on the same
    # input, so any steal-clean lo can pair with any steal-clean hi.  On
    # a bursty hypervisor this converges far faster than demanding both
    # halves of a strict lo→hi pair to land clean back-to-back — the
    # failure mode that left rounds 3-5 without a clean driver median.
    n_lo, n_hi = SCALING_CORES
    lo_probes: list[dict] = []
    hi_probes: list[dict] = []
    est = {"lo": 300.0, "hi": 120.0}  # wall + JVM startup priors

    def n_clean(ps: list[dict]) -> int:
        return sum(1 for p in ps if not p.get("steal_contaminated"))

    # targets: 2 clean lo × 3 clean hi = 6 clean cross-pairs; ALTERNATE
    # sides among those still short of target so a streak of contaminated
    # probes on one side can't starve the other (hi probes are ~3×
    # cheaper, so they absorb most of the retry budget anyway)
    last_side = "hi"
    while (
        (n_clean(lo_probes) < 2 or n_clean(hi_probes) < 3)
        and len(lo_probes) + len(hi_probes) < 14
    ):
        want = [
            s
            for s in ("lo", "hi")
            if n_clean(lo_probes if s == "lo" else hi_probes)
            < (2 if s == "lo" else 3)
            and time_left() > est[s] * 1.15
        ]
        if not want:
            if lo_probes or hi_probes:
                break
            # budget too tight for anything: still attempt one cheap hi
            # probe — partial evidence beats none, emission is incremental
            want = ["hi"]
        # alternate: pick the side we did NOT just run when both are open
        side = want[0] if len(want) == 1 else ("lo" if last_side == "hi" else "hi")
        last_side = side
        cores = n_lo if side == "lo" else n_hi
        gate = _calm_wait(min(90.0, max(0.0, time_left() - est[side])))
        t = _run_probe(["--kg-phase", str(cores), str(SCALING_N_SITES)], cores)
        t["calm_gate"] = gate
        est[side] = 0.5 * est[side] + 0.5 * (t["wall_sec"] + 30.0)
        (lo_probes if side == "lo" else hi_probes).append(t)
        if lo_probes and hi_probes:
            compact, det = _scaling_block_cross(lo_probes, hi_probes, n_lo, n_hi)
            em.summary["scaling"] = compact
            em.detail.update(det)
        else:
            # one-sided so far: still record what ran (auditability —
            # never a silently wasted probe)
            em.summary["scaling"] = {
                "cores_n": n_lo,
                "cores_4n": n_hi,
                "n_probes_lo": len(lo_probes),
                "n_probes_hi": len(hi_probes),
                "n_cross_pairs": 0,
                "median_basis": "incomplete",
            }
            em.detail["probes_lo"] = lo_probes
            em.detail["probes_hi"] = hi_probes
        em.emit()

    em.summary.pop("partial", None)
    em.summary["wall_budget_sec"] = WALL_BUDGET
    em.emit()


if __name__ == "__main__":
    sys.exit(main())
