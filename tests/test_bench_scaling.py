"""Tests for bench.py: the cross-paired scaling-median block (pure
function — the driver's scaling record is built from it, so its clean/
fallback basis logic is guarded here without any Spark involvement), and
a small in-process run of the kg phase's job."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path


def _load_bench():
    p = Path(__file__).parent.parent / "bench.py"
    spec = importlib.util.spec_from_file_location("bench_under_test", p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _probe(wall, thr, steal, contaminated=False):
    p = {
        "wall_sec": wall,
        "triples_per_sec": thr,
        "n_triples": int(thr * wall),
        "steal_frac_of_busy": steal,
    }
    if contaminated:
        p["steal_contaminated"] = True
    return p


def test_clean_cross_medians():
    bench = _load_bench()
    lo = [
        _probe(160.0, 500_000, 0.01),
        _probe(400.0, 200_000, 0.50, contaminated=True),
        _probe(170.0, 480_000, 0.02),
    ]
    hi = [
        _probe(55.0, 1_900_000, 0.01),
        _probe(60.0, 1_750_000, 0.03),
        _probe(95.0, 1_100_000, 0.40, contaminated=True),
        _probe(58.0, 1_800_000, 0.02),
    ]
    compact, detail = bench._scaling_block_cross(lo, hi, 2, 8)
    assert compact["median_basis"] == "clean_cross"
    assert compact["n_clean_lo"] == 2 and compact["n_clean_hi"] == 3
    assert compact["n_cross_pairs"] == 6
    # contaminated probes must not touch the medians: every cross pair
    # uses only the 2 clean lo x 3 clean hi
    effs = sorted(
        h["triples_per_sec"] / l["triples_per_sec"] / 4.0
        for l in (lo[0], lo[2])
        for h in (hi[0], hi[1], hi[3])
    )
    assert compact["efficiency"] == round(effs[len(effs) // 2], 3)
    assert compact["efficiency_best"] == round(effs[-1], 3)
    pipes = sorted(
        l["wall_sec"] / h["wall_sec"] / 4.0
        for l in (lo[0], lo[2])
        for h in (hi[0], hi[1], hi[3])
    )
    assert compact["pipeline_efficiency"] == round(pipes[len(pipes) // 2], 3)
    # detail keeps EVERY probe with its contamination flag (auditability)
    assert len(detail["probes_lo"]) == 3 and len(detail["probes_hi"]) == 4
    assert detail["probes_lo"][1]["contaminated"] is True


def test_fallback_basis_is_flagged():
    bench = _load_bench()
    lo = [_probe(300.0, 260_000, 0.45, contaminated=True)]
    hi = [_probe(70.0, 1_500_000, 0.02)]
    compact, _ = bench._scaling_block_cross(lo, hi, 2, 8)
    # no clean lo: falls back to all lo probes and SAYS so
    assert compact["median_basis"] == "all_cross"
    assert compact["n_clean_lo"] == 0 and compact["n_clean_hi"] == 1
    assert compact["n_cross_pairs"] == 1


def test_kg_parts_scales_with_data_not_cores():
    bench = _load_bench()
    # floor: the sf0.1 headline keeps its historical 128 splits
    assert bench._kg_parts(1000) == 128
    assert bench._kg_parts(68_572) == 128
    assert bench._kg_parts(150_000) == 128
    # above the floor: rows per task bounded at ~2.2k (ceil division)
    assert bench._kg_parts(500_000) == -(-500_000 // 2230)
    assert bench._kg_parts(1_000_000) == -(-1_000_000 // 2230)
    for n in (300_000, 700_000, 2_000_000):
        parts = bench._kg_parts(n)
        assert n / parts <= 2230


def test_kg_job_times_the_pipeline_run(spark, tmp_path):
    """The kg phase is one ``KGPipeline.run``: its counts are the stages'
    rows, its stages are the pipeline's eight, all run, and its wall
    covers them."""
    bench = _load_bench()
    r = bench.kg_job(spark, 60, str(tmp_path))
    triples = spark.read.parquet(str(tmp_path / "kg" / "triples"))
    assert r["n_triples"] == triples.count() > 0
    assert sorted(r["stages"]) == sorted(
        [
            "sites_rel",
            "inv_views",
            "membership",
            "dedup_sites",
            "dedup_inventories",
            "triples",
            "entity_triples",
            "sameas_triples",
        ]
    )
    assert not any(st["skipped"] for st in r["stages"].values())
    assert r["wall_sec"] >= sum(st["wall_ms"] for st in r["stages"].values()) / 1000


def test_probe_priors_follow_the_measured_kg_wall(monkeypatch):
    """The scaling loop sizes its first probes from the kg trial's wall,
    scaled to the probes' input, not from fixed constants: a 56 s trial
    on the probes' own input expects 86 s per 4N probe and 170 s per N
    probe (wall + 30 s startup), where the old constants expected 120 s
    and 300 s whatever the corpus."""
    bench = _load_bench()
    monkeypatch.setattr(bench, "KG_N_SITES", 2000)
    monkeypatch.setattr(bench, "SCALING_N_SITES", 2000)
    assert bench._probe_priors(56.0) == {"lo": 170.0, "hi": 86.0}
    monkeypatch.setattr(bench, "SCALING_N_SITES", 4000)
    assert bench._probe_priors(56.0) == {"lo": 310.0, "hi": 142.0}
