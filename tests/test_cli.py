"""CLI entrypoint smoke: the spark-submit surface of the pipeline."""

from __future__ import annotations

import json
import subprocess
import sys

from ta2_minmod_kg_spark.plans.export import read_dedup_sites_json


def test_pipeline_cli(tmp_path):
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "ta2_minmod_kg_spark.plans.pipeline",
            "--n-sites",
            "60",
            "--workdir",
            str(tmp_path / "wd"),
            "--master",
            "local[4]",
            "--n-buckets",
            "4",
            "--export-kgrel",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    payload = json.loads(line)
    assert payload["n_triples"] > 1000
    assert payload["stages"]["triples"]["n_rows"] == payload["n_triples"]
    # --export-kgrel writes one document in both of the reference's layouts
    kgrel = tmp_path / "wd" / "kgrel"
    doc = read_dedup_sites_json(str(kgrel / "dedup_sites.json"))
    assert read_dedup_sites_json(str(kgrel / "dedup_sites.json.lz4")) == doc
    n_dedup = payload["stages"]["dedup_sites"]["n_rows"]
    assert len(doc["DedupMineralSite"]) == n_dedup > 0
