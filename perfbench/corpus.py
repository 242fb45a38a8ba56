"""Seeded inputs for the KG benchmark.

Everything here is a pure function of the seed, so the same seed gives the
same corpus, requests and update batch.  The
records themselves come from ``sources.synthetic``'s public functions; this
module only picks sizes and requests, and writes the corpus to
parquet the way production reads partitioned site files.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

# Corpus size band: the seed picks one of a few sizes around the base, so
# ``kg_oracles._membership_py(n_sites)`` applies to every run while runs
# still differ in their inputs.
BASE_SITES = 1000
SIZE_STEP = 16
SIZE_CHOICES = 3
N_BUCKETS = 32
UPDATE_BATCH = 20  # events per serve_mixed update batch
RENAMES_PER_BATCH = 12  # site:update events; the rest are site:add


@dataclass(frozen=True)
class Plan:
    seed: int
    n_sites: int
    rng_seed: int  # picks the sites serve_mixed's update batch renames


def plan(seed: int, workload: str = "build_full") -> Plan:
    """The run's inputs.  ``serve_mixed`` always reads the base size, so a
    checkout builds and caches one KG for it; its seed picks the update
    batch."""
    rng = random.Random(seed)
    step = rng.randrange(SIZE_CHOICES) if workload == "build_full" else 0
    return Plan(seed, BASE_SITES + SIZE_STEP * step, rng.randrange(1 << 30))


# -- corpus ------------------------------------------------------------------


def write_corpus(spark, n_sites: int, outdir: str) -> dict[str, str]:
    """Materialize the ingest table and the system same-as edges to parquet
    (the set-up step); returns their paths."""
    from ta2_minmod_kg_spark.sources import synthetic

    paths = {"ingest": f"{outdir}/ingest", "edges": f"{outdir}/edges"}
    synthetic.synthesize_ingest(spark, n_sites).write.mode("overwrite").parquet(
        paths["ingest"]
    )
    synthetic.synthesize_system_edges(spark, n_sites).write.mode(
        "overwrite"
    ).parquet(paths["edges"])
    return paths


# -- serve_mixed requests ----------------------------------------------------


def read_requests(n_sites: int, catalog: dict) -> list[tuple[str, dict]]:
    """The distinct read requests serve_mixed cycles through: fixed per
    corpus size, so their answers are computed once, when the build is
    cached, and every run measures the same requests.

    ``catalog`` holds sorted value lists taken from the build's outputs
    (commodities, countries, site ids, subjects), so every filter matches
    real rows."""
    rng = random.Random(n_sites)
    return [
        (
            "find_dedup_sites",
            {
                "commodity": rng.choice(catalog["commodities"][:8]),
                "has_grade_tonnage": True,
                "limit": 20,
                "offset": 0,
            },
        ),
        (
            "find_dedup_sites",
            {
                "commodity": rng.choice(catalog["commodities"][:8]),
                "country": rng.choice(catalog["countries"]),
                "deposit_type": None,
                "limit": 20,
                "offset": 20,
            },
        ),
        ("find_by_ids", {"site_ids": sorted(rng.sample(catalog["site_ids"], 10))}),
        ("export_csv_rows", {}),
        ("lod_closure", {"subj": rng.choice(catalog["subjects"])}),
    ]


def update_events(p: Plan, batch_no: int, renamable: list[int]) -> tuple[list[dict], dict]:
    """One event-log batch: ``RENAMES_PER_BATCH`` ``site:update`` events that
    rename existing expert records (at most one per same-as cluster) and
    ``site:add`` events for brand-new sites.  Returns the events and the
    expected new name of each renamed record's index."""
    from ta2_minmod_kg_spark.sources import synthetic

    rng = random.Random(p.rng_seed * 7919 + batch_no)
    chosen = rng.sample(renamable, RENAMES_PER_BATCH)
    events: list[dict] = []
    renamed: dict[int, str] = {}
    stamp = f"2027-01-01T00:00:{batch_no % 60:02d}.{p.seed % 1000000:06d}Z"
    for n in chosen:
        rec = synthetic.make_record(n, p.n_sites, expert=True)
        rec["name"] = f"Renamed {p.seed}-{batch_no}-{n}"
        rec["modified_at"] = stamp
        renamed[n] = rec["name"]
        events.append(rec)
    for k in range(UPDATE_BATCH - RENAMES_PER_BATCH):
        n = p.n_sites + 1000 * batch_no + k  # beyond the corpus: new sites
        rec = synthetic.make_record(n, p.n_sites)
        rec["record_id"] = f"new-{p.seed}-{batch_no}-{k}"
        events.append(rec)
    out = [
        {
            "id": batch_no * 1000 + i,
            "type": "site:update" if i < len(chosen) else "site:add",
            "data": json.dumps(rec, sort_keys=True),
            "kg_synced": "false",
            "timestamp": batch_no * 1000 + i,
        }
        for i, rec in enumerate(events)
    ]
    return out, renamed


def renamable_sites(n_sites: int) -> list[int]:
    """Indices of expert-duplicated sites, one per same-as cluster outside
    the giant cluster, so two renames never compete for one group's name."""
    from ta2_minmod_kg_spark.sources import synthetic

    seen: set[int] = set()
    out: list[int] = []
    for n in range(n_sites):
        if not synthetic.has_expert_dup(n):
            continue
        cid, _ = synthetic.cluster_of(n, n_sites)
        if cid == 0 or cid in seen:
            continue
        seen.add(cid)
        out.append(n)
    return out
