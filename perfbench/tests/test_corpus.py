"""The benchmark's inputs are a pure function of the seed."""

import corpus

CATALOG = {
    "commodities": [f"Q{1000 + i}" for i in range(20)],
    "countries": [f"Q{1300 + i}" for i in range(10)],
    "site_ids": [f"site__{i}" for i in range(200)],
    "subjects": [f"mr:site__{i}" for i in range(200)],
}


def test_plan_is_deterministic_and_in_band():
    sizes = set()
    for seed in range(40):
        p = corpus.plan(seed)
        assert p == corpus.plan(seed)
        assert 0 <= p.n_sites - corpus.BASE_SITES < corpus.SIZE_STEP * corpus.SIZE_CHOICES
        assert (p.n_sites - corpus.BASE_SITES) % corpus.SIZE_STEP == 0
        sizes.add(p.n_sites)
        # serve_mixed reads one cached build, of the base size
        assert corpus.plan(seed, "serve_mixed").n_sites == corpus.BASE_SITES
    assert len(sizes) == corpus.SIZE_CHOICES  # the seed does pick the size
    assert corpus.plan(1).rng_seed != corpus.plan(2).rng_seed


def test_requests_are_fixed_per_size():
    a, b = corpus.plan(7, "serve_mixed"), corpus.plan(8, "serve_mixed")
    reqs = corpus.read_requests(a.n_sites, CATALOG)
    assert reqs == corpus.read_requests(b.n_sites, CATALOG)
    assert reqs != corpus.read_requests(a.n_sites + corpus.SIZE_STEP, CATALOG)
    kinds = [k for k, _ in reqs]
    assert set(kinds) == {"find_dedup_sites", "find_by_ids", "export_csv_rows", "lod_closure"}


def test_update_batches_are_deterministic_and_well_formed():
    p = corpus.plan(3)
    renamable = corpus.renamable_sites(p.n_sites)
    events, renamed = corpus.update_events(p, 2, renamable)
    assert (events, renamed) == corpus.update_events(p, 2, renamable)
    assert len(events) == corpus.UPDATE_BATCH
    updates = [e for e in events if e["type"] == "site:update"]
    assert len(updates) == len(renamed) == corpus.RENAMES_PER_BATCH
    assert len({e["id"] for e in events}) == len(events)
    other, _ = corpus.update_events(p, 3, renamable)
    assert other != events


def test_renamable_sites_one_per_cluster():
    from ta2_minmod_kg_spark.sources import synthetic

    n = 400
    picked = corpus.renamable_sites(n)
    clusters = [synthetic.cluster_of(i, n)[0] for i in picked]
    assert len(clusters) == len(set(clusters)) and 0 not in clusters
    assert all(synthetic.has_expert_dup(i) for i in picked)
