"""Connected components + canonicalization vs a networkx oracle."""

from __future__ import annotations

import networkx as nx
import pandas as pd
import pytest

from ta2_minmod_kg_spark.operators.canonicalize import (
    build_membership,
    curated_gold_groups,
    splice_gold_groups,
    with_dedup_id,
)
from ta2_minmod_kg_spark.operators.connected_components import connected_components
from ta2_minmod_kg_spark.sources import synthetic


def _cc_oracle(edges):
    g = nx.Graph()
    g.add_edges_from(edges)
    return {
        node: min(comp) for comp in nx.connected_components(g) for node in comp
    }


def _spark_cc(spark, edges, threshold=2_000_000):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    out = connected_components(df, driver_finish_threshold=threshold).toPandas()
    assert not out["node"].duplicated().any()
    return dict(zip(out["node"], out["component"]))


@pytest.mark.parametrize("threshold", [0, 2_000_000])
def test_cc_random_graph(spark, threshold):
    import random

    rnd = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(150)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    assert _spark_cc(spark, edges, threshold) == _cc_oracle(edges)


@pytest.mark.parametrize("threshold", [0, 2_000_000])
def test_cc_deep_chain(spark, threshold):
    # a 400-node chain: naive label propagation would need 400 rounds;
    # large/small-star (threshold=0 forces the distributed path) must
    # converge within the max_iter budget
    edges = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(400)]
    got = _spark_cc(spark, edges, threshold)
    assert set(got.values()) == {"c0000"}
    assert len(got) == 401


@pytest.mark.parametrize("threshold", [0, 2_000_000])
def test_cc_star_and_singleton_selfloop(spark, threshold):
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("z", "z")]
    got = _spark_cc(spark, edges, threshold)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "z": "z"}


def test_curated_override(spark):
    # Reference rule (same_as.py:303-307): the negative removes the positive
    # iff pos.time_ns >= neg.time_ns — a strictly-newer negative does NOT
    # cancel an older positive.
    rows = [
        # pos edge survives (no negative)
        {"ms_1": "s1", "ms_2": "s2", "time_ns": 100, "is_same": 1},
        # newer negative does NOT cancel (pos < neg → reference keeps edge)
        {"ms_1": "s3", "ms_2": "s4", "time_ns": 100, "is_same": 1},
        {"ms_1": "s4", "ms_2": "s3", "time_ns": 200, "is_same": 0},
        # older negative cancels (pos >= neg → reference removes edge)
        {"ms_1": "s5", "ms_2": "s6", "time_ns": 300, "is_same": 1},
        {"ms_1": "s5", "ms_2": "s6", "time_ns": 250, "is_same": 0},
        # equal timestamps → negative wins (pos >= neg)
        {"ms_1": "s7", "ms_2": "s8", "time_ns": 300, "is_same": 1},
        {"ms_1": "s7", "ms_2": "s8", "time_ns": 300, "is_same": 0},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    gold = curated_gold_groups(df).toPandas()
    comp = dict(zip(gold["node"], gold["component"]))
    assert comp["s1"] == comp["s2"]
    assert comp["s3"] == comp["s4"]
    # cancelled pairs stay as singleton gold groups (they must SPLIT
    # auto-groups later, not merely fail to merge)
    assert comp["s5"] == "s5" and comp["s6"] == "s6"
    assert comp["s7"] == "s7" and comp["s8"] == "s8"


def test_splice_gold_groups(spark):
    # auto groups {a,b,c}, {d,e}; gold {c,d} → dissolved both; remainders
    # {a,b} and {e}; final groups: {a,b}, {c,d}, {e}
    membership = spark.createDataFrame(
        pd.DataFrame(
            [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")],
            columns=["node", "component"],
        )
    )
    gold = spark.createDataFrame(
        pd.DataFrame([("c", "c"), ("d", "c")], columns=["node", "component"])
    )
    out = splice_gold_groups(membership, gold).toPandas()
    comp = dict(zip(out["node"], out["component"]))
    assert comp == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e"}


def _membership_oracle(n_sites: int):
    """Pure-python oracle of the full same-as flow on the synthetic corpus."""
    # sites: system rows + expert dups
    sites = {}
    for n in range(n_sites):
        sites[synthetic.site_id_of(n, n_sites)] = n
        if synthetic.has_expert_dup(n):
            sites[synthetic.site_id_of(n, n_sites, expert=True)] = n

    g = nx.Graph()
    # auto-link: same (source, record) across users
    for n in range(n_sites):
        if synthetic.has_expert_dup(n):
            g.add_edge(
                synthetic.site_id_of(n, n_sites),
                synthetic.site_id_of(n, n_sites, expert=True),
            )
    # system chain edges
    for n in range(n_sites):
        _, pos = synthetic.cluster_of(n, n_sites)
        if pos > 0:
            g.add_edge(
                synthetic.site_id_of(n - 1, n_sites),
                synthetic.site_id_of(n, n_sites),
            )
    auto_groups = [set(c) for c in nx.connected_components(g)]

    # curated gold
    cg = nx.Graph()
    pos_edges = {}
    neg_edges = {}
    for row in synthetic.synthesize_curated_edges(n_sites):
        key = tuple(sorted((row["ms_1"], row["ms_2"])))
        t = row["time_ns"]
        if row["is_same"] == 1:
            pos_edges[key] = max(pos_edges.get(key, 0), t)
        else:
            neg_edges[key] = min(neg_edges.get(key, t), t)
    for key, t in pos_edges.items():
        cg.add_nodes_from(key)  # cancelled-edge nodes stay as singletons
        # reference rule: removed iff pos >= neg
        if key in neg_edges and neg_edges[key] <= t:
            continue
        cg.add_edge(*key)
    gold_groups = [set(c) for c in nx.connected_components(cg)]
    gold_nodes = set().union(*gold_groups) if gold_groups else set()

    # replace_group
    final = []
    for grp in auto_groups:
        if grp & gold_nodes:
            rem = grp - gold_nodes
            if rem:
                final.append(rem)
        else:
            final.append(grp)
    final.extend(gold_groups)
    # singletons
    covered = set().union(*final) if final else set()
    for s in sites:
        if s not in covered:
            final.append({s})

    return {s: "dedup_" + min(grp) for grp in final for s in grp}


@pytest.mark.parametrize("threshold", [0, 2_000_000])
def test_build_membership_end_to_end(spark, threshold):
    """threshold=0 forces the fully distributed CC/splice/attach path;
    the default exercises the driver-side fast path — both must match the
    same networkx oracle."""
    from ta2_minmod_kg_spark.operators import extract
    from ta2_minmod_kg_spark.sources import vocab

    N = 160
    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    sites = extract.normalize_sites(
        extract.parse_sites(ingest), vocab.vocab_dataframes(spark)
    )
    system_edges = synthetic.synthesize_system_edges(spark, N, partitions=4)
    curated = spark.createDataFrame(
        pd.DataFrame(synthetic.synthesize_curated_edges(N))
    )
    got = build_membership(
        sites, system_edges, curated, driver_finish_threshold=threshold
    ).toPandas()
    got_map = dict(zip(got["site_id"], got["dedup_site_id"]))
    expect = _membership_oracle(N)
    assert got_map == expect
    # the giant cluster is really there
    from collections import Counter

    sizes = Counter(Counter(got_map.values()).values())
    assert max(Counter(got_map.values()).values()) >= synthetic.giant_size(N)


def test_build_membership_many_sites_few_edges(spark):
    """ADVICE r04 (medium): with FEW edges but MANY sites (sparse
    duplication at production scale) the driver fast path must not ship
    the whole site_id column to the driver only to discard it.  The
    limit(threshold+1) probe falls through to the distributed path, which
    must still emit one singleton group per unlinked site."""
    import pandas as pd

    n = 40
    sites = spark.createDataFrame(
        pd.DataFrame(
            {
                "site_id": [f"s{i:03d}" for i in range(n)],
                "source_id": [f"src{i}" for i in range(n)],  # all unique →
                "record_id": [f"rec{i}" for i in range(n)],  # zero auto edges
            }
        )
    )
    # edge count (0) <= threshold (8) < site count (40): exercises the
    # fall-through branch after the bounded id probe
    got = build_membership(sites, None, None, driver_finish_threshold=8).toPandas()
    got_map = dict(zip(got["site_id"], got["dedup_site_id"]))
    assert got_map == {f"s{i:03d}": f"dedup_s{i:03d}" for i in range(n)}
