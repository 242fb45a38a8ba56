"""Same-as canonicalization (SURVEY §2.3 J3, §2.5 G1-G6).

Pipeline:

1. ``auto_link_edges``     — sites sharing ``(source_id, record_id)`` across
                             users become star edges (the reference's step-0
                             auto dedup, `etl/same_as.py:417-466`) — a
                             groupBy + explode, **no pairwise self-join**.
2. system edge files       — read as-is (S3).
3. ``connected_components``— one global CC over all edges (the reference's
                             two-level local/global trick exists only
                             because it is driver-bound; Catalyst's partial
                             aggregation makes the pre-grouping redundant).
4. ``curated_gold_groups`` — expert CSV edges; a negative edge cancels a
                             positive iff ``neg.time_ns >= pos.time_ns``
                             (`etl/same_as.py:298-313`); CC of survivors.
5. ``splice_gold_groups``  — the reference's ``replace_group``
                             (`etl/same_as.py:352-381`): every auto group
                             touching a gold member is dissolved; leftover
                             members of each dissolved group stay together
                             as a remainder group; gold groups are inserted
                             verbatim.
6. ``attach_singletons`` + ``with_dedup_id`` — unlinked sites become their
                             own group; every group gets
                             ``dedup_id = "dedup_" + min(site_ids)``
                             (`kgrel/mineral_site.py:331-333`).
7. ``sameas_triples``      — ``canon owl:sameAs member`` rows (self-link
                             for singletons), `etl/same_as.py:324-334`.

All set algebra is semi/anti joins; the only iterative part is CC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .connected_components import connected_components


def auto_link_edges(sites_rel: DataFrame) -> DataFrame:
    """J3: same (source_id, record_id) ⇒ same site; star edges from the min
    site id.  groupBy+explode keeps hot records linear (no n² blowup)."""
    grouped = (
        sites_rel.groupBy("source_id", "record_id")
        .agg(F.collect_set("site_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.array_min("ids").alias("u"),
            F.explode("ids").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    return grouped


def curated_gold_groups(curated: DataFrame) -> DataFrame:
    """G3: CC of curated positive edges that survive negative overrides.

    ``curated``: (ms_1, ms_2, time_ns, is_same).  Expert-curated edge sets
    are small by construction (humans wrote them), so this is computed
    driver-side in one collect — saving ~10 distributed jobs versus the
    full CC machinery.

    Override rule, matching `etl/same_as.py:303-307` exactly: a negative
    edge removes the positive iff ``pos.time_ns >= neg.time_ns`` (the
    reference `continue`s — keeps the edge — only when the positive is
    strictly OLDER than the negative).  With several negatives for one
    pair, removal happens if ANY of them satisfies that, i.e. iff
    ``min(neg.time_ns) <= pos.time_ns``.  Divergence note: on duplicate
    positive rows for a pair the reference keeps the file-order last
    time_ns (networkx attr overwrite); we keep the max — identical for
    append-only curation logs.

    Nodes of *cancelled* positive edges stay in the curated graph as
    singleton gold groups (networkx remove_edge keeps nodes) — this is
    what makes a negative override actively SPLIT sites apart even when
    system edges still connect them.
    """
    spark = curated.sparkSession
    comp = _gold_components(curated.collect())
    import pandas as pd

    pdf = pd.DataFrame(
        {"node": list(comp.keys()), "component": list(comp.values())},
        dtype="object",
    )
    return spark.createDataFrame(pdf, schema="node string, component string")


def _gold_components(rows) -> dict[str, str]:
    """Driver-side core of curated_gold_groups: rows → node→min-label map."""
    pos: dict[tuple, int] = {}
    neg: dict[tuple, int] = {}
    for row in rows:
        key = tuple(sorted((row["ms_1"], row["ms_2"])))
        t = int(row["time_ns"])
        if int(row["is_same"]) == 1:
            pos[key] = max(pos.get(key, 0), t)
        else:
            neg[key] = min(neg.get(key, t), t)

    parent: dict[str, str] = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for (a, b), t in pos.items():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if (a, b) in neg and neg[(a, b)] <= t:
            continue  # cancelled — nodes remain as singletons
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    return {x: find(x) for x in parent}


def splice_gold_groups(membership: DataFrame, gold: DataFrame) -> DataFrame:
    """G4 replace_group.  ``membership``/(node, component), ``gold`` same.

    Returns a new (node, component) where affected auto groups are replaced
    by gold groups plus per-old-group remainder groups.  Component labels
    are re-canonicalized to the min member.
    """
    gold = gold.select("node", F.col("component").alias("gold_component"))
    affected = (
        membership.join(gold, "node", "left_semi")
        .select("component")
        .distinct()
    )
    untouched = membership.join(affected, "component", "left_anti").select(
        "node", "component"
    )
    dissolved = membership.join(affected, "component", "left_semi")
    remainder = dissolved.join(gold, "node", "left_anti").select(
        "node", F.concat(F.lit("rem__"), F.col("component")).alias("component")
    )
    new_membership = untouched.unionAll(
        gold.select("node", F.col("gold_component").alias("component"))
    ).unionAll(remainder)
    return relabel_min(new_membership)


def relabel_min(membership: DataFrame) -> DataFrame:
    """Canonical component label = min(node) — one shuffle on component."""
    labels = membership.groupBy("component").agg(F.min("node").alias("canon"))
    return membership.join(labels, "component").select(
        "node", F.col("canon").alias("component")
    )


def attach_singletons(membership: DataFrame, sites_rel: DataFrame) -> DataFrame:
    """G5 + J4: restrict membership to known sites, then unlinked sites
    become their own group (`etl/mineral_site.py:172-189`)."""
    site_ids = sites_rel.select(F.col("site_id").alias("node")).distinct()
    known = membership.join(site_ids, "node", "left_semi")
    singles = site_ids.join(membership, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return known.unionAll(singles)


def with_dedup_id(membership: DataFrame, already_canonical: bool = False) -> DataFrame:
    """(node, component) → (site_id, dedup_site_id) with the reference's
    deterministic id (dedup_ + min member)."""
    canon = membership if already_canonical else relabel_min(membership)
    return canon.select(
        F.col("node").alias("site_id"),
        F.concat(F.lit("dedup_"), F.col("component")).alias("dedup_site_id"),
    )


def sameas_triples(membership: DataFrame) -> DataFrame:
    """G6: per group emit ``min owl:sameAs member`` (self-link when the
    group is a singleton)."""
    canon = relabel_min(membership)
    sizes = canon.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
    return (
        canon.join(sizes, "component")
        .filter((F.col("node") != F.col("component")) | (F.col("n") == 1))
        .select(
            F.concat(F.lit("mr:"), F.col("component")).alias("subj"),
            F.lit("owl:sameAs").alias("pred"),
            F.concat(F.lit("mr:"), F.col("node")).alias("obj"),
            F.col("component").alias("site_id"),
        )
    )


def _driver_membership(
    edge_pairs, curated_rows, site_ids
) -> dict[str, str]:
    """The full G1-G5 set algebra in driver memory — exact mirror of the
    distributed path (CC → splice_gold_groups → attach_singletons →
    relabel-min), used when both the edge set and the site-id list fit the
    driver threshold.  Beats ~10 distributed shuffle jobs of fixed latency
    at small inputs; never fires at production scale."""
    # CC by union-find with min-label roots
    parent: dict[str, str] = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
        parent.setdefault(u, find(u))
        parent.setdefault(v, find(v))
    comp = {x: find(x) for x in parent}

    # splice gold groups (replace_group semantics)
    new_key: dict[str, tuple] = {}
    if curated_rows is not None:
        gold_comp = _gold_components(curated_rows)
        affected = {comp[n] for n in gold_comp if n in comp}
        for node, c in comp.items():
            if c in affected:
                if node in gold_comp:
                    continue  # replaced by its gold group below
                new_key[node] = ("rem", c)
            else:
                new_key[node] = ("auto", c)
        for node, gc in gold_comp.items():
            new_key[node] = ("gold", gc)
    else:
        new_key = {node: ("auto", c) for node, c in comp.items()}

    # relabel to min member (over ALL nodes, like relabel_min, BEFORE the
    # known-site restriction — matching the distributed operator order)
    groups: dict[tuple, list[str]] = {}
    for node, key in new_key.items():
        groups.setdefault(key, []).append(node)
    label = {key: min(nodes) for key, nodes in groups.items()}

    sid_set = set(site_ids)
    out = {
        node: label[key] for node, key in new_key.items() if node in sid_set
    }
    for s in sid_set:
        if s not in out:
            out[s] = s  # singleton
    return out


def build_membership(
    sites_rel: DataFrame,
    system_edges: DataFrame | None = None,
    curated: DataFrame | None = None,
    driver_finish_threshold: int = 2_000_000,
) -> DataFrame:
    """Full G1-G5 flow → (site_id, dedup_site_id) for every site.

    Hybrid: when both the edge set and the site-id list fit
    ``driver_finish_threshold``, the whole membership assembly runs
    driver-side (one collect each); otherwise the distributed
    CC/splice/attach operators run.  Both paths are oracle-tested against
    the same networkx model (tests/test_canonicalize.py)."""
    spark = sites_rel.sparkSession
    edges = auto_link_edges(sites_rel)
    if system_edges is not None:
        edges = edges.unionAll(
            system_edges.select(F.col("ms_1").alias("u"), F.col("ms_2").alias("v"))
        )
    edges = edges.select(F.col("u").cast("string"), F.col("v").cast("string"))

    # ONE bounded job sizes the edge set and fetches it: a
    # limit(threshold+1) Arrow read returns ALL rows iff the table fits the
    # threshold (a limit larger than the table is the table).  Arrow-path
    # transfers (toPandas), not row collect(): py4j row deserialization
    # costs ~1-2 s per 100k narrow rows and is pure scale-invariant driver
    # tail in the scaling probes.  Nothing is checkpointed for the driver
    # path, so it leaves no RDD registered behind it.
    edges_pdf = edges.limit(driver_finish_threshold + 1).toPandas()
    if len(edges_pdf) <= driver_finish_threshold:
        # same bounded-read trick for the site-id list: with few edges
        # but many sites (sparse duplication at production scale) an
        # unguarded toPandas would ship the whole site_id column to the
        # driver only to discard it.
        ids_pdf = (
            sites_rel.select("site_id")
            .limit(driver_finish_threshold + 1)
            .toPandas()
        )
        if len(ids_pdf) <= driver_finish_threshold:
            site_ids = ids_pdf["site_id"].tolist()
            pairs = list(zip(edges_pdf["u"].tolist(), edges_pdf["v"].tolist()))
            rows = curated.collect() if curated is not None else None
            member = _driver_membership(pairs, rows, site_ids)
            import pandas as pd

            pdf = pd.DataFrame(
                {
                    "site_id": list(member.keys()),
                    "dedup_site_id": ["dedup_" + c for c in member.values()],
                },
                dtype="object",
            )
            return spark.createDataFrame(
                pdf, schema="site_id string, dedup_site_id string"
            )

    # the distributed CC iterates over the edges: materialize them once
    membership = connected_components(
        edges.localCheckpoint(eager=True),
        driver_finish_threshold=driver_finish_threshold,
    )
    if curated is not None:
        gold = curated_gold_groups(curated)
        # barrier: attach_singletons scans the spliced membership twice
        membership = splice_gold_groups(membership, gold).localCheckpoint(
            eager=True
        )
    membership = attach_singletons(membership, sites_rel)
    # CC labels, splice output, and singleton labels are all already the
    # min member — skip the extra relabel shuffle
    return with_dedup_id(membership, already_canonical=True)
