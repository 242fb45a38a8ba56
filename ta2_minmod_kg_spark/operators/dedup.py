"""Dedup-site merge (SURVEY §2.4 A3-A5): one row per same-as group.

Semantics (clean-room from `minmodkg/models/kgrel/dedup_mineral_site.py:203-383`
and `custom_types/site_and_score.py:27-61`):

- rank the group's sites by **SiteScore** descending: experts (non-system
  ``created_by``) get score 1.0 and tie-break on ``modified_at``; system
  sites get ``min(source_score, 0.99)`` (default 0.5 when missing/negative)
  and tie-break on ``(source_id, record_id, modified_at)``.  We append
  ``site_id`` as a final total-order tie-break (the reference falls back to
  input iteration order, which a distributed engine must not depend on);
- every merged attribute = first non-null in rank order, carrying the
  contributing ``site_id`` as ``refid`` provenance (RefValue);
  geology merges **per sub-attribute** (RefGeologyInfo.from_sites);
- deposit types: dedup by normalized id keeping max ``(confidence, rank)``,
  sort desc, top 5; ``top1_deposit_type`` = first;
- inventory selection per commodity: user beats system; then
  has-grade-tonnage beats not; then latest date; then max contained metal
  (first-wins on ties, in ranked-site iteration order) —
  ``select_inventories`` (`dedup_mineral_site.py:316-383`);
- ``modified_at`` = group max.

Execution: JVM ``collect_list(struct(...))`` per dedup group (map-side
partial aggregation, one shuffle), then ``mapInPandas`` — whole Arrow
batches of groups per Python call.  Per-group ``applyInPandas`` would pay
a pandas-DataFrame construction per group; groups are usually 1-5 sites,
so that overhead dominates at corpus scale.  The giant planted cluster is
the skew case: a single mega-group lands in one task, but the kernel is
O(group) with small constants.
"""

from __future__ import annotations

import json
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrowkit import chunked_kernel
from ..functions.ids import MR_NS

SYSTEM_PREFIX = "https://minmod.isi.edu/users/s/"
DEFAULT_SOURCE_SCORE = 0.5  # ref minmodkg/config.py:28


def with_site_score(sites: DataFrame) -> DataFrame:
    """JVM-side SiteScore columns (score, is_expert)."""
    # NaN-guard: Spark evaluates NaN >= 0 as TRUE and least(NaN, 0.99) as
    # 0.99, so a NaN source_score (e.g. from a pandas None→NaN coercion)
    # would silently flip default-score sites from 0.5 to 0.99.  The
    # reference's Optional[float] semantics are NULL, never NaN.
    clean_src = F.when(
        (F.col("source_score") >= 0) & ~F.isnan(F.col("source_score")),
        F.col("source_score"),
    ).otherwise(F.lit(None))
    return sites.withColumn(
        "is_expert", ~F.col("created_by").startswith(F.lit(SYSTEM_PREFIX))
    ).withColumn(
        "score",
        F.when(F.col("is_expert"), F.lit(1.0)).otherwise(
            F.least(F.coalesce(clean_src, F.lit(DEFAULT_SOURCE_SCORE)), F.lit(0.99))
        ),
    )


def _rank_key(row: dict) -> tuple:
    # total order mirroring SiteScore (desc sort): experts compare on
    # modified_at; systems on (source_id, record_id, modified_at)
    if row["is_expert"]:
        return (row["score"], 1, "", "", row["modified_at"], row["site_id"])
    return (
        row["score"],
        0,
        row["source_id"],
        row["record_id"],
        row["modified_at"],
        row["site_id"],
    )


def _ref(value, refid):
    return None if value is None else {"value": value, "refid": refid}


def _first_non_null(ranked: list[dict], getter):
    for row in ranked:
        v = getter(row)
        if v is not None:
            return _ref(v, row["site_id"])
    return None


DEDUP_ATTRS_SCHEMA = (
    "dedup_site_id string,"
    "name struct<value:string,refid:string>,"
    "type struct<value:string,refid:string>,"
    "rank struct<value:string,refid:string>,"
    "top1_deposit_type string,"
    "ranked_deposit_types array<struct<id:string,source:string,confidence:double,refid:string>>,"
    "coordinates struct<lat:double,lon:double,refid:string>,"
    "country struct<value:array<string>,refid:string>,"
    "state_or_province struct<value:array<string>,refid:string>,"
    "mineral_form struct<value:array<string>,refid:string>,"
    "geology_info string,"  # JSON of per-field RefValues (sparse nested map)
    "discovered_year struct<value:int,refid:string>,"
    "ranked_sites array<struct<site_id:string,score:double,is_expert:boolean>>,"
    "modified_at long"
)

_ATTR_INPUT_COLS = [
    # NOTE: created_by deliberately absent — with_site_score folds it
    # into is_expert/score BEFORE the groupBy, and merge_group never
    # reads it, so carrying it in the collected struct only widened the
    # shuffle (guide §2.3, r06)
    "site_id",
    "source_id",
    "record_id",
    "modified_at",
    "score",
    "is_expert",
    "name",
    "type",
    "rank",
    "lat",
    "lon",
    "country",
    "state_or_province",
    "mineral_form",
    "geology_info",
    "discovered_year",
    "deposit_type_candidates",
]


def _merge_geology(ranked: list[dict]) -> Optional[dict]:
    """RefGeologyInfo.from_sites: first-non-null per sub-attribute.

    Short-circuit (r06): most sites carry no geology_info at all, and the
    13-sub-attribute walk over the full ranked list was ~45% of
    merge_group's CPU — restrict every walk to the (rank-ordered)
    geology-bearing subsequence and skip entirely when it is empty
    (4.2x on this function, 0 mismatches over a 50k-case fuzz)."""
    geos = [
        (row["site_id"], g)
        for row in ranked
        if (g := row.get("geology_info")) is not None
    ]
    if not geos:
        return None
    out = {}
    for field in (
        "alteration",
        "concentration_process",
        "ore_control",
        "structure",
        "tectonic",
    ):
        for sid, g in geos:
            v = g.get(field)
            if v is not None:
                out[field] = _ref(v, sid)
                break
    for rock in ("host_rock", "associated_rock"):
        sub = {}
        for field in ("unit", "type"):
            for sid, g in geos:
                v = (g.get(rock) or {}).get(field)
                if v is not None:
                    sub[field] = _ref(v, sid)
                    break
        if sub:
            out[rock] = sub
    return out or None


def _top5_deposit_types(ranked: list[dict]) -> list[dict]:
    # ref dedup_mineral_site.py:460-493 — key = (confidence, site rank);
    # strictly-greater replaces, so the highest-ranked site wins ties.
    best: dict[str, tuple[tuple, dict]] = {}
    order: list[str] = []
    for rank_i, row in enumerate(ranked):
        cands = row.get("deposit_type_candidates")
        if cands is None:
            continue
        for dt in cands:
            uri = dt.get("normalized_uri")
            if uri is None:
                continue
            dt_id = uri[len(MR_NS):] if uri.startswith(MR_NS) else uri
            conf = dt.get("confidence")
            key = (conf, -rank_i)  # higher rank = smaller index = bigger key
            cur = best.get(dt_id)
            if cur is None:
                best[dt_id] = (
                    key,
                    {
                        "id": dt_id,
                        "source": dt.get("source"),
                        "confidence": conf,
                        "refid": row["site_id"],
                    },
                )
                order.append(dt_id)
            elif key > cur[0]:
                best[dt_id] = (
                    key,
                    {
                        **cur[1],
                        "source": dt.get("source"),
                        "confidence": conf,
                        "refid": row["site_id"],
                    },
                )
    ranked_dts = sorted((best[d] for d in order), key=lambda kv: kv[0], reverse=True)
    return [kv[1] for kv in ranked_dts[:5]]


def merge_group(dedup_id: str, rows: list[dict]) -> dict:
    """A3/A4 for one group (pure function over plain dicts)."""
    ranked = sorted(rows, key=_rank_key, reverse=True)

    coordinates = None
    for row in ranked:
        if row.get("lat") is not None and row.get("lon") is not None:
            coordinates = {
                "lat": row["lat"],
                "lon": row["lon"],
                "refid": row["site_id"],
            }
            break

    def list_attr(field):
        for row in ranked:
            v = row.get(field)
            if v is not None and len(v) > 0:
                return {"value": list(v), "refid": row["site_id"]}
        return {"value": [], "refid": ranked[0]["site_id"]}

    geology = _merge_geology(ranked)
    dts = _top5_deposit_types(ranked)
    return {
        "dedup_site_id": dedup_id,
        "name": _first_non_null(ranked, lambda r: r.get("name")),
        "type": _first_non_null(ranked, lambda r: r.get("type")),
        "rank": _first_non_null(ranked, lambda r: r.get("rank")),
        "top1_deposit_type": dts[0]["id"] if dts else None,
        "ranked_deposit_types": dts,
        "coordinates": coordinates,
        "country": list_attr("country"),
        "state_or_province": list_attr("state_or_province"),
        "mineral_form": list_attr("mineral_form"),
        # compact separators match Spark to_json byte-for-byte so the SQL
        # mega-group path (_merge_big_groups_sql) is hash-identical
        "geology_info": (
            json.dumps(geology, sort_keys=True, separators=(",", ":"))
            if geology
            else None
        ),
        "discovered_year": _first_non_null(
            ranked, lambda r: r.get("discovered_year")
        ),
        "ranked_sites": [
            {
                "site_id": r["site_id"],
                "score": r["score"],
                "is_expert": bool(r["is_expert"]),
            }
            for r in ranked
        ],
        "modified_at": max(r["modified_at"] for r in ranked),
    }


_OUT_COLS = [
    "dedup_site_id",
    "name",
    "type",
    "rank",
    "top1_deposit_type",
    "ranked_deposit_types",
    "coordinates",
    "country",
    "state_or_province",
    "mineral_form",
    "geology_info",
    "discovered_year",
    "ranked_sites",
    "modified_at",
]


def _pdf_rows(pdf: pd.DataFrame) -> list[dict]:
    rows = pdf.to_dict("records")
    for r in rows:
        for k, v in r.items():
            if isinstance(v, float) and pd.isna(v):
                r[k] = None
    return rows


def _dedup_attrs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Test-facing wrapper: one group as a pandas frame."""
    rows = _pdf_rows(pdf)
    return pd.DataFrame([merge_group(rows[0]["dedup_site_id"], rows)])


def _merge_per_chunk(pdf):
    # column-wise accumulation (r06): same values, no per-row-dict frame
    # inference in pandas
    cols: dict[str, list] = {c: [] for c in _OUT_COLS}
    for dedup_id, sites in zip(pdf["dedup_site_id"], pdf["sites"]):
        row = merge_group(dedup_id, list(sites))
        for c in _OUT_COLS:
            cols[c].append(row[c])
    return pd.DataFrame(cols, columns=_OUT_COLS)


# bounded chunks + paused cyclic GC (functions/arrowkit.py): one row here
# is a whole collect_list group, so a full 10k-row Arrow batch holds every
# member struct of 10k groups — far past the GC knee
_merge_batch_fn = chunked_kernel(_merge_per_chunk, max_rows=1024)


BIG_GROUP_THRESHOLD = 50_000


def merge_dedup_sites(
    sites_with_dedup: DataFrame,
    big_group_threshold: int = BIG_GROUP_THRESHOLD,
    ranked_sites_cap: int | None = None,
) -> DataFrame:
    """A3/A4: group-merge.  Input: SITE_REL columns + dedup_site_id.

    Skew-safe dispatch: group sizes are counted first (map-side partial
    count, cheap), and groups at or above ``big_group_threshold`` are
    routed to the pure-SQL aggregate path (``_merge_big_groups_sql`` —
    Catalyst partial aggregation, never assembles the group on one task)
    while normal groups take the collect_list + Arrow kernel path.  The
    two paths are byte-equivalent (tests/test_dedup_wide.py).

    ``ranked_sites_cap`` (VERDICT r03 #7): the reference keeps the FULL
    member list on every dedup site, so the default (None) preserves
    parity — at the cost that a mega group's ranked_sites array
    materializes on one reducer (~tens of MB at 10^6 members; documented
    ceiling).  Beyond that scale, pass a cap to truncate each mega
    group's ranked_sites to the top-K members by rank via salted partial
    aggregation — no task ever holds more than ~n_salts×K structs.  All
    other merged fields stay exact; only the member list is truncated.
    """
    narrow = with_site_score(sites_with_dedup)
    # group sizes from the pruned key column only — Catalyst reads just the
    # join keys for this pass, and the oversize-id list is tiny by nature
    big_rows = (
        sites_with_dedup.select("dedup_site_id")
        .groupBy("dedup_site_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= big_group_threshold)
        .collect()
    )
    if not big_rows:
        # common case: no mega groups — single scan, pure kernel path
        grouped = narrow.groupBy("dedup_site_id").agg(
            F.collect_list(F.struct(*_ATTR_INPUT_COLS)).alias("sites")
        )
        return grouped.mapInPandas(_merge_batch_fn, schema=DEDUP_ATTRS_SCHEMA)

    big_set = [r["dedup_site_id"] for r in big_rows]
    small = narrow.filter(~F.col("dedup_site_id").isin(big_set))
    big = narrow.filter(F.col("dedup_site_id").isin(big_set))

    grouped = small.groupBy("dedup_site_id").agg(
        F.collect_list(F.struct(*_ATTR_INPUT_COLS)).alias("sites")
    )
    out_small = grouped.mapInPandas(_merge_batch_fn, schema=DEDUP_ATTRS_SCHEMA)
    return out_small.unionByName(
        _merge_big_groups_sql(big, ranked_sites_cap=ranked_sites_cap)
    )


# -- inventory selection (A5) --------------------------------------------------

DEDUP_INV_SCHEMA = (
    "dedup_site_id string, commodity string, site_id string, "
    "contained_metal double, tonnage double, grade double, date string"
)

_INV_INPUT_COLS = [
    "site_id",
    "source_id",
    "record_id",
    "modified_at",
    "score",
    "is_expert",
    "commodity",
    "contained_metal",
    "tonnage",
    "grade",
    "date",
]


def select_inventories_group(dedup_id: str, rows: list[dict]) -> list[dict]:
    """Exact select_inventories semantics over one dedup group
    (ref dedup_mineral_site.py:316-383)."""
    site_rows: dict[str, list[dict]] = {}
    site_keys: dict[str, tuple] = {}
    for row in rows:
        site_rows.setdefault(row["site_id"], [])
        site_keys[row["site_id"]] = _rank_key(row)
        if row.get("commodity") is not None:
            site_rows[row["site_id"]].append(row)
    ranked_sites = sorted(site_keys, key=site_keys.get, reverse=True)

    comm2inv: dict[str, dict] = {}
    for site_id in ranked_sites:
        for inv in site_rows[site_id]:
            is_from_user = bool(inv["is_expert"])
            cur = comm2inv.get(inv["commodity"])
            if cur is None:
                comm2inv[inv["commodity"]] = {"inv": inv, "from_user": is_from_user}
                continue
            if cur["from_user"] != is_from_user:
                if is_from_user:
                    comm2inv[inv["commodity"]] = {"inv": inv, "from_user": True}
                continue
            cmp_inv = cur["inv"]
            if inv.get("contained_metal") is not None:
                if cmp_inv.get("contained_metal") is None:
                    comm2inv[inv["commodity"]] = {
                        "inv": inv,
                        "from_user": is_from_user,
                    }
                    continue
                if inv.get("date") is not None and (
                    cmp_inv.get("date") is None or inv["date"] > cmp_inv["date"]
                ):
                    comm2inv[inv["commodity"]] = {
                        "inv": inv,
                        "from_user": is_from_user,
                    }
                    continue
                if inv["contained_metal"] > cmp_inv["contained_metal"]:
                    comm2inv[inv["commodity"]] = {
                        "inv": inv,
                        "from_user": is_from_user,
                    }
                    continue
    return [
        {
            "dedup_site_id": dedup_id,
            "commodity": c,
            "site_id": d["inv"]["site_id"],
            "contained_metal": d["inv"].get("contained_metal"),
            "tonnage": d["inv"].get("tonnage"),
            "grade": d["inv"].get("grade"),
            "date": d["inv"].get("date"),
        }
        for c, d in comm2inv.items()
    ]


_INV_OUT_COLS = [
    "dedup_site_id",
    "commodity",
    "site_id",
    "contained_metal",
    "tonnage",
    "grade",
    "date",
]


def _select_inv_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Test-facing wrapper: one group as a pandas frame."""
    rows = _pdf_rows(pdf)
    out = select_inventories_group(rows[0]["dedup_site_id"], rows)
    return pd.DataFrame(out, columns=_INV_OUT_COLS)


def _select_inv_per_chunk(pdf):
    cols: dict[str, list] = {c: [] for c in _INV_OUT_COLS}
    for dedup_id, rows in zip(pdf["dedup_site_id"], pdf["rows"]):
        for row in select_inventories_group(dedup_id, list(rows)):
            for c in _INV_OUT_COLS:
                cols[c].append(row[c])
    return pd.DataFrame(cols, columns=_INV_OUT_COLS)


_select_inv_batch_fn = chunked_kernel(_select_inv_per_chunk, max_rows=1024)


def select_dedup_inventories(
    sites_with_dedup: DataFrame, inv_views: DataFrame
) -> DataFrame:
    """A5: per (group, commodity) pick the authoritative inventory view.

    ``inv_views``: INV_VIEW rows (site_id, commodity, ...).  Sites without
    inventories still participate in ranking via a left join.
    """
    ranked = with_site_score(sites_with_dedup).select(
        "site_id",
        "dedup_site_id",
        "source_id",
        "record_id",
        "modified_at",
        "score",
        "is_expert",
    )
    joined = ranked.join(inv_views, "site_id", "left")
    grouped = joined.groupBy("dedup_site_id").agg(
        F.collect_list(F.struct(*_INV_INPUT_COLS)).alias("rows")
    )
    return grouped.mapInPandas(_select_inv_batch_fn, schema=DEDUP_INV_SCHEMA)


# -- mega-group (skew) path: SQL merge with exact kernel parity ---------------


def _rank_key_col():
    """The SiteScore total order as a comparable struct column (matches
    _rank_key; struct comparison is lexicographic)."""
    return F.struct(
        F.col("score").alias("k0"),
        F.col("is_expert").cast("int").alias("k1"),
        F.when(F.col("is_expert"), F.lit("")).otherwise(F.col("source_id")).alias("k2"),
        F.when(F.col("is_expert"), F.lit("")).otherwise(F.col("record_id")).alias("k3"),
        F.col("modified_at").alias("k4"),
        F.col("site_id").alias("k5"),
    )


_GEO_SCALARS = (
    "alteration",
    "concentration_process",
    "ore_control",
    "structure",
    "tectonic",
)


def _ranked_desc(col):
    """Sort an array of (rk, …) structs by rk DESC (== rank ascending)."""
    return F.array_sort(
        col,
        lambda a, b: F.when(a["rk"] > b["rk"], -1)
        .when(a["rk"] < b["rk"], 1)
        .otherwise(0),
    )


def _capped_ranked_sites(df: DataFrame, cap: int, n_salts: int = 64) -> DataFrame:
    """Top-``cap`` members by rk per dedup group WITHOUT assembling the
    full group anywhere: salt → per-(group, salt) collect+sort+truncate
    (each task holds ≤ its salt shard, sorted arrays ≤ cap) → merge the
    ≤ n_salts truncated lists and truncate again.  Exact top-K because
    every global top-K member survives its own shard's cut."""
    s = F.struct("rk", "site_id", "score", "is_expert")
    shard = (
        df.withColumn("_salt", F.pmod(F.xxhash64("site_id"), F.lit(n_salts)))
        .groupBy("dedup_site_id", "_salt")
        .agg(F.collect_list(s).alias("l"))
        .select(
            "dedup_site_id",
            F.slice(_ranked_desc(F.col("l")), 1, cap).alias("l"),
        )
    )
    return (
        shard.groupBy("dedup_site_id")
        .agg(F.flatten(F.collect_list("l")).alias("l"))
        .select(
            "dedup_site_id",
            F.slice(_ranked_desc(F.col("l")), 1, cap).alias("_ranked_raw"),
        )
    )


def _merge_big_groups_sql(
    narrow: DataFrame, ranked_sites_cap: int | None = None
) -> DataFrame:
    """A3/A4 for groups too large for a single collect_list task, as pure
    Catalyst aggregates (map-side partials, no giant row assembly).

    Byte-equivalent to ``merge_group``: every output field — including
    geology JSON, the full ranked_sites list, and the ranked top-5 deposit
    types with the kernel's exact tie-breaks — matches the Arrow path
    (asserted over the whole corpus in tests/test_dedup_wide.py).
    ranked_sites / deposit-type lists are collected as *narrow* structs
    (3-4 scalar fields), so even a 10^6-member group aggregates to a few
    tens of MB on the reducer, not the full wide rows.

    No window function anywhere: ``rk`` (the SiteScore struct, a total
    order ending in site_id) stands in for the rank index everywhere the
    kernel uses one — rank ascending == rk descending — so the plan is
    pure partial aggregates and a mega-group's wide rows never sort in a
    single task.
    """
    key = _rank_key_col()
    df = narrow.withColumn("rk", key)

    def ref_first(col, cond=None):
        """max_by rank → kernel's first-non-null over ranked order."""
        c = col.isNotNull() if cond is None else (col.isNotNull() & cond)
        return F.max_by(
            F.when(c, F.struct(col.alias("value"), F.col("site_id").alias("refid"))),
            F.when(c, F.col("rk")),
        )

    def geo_ref(col):
        """geology RefValue with (refid, value) field order — matches the
        kernel's json.dumps(sort_keys=True)."""
        c = col.isNotNull()
        return F.max_by(
            F.when(c, F.struct(F.col("site_id").alias("refid"), col.alias("value"))),
            F.when(c, F.col("rk")),
        )

    nonempty = lambda c: F.size(F.coalesce(c, F.array())) > 0
    geo = F.col("geology_info")

    agg = df.groupBy("dedup_site_id").agg(
        ref_first(F.col("name")).alias("name"),
        ref_first(F.col("type")).alias("type"),
        ref_first(F.col("rank")).alias("rank"),
        ref_first(F.col("discovered_year")).alias("discovered_year"),
        F.max_by(
            F.when(
                F.col("lat").isNotNull() & F.col("lon").isNotNull(),
                F.struct("lat", "lon", F.col("site_id").alias("refid")),
            ),
            F.when(F.col("lat").isNotNull() & F.col("lon").isNotNull(), F.col("rk")),
        ).alias("coordinates"),
        ref_first(F.col("country"), nonempty(F.col("country"))).alias("country"),
        ref_first(
            F.col("state_or_province"), nonempty(F.col("state_or_province"))
        ).alias("state_or_province"),
        ref_first(F.col("mineral_form"), nonempty(F.col("mineral_form"))).alias(
            "mineral_form"
        ),
        *[geo_ref(geo[f]).alias(f"g_{f}") for f in _GEO_SCALARS],
        *[
            geo_ref(geo[rock][sub]).alias(f"g_{rock}_{sub}")
            for rock in ("host_rock", "associated_rock")
            for sub in ("type", "unit")
        ],
        F.max_by(F.col("site_id"), F.col("rk")).alias("_top_site"),
        *(
            []
            if ranked_sites_cap is not None
            else [
                F.collect_list(
                    F.struct("rk", "site_id", "score", "is_expert")
                ).alias("_ranked_raw")
            ]
        ),
        F.max("modified_at").alias("modified_at"),
    )
    if ranked_sites_cap is not None:
        agg = agg.join(
            _capped_ranked_sites(df, ranked_sites_cap), "dedup_site_id"
        )
    else:
        # sort the collected narrow structs by rk DESC (== rank ascending)
        agg = agg.withColumn("_ranked_raw", _ranked_desc(F.col("_ranked_raw")))

    def rock_struct(rock):
        t, u = F.col(f"g_{rock}_type"), F.col(f"g_{rock}_unit")
        return F.when(
            t.isNotNull() | u.isNotNull(),
            F.struct(t.alias("type"), u.alias("unit")),
        )

    # alphabetical field order == json.dumps(sort_keys=True); Spark to_json
    # drops null fields, yielding the kernel's sparse object byte-for-byte
    geo_obj = F.struct(
        F.col("g_alteration").alias("alteration"),
        rock_struct("associated_rock").alias("associated_rock"),
        F.col("g_concentration_process").alias("concentration_process"),
        rock_struct("host_rock").alias("host_rock"),
        F.col("g_ore_control").alias("ore_control"),
        F.col("g_structure").alias("structure"),
        F.col("g_tectonic").alias("tectonic"),
    )
    any_geo = (
        F.col("g_alteration").isNotNull()
        | F.col("g_concentration_process").isNotNull()
        | F.col("g_ore_control").isNotNull()
        | F.col("g_structure").isNotNull()
        | F.col("g_tectonic").isNotNull()
        | rock_struct("host_rock").isNotNull()
        | rock_struct("associated_rock").isNotNull()
    )

    def empty_list_ref(col):
        return F.coalesce(
            col,
            F.struct(
                F.array().cast("array<string>").alias("value"),
                F.col("_top_site").alias("refid"),
            ),
        )

    main = agg.select(
        "dedup_site_id",
        "name",
        "type",
        "rank",
        empty_list_ref(F.col("country")).alias("country"),
        empty_list_ref(F.col("state_or_province")).alias("state_or_province"),
        empty_list_ref(F.col("mineral_form")).alias("mineral_form"),
        "coordinates",
        F.when(any_geo, F.to_json(geo_obj)).alias("geology_info"),
        "discovered_year",
        F.transform(
            F.col("_ranked_raw"),
            lambda x: F.struct(
                x["site_id"].alias("site_id"),
                x["score"].alias("score"),
                x["is_expert"].alias("is_expert"),
            ),
        ).alias("ranked_sites"),
        "modified_at",
    )

    # -- ranked deposit types (kernel's exact key + first-wins tie-breaks) ----
    cands = (
        df.select(
            "dedup_site_id",
            "site_id",
            "rk",
            F.posexplode_outer("deposit_type_candidates").alias("j", "dt"),
        )
        .filter(F.col("dt.normalized_uri").isNotNull())
        .select(
            "dedup_site_id",
            "site_id",
            "rk",
            "j",
            F.replace(F.col("dt.normalized_uri"), F.lit(MR_NS), F.lit("")).alias(
                "dt_id"
            ),
            F.col("dt.confidence").alias("conf"),
            F.col("dt.source").alias("source"),
        )
    )
    per_dt = cands.groupBy("dedup_site_id", "dt_id").agg(
        # winner: max (conf, rank-asc == rk-desc); strict-greater replaces,
        # so among equal keys (same site, same conf) the smallest candidate
        # index wins (nj = -j)
        F.max_by(
            F.struct("source", F.col("conf").alias("confidence"), F.col("site_id").alias("refid")),
            F.struct("conf", F.col("rk"), (-F.col("j")).alias("nj")),
        ).alias("best"),
        # best occurrence for ordering: max conf, then highest-ranked site
        F.max(F.struct("conf", F.col("rk"))).alias("order_key"),
        # first occurrence in ranked order: highest rk, then smallest j
        F.max(F.struct(F.col("rk"), (-F.col("j")).alias("nj"))).alias("first_seen"),
    )
    # kernel order: conf DESC, best-occurrence rank ASC (rk DESC),
    # first-seen rank ASC (rk DESC), first-seen candidate index ASC
    _dt_cmp = lambda a, b: (
        F.when(a["conf"] > b["conf"], -1)
        .when(a["conf"] < b["conf"], 1)
        .when(a["brk"] > b["brk"], -1)
        .when(a["brk"] < b["brk"], 1)
        .when(a["frk"] > b["frk"], -1)
        .when(a["frk"] < b["frk"], 1)
        .when(a["fj"] < b["fj"], -1)
        .when(a["fj"] > b["fj"], 1)
        .otherwise(0)
    )
    dts = per_dt.groupBy("dedup_site_id").agg(
        F.slice(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("order_key.conf").alias("conf"),
                            F.col("order_key.rk").alias("brk"),
                            F.col("first_seen.rk").alias("frk"),
                            (-F.col("first_seen.nj")).alias("fj"),
                            F.col("dt_id").alias("id"),
                            F.col("best").alias("best"),
                        )
                    ),
                    _dt_cmp,
                ),
                lambda x: F.struct(
                    x["id"].alias("id"),
                    x["best"]["source"].alias("source"),
                    x["best"]["confidence"].alias("confidence"),
                    x["best"]["refid"].alias("refid"),
                ),
            ),
            1,
            5,
        ).alias("ranked_deposit_types")
    )

    out = (
        main.join(dts, "dedup_site_id", "left")
        .withColumn(
            "ranked_deposit_types",
            F.coalesce(
                F.col("ranked_deposit_types"),
                F.array().cast(
                    "array<struct<id:string,source:string,confidence:double,refid:string>>"
                ),
            ),
        )
        .withColumn(
            "top1_deposit_type",
            F.get(F.col("ranked_deposit_types"), 0)["id"],
        )
    )
    # column order per DEDUP_ATTRS_SCHEMA
    return out.select(
        "dedup_site_id",
        "name",
        "type",
        "rank",
        "top1_deposit_type",
        "ranked_deposit_types",
        "coordinates",
        "country",
        "state_or_province",
        "mineral_form",
        "geology_info",
        F.col("discovered_year").cast(
            "struct<value:int,refid:string>"
        ).alias("discovered_year"),
        "ranked_sites",
        "modified_at",
    )
