"""Dedup-site merge semantics (A3-A5) — kernel-level golden tests.

Mirrors the create/auto-link/dedup expectations of the reference service
tests (`tests/services/test_mineral_site_service.py`): expert values beat
system values, first-non-null in rank order, provenance refids, and the
user-beats-system inventory selection.
"""

from __future__ import annotations

import json

from ta2_minmod_kg_spark.operators.dedup import merge_group, select_inventories_group

SYS = "https://minmod.isi.edu/users/s/ingestor"
USR = "https://minmod.isi.edu/users/u/alice"


def _site(
    site_id,
    created_by=SYS,
    score=0.8,
    is_expert=False,
    modified_at=1,
    name=None,
    type=None,
    rank=None,
    lat=None,
    lon=None,
    country=(),
    state=(),
    mineral_form=(),
    geology_info=None,
    discovered_year=None,
    dts=(),
    source_id="src",
    record_id="r1",
):
    return {
        "dedup_site_id": "dedup_x",
        "site_id": site_id,
        "source_id": source_id,
        "record_id": record_id,
        "created_by": created_by,
        "modified_at": modified_at,
        "score": score,
        "is_expert": is_expert,
        "name": name,
        "type": type,
        "rank": rank,
        "lat": lat,
        "lon": lon,
        "country": list(country),
        "state_or_province": list(state),
        "mineral_form": list(mineral_form),
        "geology_info": geology_info,
        "discovered_year": discovered_year,
        "deposit_type_candidates": list(dts),
    }


def test_expert_wins_and_first_non_null():
    rows = [
        _site(
            "site__b",
            score=0.8,
            name="System Name",
            type="Mine",
            lat=1.0,
            lon=2.0,
            modified_at=10,
        ),
        _site(
            "site__a",
            created_by=USR,
            score=1.0,
            is_expert=True,
            name="Expert Name",
            rank="A",
            modified_at=5,
        ),
    ]
    out = merge_group(rows[0]["dedup_site_id"], rows)
    assert out["name"] == {"value": "Expert Name", "refid": "site__a"}
    # expert has no type → falls through to the system site
    assert out["type"] == {"value": "Mine", "refid": "site__b"}
    assert out["rank"] == {"value": "A", "refid": "site__a"}
    assert out["coordinates"] == {"lat": 1.0, "lon": 2.0, "refid": "site__b"}
    assert out["modified_at"] == 10
    assert [s["site_id"] for s in out["ranked_sites"]] == ["site__a", "site__b"]


def test_system_tiebreak_on_modified_at():
    rows = [
        _site("site__old", score=0.8, name="Old", modified_at=1),
        _site("site__new", score=0.8, name="New", modified_at=2),
    ]
    out = merge_group(rows[0]["dedup_site_id"], rows)
    assert out["name"]["value"] == "New"


def test_geology_merge_per_subattr():
    rows = [
        _site(
            "site__1",
            score=0.9,
            modified_at=2,
            geology_info={"alteration": "sericitic", "host_rock": {"unit": "U1"}},
        ),
        _site(
            "site__2",
            score=0.8,
            modified_at=1,
            geology_info={
                "alteration": "argillic",
                "tectonic": "rift",
                "host_rock": {"type": "basalt"},
            },
        ),
    ]
    out = merge_group(rows[0]["dedup_site_id"], rows)
    geo = json.loads(out["geology_info"])
    assert geo["alteration"] == {"value": "sericitic", "refid": "site__1"}
    assert geo["tectonic"] == {"value": "rift", "refid": "site__2"}
    # rock merges per sub-field across sites
    assert geo["host_rock"]["unit"] == {"value": "U1", "refid": "site__1"}
    assert geo["host_rock"]["type"] == {"value": "basalt", "refid": "site__2"}


def test_geology_merge_short_circuit_matches_full_walk():
    """r06 O7: _merge_geology walks only the geology-bearing subsequence.
    Pin it against the straightforward full-ranked-list walk over a
    deterministic fuzz corpus (incl. geology-free groups, empty dicts,
    rocks with null/partial sub-fields)."""
    import random

    from ta2_minmod_kg_spark.operators.dedup import _merge_geology

    def reference_walk(ranked):
        def first(getter):
            for row in ranked:
                v = getter(row)
                if v is not None:
                    return {"value": v, "refid": row["site_id"]}
            return None

        out = {}
        for f in (
            "alteration",
            "concentration_process",
            "ore_control",
            "structure",
            "tectonic",
        ):
            r = first(lambda row, f=f: (row.get("geology_info") or {}).get(f))
            if r is not None:
                out[f] = r
        for rock in ("host_rock", "associated_rock"):
            sub = {}
            for f in ("unit", "type"):
                r = first(
                    lambda row, rk=rock, f=f: (
                        (row.get("geology_info") or {}).get(rk) or {}
                    ).get(f)
                )
                if r is not None:
                    sub[f] = r
            if sub:
                out[rock] = sub
        return out or None

    rng = random.Random(42)
    fields = (
        "alteration",
        "concentration_process",
        "ore_control",
        "structure",
        "tectonic",
    )

    def rand_geo():
        g = {f: f[:2] + str(rng.randint(0, 3)) for f in fields if rng.random() < 0.4}
        for rock in ("host_rock", "associated_rock"):
            if rng.random() < 0.5:
                sub = {
                    k: k[0] + str(rng.randint(0, 2))
                    for k in ("unit", "type")
                    if rng.random() < 0.6
                }
                g[rock] = sub or None
        # empty dict (not None) is a distinct input shape — keep some
        return g if (g or rng.random() < 0.5) else {}

    for _ in range(3000):
        ranked = [
            {
                "site_id": f"s{i}",
                "geology_info": rand_geo() if rng.random() < 0.35 else None,
            }
            for i in range(rng.randint(1, 6))
        ]
        assert _merge_geology(ranked) == reference_walk(ranked)


def test_top5_deposit_types():
    mr = "https://minmod.isi.edu/resource/"
    rows = [
        _site(
            "site__1",
            score=0.9,
            modified_at=2,
            dts=[
                {"source": "a", "confidence": 0.5, "normalized_uri": mr + "Q1500"},
                {"source": "a", "confidence": 0.9, "normalized_uri": mr + "Q1501"},
                {"source": "a", "confidence": 0.2, "normalized_uri": None},
            ],
        ),
        _site(
            "site__2",
            score=0.8,
            modified_at=1,
            dts=[
                {"source": "b", "confidence": 0.7, "normalized_uri": mr + "Q1500"},
                {"source": "b", "confidence": 0.3, "normalized_uri": mr + "Q1502"},
            ],
        ),
    ]
    out = merge_group(rows[0]["dedup_site_id"], rows)
    dts = out["ranked_deposit_types"]
    assert [d["id"] for d in dts] == ["Q1501", "Q1500", "Q1502"]
    # Q1500 deduped to the higher-confidence mention (0.7 from site 2)
    q1500 = dts[1]
    assert q1500["confidence"] == 0.7 and q1500["refid"] == "site__2"
    assert out["top1_deposit_type"] == "Q1501"


def _inv_row(
    site_id,
    commodity,
    contained_metal=None,
    tonnage=None,
    grade=None,
    date=None,
    score=0.8,
    is_expert=False,
    modified_at=1,
):
    return {
        "site_id": site_id,
        "dedup_site_id": "dedup_x",
        "source_id": "src",
        "record_id": "r",
        "modified_at": modified_at,
        "score": score,
        "is_expert": is_expert,
        "commodity": commodity,
        "contained_metal": contained_metal,
        "tonnage": tonnage,
        "grade": grade,
        "date": date,
    }


def test_select_inventories_user_beats_system():
    rows = [
        _inv_row("site__sys", "Q1000", contained_metal=5.0, tonnage=100.0, score=0.8),
        # expert row with NO grade-tonnage still wins (lets users retract bad data)
        _inv_row("site__usr", "Q1000", score=1.0, is_expert=True),
    ]
    out = select_inventories_group("dedup_x", rows)
    assert len(out) == 1
    assert out[0]["site_id"] == "site__usr"
    assert out[0]["contained_metal"] is None


def test_select_inventories_gt_then_date_then_metal():
    rows = [
        _inv_row("s1", "Q1000", score=0.9),  # ranked first, no GT
        _inv_row("s2", "Q1000", contained_metal=1.0, date="2010", score=0.8),
        _inv_row("s3", "Q1000", contained_metal=9.0, date="2005", score=0.7),
        _inv_row("s4", "Q1001", contained_metal=2.0, score=0.6),
        _inv_row("s5", "Q1001", contained_metal=3.0, score=0.5),
    ]
    out = {r["commodity"]: r for r in select_inventories_group("dedup_x", rows)}
    # Q1000: GT beats no-GT (s2 over s1); then s3 replaces s2 via the
    # contained-metal fall-through (the newer-date check only short-circuits
    # when the challenger is newer — ref dedup_mineral_site.py:365-381)
    assert out["Q1000"]["site_id"] == "s3"
    # Q1001: no dates → higher contained metal wins
    assert out["Q1001"]["site_id"] == "s5"


def test_select_inventories_newer_date_beats_higher_metal():
    rows = [
        _inv_row("s1", "Q1000", contained_metal=9.0, date="2005", score=0.9),
        _inv_row("s2", "Q1000", contained_metal=1.0, date="2010", score=0.8),
    ]
    out = select_inventories_group("dedup_x", rows)
    assert out[0]["site_id"] == "s2"


def test_site_score_null_and_nan_source_default(spark):
    """Regression (round-3 landmine): NaN >= 0 is TRUE and
    least(NaN, 0.99) = 0.99 in Spark, so a NaN source_score reaching
    with_site_score would silently flip default-score system sites from
    0.5 to 0.99.  NULL and NaN must both fall back to the 0.5 default
    (ref minmodkg/config.py:28 DEFAULT_SOURCE_SCORE)."""
    from ta2_minmod_kg_spark.operators.dedup import with_site_score

    rows = [
        ("s1", SYS, None, 1),
        ("s2", SYS, float("nan"), 1),
        ("s3", SYS, 0.8, 1),
        ("s4", SYS, 1.5, 1),          # >0.99 clamps
        ("s5", SYS, -1.0, 1),         # negative → default
        ("s6", USR, float("nan"), 1), # expert always 1.0
    ]
    df = spark.createDataFrame(
        rows,
        schema="site_id string, created_by string, source_score double, "
        "modified_at bigint",
    )
    got = {
        r["site_id"]: (r["score"], r["is_expert"])
        for r in with_site_score(df).collect()
    }
    assert got == {
        "s1": (0.5, False),
        "s2": (0.5, False),
        "s3": (0.8, False),
        "s4": (0.99, False),
        "s5": (0.5, False),
        "s6": (1.0, True),
    }
