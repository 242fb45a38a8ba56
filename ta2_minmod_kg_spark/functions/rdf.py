"""Schema-driven triple generation (SURVEY §2.2 P9).

Clean-room reimplementation of the reference's KG export
(`minmodkg/libraries/rdf/rdf_model.py:214-266` via
`minmodkg/etl/mineral_site.py:473-486`): one mineral-site record fans out
into N ``(subj, pred, obj)`` rows in relative-prefixed N3 text form.

One deliberate improvement over the reference: nested nodes (candidate
entities, measures, inventories, …) get **deterministic ids** following the
reference's own `make_site_ids` suffix scheme
(`minmodkg/transformations.py:15-99`) instead of the per-run ``uuid4`` the
reference's ``RDFModel.to_triples`` mints for key-less subjects.  Those
uuid nodes are semantically blank nodes, so P/R comparison canonicalizes
nested ids on both sides (see tests/test_triples.py); determinism is what
makes our output restart-stable and diffable for incremental sync.

Field coverage matches the reference's emitted set exactly
(`MineralSite.from_kgrel` → ``to_kg().to_triples()``: *no*
mineral_form/geology_info/discovered_year in the KG export); pass
``include_extra=True`` to also emit those for the full-fidelity graph.

Everything here is plain Python over dicts — it runs inside Arrow batches
(``mapInPandas``), never per-row UDFs.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone
from typing import Optional

from .ids import (
    MO_NS,
    MR_NS,
    doc_uri_to_slug,
    get_username,
    make_document_uri,
    make_reference_uri,
    make_site_id,
    slugify,
)

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "rdf:type"

PREFIXES = {
    "mr": MR_NS,
    "mo": MO_NS,
    "md": "https://minmod.isi.edu/derived/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": XSD,
    "owl": "http://www.w3.org/2002/07/owl#",
    "geo": "http://www.opengis.net/ont/geosparql#",
    "gkbi": "https://geokb.wikibase.cloud/entity/",
    "gkbt": "https://geokb.wikibase.cloud/prop/direct/",
    "dcterms": "http://purl.org/dc/terms/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
}

PREFIX_PART = "".join(f"@prefix {p}: <{ns}> .\n" for p, ns in PREFIXES.items())

_ESCAPES = {
    "\\": "\\\\",
    '"': '\\"',
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
}

# Byte-identical fast path for the former per-char join, which profiled
# at 46% of site_to_triples (r06): almost no literal contains an
# escapable char, so a C-speed regex containment check returns the
# string untouched, and the rare hit pays one C-speed translate.
_ESCAPE_TABLE = str.maketrans(_ESCAPES)
_NEEDS_ESCAPE_RE = re.compile(r'["\\\n\r\t]')


def escape_literal(s: str) -> str:
    if _NEEDS_ESCAPE_RE.search(s) is None:
        return s
    return s.translate(_ESCAPE_TABLE)


def lit_str(v) -> str:
    return f'"{escape_literal(str(v))}"'


def lit_int(v) -> str:
    return f'"{int(v)}"^^xsd:integer'


def lit_decimal(v) -> str:
    if isinstance(v, int):
        return f'"{v}"^^xsd:decimal'
    return f'"{v!r}"^^xsd:decimal'


def mr(local: str) -> str:
    return f"mr:{local}"


def uri(u: str) -> str:
    return f"<{u}>"


def format_nanoseconds(ns: int) -> str:
    return datetime.fromtimestamp(ns / 1e9, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )


def _candidate_entity_triples(out, node: str, ce: dict):
    out.append((node, RDF_TYPE, "mo:CandidateEntity"))
    if ce.get("source") is not None:
        out.append((node, "mo:source", lit_str(ce["source"])))
    if ce.get("confidence") is not None:
        out.append((node, "mo:confidence", lit_decimal(ce["confidence"])))
    if ce.get("observed_name") is not None:
        out.append((node, "mo:observed_name", lit_str(ce["observed_name"])))
    if ce.get("normalized_uri") is not None:
        out.append((node, "mo:normalized_uri", uri(ce["normalized_uri"])))


def _measure_triples(out, node_id: str, m: dict):
    node = mr(node_id)
    out.append((node, RDF_TYPE, "mo:Measure"))
    if m.get("value") is not None:
        out.append((node, "mo:value", lit_decimal(m["value"])))
    if m.get("unit") is not None:
        unit_node = mr(node_id + "__unit")
        out.append((node, "mo:unit", unit_node))
        _candidate_entity_triples(out, unit_node, m["unit"])
    return node


def _reference_triples(out, site_pref: str, ref: dict) -> str:
    """Emit one Reference (+Document +PageInfo) and return its node term."""
    doc = ref.get("document") or {}
    doc_uri = make_document_uri(doc, site_pref)
    ref_uri = make_reference_uri(ref, doc_uri_to_slug(doc_uri), MR_NS)
    ref_id = ref_uri[len(MR_NS) :]
    node = mr(ref_id)

    out.append((node, RDF_TYPE, "mo:Reference"))
    # document node is an absolute URI subject (ref: Document.__subj__ uses a
    # no-rel namespace — reference.py:17)
    doc_node = uri(doc_uri)
    out.append((node, "mo:document", doc_node))
    out.append((doc_node, RDF_TYPE, "mo:Document"))
    if doc.get("doi") is not None:
        out.append((doc_node, "mo:doi", lit_str(doc["doi"])))
    if doc.get("uri") is not None:
        out.append((doc_node, "mo:uri", lit_str(doc["uri"])))
    if doc.get("title") is not None:
        out.append((doc_node, "mo:title", lit_str(doc["title"])))

    for i, pi in enumerate(ref.get("page_info") or []):
        pi_id = f"{ref_id}__pageinfo__{i}"
        pi_node = mr(pi_id)
        out.append((node, "mo:page_info", pi_node))
        out.append((pi_node, RDF_TYPE, "mo:PageInfo"))
        if pi.get("page") is not None:
            out.append((pi_node, "mo:page", lit_int(pi["page"])))
        bb = pi.get("bounding_box")
        if bb is not None:
            bb_node = mr(pi_id + "__bb")
            out.append((pi_node, "mo:bounding_box", bb_node))
            out.append((bb_node, RDF_TYPE, "mo:BoundingBox"))
            for k in ("x_min", "x_max", "y_min", "y_max"):
                if bb.get(k) is not None:
                    out.append((bb_node, f"mo:{k}", lit_decimal(bb[k])))
    if ref.get("comment") is not None:
        out.append((node, "mo:comment", lit_str(ref["comment"])))
    if ref.get("property") is not None:
        out.append((node, "mo:property", lit_str(ref["property"])))
    return node


def site_to_triples(
    site: dict, include_extra: bool = False
) -> tuple[str, list[tuple[str, str, str]]]:
    """Fan one raw mineral-site dict into its triple list.

    Returns ``(site_internal_id, [(subj, pred, obj), ...])`` in N3 text form.
    """
    username = get_username(site["created_by"])
    site_id = make_site_id(username, site["source_id"], str(site["record_id"]))
    # nested-node prefix (ref transformations.py:22)
    pref = site_id + "__user_" + slugify(username) + "__"
    subj = mr(site_id)

    out: list[tuple[str, str, str]] = [(subj, RDF_TYPE, "mo:MineralSite")]
    out.append((subj, "mo:source_id", lit_str(site["source_id"])))
    out.append((subj, "mo:record_id", lit_str(str(site["record_id"]))))
    out.append((subj, "mo:created_by", lit_str(site["created_by"])))
    if site.get("name") is not None:
        out.append((subj, "rdfs:label", lit_str(site["name"])))
    for alias in site.get("aliases") or []:
        out.append((subj, "mo:aliases", lit_str(alias)))
    if site.get("site_rank") is not None:
        out.append((subj, "mo:site_rank", lit_str(site["site_rank"])))
    if site.get("site_type") is not None:
        out.append((subj, "mo:site_type", lit_str(site["site_type"])))
    if site.get("modified_at") is not None:
        # the stored string verbatim — MineralSite.modified_at is a plain
        # str dataprop (models/kg/mineral_site.py:93-95), so to_triples
        # emits it unchanged; only the kgrel export path (from_kgrel →
        # to_kg) roundtrips through int64 ns and re-formats with .%f
        out.append((subj, "mo:modified_at", lit_str(site["modified_at"])))

    loc = site.get("location_info")
    if loc is not None:
        loc_node = mr(pref + "__location_info")
        out.append((subj, "mo:location_info", loc_node))
        out.append((loc_node, RDF_TYPE, "mo:LocationInfo"))
        for i, ce in enumerate(loc.get("country") or []):
            n = mr(pref + f"__country__{i}")
            out.append((loc_node, "mo:country", n))
            _candidate_entity_triples(out, n, ce)
        for i, ce in enumerate(loc.get("state_or_province") or []):
            n = mr(pref + f"__state__{i}")
            out.append((loc_node, "mo:state_or_province", n))
            _candidate_entity_triples(out, n, ce)
        if loc.get("crs") is not None:
            n = mr(pref + "__crs")
            out.append((loc_node, "mo:crs", n))
            _candidate_entity_triples(out, n, loc["crs"])
        if loc.get("location") is not None:
            out.append((loc_node, "mo:location", lit_str(loc["location"])))

    for i, ce in enumerate(site.get("deposit_type_candidate") or []):
        n = mr(pref + f"__deptype__{i}")
        out.append((subj, "mo:deposit_type_candidate", n))
        _candidate_entity_triples(out, n, ce)

    for i, inv in enumerate(site.get("mineral_inventory") or []):
        inv_id = f"{pref}__inv__{i}"
        inv_node = mr(inv_id)
        out.append((subj, "mo:mineral_inventory", inv_node))
        out.append((inv_node, RDF_TYPE, "mo:MineralInventory"))
        if inv.get("commodity") is not None:
            n = mr(inv_id + "__commodity")
            out.append((inv_node, "mo:commodity", n))
            _candidate_entity_triples(out, n, inv["commodity"])
        if inv.get("reference") is not None:
            ref_node = _reference_triples(out, pref, inv["reference"])
            out.append((inv_node, "mo:reference", ref_node))
        if inv.get("date") is not None:
            out.append((inv_node, "mo:date", lit_str(inv["date"])))
        for j, ce in enumerate(inv.get("category") or []):
            n = mr(f"{inv_id}__cat__{j}")
            out.append((inv_node, "mo:category", n))
            _candidate_entity_triples(out, n, ce)
        for key in ("grade", "cutoff_grade", "ore"):
            if inv.get(key) is not None:
                m_node = _measure_triples(out, f"{inv_id}__{key}", inv[key])
                out.append((inv_node, f"mo:{key}", m_node))
        if inv.get("material_form") is not None:
            n = mr(inv_id + "__material_form")
            out.append((inv_node, "mo:material_form", n))
            _candidate_entity_triples(out, n, inv["material_form"])
        if inv.get("zone") is not None:
            out.append((inv_node, "mo:zone", lit_str(inv["zone"])))

    for ref in site.get("reference") or []:
        ref_node = _reference_triples(out, pref, ref)
        out.append((subj, "mo:reference", ref_node))

    if include_extra:
        for mf in site.get("mineral_form") or []:
            out.append((subj, "mo:mineral_form", lit_str(mf)))
        if site.get("discovered_year") is not None:
            out.append((subj, "mo:discovered_year", lit_int(site["discovered_year"])))
        geo = site.get("geology_info")
        if geo is not None:
            g_node = mr(pref + "__geology")
            out.append((subj, "mo:geology_info", g_node))
            out.append((g_node, RDF_TYPE, "mo:GeologyInfo"))
            for k in (
                "alteration",
                "concentration_process",
                "ore_control",
                "structure",
                "tectonic",
            ):
                if geo.get(k) is not None:
                    out.append((g_node, f"mo:{k}", lit_str(geo[k])))
            for k in ("host_rock", "associated_rock"):
                rock = geo.get(k)
                if rock is not None:
                    r_node = mr(pref + f"__geology__{k}")
                    out.append((g_node, f"mo:{k}", r_node))
                    out.append((r_node, RDF_TYPE, "mo:RockType"))
                    if rock.get("unit") is not None:
                        out.append((r_node, "mo:unit", lit_str(rock["unit"])))
                    if rock.get("type") is not None:
                        out.append((r_node, "mo:type", lit_str(rock["type"])))

    return site_id, out


def triples_to_ttl(triples, header: bool = True) -> str:
    """Format (subj, pred, obj) rows as the reference's Turtle text
    (`minmodkg/etl/mineral_site.py:479-486`: '<s> <p> <o>. ' lines)."""
    parts = [PREFIX_PART, "\n"] if header else []
    for s, p, o in triples:
        parts.append(f"{s} {p} {o}. \n")
    return "".join(parts)


def precision_recall(
    mine: list[tuple[str, str, str]],
    oracle: list[tuple[str, str, str]],
) -> dict:
    """Triple-set P/R after nested-node canonicalization (the BASELINE.md
    gate shape: P/R ≥ 0.95 against the reference's emitted set, with
    uuid-minted nested subjects treated as blank nodes on both sides)."""
    a = canonicalize_nested(mine)
    b = canonicalize_nested(oracle)
    inter = len(a & b)
    return {
        "precision": inter / len(a) if a else 1.0,
        "recall": inter / len(b) if b else 1.0,
        "mine": len(a),
        "oracle": len(b),
        "common": inter,
    }


def canonicalize_nested(
    triples: list[tuple[str, str, str]],
) -> set[tuple[str, str, str]]:
    """Rewrite nested-node ids to structural labels for P/R comparison.

    Nested subjects in the reference are uuid-minted (blank-node
    semantics); we relabel every non-root ``mr:`` node by the sorted set of
    its outgoing (pred, literal/ref obj) pairs so two graphs match iff they
    are structurally identical.
    """
    from collections import defaultdict

    outgoing = defaultdict(list)
    for s, p, o in triples:
        outgoing[s].append((p, o))

    roots = {s for s, p, o in triples if (p, "mo:MineralSite") == (RDF_TYPE, o)}

    def label(node: str, depth: int = 0) -> str:
        # relabel ANY non-root node that has outgoing edges: besides the
        # reference's uuid-minted mr: nested nodes, its uri-less Document
        # subjects render as '<None>' (Subject key="uri" on a None uri)
        # where this engine mints a deterministic doc id — pure naming,
        # so both sides compare by structure
        if node in roots or depth > 6 or (
            not node.startswith("mr:") and node not in outgoing
        ):
            return node
        # signature over the SET of outgoing pairs (bisimulation): the
        # reference's to_triples mints a fresh uuid node per object
        # instance and re-emits shared children per parent, while our
        # deterministic ids merge identical-content nodes — duplicate
        # (pred, obj) edges must not distinguish structurally equal nodes
        sig = sorted(
            {
                (p, label(o, depth + 1) if o in outgoing else o)
                for p, o in outgoing[node]
            }
        )
        return "_:" + str(hash(tuple(sig)))

    return {
        (label(s), p, label(o) if o in outgoing else o) for s, p, o in triples
    }
