"""Deterministic identifier minting for the knowledge graph.

Clean-room reimplementation of the id scheme of the reference
(`/root/reference/minmodkg/transformations.py:15-216`).  These ids must be
**bit-identical** to the reference's: every downstream artifact (dedup id =
``"dedup_" + min(site_ids)``, sameAs triples, provenance refids) inherits
its determinism from them.

Plain-Python scalar functions, called inside the Arrow batch kernels
(never per-row Python UDFs) and by the tests.
"""

from __future__ import annotations

import functools
import hashlib
import re
import unicodedata

MR_NS = "https://minmod.isi.edu/resource/"
MO_NS = "https://minmod.isi.edu/ontology/"
MD_NS = "https://minmod.isi.edu/derived/"
USER_NS = "https://minmod.isi.edu/users/"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"

# -- slugify ---------------------------------------------------------------
# Matches python-slugify's default behavior (the library the reference uses;
# see /root/reference/minmodkg/transformations.py:9) for the character
# repertoire that appears in source ids / record ids: ascii-fold via NFKD,
# drop apostrophes, strip thousands-separator commas inside numbers,
# non-alphanumeric runs -> '-', collapse, strip.

_QUOTE_RE = re.compile(r"[']+")
_NUM_COMMA_RE = re.compile(r"(?<=\d),(?=\d)")
_DISALLOWED_RE = re.compile(r"[^-a-z0-9]+")
_DUP_DASH_RE = re.compile(r"-{2,}")


@functools.lru_cache(maxsize=8192)
def slugify(text: str) -> str:
    """Pure function of ``text`` — cached because the hot kernels
    (triple fan-out, id minting) re-slugify a small repertoire of
    usernames/source ids many times per row (r06; bounded cache, record
    ids that don't repeat just rotate through)."""
    text = unicodedata.normalize("NFKD", str(text))
    text = text.encode("ascii", "ignore").decode("ascii")
    text = _QUOTE_RE.sub("", text)
    text = _NUM_COMMA_RE.sub("", text)
    text = text.lower()
    text = _DISALLOWED_RE.sub("-", text)
    text = _DUP_DASH_RE.sub("-", text).strip("-")
    return text


def shorten_id(long_id: str, max_length: int = 120) -> str:
    # ref: transformations.py:209-216
    if len(long_id) > max_length:
        return (
            long_id[:max_length]
            + "__"
            + hashlib.sha256(long_id.encode()).hexdigest()[:8]
        )
    return long_id


def strip_source_scheme(source_id: str) -> str:
    # ref: transformations.py:106-114 (http/https strip + trailing slash)
    if source_id.startswith("http://"):
        source_id = source_id[7:]
        if source_id.endswith("/"):
            source_id = source_id[:-1]
    elif source_id.startswith("https://"):
        source_id = source_id[8:]
        if source_id.endswith("/"):
            source_id = source_id[:-1]
    return source_id


def make_site_id(username: str, source_id: str, record_id: str) -> str:
    # ref: transformations.py:102-120
    assert "::" not in source_id, source_id
    source_slug = slugify(strip_source_scheme(source_id))
    record_slug = slugify(str(record_id))
    path = shorten_id(f"{source_slug}__{record_slug}", 120) + f"__{username}"
    return f"site__{path}"


def is_valid_user_uri(uri: str) -> bool:
    return bool(re.match(r"^https://minmod\.isi\.edu/users/[sua]/[^/]+$", uri or ""))


def get_username(uri: str) -> str:
    # ref: models/kgrel/user.py:73-76
    if is_valid_user_uri(uri):
        return uri.rsplit("/", 1)[1]
    return uri


def is_system_user(created_by: str) -> bool:
    # ref: models/kgrel/user_extra.py:4-5
    return (created_by or "").startswith("https://minmod.isi.edu/users/s/")


def get_source_uri(source_id: str) -> str:
    # ref: transformations.py:55-56
    return MR_NS + "source__" + slugify(source_id)


def dedup_group_id(site_ids: list[str]) -> str:
    # ref: models/kgrel/mineral_site.py:331-333 — "dedup_" + min(site ids)
    return "dedup_" + min(site_ids)


def sameas_group_id(site_ids: list[str]) -> str:
    # ref: etl/same_as.py:383-385
    return "grp_" + min(site_ids)


# -- document / reference URIs ---------------------------------------------


def make_document_uri(doc: dict, site_id: str, namespace: str = MR_NS) -> str:
    # ref: transformations.py:154-170
    if "uri" in doc and doc["uri"] is not None:
        return doc["uri"]
    if "doi" in doc and doc["doi"] is not None:
        doi = doc["doi"]
        assert not (
            doi.startswith("https://")
            or doi.startswith("http://")
            or doi.startswith("doi:")
            or doi.startswith("/")
        )
        return "https://doi.org/" + doi
    if doc.get("title") is None:
        raise ValueError("Document must have a URI, DOI, or at least a title")
    path = site_id + "__doc__" + shorten_id(slugify(doc["title"]), 120)
    return f"{namespace}{path}"


def _pageinfo_enc_str(page_info: dict) -> str:
    # ref: models/kg/reference.py:133-175
    bb = page_info.get("bounding_box")
    page = page_info["page"]
    if bb is None:
        return str(page)
    return (
        f"PI:{page}|BB:{bb['x_max']:.3f}_{bb['x_min']:.3f}"
        f"_{bb['y_max']:.3f}_{bb['y_min']:.3f}"
    )


def make_reference_uri(ref: dict, doc_id: str, namespace: str = MR_NS) -> str:
    # ref: transformations.py:173-202
    page_infos = ref.get("page_info") or []
    if len(page_infos) > 0:
        pageinfo_id = hashlib.sha256(
            b"|".join(_pageinfo_enc_str(pi).encode() for pi in page_infos)
        ).hexdigest()[:16]
    else:
        pageinfo_id = ""

    if ref.get("property") is not None:
        prop = ref["property"]
        if prop.startswith(MO_NS):
            prop = prop[len(MO_NS) :]
        elif prop.startswith(RDFS_NS):
            prop = f"rdfs_{prop[len(RDFS_NS):]}"
        else:
            raise NotImplementedError(prop)
    else:
        prop = ""

    constraintinfo = prop + "_" + pageinfo_id
    if len(constraintinfo) == 1:
        return namespace + doc_id + "__ref"
    return namespace + doc_id + "__ref__" + shorten_id(slugify(constraintinfo), 120)


def doc_uri_to_slug(doc_uri: str, namespace: str = MR_NS) -> str:
    # ref: transformations.py:88-95
    docid = doc_uri
    if docid.startswith(namespace):
        docid = docid[len(namespace) :]
    elif docid.startswith("https://"):
        docid = docid[8:]
    elif docid.startswith("http://"):
        docid = docid[7:]
    return slugify(docid)
