"""StructType constants for every table in the engine (SURVEY §1.3).

Schemas are declared, never inferred: ``spark.read.schema(...)`` and the
document kernels' output schemas, so a malformed document lands in a
violations table instead of poisoning inference, and so the parquet scans
prune columns.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)


def _s(name, dt, nullable=True):
    return StructField(name, dt, nullable)


# -- ingest table (BASELINE.json input_hint): one source-code-repo row per
#    record; `content` is a JSON mineral-site document -----------------------
INGEST = StructType(
    [
        _s("repo", StringType(), False),
        _s("path", StringType(), False),
        _s("commit", StringType(), False),
        _s("lang", StringType(), False),
        _s("content", StringType(), False),
    ]
)

# -- nested raw mineral-site record (ref: minmodkg/models/kg/*.py) ----------
CANDIDATE_ENTITY = StructType(
    [
        _s("source", StringType()),
        _s("confidence", DoubleType()),
        _s("observed_name", StringType()),
        _s("normalized_uri", StringType()),
    ]
)

MEASURE = StructType(
    [
        _s("value", DoubleType()),
        _s("unit", CANDIDATE_ENTITY),
    ]
)

BOUNDING_BOX = StructType(
    [
        _s("x_min", DoubleType()),
        _s("x_max", DoubleType()),
        _s("y_min", DoubleType()),
        _s("y_max", DoubleType()),
    ]
)

PAGE_INFO = StructType(
    [
        _s("page", IntegerType()),
        _s("bounding_box", BOUNDING_BOX),
    ]
)

DOCUMENT = StructType(
    [
        _s("doi", StringType()),
        _s("uri", StringType()),
        _s("title", StringType()),
    ]
)

REFERENCE = StructType(
    [
        _s("document", DOCUMENT),
        _s("page_info", ArrayType(PAGE_INFO)),
        _s("comment", StringType()),
        _s("property", StringType()),
    ]
)

MINERAL_INVENTORY = StructType(
    [
        _s("commodity", CANDIDATE_ENTITY),
        _s("reference", REFERENCE),
        _s("date", StringType()),  # YYYY[-MM[-DD]] kept as string (sortable)
        _s("category", ArrayType(CANDIDATE_ENTITY)),
        _s("grade", MEASURE),
        _s("cutoff_grade", MEASURE),
        _s("material_form", CANDIDATE_ENTITY),
        _s("ore", MEASURE),
        _s("zone", StringType()),
    ]
)

ROCK_TYPE = StructType([_s("unit", StringType()), _s("type", StringType())])

GEOLOGY_INFO = StructType(
    [
        _s("alteration", StringType()),
        _s("concentration_process", StringType()),
        _s("ore_control", StringType()),
        _s("host_rock", ROCK_TYPE),
        _s("associated_rock", ROCK_TYPE),
        _s("structure", StringType()),
        _s("tectonic", StringType()),
    ]
)

# -- triples table -----------------------------------------------------------
TRIPLE = StructType(
    [
        _s("subj", StringType(), False),
        _s("pred", StringType(), False),
        _s("obj", StringType(), False),
        _s("site_id", StringType()),  # lineage: minting site (partition key)
    ]
)

# -- relational site row (ref: minmodkg/models/kgrel/mineral_site.py:155-186)
SITE_REL = StructType(
    [
        _s("site_id", StringType(), False),
        _s("dedup_site_id", StringType()),
        _s("source_id", StringType(), False),
        _s("source_score", DoubleType()),
        _s("record_id", StringType(), False),
        _s("name", StringType()),
        _s("aliases", ArrayType(StringType())),
        _s("rank", StringType()),
        _s("type", StringType()),
        _s("location_wkt", StringType()),
        _s("location_crs", CANDIDATE_ENTITY),
        _s("lat", DoubleType()),
        _s("lon", DoubleType()),
        _s("country", ArrayType(StringType())),  # internal ids (Q###)
        _s("state_or_province", ArrayType(StringType())),
        # raw candidates kept for K2 export fidelity (kgrel Location keeps them)
        _s("country_candidates", ArrayType(CANDIDATE_ENTITY)),
        _s("state_candidates", ArrayType(CANDIDATE_ENTITY)),
        _s("deposit_type_candidates", ArrayType(CANDIDATE_ENTITY)),
        _s("inventories", ArrayType(MINERAL_INVENTORY)),
        _s("reference", ArrayType(REFERENCE)),
        _s("mineral_form", ArrayType(StringType())),
        _s("geology_info", GEOLOGY_INFO),
        _s("discovered_year", IntegerType()),
        _s("created_by", StringType(), False),
        _s("modified_at", LongType(), False),  # nanoseconds
        _s("content_sha256", StringType(), False),  # per-row invariant
        _s("repo", StringType()),
        _s("path", StringType()),
    ]
)

# -- the sites_rel stage's quarantine tables (``bucket`` is their hive
#    directory): rejected documents, and out-of-vocabulary URIs of valid ones
VIOLATION = StructType(
    [
        _s("repo", StringType()),
        _s("path", StringType()),
        _s("commit", StringType()),
        _s("content_sha256", StringType()),
        _s("violation_reason", StringType()),  # constrained field path | 'structural'
    ]
)
VOCAB_VIOLATION = StructType(
    [
        _s("repo", StringType()),
        _s("path", StringType()),
        _s("field", StringType()),
        _s("uri", StringType()),
    ]
)

# -- inventory views (ref: kgrel/views/mineral_inventory_view.py) ------------
INV_VIEW = StructType(
    [
        _s("site_id", StringType(), False),
        _s("commodity", StringType(), False),
        _s("contained_metal", DoubleType()),
        _s("tonnage", DoubleType()),
        _s("grade", DoubleType()),
        _s("date", StringType()),
    ]
)

# -- same-as edges ------------------------------------------------------------
EDGE = StructType([_s("ms_1", StringType(), False), _s("ms_2", StringType(), False)])
CURATED_EDGE = StructType(
    [
        _s("ms_1", StringType(), False),
        _s("ms_2", StringType(), False),
        _s("time_ns", LongType(), False),
        _s("is_same", IntegerType(), False),
    ]
)

# -- event log (ref: kgrel/event.py:13-21) ------------------------------------
EVENT_LOG = StructType(
    [
        _s("id", LongType(), False),
        _s("type", StringType(), False),  # site:add | site:update | same-as:update
        _s("data", StringType(), False),  # JSON payload
        _s("kg_synced", StringType()),
        _s("timestamp", LongType(), False),
    ]
)

# -- multimodal asset table (training-data pipeline surface) ------------------
ASSET = StructType(
    [
        _s("asset_id", StringType(), False),
        _s("kind", StringType(), False),  # image | audio | video
        _s("payload", BinaryType()),
        _s("meta", MapType(StringType(), StringType())),
    ]
)
