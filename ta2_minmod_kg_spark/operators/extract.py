"""Ingest → normalized sites + triples (SURVEY §2.2 P1-P9, §2.1 S1/K1).

Front door: the ingest table ``(repo, path, commit, lang, content)``.

- ``with_lineage``      — per-row ``sha256(content)`` (JVM ``sha2``), the
                          invariant carried through every downstream table.
- ``parse_sites``       — ``from_json`` with the declared schema (JVM parse,
                          no inference).
- ``split_violations``  — the ok / violations split by the record-validity
                          rule (``constrained.site_record_error``).
- ``site_rows``         — the ``sites_rel`` kernel: every document
                          validated, normalized into its relational site
                          row (ref `kgrel/mineral_site.py:198-244`) and
                          vocabulary-checked in one ``mapInPandas`` parse.
- ``normalize_sites``   — the valid rows of ``site_rows``, as SITE_REL.
- ``extract_triples``   — ``mapInArrow`` fan-out of each valid record into
                          its (subj, pred, obj) rows.
- ``explode_inventories`` — per-inventory rows, the input of the
                          explode→groupBy grade-tonnage parity reference.

Scale notes: the only shuffle in this module is the optional repartition at
write; parsing/minting/fan-out are map-side.  Filters/projections stay on
columns so the parquet scan prunes (``PushedFilters`` visible in explain).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.arrowkit import chunked_kernel
from ..functions.ids import MR_NS, get_username, make_site_id
from ..functions.rdf import site_to_triples
from ..schemas import INGEST, RAW_SITE, SITE_REL, TRIPLE
from .constrained import path_ok, site_error_udf, site_record_error
from .validation import allowed_uri_sets, record_vocab_violations

# ---------------------------------------------------------------------------


def read_ingest(spark, path: str) -> DataFrame:
    return spark.read.schema(INGEST).parquet(path)


def with_lineage(ingest: DataFrame) -> DataFrame:
    """content_sha256 = sha256(content) — computed JVM-side once, carried as
    the per-row invariant (BASELINE.md)."""
    return ingest.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def parse_sites(ingest: DataFrame) -> DataFrame:
    """Schema-on-read JSON parse (S1).  Malformed/ill-typed documents yield
    NULL required fields; split them into a violations side-table with
    ``split_violations``."""
    return with_lineage(ingest).withColumn(
        "site", F.from_json(F.col("content"), RAW_SITE)
    )


def split_violations(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P5/P6 validation: ``(ok, violations)``.

    Every row is tagged with ``constrained.site_record_error(path,
    content)`` — the filename charset rule, the structural rules
    (required idents, exactly one site-level reference — ref
    validators.py:44-54) and the reference's constrained-type tree
    (CleanedNotEmptyStr, confidence ∈ [0,1], URL-valid IRIs, numeric
    measures — oracle-tested against the reference's executed
    deserializer) — in one Arrow UDF parse.  The bad side carries a
    ``violation_reason`` column: the failing field path, or 'structural'.
    No ``site.*`` access, so Catalyst prunes ``from_json`` out of the plan.
    """
    tagged = parsed.withColumn(
        "violation_reason", site_error_udf(F.col("path"), F.col("content"))
    )
    return (
        tagged.filter(F.col("violation_reason").isNull()).drop(
            "violation_reason"
        ),
        tagged.filter(F.col("violation_reason").isNotNull()),
    )


# -- Arrow-vectorized kernels -------------------------------------------------


_POINT_RE = re.compile(
    r"^\s*POINT\s*\(\s*([-+0-9.eEnana]+)\s+([-+0-9.eEnan]+)\s*\)\s*$", re.I
)

try:  # full WKT support when shapely/pyproj are present (not in this sandbox)
    import shapely.wkt as _shapely_wkt  # pragma: no cover

    _HAVE_SHAPELY = True
except Exception:
    _HAVE_SHAPELY = False


def _wkt_centroid(wkt: str | None, crs_name: str | None) -> tuple[float | None, float | None]:
    """Centroid in EPSG:4326 (ref kgrel/custom_types/location.py:115-150).

    POINT is handled natively; projected-CRS points reproject inline via
    the pure-math transforms in functions/geo.py — the reference's own
    crs.csv vocabulary (4326, 4267, 3857, NAD83 UTM 269xx, Oregon
    Lambert 2994) plus all WGS84 UTM zones.  Richer geometries use
    shapely when available.  An unsupported CRS → (None, None) here, AND
    the record is surfaced in the vocab_violations table by
    ``validation.record_vocab_violations`` — never a silent drop.
    """
    from ..functions import geo as _geo

    if wkt is None or "nan" in wkt.lower():
        return None, None
    crs = crs_name or "EPSG:4326"
    m = _POINT_RE.match(wkt)
    if m:
        try:
            x, y = float(m.group(1)), float(m.group(2))
        except ValueError:
            return None, None
        if math.isnan(x) or math.isnan(y):
            return None, None
        if crs == "EPSG:4326":
            return y, x
        if _geo.is_supported_crs(crs):
            lon, lat = _geo.point_to_wgs84(x, y, crs)
            return lat, lon
        return None, None
    if _HAVE_SHAPELY:  # pragma: no cover
        try:
            c = _shapely_wkt.loads(wkt).centroid
            if crs == "EPSG:4326":
                return c.y, c.x
            if _geo.is_supported_crs(crs):
                lon, lat = _geo.point_to_wgs84(c.x, c.y, crs)
                return lat, lon
        except Exception:
            return None, None
    return None, None


SITE_REL_COLS = [f.name for f in SITE_REL.fields]


# the ingest columns every ``site_rows`` row carries through unchanged
SITE_ROW_KEYS = ["repo", "path", "commit", "content_sha256"]
_SITE_VALUE_COLS = [c for c in SITE_REL_COLS if c not in SITE_ROW_KEYS]

_VOCAB_VIOLATIONS = ArrayType(
    StructType([StructField("field", StringType()), StructField("uri", StringType())])
)


def _site_rows_schema(carry_bucket: bool) -> StructType:
    rel = {f.name: f.dataType for f in SITE_REL.fields}
    return StructType(
        [StructField(c, StringType()) for c in SITE_ROW_KEYS]
        + ([StructField("bucket", IntegerType())] if carry_bucket else [])
        + [StructField("violation_reason", StringType())]
        + [StructField(c, rel[c]) for c in _SITE_VALUE_COLS]
        + [StructField("vocab_violations", _VOCAB_VIOLATIONS)]
    )


def _coerce_numbers(site: dict) -> None:
    """In place: the nested numeric leaves the constrained tree accepts as
    strings (float-parseable measure values and bounding-box coordinates,
    int strings / integral floats for pages) become the numbers the
    reference's deserializer makes of them (deserializer.py:59-70,
    92-100).  Both kernels apply it to a valid record: Arrow does not
    convert a str inside a struct, and the reference-URI encoding formats
    pages and boxes as numbers, so without it such a record would fail
    the whole task.  (A top-level ``discovered_year`` string is cast by
    the Arrow conversion itself.)"""

    def refs(rs):
        for r in rs:
            for pi in r.get("page_info") or ():
                if type(pi["page"]) is not int:
                    pi["page"] = int(pi["page"])
                bb = pi.get("bounding_box")
                if bb is not None:
                    for k in ("x_min", "x_max", "y_min", "y_max"):
                        if isinstance(bb[k], str):
                            bb[k] = float(bb[k])

    refs(site["reference"])
    for inv in site.get("mineral_inventory") or ():
        for k in ("grade", "cutoff_grade", "ore"):
            m = inv.get(k)
            if m is not None and isinstance(m.get("value"), str):
                m["value"] = float(m["value"])
        refs((inv["reference"],))


def _site_rows_fn(
    crs_names: dict, source_scores: dict, allowed: dict, carry_bucket: bool
):
    """The ``sites_rel`` kernel: validate, normalize and vocab-check each
    document from ONE ``json.loads`` (inside ``site_record_error``).

    Every input row gives exactly one output row: the key columns carried
    through, ``violation_reason`` (None when valid), the SITE_REL columns
    (null on rejects) and ``vocab_violations`` (the
    ``validation.record_vocab_violations`` rows of a valid record).  A
    column-expression formulation would pay N partial JSON parses per row
    (Catalyst inlines ``from_json`` into each projected field — 9 parses
    in the measured plan, ~2 ms/row); this kernel is one parse.  The
    crs-name, source-score and vocabulary-membership lookups ride along
    as tiny closure dicts — the reference's own broadcast-dict pattern
    (`services/kgrel_entity.py:57-75`).

    Output columns are built as per-column lists (dict-of-lists →
    pandas), not a list of per-row dicts — the row-dict construction plus
    pandas' per-record inference was ~40% of the kernel's CPU at 2k-row
    chunks.
    """
    from datetime import datetime

    keys = SITE_ROW_KEYS + (["bucket"] if carry_bucket else [])
    out_cols = [f.name for f in _site_rows_schema(carry_bucket).fields]

    def parse_ns(s: str) -> int:
        if s.endswith("Z"):
            s = s[:-1] + "+00:00"
        # same float path as the reference (misc/utils.py:166-171)
        return int(datetime.fromisoformat(s).timestamp() * 1e9)

    def norm_ids(entities):
        return [
            e["normalized_uri"][len(MR_NS):]
            if e["normalized_uri"].startswith(MR_NS)
            else e["normalized_uri"]
            for e in (entities or [])
            if e.get("normalized_uri") is not None
        ]

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        cols: dict[str, list] = {c: [] for c in _SITE_VALUE_COLS}
        ap_site_id = cols["site_id"].append
        ap_dedup = cols["dedup_site_id"].append
        ap_source_id = cols["source_id"].append
        ap_source_score = cols["source_score"].append
        ap_record_id = cols["record_id"].append
        ap_name = cols["name"].append
        ap_aliases = cols["aliases"].append
        ap_rank = cols["rank"].append
        ap_type = cols["type"].append
        ap_loc_wkt = cols["location_wkt"].append
        ap_loc_crs = cols["location_crs"].append
        ap_lat = cols["lat"].append
        ap_lon = cols["lon"].append
        ap_country = cols["country"].append
        ap_state = cols["state_or_province"].append
        ap_country_cand = cols["country_candidates"].append
        ap_state_cand = cols["state_candidates"].append
        ap_dt_cand = cols["deposit_type_candidates"].append
        ap_inventories = cols["inventories"].append
        ap_reference = cols["reference"].append
        ap_mineral_form = cols["mineral_form"].append
        ap_geology = cols["geology_info"].append
        ap_discovered = cols["discovered_year"].append
        ap_created_by = cols["created_by"].append
        ap_modified = cols["modified_at"].append
        reject_aps = [c.append for c in cols.values()]
        reasons: list = []
        vocab_vio: list = []
        for path, content in zip(pdf["path"], pdf["content"]):
            err, site = site_record_error(path, content)
            reasons.append(err)
            if err is not None:
                for ap in reject_aps:
                    ap(None)
                vocab_vio.append(None)
                continue
            _coerce_numbers(site)
            username = get_username(site["created_by"])
            site_id = make_site_id(
                username, site["source_id"], str(site["record_id"])
            )
            loc = site.get("location_info") or {}
            crs_uri = (loc.get("crs") or {}).get("normalized_uri")
            crs_name = crs_names.get(
                crs_uri, "EPSG:4326" if crs_uri is None else None
            )
            lat, lon = _wkt_centroid(loc.get("location"), crs_name)
            ap_site_id(site_id)
            ap_dedup(None)
            ap_source_id(site["source_id"])
            ap_source_score(source_scores.get(site["source_id"]))
            ap_record_id(str(site["record_id"]))
            ap_name(site.get("name"))
            ap_aliases(site.get("aliases") or [])
            ap_rank(site.get("site_rank"))
            ap_type(site.get("site_type"))
            ap_loc_wkt(loc.get("location"))
            ap_loc_crs(loc.get("crs"))
            ap_lat(lat)
            ap_lon(lon)
            ap_country(norm_ids(loc.get("country")))
            ap_state(norm_ids(loc.get("state_or_province")))
            ap_country_cand(loc.get("country") or [])
            ap_state_cand(loc.get("state_or_province") or [])
            ap_dt_cand(site.get("deposit_type_candidate") or [])
            ap_inventories(site.get("mineral_inventory") or [])
            ap_reference(site.get("reference") or [])
            ap_mineral_form(site.get("mineral_form") or [])
            ap_geology(site.get("geology_info"))
            ap_discovered(site.get("discovered_year"))
            ap_created_by(site["created_by"])
            ap_modified(parse_ns(site["modified_at"]))
            vocab_vio.append(record_vocab_violations(site, allowed, crs_names))
        # one output row per input row: the keys pass straight through
        out = {k: pdf[k].to_numpy() for k in keys}
        out["violation_reason"] = reasons
        out.update(cols)
        out["vocab_violations"] = vocab_vio
        return pd.DataFrame(out, columns=out_cols)

    # bounded chunks + paused cyclic GC: whole-batch dict construction is
    # superlinear in task size (functions/arrowkit.py docstring has the
    # measurements — 5.5x wall at one task-size doubling)
    return chunked_kernel(per_chunk)


def site_rows(parsed: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """P2+P3+P5-P7 in ONE Arrow pass: one row per document of ``parsed``
    (a ``with_lineage`` / ``parse_sites`` frame) with its keys (``repo,
    path, commit, content_sha256`` and ``bucket`` when present),
    ``violation_reason``, the SITE_REL columns (null on rejects) and
    ``vocab_violations array<struct<field, uri>>``.

    One python pass and one ``json.loads`` per document (guide §4: cross
    the boundary once, do everything per batch); no ``content`` column
    leaves the kernel.  The crs, data-source and membership vocabularies
    collapse to driver dicts (they are broadcast-dim sized by definition)
    and ship in the task closure.  The pipeline persists this frame once
    and splits it into ``violations``, ``vocab_violations`` and
    ``sites_rel`` (plans/pipeline.py ``split_site_rows``).
    """
    crs_names = {
        MR_NS + r["minmod_id"]: r["name"] for r in vocab["crs"].collect()
    }
    source_scores = {
        r["uri"]: (float(r["score"]) if r["score"] is not None else None)
        for r in vocab["data_source"].collect()
    }
    carry = "bucket" in parsed.columns
    keys = SITE_ROW_KEYS + (["bucket"] if carry else [])
    return parsed.select(*keys, "content").mapInPandas(
        _site_rows_fn(crs_names, source_scores, allowed_uri_sets(vocab), carry),
        schema=_site_rows_schema(carry),
    )


def normalize_sites(parsed: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """P2+P3: the relational site row (SITE_REL schema) of every valid
    record in ``parsed`` — the valid rows of ``site_rows``, projected."""
    return (
        site_rows(parsed, vocab)
        .filter(F.col("violation_reason").isNull())
        .select(*SITE_REL_COLS)
    )


# -- triple fan-out -----------------------------------------------------------


def _site_structurally_valid(site, path: str | None) -> bool:
    """The structural half of ``constrained.site_record_error`` over an
    already-parsed record (no constrained-type walk) — the input filter of
    the pure-python oracles in plans/kg_oracles.py."""
    if not isinstance(site, dict):
        return False
    if site.get("source_id") is None or site.get("record_id") is None:
        return False
    if site.get("created_by") is None:
        return False
    if len(site.get("reference") or []) != 1:
        return False
    return path_ok(path)


def _triples_batch(include_extra: bool, carry_bucket: bool, out_schema):
    """Arrow-native fan-out kernel (``mapInArrow``).

    The output is 4-5 FLAT columns of python strings/ints, so the record
    batch is built directly with ``pa.array`` — the mapInPandas path's
    pandas-frame construction + per-column ``Array.from_pandas`` was pure
    conversion overhead on ~130 emitted strings per input row (measured
    58.6 → 29.9 µs/input row, guide §4.2: the batch IS the wire format).
    Values and row order are identical; only the conversion layer moved.

    Records ``site_record_error`` rejects — the rows ``split_violations``
    routes to the violations table — emit no triples.
    """
    import pyarrow as pa

    def per_chunk(rb) -> "pa.RecordBatch | None":
        subjs, preds, objs, sids, buckets = [], [], [], [], []
        names = rb.schema.names
        bucket_col = rb.column("bucket").to_pylist() if carry_bucket else None
        path_col = rb.column("path").to_pylist() if "path" in names else None
        for i, content in enumerate(rb.column("content").to_pylist()):
            err, site = site_record_error(
                path_col[i] if path_col is not None else None, content
            )
            if err is not None:
                continue
            _coerce_numbers(site)
            site_id, triples = site_to_triples(site, include_extra=include_extra)
            for s, p, o in triples:
                subjs.append(s)
                preds.append(p)
                objs.append(o)
                sids.append(site_id)
            if carry_bucket:
                buckets.extend([int(bucket_col[i])] * len(triples))
        cols = [subjs, preds, objs, sids] + ([buckets] if carry_bucket else [])
        return pa.RecordBatch.from_arrays(
            [pa.array(v, type=f.type) for v, f in zip(cols, out_schema)],
            schema=out_schema,
        )

    # ~127 triples per site: 512 input rows ≈ 65k output strings per
    # chunk keeps the alive set (and Arrow batch) bounded — see
    # functions/arrowkit.py
    return chunked_kernel(per_chunk, max_rows=512)


def extract_triples(ingest: DataFrame, include_extra: bool = False) -> DataFrame:
    """P9: one record → N (subj, pred, obj) rows.  Arrow-batched fan-out;
    no shuffle (output stays partitioned like the scan).

    When the input carries a ``bucket`` column it is propagated onto every
    emitted triple — dirty ingest buckets then map 1:1 to dirty triple
    partitions for the incremental-recompute path (plans/pipeline.py).
    """
    carry = "bucket" in ingest.columns
    cols = ["content", "bucket"] if carry else ["content"]
    if "path" in ingest.columns:
        cols.append("path")  # enables the filename-charset validity rule
    if carry:
        schema = StructType(
            TRIPLE.fields + [StructField("bucket", IntegerType())]
        )
    else:
        schema = TRIPLE
    import pyarrow as pa

    # the Arrow twin of ``schema``, spelled out (nullability included) rather
    # than derived through pyspark's internal type converters
    arrow_schema = pa.schema(
        [
            pa.field("subj", pa.string(), nullable=False),
            pa.field("pred", pa.string(), nullable=False),
            pa.field("obj", pa.string(), nullable=False),
            pa.field("site_id", pa.string()),
        ]
        + ([pa.field("bucket", pa.int32())] if carry else [])
    )
    return ingest.select(*cols).mapInArrow(
        _triples_batch(include_extra, carry, arrow_schema),
        schema=schema,
    )


# -- inventory explode for grade-tonnage --------------------------------------


def explode_inventories(sites_rel: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """A2 prep: one row per (site, inventory) with commodity normalized and
    the validity flag for the grade-tonnage model
    (ref kgrel/mineral_site.py:71-116).  The input of
    ``grade_tonnage.grade_tonnage_view_exploded``, the parity reference
    for the in-row ``grade_tonnage_view``.

    Commodity id + material-form conversion resolve via broadcast joins —
    never dict lookups in Python.
    """
    form_conv = F.broadcast(
        vocab["commodity_form"].select(
            F.concat(F.lit(MR_NS), F.col("minmod_id")).alias("form_uri"),
            F.col("conversion").cast("double").alias("material_form_conversion"),
        )
    )

    inv = (
        sites_rel.select(
            "site_id",
            F.posexplode_outer("inventories").alias("inv_pos", "inv"),
        )
        .filter(F.col("inv.commodity.normalized_uri").isNotNull())
        .select(
            "site_id",
            "inv_pos",
            F.replace(
                F.col("inv.commodity.normalized_uri"), F.lit(MR_NS), F.lit("")
            ).alias("commodity"),
            F.col("inv.date").alias("date"),
            F.col("inv.zone").alias("zone"),
            F.transform(
                F.filter(
                    F.coalesce(F.col("inv.category"), F.array()),
                    lambda c: c["normalized_uri"].isNotNull(),
                ),
                lambda c: c["normalized_uri"],
            ).alias("category"),
            F.col("inv.material_form.normalized_uri").alias("form_uri"),
            F.col("inv.ore.value").alias("ore_value"),
            F.col("inv.ore.unit.normalized_uri").alias("ore_unit"),
            F.col("inv.grade.value").alias("grade_value"),
            F.col("inv.grade.unit.normalized_uri").alias("grade_unit"),
            (
                F.col("inv.ore.value").isNotNull()
                & F.col("inv.ore.unit.normalized_uri").isNotNull()
                & F.col("inv.grade.value").isNotNull()
                & F.col("inv.grade.unit.normalized_uri").isNotNull()
                & (F.size(F.coalesce(F.col("inv.category"), F.array())) > 0)
            ).alias("valid_gt"),
        )
        .join(form_conv, "form_uri", "left")
    )
    return inv.select(
        "site_id",
        "inv_pos",
        "commodity",
        "date",
        "zone",
        "category",
        "material_form_conversion",
        "ore_value",
        "ore_unit",
        "grade_value",
        "grade_unit",
        "valid_gt",
    )
