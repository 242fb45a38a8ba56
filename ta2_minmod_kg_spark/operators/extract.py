"""Ingest → normalized sites + triples (SURVEY §2.2 P1-P9, §2.1 S1/K1).

Front door: the ingest table ``(repo, path, commit, lang, content)``.

- ``with_lineage``      — per-row ``sha256(content)`` (JVM ``sha2``), the
                          invariant carried through every downstream table.
- ``parse_sites``       — ``from_json`` with the declared schema (JVM parse,
                          no inference); structural violations split off.
- ``normalize_sites``   — the relational site row (ref
                          `kgrel/mineral_site.py:198-244`): broadcast joins
                          for source score, JVM column exprs for the
                          location view ids, one Arrow-vectorized UDF for
                          site-id minting and WKT centroids.
- ``extract_triples``   — ``mapInPandas`` fan-out of each record into its
                          (subj, pred, obj) rows.
- ``explode_inventories`` — per-inventory rows feeding the grade-tonnage
                          aggregate (broadcast join for material-form
                          conversion).

Scale notes: the only shuffle in this module is the optional repartition at
write; parsing/minting/fan-out are map-side.  Filters/projections stay on
columns so the parquet scan prunes (``PushedFilters`` visible in explain).
"""

from __future__ import annotations

import json
import math
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.arrowkit import chunked_kernel
from ..functions.ids import MR_NS, get_username, make_site_id
from ..functions.rdf import site_to_triples
from ..schemas import INGEST, RAW_SITE, TRIPLE

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


def split_violations(
    parsed: DataFrame, constrained: bool = True
) -> tuple[DataFrame, DataFrame]:
    """P5/P6 validation.

    Structural rules as JVM column predicates: required idents present,
    exactly one site-level reference (ref validators.py:44-54), filename
    charset rule on ``path``.  With ``constrained=True`` (the default and
    the reference-parity behavior) the raw JSON additionally passes the
    reference's constrained-type tree (CleanedNotEmptyStr,
    confidence ∈ [0,1], URL-valid IRIs, numeric measures —
    operators/constrained.py, oracle-tested against the reference's
    executed deserializer).  The bad side carries a ``violation_reason``
    column: the failing field path, or 'structural'.
    """
    from .constrained import site_error_udf

    path_ok = F.col("path").rlike(r"^[a-zA-Z0-9_\-,./]+$")
    if not constrained:
        # structural-only mode keeps the JVM predicate chain (it needs the
        # parsed ``site`` struct; used by tests and ad-hoc callers only)
        struct_ok = (
            F.col("site.source_id").isNotNull()
            & F.col("site.record_id").isNotNull()
            & F.col("site.created_by").isNotNull()
            & (F.size(F.coalesce(F.col("site.reference"), F.array())) == 1)
            & path_ok
        )
        return (
            parsed.filter(struct_ok),
            parsed.filter(~struct_ok).withColumn(
                "violation_reason", F.lit("structural")
            ),
        )
    # Default path: structural + constrained rules fused into ONE Arrow
    # kernel parse (operators/constrained.py _structural_then_constrained).
    # No ``site.*`` access ⇒ Catalyst prunes ``from_json`` out of the plan
    # entirely — the former predicate chain lexed the full document 4-5
    # times per row (one pruned ``from_json`` per field access, verified
    # with .explain), pure JVM cost this removes from the hot path.
    tagged = parsed.withColumn(
        "violation_reason",
        F.when(~path_ok, F.lit("structural")).otherwise(
            site_error_udf(F.col("content"))
        ),
    )
    ok_df = tagged.filter(F.col("violation_reason").isNull()).drop(
        "violation_reason"
    )
    # r06: mark the ok side so normalize_sites can FUSE validation into
    # its own kernel — without the marker the sites plan runs two python
    # passes over every document (site_error_udf parse + normalize
    # parse); with it, one pass parses once and both validates and
    # normalizes (identical output rows — the same error function gates
    # them; asserted in tests/test_extract.py).  The attribute rides the
    # DataFrame *object*, so it only fires when the literal ok side of
    # this call is handed to normalize_sites (the pipeline/bench shape).
    ok_df._prevalidated_source = parsed  # type: ignore[attr-defined]
    return ok_df, tagged.filter(F.col("violation_reason").isNotNull())


# -- Arrow-vectorized kernels -------------------------------------------------


from pyspark.sql.types import (  # noqa: E402  (DataType objects: no active-session DDL parse at import)
    DoubleType,
    StringType,
    StructField,
    StructType,
)


@pandas_udf(StringType())
def site_id_udf(created_by: pd.Series, source_id: pd.Series, record_id: pd.Series) -> pd.Series:
    out = [
        make_site_id(get_username(cb), sid, str(rid))
        for cb, sid, rid in zip(created_by, source_id, record_id)
    ]
    return pd.Series(out, dtype="object")


_POINT_RE = re.compile(
    r"^\s*POINT\s*\(\s*([-+0-9.eEnana]+)\s+([-+0-9.eEnan]+)\s*\)\s*$", re.I
)

try:  # full WKT support when shapely/pyproj are present (not in this sandbox)
    import shapely.wkt as _shapely_wkt  # pragma: no cover

    _HAVE_SHAPELY = True
except Exception:
    _HAVE_SHAPELY = False


_WGS84_R = 6378137.0  # spherical web-mercator radius (EPSG:3857)


def _merc_inverse(x: float, y: float) -> tuple[float, float]:
    """EPSG:3857 → EPSG:4326, pure math (spherical mercator inverse —
    the same transform pyproj applies for 3857; ref misc/geo.py:67-96
    routes through pyproj.Transformer)."""
    lon = math.degrees(x / _WGS84_R)
    lat = math.degrees(math.atan(math.sinh(y / _WGS84_R)))
    return lat, lon


def _wkt_centroid(wkt: str | None, crs_name: str | None) -> tuple[float | None, float | None]:
    """Centroid in EPSG:4326 (ref kgrel/custom_types/location.py:115-150).

    POINT is handled natively; projected-CRS points reproject inline via
    the pure-math transforms in functions/geo.py — the reference's own
    crs.csv vocabulary (4326, 4267, 3857, NAD83 UTM 269xx, Oregon
    Lambert 2994) plus all WGS84 UTM zones.  Richer geometries use
    shapely when available.  An unsupported CRS → (None, None) here, AND
    the record is surfaced in the vocab_violations table by
    operators/validation.py:location_crs_violations — never a silent
    drop.
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


@pandas_udf(
    StructType(
        [StructField("lat", DoubleType()), StructField("lon", DoubleType())]
    )
)
def centroid_udf(wkt: pd.Series, crs_name: pd.Series) -> pd.DataFrame:
    lats, lons = [], []
    for w, c in zip(wkt, crs_name):
        lat, lon = _wkt_centroid(w, c)
        lats.append(lat)
        lons.append(lon)
    return pd.DataFrame({"lat": lats, "lon": lons})


# ---------------------------------------------------------------------------


def _norm_ids(entities_col: str):
    """array<candidate_entity> → array<internal id> of linked entities
    (ref location.py:151-161) — pure column expr, JVM-side."""
    return F.transform(
        F.filter(
            F.coalesce(F.col(entities_col), F.array()),
            lambda x: x["normalized_uri"].isNotNull(),
        ),
        lambda x: F.replace(x["normalized_uri"], F.lit(MR_NS), F.lit("")),
    )


from ..schemas import SITE_REL  # noqa: E402

SITE_REL_COLS = [f.name for f in SITE_REL.fields]


def _normalize_batch_fn(
    crs_names: dict, source_scores: dict, validate: bool = False
):
    """Single-parse normalization kernel (P2+P3 in one Arrow pass).

    One ``json.loads`` per row builds every SITE_REL column.  The
    column-expression formulation pays N partial JSON parses per row
    (Catalyst inlines ``from_json`` into each projected field — 9 parses in
    the measured plan, ~2 ms/row); this kernel is one parse (~0.2 ms/row).
    The crs-name and source-score vocab lookups ride along as tiny
    closure dicts — the reference's own broadcast-dict pattern
    (`services/kgrel_entity.py:57-75`).

    ``validate=True`` (r06) FUSES split_violations' structural +
    constrained check into the same parse: invalid rows are skipped (they
    belong to the violations side-table), valid rows are normalized from
    the already-parsed dict — one python pass and one ``json.loads``
    where the unfused plan pays two of each.  Output columns are built as
    per-column lists (dict-of-lists → pandas), not a list of per-row
    dicts — the row-dict construction plus pandas' per-record inference
    was ~40% of the kernel's CPU at 2k-row chunks.
    """
    from datetime import datetime

    if validate:
        from .constrained import structural_then_constrained_parsed

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
        cols: dict[str, list] = {c: [] for c in SITE_REL_COLS}
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
        ap_sha = cols["content_sha256"].append
        ap_repo = cols["repo"].append
        ap_path = cols["path"].append
        for repo, path, sha, content in zip(
            pdf["repo"], pdf["path"], pdf["content_sha256"], pdf["content"]
        ):
            if validate:
                if path is not None and not _PATH_OK_RE.match(str(path)):
                    continue
                err, site = structural_then_constrained_parsed(content)
                if err is not None:
                    continue
            else:
                site = json.loads(content)
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
            ap_sha(sha)
            ap_repo(repo)
            ap_path(path)
        return pd.DataFrame(cols, columns=SITE_REL_COLS)

    # bounded chunks + paused cyclic GC: whole-batch dict construction is
    # superlinear in task size (functions/arrowkit.py docstring has the
    # measurements — 5.5x wall at one task-size doubling)
    return chunked_kernel(per_chunk)


def normalize_sites(parsed: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """P2+P3: the relational site row (SITE_REL schema) in ONE Arrow pass.

    The crs and data-source vocabularies collapse to driver dicts (they
    are broadcast-dim sized by definition) and ship in the task closure.

    When ``parsed`` is the ok side of ``split_violations`` (it carries the
    ``_prevalidated_source`` marker), the kernel runs over the UNFILTERED
    source and performs the validation itself — same rows out, one python
    pass and one parse instead of two (guide §4: cross the boundary once,
    do everything per batch).
    """
    crs_names = {
        MR_NS + r["minmod_id"]: r["name"] for r in vocab["crs"].collect()
    }
    source_scores = {
        r["uri"]: (float(r["score"]) if r["score"] is not None else None)
        for r in vocab["data_source"].collect()
    }
    src = getattr(parsed, "_prevalidated_source", None)
    validate = src is not None
    base = src if validate else parsed
    if "content_sha256" not in base.columns:
        base = with_lineage(base)
    return base.select("repo", "path", "content_sha256", "content").mapInPandas(
        _normalize_batch_fn(crs_names, source_scores, validate=validate),
        schema=SITE_REL,
    )


def normalize_sites_colexpr(parsed: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """Column-expression formulation kept for reference/AB tests.

    Broadcast joins: data_source → source_score, crs → crs name.
    One Arrow UDF for site-id minting, one for centroids; everything else
    whole-stage-codegen column exprs.  NOTE: Catalyst inlines the
    ``from_json`` into every projected field — use ``normalize_sites``.
    """
    src_scores = F.broadcast(
        vocab["data_source"].select(
            F.col("uri").alias("source_id"), F.col("score").alias("source_score")
        )
    )
    crs_names = F.broadcast(
        vocab["crs"].select(
            F.concat(F.lit(MR_NS), F.col("minmod_id")).alias("crs_uri"),
            F.col("name").alias("crs_name"),
        )
    )

    df = (
        parsed.select(
            "repo",
            "path",
            "content_sha256",
            F.col("site.*"),
        )
        .withColumn(
            "site_id", site_id_udf(F.col("created_by"), F.col("source_id"), F.col("record_id"))
        )
        .withColumn(
            "modified_at_ns",
            (F.unix_micros(F.to_timestamp(F.col("modified_at")))) * F.lit(1000),
        )
    )

    df = df.join(src_scores, "source_id", "left")
    df = df.join(
        crs_names,
        F.col("location_info.crs.normalized_uri") == crs_names["crs_uri"],
        "left",
    )

    centroid = centroid_udf(F.col("location_info.location"), F.col("crs_name"))
    df = df.withColumn("centroid", centroid)

    return df.select(
        "site_id",
        F.lit(None).cast("string").alias("dedup_site_id"),
        "source_id",
        "source_score",
        F.col("record_id").cast("string").alias("record_id"),
        "name",
        "aliases",
        F.col("site_rank").alias("rank"),
        F.col("site_type").alias("type"),
        F.col("location_info.location").alias("location_wkt"),
        F.col("location_info.crs").alias("location_crs"),
        F.col("centroid.lat").alias("lat"),
        F.col("centroid.lon").alias("lon"),
        _norm_ids("location_info.country").alias("country"),
        _norm_ids("location_info.state_or_province").alias("state_or_province"),
        F.col("deposit_type_candidate").alias("deposit_type_candidates"),
        F.col("mineral_inventory").alias("inventories"),
        "reference",
        "mineral_form",
        "geology_info",
        "discovered_year",
        "created_by",
        F.col("modified_at_ns").alias("modified_at"),
        "content_sha256",
        "repo",
        "path",
    )


# -- triple fan-out -----------------------------------------------------------


_PATH_OK_RE = re.compile(r"^[a-zA-Z0-9_\-,./]+$")


def _site_structurally_valid(site, path: str | None) -> bool:
    """Python mirror of ``split_violations``' predicates — records routed to
    the violations table must produce NO triples (and must never crash the
    fan-out kernel at scale)."""
    if not isinstance(site, dict):
        return False
    if site.get("source_id") is None or site.get("record_id") is None:
        return False
    if site.get("created_by") is None:
        return False
    if len(site.get("reference") or []) != 1:
        return False
    if path is not None and not _PATH_OK_RE.match(path):
        return False
    return True


def _triples_batch(include_extra: bool, carry_bucket: bool, out_schema):
    """Arrow-native fan-out kernel (``mapInArrow``).

    The output is 4-5 FLAT columns of python strings/ints, so the record
    batch is built directly with ``pa.array`` — the mapInPandas path's
    pandas-frame construction + per-column ``Array.from_pandas`` was pure
    conversion overhead on ~130 emitted strings per input row (measured
    58.6 → 29.9 µs/input row, guide §4.2: the batch IS the wire format).
    Values and row order are identical; only the conversion layer moved.
    """
    import pyarrow as pa

    from ..functions.arrowkit import chunked_arrow_kernel

    def per_chunk(rb) -> "pa.RecordBatch | None":
        subjs, preds, objs, sids, buckets = [], [], [], [], []
        names = rb.schema.names
        bucket_col = rb.column("bucket").to_pylist() if carry_bucket else None
        path_col = rb.column("path").to_pylist() if "path" in names else None
        for i, content in enumerate(rb.column("content").to_pylist()):
            try:
                site = json.loads(content)
            except (ValueError, TypeError):
                continue  # malformed document → violations table, no triples
            if not _site_structurally_valid(
                site, str(path_col[i]) if path_col is not None else None
            ):
                continue
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
    return chunked_arrow_kernel(per_chunk, max_rows=512)


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
        from pyspark.sql.types import IntegerType, StructType

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
    (ref kgrel/mineral_site.py:71-116).

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
    out = inv.select(
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
    # r06: mark the exploded view with its source so grade_tonnage_view
    # can skip the explode→groupBy round trip — all inventories of a site
    # already live in ONE sites_rel row, so regrouping them by
    # (site_id, commodity) shuffles data that never needed to move
    # (optimization-guide §8: the engine knows the grouping the optimizer
    # cannot see).  The form-conversion vocabulary collapses to a closure
    # dict exactly like normalize_sites' crs/source-score dicts.
    out._exploded_from = (  # type: ignore[attr-defined]
        sites_rel,
        {
            MR_NS + r["minmod_id"]: (
                float(r["conversion"]) if r["conversion"] is not None else None
            )
            for r in vocab["commodity_form"].collect()
        },
    )
    return out
