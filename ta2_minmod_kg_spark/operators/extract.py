"""Ingest → normalized sites + triples (SURVEY §2.2 P1-P9, §2.1 S1/K1).

Front door: the ingest table ``(repo, path, commit, lang, content)``.

- ``with_lineage``      — per-row ``sha256(content)`` (JVM ``sha2``), the
                          invariant carried through every downstream table
                          (``parse_sites`` is a second name for it).
- ``split_violations``  — the ok / violations split by the record-validity
                          rule (``constrained.site_record_error``).
- ``doc_pass`` / ``write_doc_tables`` — the pipeline's document pass: ONE
                          ``mapInArrow`` parse per document that writes
                          ``sites_rel``, ``violations``,
                          ``vocab_violations``, ``triples`` and
                          ``inv_views`` with ``pyarrow.parquet`` and
                          reports the files it wrote (the manifest the
                          pipeline commits).
- ``doc_rows``          — one of those tables as a frame: ONE
                          ``mapInArrow`` that builds only that table.
- ``normalize_sites``   — ``doc_rows``' ``sites_rel`` rows, as SITE_REL.
- ``extract_triples``   — ``doc_rows``' ``triples`` rows.
- ``explode_inventories`` — per-inventory rows, the input of the
                          explode→groupBy grade-tonnage parity reference.

Every document goes through one batch builder, ``_doc_batches``: one
parse and validation (``_valid_site``), then the site row and its
vocabulary violations (``_site_columns``), its grade-tonnage view rows
(``grade_tonnage.site_view_rows``) and its triples (``_triple_columns``),
as Arrow record batches of ``DOC_TABLES``.  The document pass buffers and
writes them; ``doc_rows`` returns them to Spark.

Scale notes: this module shuffles nothing; parsing/minting/fan-out are
map-side, and each kernel's output stays partitioned like its input.  The
pipeline clusters the document pass's input by ``bucket`` and sorts it by
``bucket`` within each task (``plans/pipeline.py`` ``cluster_by_bucket``),
so the pass holds one bucket's output at a time and writes one file per
(table, bucket).  Writing from Arrow skips the JVM's Arrow-to-row
conversion and Parquet encoding of the kernel's output — at 30k sites the
Spark path spent ~11 s of four cores on 4.35 M triples that
``pyarrow.parquet`` writes in 1.4 s on one.  Filters/projections stay on
columns so the parquet scan prunes (``PushedFilters`` visible in explain).
"""

from __future__ import annotations

import math
import re
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.arrowkit import chunked_kernel
from ..functions.ids import MR_NS, get_username, make_site_id
from ..functions.rdf import site_to_triples
from ..schemas import INGEST, INV_VIEW, SITE_REL, TRIPLE, VIOLATION, VOCAB_VIOLATION
from .constrained import path_ok, site_error_udf, site_record_error
from .grade_tonnage import site_view_rows
from .validation import allowed_uri_sets, record_vocab_violations

# ---------------------------------------------------------------------------


def read_ingest(spark, path: str) -> DataFrame:
    return spark.read.schema(INGEST).parquet(path)


def with_lineage(ingest: DataFrame) -> DataFrame:
    """content_sha256 = sha256(content) — computed JVM-side once, carried as
    the per-row invariant (BASELINE.md)."""
    return ingest.withColumn("content_sha256", F.sha2(F.col("content"), 256))


# the name perfbench's update batch and the tests call the lineage step by
parse_sites = with_lineage


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


# the input columns each of the document tables carries through unchanged;
# every table's builder also reads ``path`` (the filename rule) and
# ``content``
_DOC_INPUTS = {
    "sites_rel": ("repo", "path", "content_sha256"),
    "violations": ("repo", "path", "commit", "content_sha256"),
    "vocab_violations": ("repo", "path"),
    "triples": ("path",),
    "inv_views": ("path",),
}
_SITE_VALUE_COLS = [c for c in SITE_REL_COLS if c not in _DOC_INPUTS["sites_rel"]]
# the tables built from a valid record's site row (the view rows take
# its ``site_id``)
_SITE_TABLES = ("sites_rel", "vocab_violations", "inv_views")


def _coerce_numbers(site: dict) -> None:
    """In place: the nested numeric leaves the constrained tree accepts as
    strings (float-parseable measure values and bounding-box coordinates,
    int strings / integral floats for pages) become the numbers the
    reference's deserializer makes of them (deserializer.py:59-70,
    92-100).  ``_valid_site`` applies it to every valid record:
    Arrow does not convert a str inside a struct, and the reference-URI
    encoding formats pages and boxes as numbers, so without it such a
    record would fail the whole task.  (The top-level ``discovered_year``
    is made an int by ``_site_columns``, which builds the site row; the triple
    fan-out formats it as given.)"""

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


def _valid_site(path: str | None, content: str | None) -> tuple[str | None, dict | None]:
    """``constrained.site_record_error`` — the one record-validity rule and
    the document's one ``json.loads`` — with a valid record's numbers
    coerced (``_coerce_numbers``): ``(reason, site)``, reason None when
    valid.  The per-document entry of ``_doc_batches``."""
    err, site = site_record_error(path, content)
    if err is None:
        _coerce_numbers(site)
    return err, site


def _parse_ns(s: str) -> int:
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    # same float path as the reference (misc/utils.py:166-171)
    return int(datetime.fromisoformat(s).timestamp() * 1e9)


def _norm_ids(entities) -> list:
    return [
        e["normalized_uri"][len(MR_NS):]
        if e["normalized_uri"].startswith(MR_NS)
        else e["normalized_uri"]
        for e in (entities or [])
        if e.get("normalized_uri") is not None
    ]


def _site_columns(crs_names: dict, source_scores: dict, allowed: dict):
    """``(cols, add)``: empty per-column lists of the SITE_REL values
    (``_SITE_VALUE_COLS``), and ``add(site)``, which appends one valid
    record's row (ref `kgrel/mineral_site.py:198-244`) and returns its
    ``site_id`` and its ``validation.record_vocab_violations`` rows.  The
    ``sites_rel`` and ``vocab_violations`` half of ``_doc_batches``.

    The crs-name, source-score and vocabulary-membership lookups ride
    along as tiny closure dicts — the reference's own broadcast-dict
    pattern (`services/kgrel_entity.py:57-75`).  Output columns are
    per-column lists (dict-of-lists), not a list of per-row dicts — the
    row-dict construction plus pandas' per-record inference was ~40% of
    the kernel's CPU at 2k-row chunks."""
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

    def add(site: dict) -> list[dict]:
        username = get_username(site["created_by"])
        site_id = make_site_id(username, site["source_id"], str(site["record_id"]))
        loc = site.get("location_info") or {}
        crs_uri = (loc.get("crs") or {}).get("normalized_uri")
        crs_name = crs_names.get(crs_uri, "EPSG:4326" if crs_uri is None else None)
        lat, lon = _wkt_centroid(loc.get("location"), crs_name)
        year = site.get("discovered_year")
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
        ap_country(_norm_ids(loc.get("country")))
        ap_state(_norm_ids(loc.get("state_or_province")))
        ap_country_cand(loc.get("country") or [])
        ap_state_cand(loc.get("state_or_province") or [])
        ap_dt_cand(site.get("deposit_type_candidate") or [])
        ap_inventories(site.get("mineral_inventory") or [])
        ap_reference(site.get("reference") or [])
        ap_mineral_form(site.get("mineral_form") or [])
        ap_geology(site.get("geology_info"))
        # the constrained tree accepts an int string or integral float;
        # the reference's deserializer int()s it (deserializer.py:59-70)
        ap_discovered(None if year is None else int(year))
        ap_created_by(site["created_by"])
        ap_modified(_parse_ns(site["modified_at"]))
        return site_id, record_vocab_violations(site, allowed, crs_names)

    return cols, add


def _triple_columns(include_extra: bool):
    """``(cols, add)``: empty ``(subj, pred, obj, site_id)`` column lists,
    and ``add(site)``, which appends one valid record's triples
    (``rdf.site_to_triples``).  The ``triples`` half of ``_doc_batches``."""
    subjs: list = []
    preds: list = []
    objs: list = []
    sids: list = []

    def add(site: dict) -> None:
        site_id, triples = site_to_triples(site, include_extra=include_extra)
        for s, p, o in triples:
            subjs.append(s)
            preds.append(p)
            objs.append(o)
            sids.append(site_id)

    return (subjs, preds, objs, sids), add


def _vocab_dicts(vocab: dict[str, DataFrame]) -> tuple[dict, dict, dict, dict]:
    """The crs-name, data-source-score and vocabulary-membership lookups a
    site row needs, and the material-form conversion factors its
    grade-tonnage view needs, collapsed to driver dicts (they are
    broadcast-dim sized by definition) that ship in the task closure."""
    crs_names = {
        MR_NS + r["minmod_id"]: r["name"] for r in vocab["crs"].collect()
    }
    source_scores = {
        r["uri"]: (float(r["score"]) if r["score"] is not None else None)
        for r in vocab["data_source"].collect()
    }
    form_conv = {
        MR_NS + r["minmod_id"]: (
            float(r["conversion"]) if r["conversion"] is not None else None
        )
        for r in vocab["commodity_form"].collect()
    }
    return crs_names, source_scores, allowed_uri_sets(vocab), form_conv


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


# -- the document tables: sites_rel, its side tables and triples ---------------

# the tables the pipeline's document pass writes, each ``<table>/bucket=<b>/``
DOC_TABLES = ("sites_rel", "violations", "vocab_violations", "triples", "inv_views")

# their file schemas (``bucket`` is the hive directory, not a column):
# ``sites_rel`` is ``repo, path, <rest of SITE_REL>``, every column
# nullable, as the Spark writer stored the site-row projection.  Their
# Arrow twins come from pyspark's own ``to_arrow_schema``, the converter
# behind its Arrow kernels, so the two cannot drift
DOC_FILE_SCHEMAS = {
    "sites_rel": StructType(
        [
            StructField(c, SITE_REL[c].dataType)
            for c in ["repo", "path"]
            + [c for c in SITE_REL_COLS if c not in ("repo", "path")]
        ]
    ),
    "violations": VIOLATION,
    "vocab_violations": VOCAB_VIOLATION,
    "triples": TRIPLE,
    "inv_views": INV_VIEW,
}
DOC_ARROW_SCHEMAS = {t: to_arrow_schema(s) for t, s in DOC_FILE_SCHEMAS.items()}
_SITE_TYPES = [DOC_ARROW_SCHEMAS["sites_rel"].field(c).type for c in _SITE_VALUE_COLS]

# one row per file the pass wrote
MANIFEST = StructType(
    [
        StructField("table", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("path", StringType(), False),
        StructField("n_rows", LongType(), False),
    ]
)

# ~127 triples per site: 512-document chunks keep a chunk's alive set (and
# Arrow batch) bounded — see functions/arrowkit.py
_DOC_CHUNK_ROWS = 512


def _doc_batches(rb, tables, dicts, include_extra: bool) -> dict:
    """The per-document code of this module's kernels: parse and validate
    each document of the record batch ``rb`` once (``_valid_site``), then
    build a valid record's site row and vocabulary violations
    (``_site_columns``), its grade-tonnage view rows
    (``grade_tonnage.site_view_rows``) and its triples
    (``_triple_columns``).

    Returns ``{table: pyarrow.RecordBatch}`` (``DOC_ARROW_SCHEMAS``) for
    those of ``tables`` that got rows; work no requested table needs is
    skipped.  ``rb`` holds ``content``, ``path`` and the requested tables'
    ``_DOC_INPUTS``; ``dicts`` is ``_vocab_dicts``' output, None when no
    ``_SITE_TABLES`` table is requested:

    - ``sites_rel``: the SITE_REL row of each valid record;
    - ``violations``: each rejected document and its reason;
    - ``vocab_violations``: one ``(field, uri)`` row per out-of-vocabulary
      mention or unsupported CRS of a valid record (P7 validators.py:
      354-419, P3);
    - ``triples``: each valid record's triples (P9);
    - ``inv_views``: one MineralInventoryView row per normalized commodity
      of a valid record (A1/A2)."""
    import pyarrow as pa

    want_site = any(t in tables for t in _SITE_TABLES)
    want_triples = "triples" in tables
    want_views = "inv_views" in tables
    if want_site:
        *site_dicts, form_conv = dicts
        cols, add_site = _site_columns(*site_dicts)
    tcols, add_triples = _triple_columns(include_extra)
    views: list = []
    ok: list = []
    bad: list = []
    reasons: list = []
    vv_rows: list = []
    vv_field: list = []
    vv_uri: list = []
    paths = rb.column("path").to_pylist()
    for i, content in enumerate(rb.column("content").to_pylist()):
        err, site = _valid_site(paths[i], content)
        if err is not None:
            bad.append(i)
            reasons.append(err)
            continue
        ok.append(i)
        if want_site:
            site_id, vvs = add_site(site)
            for v in vvs:
                vv_rows.append(i)
                vv_field.append(v["field"])
                vv_uri.append(v["uri"])
            if want_views:
                views += site_view_rows(
                    site_id, site.get("mineral_inventory") or [], form_conv
                )
        if want_triples:
            add_triples(site)

    def keys(rows, names):
        idx = pa.array(rows, pa.int32())
        return [rb.column(n).take(idx) for n in names]

    out = {}
    if ok and "sites_rel" in tables:
        out["sites_rel"] = pa.RecordBatch.from_arrays(
            keys(ok, ("repo", "path"))
            + [
                # from_pandas: NaN → null, as pyspark's pandas-to-Arrow
                # conversion makes of it
                pa.array(cols[c], type=t, from_pandas=True)
                for c, t in zip(_SITE_VALUE_COLS, _SITE_TYPES)
            ]
            + keys(ok, ("content_sha256",)),
            schema=DOC_ARROW_SCHEMAS["sites_rel"],
        )
    if ok and want_triples:
        out["triples"] = pa.RecordBatch.from_arrays(
            [pa.array(v, pa.string()) for v in tcols],
            schema=DOC_ARROW_SCHEMAS["triples"],
        )
    if views:
        schema = DOC_ARROW_SCHEMAS["inv_views"]
        out["inv_views"] = pa.RecordBatch.from_arrays(
            # from_pandas: a NaN the model computes (an infinite ore value
            # at zero grade) is stored as null, as the parity reference's
            # mapInPandas stores it
            [
                pa.array([r[f.name] for r in views], type=f.type, from_pandas=True)
                for f in schema
            ],
            schema=schema,
        )
    if bad and "violations" in tables:
        out["violations"] = pa.RecordBatch.from_arrays(
            keys(bad, _DOC_INPUTS["violations"]) + [pa.array(reasons, pa.string())],
            schema=DOC_ARROW_SCHEMAS["violations"],
        )
    if vv_rows and "vocab_violations" in tables:
        out["vocab_violations"] = pa.RecordBatch.from_arrays(
            keys(vv_rows, ("repo", "path"))
            + [pa.array(vv_field, pa.string()), pa.array(vv_uri, pa.string())],
            schema=DOC_ARROW_SCHEMAS["vocab_violations"],
        )
    return out


def doc_rows(
    docs: DataFrame,
    vocab: dict[str, DataFrame] | None,
    table: str,
    include_extra: bool = False,
) -> DataFrame:
    """The rows the document pass writes to ``table`` (one of
    ``DOC_TABLES``, with its ``DOC_FILE_SCHEMAS`` schema, no ``bucket``)
    for the documents of ``docs``: ONE ``mapInArrow`` running
    ``_doc_batches`` for that table alone.  ``docs`` carries ``content``,
    ``path`` and the table's ``_DOC_INPUTS`` (a ``with_lineage`` frame has
    them all); ``vocab`` is needed only by ``_SITE_TABLES``.  No
    shuffle: the output stays partitioned like ``docs``."""
    dicts = _vocab_dicts(vocab) if table in _SITE_TABLES else None

    def per_chunk(rb):
        return _doc_batches(rb, (table,), dicts, include_extra).get(table)

    return docs.select(*_DOC_INPUTS[table], "content").mapInArrow(
        chunked_kernel(per_chunk, max_rows=_DOC_CHUNK_ROWS),
        schema=DOC_FILE_SCHEMAS[table],
    )


def normalize_sites(parsed: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """P2+P3: the relational site row (SITE_REL schema) of every valid
    record in ``parsed`` (a ``with_lineage`` frame) — ``doc_rows``'
    ``sites_rel`` rows, in SITE_REL's column order."""
    return doc_rows(parsed, vocab, "sites_rel").select(*SITE_REL_COLS)


def extract_triples(ingest: DataFrame, include_extra: bool = False) -> DataFrame:
    """P9: one record → N (subj, pred, obj, site_id) rows, none for a
    record ``site_record_error`` rejects — ``doc_rows``' ``triples`` rows.
    ``ingest`` needs only ``path`` and ``content``."""
    return doc_rows(ingest, None, "triples", include_extra)


def _doc_pass_kernel(dicts: tuple, include_extra: bool, staging: str):
    """The ``doc_pass`` kernel (``mapInArrow``).  Its input is sorted by
    ``bucket`` within the task, so it buffers one bucket at a time: the
    bucket's ``_doc_batches`` of each table, written as one file (one row
    group) per table when the next bucket starts.  Peak Python memory is
    one bucket's output, and no Python object outlives its chunk: each
    chunk's column lists become Arrow arrays at once.

    Files land under ``<staging>/<table>/bucket=<b>/`` with the task
    attempt in their name, so a retried task never overwrites (or gets
    confused with) a failed attempt's files; the task's last batch is its
    manifest, one ``MANIFEST`` row per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs
    from pyspark import TaskContext

    manifest_schema = to_arrow_schema(MANIFEST)

    def kernel(batches):
        filesystem, root = pafs.FileSystem.from_uri(staging)
        attempt = TaskContext.get().taskAttemptId()
        pending: dict[str, list] = {t: [] for t in DOC_TABLES}
        manifest: list[dict] = []
        current = None  # the bucket ``pending`` holds

        def flush() -> None:
            b = current
            for t in DOC_TABLES:
                if not pending[t]:
                    continue
                table = pa.Table.from_batches(pending[t], DOC_ARROW_SCHEMAS[t])
                pending[t] = []
                rel = f"{t}/bucket={b}/part-{b:05d}-{attempt}.parquet"
                filesystem.create_dir(f"{root}/{t}/bucket={b}")
                # no ARROW:schema (store_schema) and no pandas footer keys:
                # Spark reads the Parquet schema, and ARROW:schema alone
                # adds ~8.6 KB to a 50 KB sites_rel file (+17 %)
                pq.write_table(
                    table,
                    f"{root}/{rel}",
                    filesystem=filesystem,
                    row_group_size=max(1, table.num_rows),
                    store_schema=False,
                )
                manifest.append(
                    {
                        "table": t,
                        "bucket": b,
                        "path": f"{staging}/{rel}",
                        "n_rows": table.num_rows,
                    }
                )

        def per_chunk(rb) -> None:
            nonlocal current
            buckets = rb.column("bucket").to_pylist()
            start = 0
            for end in range(1, len(buckets) + 1):
                if end < len(buckets) and buckets[end] == buckets[start]:
                    continue
                if buckets[start] != current:
                    flush()
                    current = buckets[start]
                one = rb.slice(start, end - start)
                for t, batch in _doc_batches(one, DOC_TABLES, dicts, include_extra).items():
                    pending[t].append(batch)
                start = end

        yield from chunked_kernel(per_chunk, max_rows=_DOC_CHUNK_ROWS)(batches)
        flush()
        yield pa.RecordBatch.from_pylist(manifest, schema=manifest_schema)

    return kernel


def doc_pass(
    docs: DataFrame,
    vocab: dict[str, DataFrame],
    staging: str,
    include_extra: bool = False,
) -> DataFrame:
    """The pipeline's document pass, as a lazy ``MANIFEST`` frame: ONE
    ``mapInArrow`` over ``docs`` (a ``with_lineage`` frame with
    ``bucket``, clustered by bucket and sorted by it within each
    partition) that parses each document once and writes its rows of
    ``DOC_TABLES`` (``_doc_batches``) with ``pyarrow.parquet`` under
    ``staging``."""
    return docs.select(*_DOC_INPUTS["violations"], "bucket", "content").mapInArrow(
        _doc_pass_kernel(_vocab_dicts(vocab), include_extra, staging),
        schema=MANIFEST,
    )


def write_doc_tables(
    docs: DataFrame,
    vocab: dict[str, DataFrame],
    staging: str,
    include_extra: bool = False,
) -> list[tuple[str, int, str, int]]:
    """Run ``doc_pass`` and return its manifest: ``(table, bucket, path,
    n_rows)`` per written file.  Spark returns a task's result only from
    the attempt that succeeded, so the manifest names exactly the files
    to commit; anything else under ``staging`` is a failed or superseded
    attempt's."""
    return [tuple(r) for r in doc_pass(docs, vocab, staging, include_extra).collect()]


# -- inventory explode for grade-tonnage --------------------------------------


def explode_inventories(sites_rel: DataFrame, vocab: dict[str, DataFrame]) -> DataFrame:
    """A2 prep: one row per (site, inventory) with commodity normalized and
    the validity flag for the grade-tonnage model
    (ref kgrel/mineral_site.py:71-116).  The input of
    ``grade_tonnage.grade_tonnage_view_exploded``, the parity reference
    for the document pass's ``inv_views`` rows.

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
