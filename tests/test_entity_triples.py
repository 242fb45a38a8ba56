"""Entity-vocabulary triples vs the REFERENCE's executed emitters, and
vs the goldens of the earlier Spark column emitter.

Oracle: construct the reference's KG entity models (minmodkg/models/kg/
entities/*.py, data_source.py) from the same synthetic vocabulary rows the
engine consumes — replicating the kgrel readers' field mapping
(kgrel_entity.py:151-305) and each ``to_kg()`` (kgrel/entities/*.py) — and
run their real ``to_triples()``.  Exact set equality required (entity
subjects are deterministic ids, no canonicalization needed).

Goldens (tests/golden_entity_triples.json, made by
tests/entity_golden_vocab.py): the Spark emitter's rows for the synthetic
vocabulary and two planted ones full of edge values, matched as
multisets; the Spark casts they relied on are pinned in-session.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).parent))

from entity_golden_vocab import GOLDEN, golden_vocabularies, sorted_rows  # noqa: E402
from refshim import load_reference  # noqa: E402

from ta2_minmod_kg_spark.operators.entity_triples import (  # noqa: E402
    ENTITY_TRIPLE_SCHEMA,
    MR_NS,
    _bool_lit,
    _decimal_lit,
    entity_triples,
)
from ta2_minmod_kg_spark.sources.vocab import (  # noqa: E402
    synthetic_vocab,
    vocab_dataframes,
)


@pytest.fixture(scope="module")
def ref():
    return load_reference()


def _split(s: str) -> list[str]:
    return [x.strip() for x in s.split("|")] if s.strip() != "" else []


def _reference_entity_triples(ref):
    import importlib

    v = synthetic_vocab()
    ent = {
        name: importlib.import_module(f"minmodkg.models.kg.entities.{name}")
        for name in (
            "commodity",
            "unit",
            "country",
            "state_or_province",
            "deposit_type",
            "commodity_form",
            "crs",
            "category",
        )
    }
    ds_mod = importlib.import_module("minmodkg.models.kg.data_source")

    objs = []
    objs += [
        ent["commodity"].Commodity(
            id=r["minmod_id"],
            name=r["name"],
            aliases=_split(r["aliases"]),
            parent=r["parent"],
            is_critical=bool(int(r["is_critical_commodity"])),
        )
        for r in v["commodity"]
    ]
    objs += [
        ent["unit"].Unit(id=r["minmod_id"], name=r["name"], aliases=_split(r["aliases"]))
        for r in v["unit"]
    ]
    objs += [
        ent["country"].Country(
            id=r["minmod_id"],
            name=r["name"],
            aliases=_split(r["aliases"]) + [r["iso3"], r["iso2"]],
        )
        for r in v["country"]
    ]
    name2cid = {r["name"]: r["minmod_id"] for r in v["country"]}
    objs += [
        ent["state_or_province"].StateOrProvince(
            id=r["minmod_id"], name=r["name"], country=name2cid[r["country_name"]]
        )
        for r in v["state_or_province"]
    ]
    objs += [
        ent["deposit_type"].DepositType(
            id=r["minmod_id"],
            name=r["deposit_type"],
            environment=r["deposit_environment"],
            group=r["deposit_group"],
        )
        for r in v["deposit_type"]
    ]
    objs += [
        ent["commodity_form"].CommodityForm(
            uri=MR_NS + r["minmod_id"],
            name=r["name"],
            formula=r["formula"],
            commodity=MR_NS + r["commodity_id"],
            conversion=r["conversion"],
        )
        for r in v["commodity_form"]
    ]
    objs += [
        ent["crs"].CRS(uri=MR_NS + r["minmod_id"], name=r["name"])
        for r in v["crs"]
    ]
    objs += [
        ds_mod.DataSource(
            uri=r["uri"],
            name=r["name"],
            type=r["type"],
            created_by=r["created_by"],
            description=r["description"],
            score=r["score"],
            connection=r["connection"],
        )
        for r in v["data_source"]
    ]
    objs += [
        ent["category"].Category(id=r["id"], name=r["label"]) for r in v["category"]
    ]
    return {(s, p, o) for obj in objs for s, p, o in obj.to_triples()}


def test_entity_triples_exact_parity(spark, ref):
    want = _reference_entity_triples(ref)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in entity_triples(vocab_dataframes(spark)).collect()
    }
    assert got == want, (
        sorted(got - want)[:10],
        sorted(want - got)[:10],
        len(got),
        len(want),
    )


def test_null_and_nan_score_emit_no_score_triple(spark):
    """Regression (round-3 red oracle): a data source whose score is absent
    must emit NO mo:score triple — whether the absence arrives as NULL or
    as NaN (Spark's isNotNull() is TRUE for NaN, so an unguarded emission
    leaks '"NaN"^^xsd:decimal'; ref score: Optional[float] emits nothing,
    minmodkg/models/kg/data_source.py:22)."""
    from pyspark.sql.types import StructType

    from ta2_minmod_kg_spark.sources.vocab import VOCAB_SCHEMAS

    vdfs = vocab_dataframes(spark)
    schema = StructType.fromDDL(VOCAB_SCHEMAS["data_source"])
    rows = [
        ("https://ex.org/null", "n", "t", "u", "d", None, "c"),
        ("https://ex.org/nan", "n", "t", "u", "d", float("nan"), "c"),
        ("https://ex.org/real", "n", "t", "u", "d", 0.75, "c"),
    ]
    vdfs["data_source"] = spark.createDataFrame(rows, schema=schema)
    # empty out the other tables so the check is isolated
    for name in vdfs:
        if name != "data_source":
            vdfs[name] = vdfs[name].limit(0)
    t = entity_triples(vdfs)
    scores = {
        r["subj"]: r["obj"]
        for r in t.filter(t.pred == "mo:score").collect()
    }
    assert scores == {"<https://ex.org/real>": '"0.75"^^xsd:decimal'}


def test_vocab_dataframes_absent_floats_are_null_not_nan(spark):
    """The vocab boundary must produce NULL, never NaN, for absent floats
    in EVERY float column of every table (pd.DataFrame would coerce
    None→NaN; the tables are pyarrow.Tables built column by column from
    the row dicts, where None stays an Arrow null)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    for name, df in vocab_dataframes(spark).items():
        for f in df.schema.fields:
            if isinstance(f.dataType, (DoubleType, FloatType)):
                n = df.filter(F.isnan(F.col(f.name))).count()
                assert n == 0, (name, f.name, n)


def test_entity_triples_match_spark_emitter_goldens(spark):
    with open(GOLDEN) as f:
        golden = json.load(f)["vocabularies"]
    vocabularies = golden_vocabularies(spark)
    assert set(vocabularies) == set(golden)
    for name, vdfs in vocabularies.items():
        t = entity_triples(vdfs)
        # the schema the Spark emitter's frame had, nullability included
        assert t.schema == ENTITY_TRIPLE_SCHEMA
        assert [f.nullable for f in t.schema.fields] == [True] * 3
        got = sorted_rows(tuple(r) for r in t.collect())
        assert got == golden[name], (
            name,
            [r for r in got if r not in golden[name]][:10],
            [r for r in golden[name] if r not in got][:10],
        )


def test_double_literals_match_spark_cast_to_string(spark):
    """A decimal literal renders its double exactly as Spark's
    ``cast(double as string)`` (the JVM's ``Double.toString``), which
    Python's ``repr`` does not: 1e-4, 2e23, 5e-324, ±inf, -0.0, ..."""
    vals = [
        1e-4, 2e23, 5e-324, float("inf"), -float("inf"), 1e7, 0.1, 1 / 3,
        -0.0, 0.0, 0.5, 123456789.0, 1e21, 1e-3, 9.999e-4, 1.7976931348623157e308,
        0.03729, 2.2250738585072014e-308,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    want = [r[0] for r in df.select(F.col("d").cast("string")).collect()]
    dtoa = spark._jvm.java.lang.Double.toString
    assert [_decimal_lit(v, dtoa) for v in vals] == [
        f'"{w}"^^xsd:decimal' for w in want
    ]
    assert _decimal_lit(None, dtoa) is None
    assert _decimal_lit(float("nan"), dtoa) is None


def test_boolean_literals_match_spark_cast_to_boolean(spark):
    """``is_critical`` renders Spark's cast to boolean, null as false:
    bigint non-zero is true; strings trim bytes <= U+0020, then take
    t/true/y/yes/1 or f/false/n/no/0 in any case; anything else raises,
    as the cast does under ANSI mode."""
    ints = [None, 0, 1, 2, -1]
    strs = [None, "0", "1", "true", " Yes ", "\tf\n", "N", "t", "\x0bTRUE\x1f", "no"]
    for values, ddl in ((ints, "v bigint"), (strs, "v string")):
        df = spark.createDataFrame([(v,) for v in values], ddl)
        want = [
            r[0]
            for r in df.select(
                F.when(F.col("v").cast("boolean"), "true").otherwise("false")
            ).collect()
        ]
        assert [_bool_lit(v) for v in values] == [
            f'"{w}"^^xsd:boolean' for w in want
        ]
    for bad in ("", "maybe", "\u00a0true"):
        df = spark.createDataFrame([(bad,)], "v string")
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            df.select(F.col("v").cast("boolean")).collect()
        with pytest.raises(ValueError):
            _bool_lit(bad)
