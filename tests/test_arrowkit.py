"""functions/arrowkit.py — bounded-chunk kernel wrapper and staged pass.

The wrapper must be output-IDENTICAL to the unchunked kernel (same rows,
same order — only Arrow batch boundaries move), must bound chunk sizes,
must skip empty outputs, and must leave the cyclic GC in the state it
found it (including when the per-chunk function raises).

``staged_pass`` must write one file per (table, bucket) when its input
has a ``bucket`` column, one per non-empty table per task otherwise, and
report exactly the files and rows it wrote in its manifest.
"""

import gc
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ta2_minmod_kg_spark.functions.arrowkit import chunked_kernel, staged_pass


def _mk(n):
    return pd.DataFrame({"a": range(n), "b": [f"s{i}" for i in range(n)]})


def test_rows_and_order_identical():
    pdf = _mk(10_000)
    seen_sizes = []

    def per_chunk(chunk):
        seen_sizes.append(len(chunk))
        return pd.DataFrame({"a2": [x * 2 for x in chunk["a"]]})

    outs = list(chunked_kernel(per_chunk, max_rows=1024)(iter([pdf])))
    got = pd.concat(outs, ignore_index=True)["a2"].tolist()
    assert got == [x * 2 for x in range(10_000)]
    assert max(seen_sizes) <= 1024
    assert sum(seen_sizes) == 10_000


def test_small_batch_passes_through_whole():
    pdf = _mk(100)
    sizes = []

    def per_chunk(chunk):
        sizes.append(len(chunk))
        return chunk

    list(chunked_kernel(per_chunk, max_rows=1024)(iter([pdf])))
    assert sizes == [100]


def test_empty_and_none_outputs_skipped():
    pdf = _mk(10)

    def per_chunk(chunk):
        return None if chunk["a"].iloc[0] < 5 else pd.DataFrame({"a": []})

    outs = list(chunked_kernel(per_chunk, max_rows=5)(iter([pdf])))
    assert outs == []


def test_gc_state_restored_on_success_and_error():
    assert gc.isenabled()
    pdf = _mk(10)

    seen_gc = []

    def per_chunk(chunk):
        seen_gc.append(gc.isenabled())
        return chunk

    list(chunked_kernel(per_chunk, max_rows=4)(iter([pdf])))
    assert seen_gc == [False, False, False]  # paused during construction
    assert gc.isenabled()  # restored between/after chunks

    def boom(chunk):
        raise ValueError("x")

    with pytest.raises(ValueError):
        list(chunked_kernel(boom, max_rows=4)(iter([pdf])))
    assert gc.isenabled()  # restored even on error


def test_multiple_input_batches():
    def per_chunk(chunk):
        return chunk

    outs = list(chunked_kernel(per_chunk, max_rows=3)(iter([_mk(7), _mk(2)])))
    assert [len(o) for o in outs] == [3, 3, 1, 2]


# -- staged_pass -----------------------------------------------------------------

STAGED = {
    "all": pa.schema([pa.field("x", pa.int64())]),
    "even": pa.schema([pa.field("x", pa.int64())]),
    "never": pa.schema([pa.field("x", pa.int64())]),
}


def _builder():
    """A batch builder over a ``x`` column: every row to ``all``, the even
    ones to ``even``, none to ``never``."""
    import pyarrow.compute as pc

    def build(rb, tables):
        x = rb.column("x")
        out = {
            "all": pa.RecordBatch.from_arrays([x], schema=STAGED["all"]),
            "even": pa.RecordBatch.from_arrays(
                [x.filter(pc.equal(pc.bit_wise_and(x, 1), 0))], schema=STAGED["even"]
            ),
        }
        return {t: b for t, b in out.items() if t in tables and len(b)}

    return build


def _staged_files(staging) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(staging)
        for f in files
        if f.endswith(".parquet")
    }


def _run_staged(df, staging, max_rows=2):
    manifest = staged_pass(df, _builder(), STAGED, str(staging), max_rows).collect()
    # every file the pass wrote is in its manifest, with its row count
    assert {r["path"] for r in manifest} == _staged_files(staging)
    assert len(manifest) == len({r["path"] for r in manifest})
    for r in manifest:
        assert pq.read_metadata(r["path"]).num_rows == r["n_rows"], r
    return manifest


def test_staged_pass_writes_one_file_per_table_and_bucket(spark, tmp_path):
    """Input sorted by ``bucket`` within each task: one file per (table,
    bucket) under ``<table>/bucket=<b>/``, also for bucket 0, whose run
    of 6 rows spans two 4-row input batches and three 2-row chunks."""
    rows = [(0, i) for i in range(6)] + [(1, 6), (1, 7)] + [(2, i) for i in (8, 9, 10)]
    df = (
        spark.createDataFrame(rows, "bucket int, x long")
        .repartition(2, "bucket")
        .sortWithinPartitions("bucket")
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        manifest = _run_staged(df, tmp_path / "staging")
    finally:
        spark.conf.set(key, before)

    got = {(r["table"], r["bucket"]): r["n_rows"] for r in manifest}
    assert got == {
        ("all", 0): 6, ("all", 1): 2, ("all", 2): 3,
        ("even", 0): 3, ("even", 1): 1, ("even", 2): 2,
    }
    for r in manifest:
        want_dir = tmp_path / "staging" / r["table"] / f"bucket={r['bucket']}"
        assert os.path.dirname(r["path"]) == str(want_dir), r
    assert sum(r["n_rows"] for r in manifest if r["table"] == "all") == len(rows)


def test_staged_pass_without_bucket_writes_one_file_per_task(spark, tmp_path):
    """No ``bucket`` column: one file per non-empty table per task, under
    ``<table>/`` with a null bucket; the two empty tasks of four write
    nothing but their (empty) manifests, and a table no task fills
    (``never``) gets no file."""
    df = spark.range(0, 2, 1, numPartitions=4).withColumnRenamed("id", "x")
    assert [len(p) for p in df.rdd.glom().collect()] == [0, 1, 0, 1]
    manifest = _run_staged(df, tmp_path / "staging")

    assert sorted((r["table"], r["n_rows"]) for r in manifest) == [
        ("all", 1), ("all", 1), ("even", 1),
    ]
    assert {r["bucket"] for r in manifest} == {None}
    for r in manifest:
        assert os.path.dirname(r["path"]) == str(tmp_path / "staging" / r["table"])
    assert not (tmp_path / "staging" / "never").exists()


def test_staged_pass_rejects_a_bucket_split_within_a_task(spark, tmp_path):
    """A bucket whose rows are not contiguous in their task would be
    written twice under one file name: the pass fails instead."""
    df = spark.createDataFrame([(0, 0), (1, 1), (0, 2)], "bucket int, x long").coalesce(1)
    with pytest.raises(Exception, match="bucket 0 is not contiguous"):
        staged_pass(df, _builder(), STAGED, str(tmp_path / "staging"), 8).collect()
