"""Arrow-batch kernel hygiene: bounded chunks + paused cyclic GC.

CPython's generational garbage collector makes whole-batch python-object
construction SUPERLINEAR: each collection traverses every alive
container, and collections fire on allocation-count thresholds, so a
kernel that accumulates a full Arrow batch (up to
``spark.sql.execution.arrow.maxRecordsPerBatch`` = 10k rows here) of
nested dicts pays O(alive_objects x collections).  Measured on the
normalize kernel at 571k input rows, local[32]: 2.2k-row tasks run at
~75 us/row but 4.5k-row tasks at ~250 us/row — a 5.5x wall blowup from
one doubling of task size (BENCH_NOTES.md round 5).  On a real cluster,
task size is set by ``spark.sql.files.maxPartitionBytes``, not row
count, so a 128 MB split of small rows would sit far past the knee.

Every kernel here builds ACYCLIC structures (``json.loads`` output,
plain dicts/lists/strings), so reference counting alone reclaims them
and the cyclic collector contributes nothing but the traversal cost.
``chunked_kernel`` therefore re-slices each incoming batch into bounded
chunks and pauses the cyclic collector during each chunk's
construction:

- per-row cost stays linear at ANY task size (the alive set is bounded
  by the chunk, and no gen-2 sweeps fire mid-construction);
- peak python-object memory is bounded by the chunk size, not the task
  size;
- output rows and their order are IDENTICAL — only the Arrow record
  batch boundaries move.

GC is re-enabled between chunks (and on error), so genuinely cyclic
garbage from third-party code still gets collected at chunk
boundaries.

A batch builder is ``build(batch, tables)``, returning ``{table:
pyarrow.RecordBatch}`` for those of ``tables`` the batch yields rows of.
The pipeline's two builders (``extract._doc_batches`` per document,
``dedup._group_batches`` per same-as group) run under two wrappers only:
``staged_pass``, the pipeline's pass, which writes every table with
``write_staged`` and yields the ``MANIFEST`` the driver commits by
(``KGPipeline._commit``), and ``table_rows``, one table as a frame.
"""

from __future__ import annotations

import gc
from typing import Callable, Iterator, Union

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# a pandas frame under mapInPandas, a record batch under mapInArrow
Batch = Union[pd.DataFrame, pa.RecordBatch]

# Past ~2k rows the GC knee is measurable on nested-dict kernels
# (75 -> 250 us/row between 2.2k and 4.5k, see module docstring).
DEFAULT_CHUNK_ROWS = 2048


def chunked_kernel(
    per_chunk: Callable[[Batch], Batch | None],
    max_rows: int = DEFAULT_CHUNK_ROWS,
) -> Callable[[Iterator[Batch]], Iterator[Batch]]:
    """Wrap a per-chunk function into a ``mapInPandas`` / ``mapInArrow``
    generator.

    ``per_chunk(batch)`` receives a slice of at most ``max_rows`` rows —
    a ``pandas.DataFrame`` (positionally indexed like the parent batch —
    use ``.iloc`` / column ``zip`` iteration, not ``.loc``) or a zero-copy
    ``pyarrow.RecordBatch`` view — and returns the output batch of the
    same kind for that slice (or None/empty to emit nothing).  Both kinds
    support ``len(batch)`` and positional ``batch[a:b]`` slicing.

    For kernels whose output is flat columns of python scalars, returning
    a record batch built directly with ``pa.array`` (under ``mapInArrow``)
    halves the output conversion versus the pandas-frame construction +
    per-column ``Array.from_pandas`` (measured on the triple fan-out:
    58.6 → 29.9 µs per input row) — the batch is the wire format (guide
    §4.2).
    """

    def gen(batches: Iterator[Batch]) -> Iterator[Batch]:
        for batch in batches:
            n = len(batch)
            for start in range(0, n, max_rows):
                chunk = batch[start : start + max_rows] if n > max_rows else batch
                was_enabled = gc.isenabled()
                gc.disable()
                try:
                    out = per_chunk(chunk)
                finally:
                    if was_enabled:
                        gc.enable()
                if out is not None and len(out):
                    yield out

    return gen


# one row per file a pass wrote; ``bucket`` is null for an unpartitioned
# table
MANIFEST = StructType(
    [
        StructField("table", StringType(), False),
        StructField("bucket", IntegerType(), True),
        StructField("path", StringType(), False),
        StructField("n_rows", LongType(), False),
    ]
)


def partition_dir(table: str, bucket) -> str:
    """A table's directory relative to its root: ``<table>``, or
    ``<table>/bucket=<b>`` when ``bucket`` is not None."""
    return table if bucket is None else f"{table}/bucket={bucket}"


def write_staged(staging: str, table: str, bucket, name: str, data) -> dict:
    """Write the Arrow table ``data`` as one parquet file (one row group)
    ``name`` under ``<staging>/<partition_dir(table, bucket)>/`` and
    return its ``MANIFEST`` row."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    filesystem, root = pafs.FileSystem.from_uri(staging)
    rel = partition_dir(table, bucket)
    filesystem.create_dir(f"{root}/{rel}")
    # no ARROW:schema (store_schema) and no pandas footer keys: Spark
    # reads the Parquet schema, and ARROW:schema alone adds ~8.6 KB to a
    # 50 KB sites_rel file (+17 %)
    pq.write_table(
        data,
        f"{root}/{rel}/{name}",
        filesystem=filesystem,
        row_group_size=max(1, data.num_rows),
        store_schema=False,
    )
    return {
        "table": table,
        "bucket": bucket,
        "path": f"{staging}/{rel}/{name}",
        "n_rows": data.num_rows,
    }


def _staged_kernel(build, schemas: dict, staging: str, max_rows: int):
    """The ``staged_pass`` kernel (``mapInArrow``).  ``build``'s batches
    are buffered per table as Arrow (no Python object outlives its
    chunk) and written when the bucket changes — each chunk is split
    into bucket runs — or at the end of the task, so peak memory is one
    bucket's output.  File names carry the partition and the task
    attempt, so a retried task never overwrites (or gets confused with)
    a failed attempt's files; the task's last batch is its manifest, one
    ``MANIFEST`` row per file."""
    from pyspark import TaskContext

    tables = tuple(schemas)
    manifest_schema = to_arrow_schema(MANIFEST)

    def kernel(batches):
        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
        pending: dict[str, list] = {t: [] for t in tables}
        manifest: list[dict] = []
        current = None  # the bucket ``pending`` holds
        seen: set = set()

        def add(rb) -> None:
            for t, batch in build(rb, tables).items():
                pending[t].append(batch)

        def flush() -> None:
            for t in tables:
                if pending[t]:
                    data = pa.Table.from_batches(pending[t], schemas[t])
                    pending[t] = []
                    manifest.append(write_staged(staging, t, current, name, data))

        def per_chunk(rb) -> None:
            nonlocal current
            if "bucket" not in rb.schema.names:
                add(rb)
                return
            buckets = rb.column("bucket").to_pylist()
            start = 0
            for end in range(1, len(buckets) + 1):
                if end < len(buckets) and buckets[end] == buckets[start]:
                    continue
                if buckets[start] != current:
                    flush()
                    current = buckets[start]
                    if current in seen:
                        # a second file of one name would replace the first
                        raise ValueError(
                            f"bucket {current} is not contiguous in its task: "
                            "the input must be sorted by bucket"
                        )
                    seen.add(current)
                add(rb.slice(start, end - start))
                start = end

        yield from chunked_kernel(per_chunk, max_rows)(batches)
        flush()
        yield pa.RecordBatch.from_pylist(manifest, schema=manifest_schema)

    return kernel


def staged_pass(
    df: DataFrame, build, schemas: dict, staging: str, max_rows: int
) -> DataFrame:
    """A pipeline pass, as a lazy ``MANIFEST`` frame: ONE ``mapInArrow``
    over ``df`` that runs the batch builder ``build`` for every table of
    ``schemas`` (``{table: pyarrow.Schema}``) in chunks of at most
    ``max_rows`` rows and writes each table's rows with
    ``pyarrow.parquet`` under ``staging`` (``_staged_kernel``): one file
    per (table, bucket) when ``df`` has a ``bucket`` column, sorted by it
    within each task, else one file per non-empty table per task."""
    return df.mapInArrow(
        _staged_kernel(build, schemas, staging, max_rows), schema=MANIFEST
    )


def table_rows(
    df: DataFrame, build, table: str, schema: StructType, max_rows: int
) -> DataFrame:
    """The rows a pass writes to ``table``, as a frame with ``schema``:
    ONE ``mapInArrow`` over ``df`` that runs the batch builder ``build``
    for that table alone, in chunks of at most ``max_rows`` rows.  No
    shuffle: the output stays partitioned like ``df``."""

    def per_chunk(rb):
        return build(rb, (table,)).get(table)

    return df.mapInArrow(chunked_kernel(per_chunk, max_rows), schema=schema)
