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
"""

from __future__ import annotations

import gc
from typing import Callable, Iterator, Union

import pandas as pd
import pyarrow as pa

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
