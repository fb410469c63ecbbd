"""Pin PyArrow's internal thread pools to 1 thread.

Spark already provides the process-level parallelism (one Python worker
per core); letting each worker's Arrow spin up its own cpu_count()-sized
pool gives cores² threads fighting for the same cores. Measured on this
box (32 cores, 50k-row batches): unpinned = 5.7s single / 3.0s-per-proc at
32-way; pinned = 1.8s single / 2.05s at 32-way — 3× faster solo and
near-linear scaling. Import-time side effect is deliberate: the module
that imports this pins the worker before its first batch. Only
``operators/extract.py`` and ``functions/textextract.py`` import it, so a
worker that runs only the knn, similarity, scrub, spatial-join or cells
kernels keeps PyArrow's default pools.
"""

import pyarrow as pa

_PINNED = False


def pin_arrow_single_thread() -> None:
    global _PINNED
    if not _PINNED:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        _PINNED = True


pin_arrow_single_thread()
