"""Per-worker glibc allocator tuning for the BLAS pandas workers.

Round-11 microbenchmarks (BASELINE.md "page-fault discovery"): this
rig faults FIRST-TOUCH pages at ~20 MB/s per core (~0.2 GB/s aggregate
over 32 workers) while already-charged pages re-touch at 5-15 GB/s.
glibc serves allocations above M_MMAP_THRESHOLD via mmap and returns
them via munmap on free, so every large gram/mask temp a worker builds
is a FRESH mapping that re-pays the fault tax — per GROUP, not per
worker. Raising M_MMAP_THRESHOLD (and M_TRIM_THRESHOLD, so the heap
top is not returned either) keeps those buffers on the brk heap where
free() recycles the pages: the tax is paid once per worker at its
peak footprint, exactly the quantity executor memory is sized by.

Fixed-size repeat allocations (the chunked knn top-k) do not need
this — the kernel hands recently-unmapped ranges back cheaply — but
VARIED-size group work (per-cluster / per-bucket grams in semdedup and
dbscan) allocates a new size every group and never hits that fast
path.

Call ``tune_worker_allocator()`` at the top of a worker closure; it is
idempotent per process and best-effort (non-glibc platforms no-op).
"""

from __future__ import annotations

_DONE = False

# glibc mallopt parameter numbers (bits/mallopt.c; stable ABI)
_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3


def tune_worker_allocator() -> None:
    global _DONE
    if _DONE:
        return
    _DONE = True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)
    except Exception:
        pass  # non-glibc / restricted environment: keep default behavior
