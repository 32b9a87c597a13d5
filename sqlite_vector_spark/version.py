"""Version / backend reporting.

Mirrors ``vector_version()`` (reference src/sqlite-vector.c:2545-2547)
and ``vector_backend()`` (2549-2551; SIMD dispatch selection
distance-cpu.c:797-812). Our "backends" are execution strategies, not
CPU ISAs: ``codegen`` = Catalyst higher-order-function expressions
(whole-stage codegen, JVM), ``arrow-numpy`` = Arrow-batched pandas
UDFs over NumPy.
"""

__version__ = "0.1.0"

#: Execution backends, analogous to CPU/SSE2/AVX2/NEON in the reference.
#: "auto" mirrors the reference's runtime SIMD dispatch: it resolves to
#: arrow-numpy for literal-query distances at dim >= AUTO_DIM and codegen
#: otherwise, except that a scan known to read less than AUTO_SCAN_BYTES
#: stays codegen. Oracle-gated paths pin "codegen" (see __spark_entry__)
#: because the NumPy pairwise sum is not bit-identical to the
#: sequential fold the DuckDB oracle performs.
BACKENDS = ("auto", "codegen", "arrow-numpy")

#: Measured crossover (tools/scale_probe.py, local[8]): arrow-numpy is
#: ~3-20x faster from dim 16 upward once row counts are non-trivial,
#: and never loses badly below that; codegen only wins on tiny vectors
#: where the Python worker round-trip dominates.
AUTO_DIM = 32

#: Crossover for CENTROID-ASSIGNMENT dispatch, measured on the C*dim
#: literal footprint of the codegen path (not per-distance dim): the
#: codegen assignment folds C*dim literals into the plan, and codegen
#: stays ahead until the plan/compile cost overtakes the Python worker
#: round-trip at a few thousand literals (tools/scale_probe.py:
#: C=8 x dim=64 still favors codegen; C=64 x dim=128 favors arrow).
AUTO_ASSIGN_LITERALS = 4096

#: Crossover for PQ-ENCODE dispatch, measured on the NUMBER OF ARGMIN
#: FOLDS (m*ksub): each codebook entry is its own snapped squared-L2
#: expression tree, so the codegen cost scales with fold count rather
#: than raw literals — measured at m=8 x ksub=16 (128 folds, dim 64)
#: codegen takes ~4.6 s/job vs ~0.15 s for the Arrow kernel even
#: steady-state (plan re-compile per job). Tiny codebooks (<=64
#: folds) stay codegen where the Python round-trip dominates.
AUTO_PQ_FOLDS = 128

#: Size gate for SINGLE-QUERY SCANS (search.full_scan_stream, pq.pq_scan,
#: the bq_rerank_scan rerank), in bytes of the scanned input: the
#: frame's Catalyst estimate (sources.plan_size_bytes), or a known
#: candidate count times its row width. Below it the scan stays codegen
#: whatever the dim or LUT size: an Arrow UDF job pays a Python worker
#: round trip that the JVM projection does not. Measured exact
#: single-query L2 scans at dim 64 (4-vCPU VM, local[4], one parquet
#: file, median of 6; Arrow / codegen): 6k rows (2.2 MB estimate)
#: 399 / 339 ms, 24k rows (6.9 MB) 456 / 452 ms, 48k rows (13.2 MB)
#: 502 / 708 ms, 96k rows (25.8 MB) 556 / 1009 ms. Unsized inputs
#: keep the dim / fold rules.
AUTO_SCAN_BYTES = 4 << 20

_active_backend = "auto"


def vector_version() -> str:
    """Engine version string (parity: vector_version())."""
    return __version__


def vector_backend() -> str:
    """Currently selected distance-kernel backend (parity: vector_backend())."""
    return _active_backend


def set_backend(name: str) -> None:
    """Force a backend, mirroring init_distance_functions(force_cpu)
    (reference distance-cpu.c:797-812)."""
    global _active_backend
    if name not in BACKENDS:
        raise ValueError(f"unknown backend {name!r}; choose from {BACKENDS}")
    _active_backend = name


def small_scan(size_bytes: int | None) -> bool:
    """True when a scan is known to read less than AUTO_SCAN_BYTES
    (None = unsized, never small)."""
    return size_bytes is not None and size_bytes < AUTO_SCAN_BYTES


def resolve_backend(dim: int | None = None, size_bytes: int | None = None) -> str:
    """Concrete backend for a literal-query distance of dimension
    ``dim`` under the active setting: "auto" picks arrow-numpy at
    dim >= AUTO_DIM unless ``size_bytes``, the scanned input's size
    when the caller knows it, is below AUTO_SCAN_BYTES."""
    if _active_backend != "auto":
        return _active_backend
    if dim is None or dim < AUTO_DIM or small_scan(size_bytes):
        return "codegen"
    return "arrow-numpy"
