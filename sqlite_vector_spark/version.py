"""Version / backend reporting.

Mirrors ``vector_version()`` (reference src/sqlite-vector.c:2545-2547)
and ``vector_backend()`` (2549-2551; SIMD dispatch selection
distance-cpu.c:797-812). Our "backends" are execution strategies, not
CPU ISAs: ``codegen`` = Catalyst higher-order-function expressions
(whole-stage codegen, JVM), ``arrow-numpy`` = Arrow-batched pandas
UDFs over NumPy.
"""

from sqlite_vector_spark import scale

__version__ = "0.1.0"

#: Execution backends, analogous to CPU/SSE2/AVX2/NEON in the reference.
#: "auto" mirrors the reference's runtime SIMD dispatch: it resolves to
#: arrow-numpy for literal-query distances at dim >= AUTO_DIM and codegen
#: otherwise, except that a scan known to read at most scale.SCAN_BYTES
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


def resolve_backend(dim: int | None = None, size_from: scale.Source = None) -> str:
    """Concrete backend for a literal-query distance of dimension
    ``dim`` under the active setting: "auto" picks arrow-numpy at
    dim >= AUTO_DIM unless ``size_from``, the input a scan reads (a
    frame or its known bytes, see scale.Source), is within the scale
    "scan" gate. A caller with no scan input passes None and the gate
    is not asked."""
    if _active_backend != "auto":
        return _active_backend
    if dim is None or dim < AUTO_DIM or (size_from is not None and not scale.large("scan", size_from)):
        return "codegen"
    return "arrow-numpy"
