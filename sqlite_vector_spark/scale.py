"""One size policy: how a frame is sized and when it counts as large.

The reference keeps no index and scans everything. The Spark port's
extra job is to pick a shuffle-bounding shape once an input is large,
the way ``sources.widen`` gates on ``inputFiles()``: the cheap local
shape below a limit, the scale shape above it. Every such byte gate
asks ``large(gate, src)``: "scan" (version.resolve_backend,
pq._pq_backend) on SCAN_BYTES; "salt" (topk.topk_per_key),
"prefilter", "text_pull" (dedup) and "single_pass"
(workload.recall_at_k) on BUDGET_BYTES. An input Catalyst cannot size
counts as LARGE, the scale-safe arm: on a small input it costs some
extra work, while the small arm on a large input loses the shuffle
bound. Each decision is logged at DEBUG on the ``sqlite_vector_spark``
logger as gate, estimate (or ``unsized``) and arm.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

#: bytes one partition of a scale-shaped stage is budgeted: a rank
#: window's key partition, a bucket self-join, a corpus text pull.
#: Above it every "budget" gate takes its large arm, and the rank
#: window salts. Setting it to 1 forces every budget gate large. The
#: ANN joins (knn_join, ann, pq, bq) size a rank window from their
#: corpus, the rows one query's partition holds; bm25_batch_topk sizes
#: it from docs x queries, the whole frame it ranks, so it salts sooner.
BUDGET_BYTES = int(os.environ.get("SPARK_GRAFT_PARTITION_BYTES", str(256 << 20)))

#: single-query scans known to read at most this many bytes keep the
#: codegen fold at any dim or LUT size: an Arrow UDF job pays a Python
#: worker round trip the JVM projection does not. Measured exact
#: single-query L2 scans at dim 64 (4-vCPU VM, local[4], one parquet
#: file, median of 6; Arrow / codegen): 6k rows (2.2 MB estimate)
#: 399 / 339 ms, 24k rows (6.9 MB) 456 / 452 ms, 48k rows (13.2 MB)
#: 502 / 708 ms, 96k rows (25.8 MB) 556 / 1009 ms.
SCAN_BYTES = 4 << 20

#: most buckets a salted rank window splits one key into
SALT_MAX = 64

_log = logging.getLogger("sqlite_vector_spark")


def size(df: DataFrame) -> int | None:
    """Catalyst's size estimate of the optimized plan — plan metadata,
    no job runs. None when the estimate is unavailable or is the
    unknown-size sentinel (spark.sql.defaultSizeInBytes ~
    Long.MaxValue). On Spark 4.1 parquet scans and localCheckpoint
    frames are sized; a frame built with createDataFrame(rdd, schema),
    or a stream, is not."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (PySparkException, Py4JError):  # e.g. a stream: AnalysisException
        return None
    return None if est >= 1 << 59 else est


#: what a gate sizes: a frame, its known bytes, None (unsized), or a
#: tuple of bounds on one input, sized in order until one is within
#: the limit (a later frame is sized only when needed)
Source = DataFrame | int | None | tuple


def _bytes(src: Source, limit: int) -> int | None:
    if not isinstance(src, tuple):
        return size(src) if isinstance(src, DataFrame) else src
    known = []
    for s in src:
        est = _bytes(s, limit)
        if est is not None:
            known.append(est)
            if est <= limit:
                break
    return min(known, default=None)


def large(gate: str, src: Source) -> bool:
    """True when ``src`` is above ``gate``'s limit (SCAN_BYTES for
    "scan", else BUDGET_BYTES) or cannot be sized."""
    limit = SCAN_BYTES if gate == "scan" else BUDGET_BYTES
    est = _bytes(src, limit)
    out = est is None or est > limit
    _log.debug("size gate %s: %s -> %s", gate, "unsized" if est is None else est,
               "large" if out else "small")
    return out


def salt(src: Source) -> int | None:
    """Rank-window salt for an input of ``src``'s size: None (one
    window) within the budget, else ceil(size / budget) capped at
    SALT_MAX; SALT_MAX when unsized."""
    est = _bytes(src, BUDGET_BYTES)
    if not large("salt", est):
        return None
    if est is None:
        return SALT_MAX
    return min(SALT_MAX, max(2, -(-est // max(BUDGET_BYTES, 1))))
