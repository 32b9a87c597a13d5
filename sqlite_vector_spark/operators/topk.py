"""Per-key top-k: the distributed form of the reference's k-slot array.

The reference keeps one k-slot top-k array per scan
(sqlite-vector.c:2022-2106). Per key (a query, or a query's tier),
the Spark form is a ``row_number()`` window over the key, filtered to
``rank <= k``, which Spark 4 plans with a map-side WindowGroupLimit.
Every many-query top-k in the library (the kNN, IVF, IVF-PQ and MIH
joins, batched BM25, the recall harnesses) goes through
``topk_per_key``.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from sqlite_vector_spark import scale


def topk_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    salt: int | str | None = None,
    size_from: DataFrame | int | None = None,
) -> DataFrame:
    """Rows of ``df`` ranked ``1..k`` within each ``keys`` group by
    ``order``: ``df``'s columns plus an int ``rank``, filtered to
    ``rank <= k``. ``order`` must be total (end it with an id
    tiebreak) for the result to be deterministic.

    ``salt`` bounds skew. The plain window sends ALL of a key's rows
    to one partition; with few keys over a huge input that partition
    is the whole input. With ``salt`` > 1, phase 1 first takes a
    local top-k within ``(keys, id mod salt)``, so each bucket holds
    1/salt of the rows, and phase 2 ranks only salt x k survivors per
    key. Results are identical: any row in a key's global top-k is
    also in the top-k of its own ``id mod salt`` bucket, because
    every row that beats it in its bucket beats it globally too.

    ``salt`` is ``None`` (one window), an int >= 1 (pinned; 1 means
    one window), or ``"auto"``: ``scale.salt(size_from)``, where
    ``size_from`` is the frame to size or its known bytes. Any other
    value raises ValueError.
    """
    if not (
        salt is None
        or salt == "auto"
        or (isinstance(salt, int) and not isinstance(salt, bool) and salt >= 1)
    ):
        raise ValueError(f"salt must be 'auto', None or an int >= 1, got {salt!r}")
    if salt == "auto":
        salt = scale.salt(size_from)
    if salt is not None and salt > 1:
        w1 = Window.partitionBy(*keys, F.pmod(F.col("id"), F.lit(salt))).orderBy(*order)
        df = df.withColumn("__r1", F.row_number().over(w1)).where(F.col("__r1") <= k).drop("__r1")
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
