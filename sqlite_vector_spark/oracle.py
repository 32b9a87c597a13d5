"""DuckDB oracle SQL — the ANSI-SQL mirror of every workload query.

Each builder returns SQL that DuckDB runs against the driver's
pre-registered parquet views (region nation customer supplier part
orders lineitem events documents embeddings). The SQL reproduces the
Spark plan's arithmetic exactly:

- distance folds: ``list_reduce(list_prepend(0.0, list_transform(...)))``
  = Spark's sequential-left-fold ``aggregate`` — same element order,
  same DOUBLE ops, bit-identical results;
- q_round: explicit half-away-from-zero + truncate-toward-zero via
  floor (DuckDB's double->int CAST rounds, so CAST is never used for
  truncation);
- double group-sums go through DECIMAL(30,10) exactly like the Spark
  side (order-independent);
- identical (distance, id) tiebreaks on every top-k/window.

Shared constants (Q64, K, NQ, ...) are imported from workload.py so
the two sides can never drift.
"""

from __future__ import annotations

from sqlite_vector_spark.functions.distance import EPS_SNAP
from sqlite_vector_spark.workload import DIM, K, KNN_K, NQ, Q64, RECALL_K

# ---------------------------------------------------------------- building blocks


def _fold(list_expr: str) -> str:
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {list_expr}), (acc, x) -> acc + x)"


def _pair_fold(a: str, b: str, term: str, dim: int = DIM) -> str:
    """Σ over i of ``term`` where term uses {x} = a[i] cast double, {y} = b[i] cast double."""
    t = term.format(x=f"CAST({a}[i] AS DOUBLE)", y=f"CAST({b}[i] AS DOUBLE)")
    return _fold(f"list_transform(range(1, {dim + 1}), i -> {t})")


def snap(d: str) -> str:
    return f"(CASE WHEN abs({d}) <= {EPS_SNAP!r} THEN 0.0 ELSE {d} END)"


def dist_sql(metric: str, a: str, b: str, dim: int = DIM) -> str:
    """Distance expression in SQL — mirrors functions/distance.py."""
    m = metric.upper()
    if m == "SQUARED_L2":
        d = _pair_fold(a, b, "({x} - {y}) * ({x} - {y})", dim)
    elif m == "L2":
        d = f"sqrt({_pair_fold(a, b, '({x} - {y}) * ({x} - {y})', dim)})"
    elif m == "L1":
        d = _pair_fold(a, b, "abs({x} - {y})", dim)
    elif m == "DOT":
        d = f"(-({_pair_fold(a, b, '{x} * {y}', dim)}))"
    elif m == "COSINE":
        num = _pair_fold(a, b, "{x} * {y}", dim)
        na = _pair_fold(a, a, "{x} * {y}", dim)
        nb = _pair_fold(b, b, "{x} * {y}", dim)
        d = f"(CASE WHEN sqrt({na}) * sqrt({nb}) = 0.0 THEN 1.0 ELSE 1.0 - ({num}) / (sqrt({na}) * sqrt({nb})) END)"
    else:
        raise ValueError(metric)
    return snap(d)


def qvec_literal(values, cast: str = "DOUBLE[]") -> str:
    # each element goes through a VARCHAR cast: DuckDB parses bare
    # numeric literals with long reprs via DECIMAL (double rounding —
    # measured 527/4096 off by 1 ulp on QR-matrix values), while the
    # string->DOUBLE cast is correctly-rounded strtod
    return "[" + ",".join(f"'{float(v)!r}'::DOUBLE" for v in values) + "]::" + cast


def q_round(r: str, lo: str, hi: str) -> str:
    """q_round_u8/s8 (sqlite-vector.c:495-515): NaN->0, Inf->bounds,
    half-away-from-zero, clamp, truncate toward zero."""
    t = f"(CASE WHEN {r} >= 0 THEN {r} + 0.5 ELSE {r} - 0.5 END)"
    return (
        f"(CASE WHEN isnan({r}) THEN 0"
        f" WHEN {r} = 'infinity'::DOUBLE THEN {hi}"
        f" WHEN {r} = '-infinity'::DOUBLE THEN {lo}"
        f" WHEN {t} >= {hi} THEN {hi}"
        f" WHEN {t} <= {lo} THEN {lo}"
        f" WHEN {r} >= 0 THEN floor({r} + 0.5)"
        f" ELSE -floor(-({r} - 0.5)) END)"
    )


#: 1-row quantization params subquery (mirrors workload._params_df)
PARAMS = """(
  WITH mm AS (
    SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS vmin,
           CAST(max(list_max(embedding)) AS DOUBLE) AS vmax,
           count(embedding) AS n
    FROM embeddings WHERE embedding IS NOT NULL)
  SELECT CASE WHEN vmin < 0 THEN 'S8BIT' ELSE 'U8BIT' END AS qtype,
         CASE WHEN vmin < 0 THEN 127.0 / greatest(abs(vmin), abs(vmax))
              ELSE 255.0 / (vmax - vmin) END AS qscale,
         CASE WHEN vmin < 0 THEN 0.0 ELSE vmin END AS qoffset,
         CASE WHEN vmin < 0 THEN -128 ELSE 0 END AS lo,
         CASE WHEN vmin < 0 THEN 127 ELSE 255 END AS hi,
         n
  FROM mm)"""

_CODE_R = "((CAST(x AS DOUBLE) - qoffset) * qscale)"

#: quantized codes CTE body (mirrors workload._codes_df)
CODES = f"""SELECT vec_id AS id,
       list_transform(embedding, x -> CAST({q_round(_CODE_R, 'lo', 'hi')} AS SMALLINT)) AS qvec
FROM embeddings, {PARAMS} prm
WHERE embedding IS NOT NULL"""

#: Q64 quantized in-plan, as DOUBLE[] (mirrors workload._quantized_query_col)
_QQ_R = "((CAST(x AS DOUBLE) - qoffset) * qscale)"
QQUERY = (
    f"list_transform(list_transform({qvec_literal(Q64)}, x -> CAST({q_round(_QQ_R, 'lo', 'hi')} AS SMALLINT)),"
    " c -> CAST(c AS DOUBLE))"
)


# ---------------------------------------------------------------- per-query oracles


def full_scan(metric: str, k: int = K) -> str:
    d = dist_sql(metric, "embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q)
SELECT vec_id AS id, {d} AS distance
FROM embeddings, qq
WHERE embedding IS NOT NULL
ORDER BY distance ASC, id ASC
LIMIT {k}"""


def full_scan_stream(metric: str = "L2") -> str:
    d = dist_sql(metric, "embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q)
SELECT vec_id AS id, {d} AS distance
FROM embeddings, qq
WHERE embedding IS NOT NULL"""


def filtered_full_scan(metric: str, pred: str, k: int = K) -> str:
    """Mirror of workload.filtered_full_scan_l2: exact top-k among
    rows matching the attribute predicate — the WHERE simply joins
    the NULL-skip clause; distances and ordering unchanged."""
    d = dist_sql(metric, "embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q)
SELECT vec_id AS id, {d} AS distance
FROM embeddings, qq
WHERE embedding IS NOT NULL AND ({pred})
ORDER BY distance ASC, id ASC
LIMIT {k}"""


def filtered_quantize_scan(metric: str, pred: str, k: int = K) -> str:
    """Mirror of workload.filtered_quantize_scan_l2: quantization
    params over the FULL table (the replica is built once, filtered
    at query time — include_cols semantics), codes CTE carries the
    payload column, the predicate filters the code rows, top-k in
    quantized units."""
    d = dist_sql(metric, "qvec", "q")
    codes = f"""SELECT vec_id AS id, label,
       list_transform(embedding, x -> CAST({q_round(_CODE_R, 'lo', 'hi')} AS SMALLINT)) AS qvec
FROM embeddings, {PARAMS} prm
WHERE embedding IS NOT NULL"""
    return f"""WITH codes AS ({codes}),
qq AS (SELECT {QQUERY} AS q FROM {PARAMS} prm)
SELECT id, {d} AS distance
FROM codes, qq
WHERE ({pred})
ORDER BY distance ASC, id ASC
LIMIT {k}"""


def quantize_params() -> str:
    return f"SELECT qtype, qscale, qoffset, n FROM {PARAMS} prm"


def quantize_codes() -> str:
    # serialized form matching workload.quantize_codes (gate-hashable)
    return f"""SELECT id,
       array_to_string(list_transform(qvec, x -> CAST(x AS VARCHAR)), ',') AS qvec_csv,
       CAST(len(qvec) AS INTEGER) AS dim
FROM ({CODES})"""


def quantize_update_codes() -> str:
    # Frozen-params append encode (workload.quantize_update_codes):
    # params from the OLD half only, codes for the NEW half, same
    # q_round saturate semantics.
    return f"""WITH thr AS (SELECT CAST(floor(max(vec_id)/2.0) AS BIGINT) AS t FROM embeddings),
mm AS (
  SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS vmin,
         CAST(max(list_max(embedding)) AS DOUBLE) AS vmax
  FROM embeddings, thr WHERE embedding IS NOT NULL AND vec_id < t),
prm AS (
  SELECT CASE WHEN vmin < 0 THEN 127.0 / greatest(abs(vmin), abs(vmax))
              ELSE 255.0 / (vmax - vmin) END AS qscale,
         CASE WHEN vmin < 0 THEN 0.0 ELSE vmin END AS qoffset,
         CASE WHEN vmin < 0 THEN -128 ELSE 0 END AS lo,
         CASE WHEN vmin < 0 THEN 127 ELSE 255 END AS hi
  FROM mm)
SELECT vec_id AS id,
       array_to_string(list_transform(embedding,
         x -> CAST(CAST({q_round(_CODE_R, 'lo', 'hi')} AS SMALLINT) AS VARCHAR)), ',') AS qvec_csv,
       CAST(len(embedding) AS INTEGER) AS dim
FROM embeddings, thr, prm
WHERE embedding IS NOT NULL AND vec_id >= t
ORDER BY id"""


def quantize_scan(metric: str, k: int | None = K) -> str:
    d = dist_sql(metric, "qvec", "q")
    limit = f"ORDER BY distance ASC, id ASC LIMIT {k}" if k is not None else ""
    return f"""WITH codes AS ({CODES}),
qq AS (SELECT {QQUERY} AS q FROM {PARAMS} prm)
SELECT id, {d} AS distance
FROM codes, qq
{limit}"""


def typed_scan(params: tuple[str, float, float], metric: str, k: int = K) -> str:
    """Mirror of workload._typed_scan: fixed-param int8/uint8 ingest
    (q_round) + exact integer-domain top-k."""
    from sqlite_vector_spark.operators.quantize import QuantParams, quantize_query
    from sqlite_vector_spark.workload import Q64 as _q

    qtype, scale, offset = params
    p = QuantParams(qtype, scale, offset, 0)
    r = f"((CAST(x AS DOUBLE) - ({offset!r})) * {scale!r})"
    tv = f"list_transform(embedding, x -> CAST({q_round(r, str(p.lo), str(p.hi))} AS DOUBLE))"
    qcodes = [float(c) for c in quantize_query(_q, p)]
    d = dist_sql(metric, "tv", "q")
    return f"""WITH t AS (
  SELECT vec_id AS id, {tv} AS tv FROM embeddings WHERE embedding IS NOT NULL),
qq AS (SELECT {qvec_literal(qcodes)} AS q)
SELECT id, {d} AS distance
FROM t, qq
ORDER BY distance ASC, id ASC
LIMIT {k}"""


def tvf_ep1_join_back() -> str:
    """Mirror of workload.tvf_ep1_join_back_q: the quantize-scan CTE
    (same arithmetic as quantize_scan) joined back to the payload."""
    d = dist_sql("L2", "qvec", "q")
    return f"""WITH codes AS ({CODES}),
qq AS (SELECT {QQUERY} AS q FROM {PARAMS} prm),
res AS (SELECT id, {d} AS distance
        FROM codes, qq
        ORDER BY distance ASC, id ASC
        LIMIT {K})
SELECT r.id, r.distance, CAST(e.label AS INTEGER) AS label
FROM res r JOIN embeddings e ON r.id = e.vec_id
ORDER BY r.distance ASC, r.id ASC"""


def sql_macro_scan() -> str:
    """Mirror of workload.sql_macro_scan_q: the macro-expanded Spark
    SQL (WHERE + composite sort over a cosine distance) — the Spark
    side's HOF fold and this list_reduce fold are the same sequential
    DOUBLE accumulation."""
    d = dist_sql("COSINE", "embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q)
SELECT vec_id AS id, {d} AS distance
FROM embeddings, qq
WHERE embedding IS NOT NULL AND vec_id % 7 = 0
ORDER BY distance ASC, id ASC
LIMIT {K}"""


def rerank_scan_l2() -> str:
    from sqlite_vector_spark.workload import RERANK_M

    qd = dist_sql("L2", "qvec", "q")
    d = dist_sql("L2", "embedding", "eq")
    return f"""WITH codes AS ({CODES}),
qq AS (SELECT {QQUERY} AS q FROM {PARAMS} prm),
cand AS (
  SELECT id FROM (
    SELECT id, {qd} AS qd FROM codes, qq
    ORDER BY qd ASC, id ASC LIMIT {RERANK_M})),
eqq AS (SELECT {qvec_literal(Q64)} AS eq)
SELECT vec_id AS id, {d} AS distance
FROM embeddings, eqq
WHERE vec_id IN (SELECT id FROM cand)
ORDER BY distance ASC, id ASC
LIMIT {K}"""


def quantize_memory() -> str:
    return f"""WITH codes AS ({CODES})
SELECT CAST(sum(len(qvec) + 8) AS BIGINT) AS preload_bytes FROM codes"""


def knn_join(metric: str = "L2", k: int = KNN_K, nq: int = NQ) -> str:
    d = dist_sql(metric, "cv", "qv")
    return f"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {nq} AND embedding IS NOT NULL),
c AS (SELECT vec_id AS id, embedding AS cv FROM embeddings WHERE embedding IS NOT NULL),
scored AS (SELECT qid, id, {d} AS distance FROM c, q),
ranked AS (SELECT qid, id, distance,
                  row_number() OVER (PARTITION BY qid ORDER BY distance ASC, id ASC) AS rn
           FROM scored)
SELECT qid, id, distance, CAST(rn AS INTEGER) AS rank FROM ranked WHERE rn <= {k}"""


def filtered_knn_join(metric: str, pred: str, k: int = KNN_K, nq: int = NQ) -> str:
    """Mirror of workload.filtered_knn_join_l2: the knn_join SQL with
    the attribute predicate inside the corpus CTE — distances and
    per-query ranking unchanged, candidates restricted up front."""
    d = dist_sql(metric, "cv", "qv")
    return f"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {nq} AND embedding IS NOT NULL),
c AS (SELECT vec_id AS id, embedding AS cv FROM embeddings WHERE embedding IS NOT NULL AND ({pred})),
scored AS (SELECT qid, id, {d} AS distance FROM c, q),
ranked AS (SELECT qid, id, distance,
                  row_number() OVER (PARTITION BY qid ORDER BY distance ASC, id ASC) AS rn
           FROM scored)
SELECT qid, id, distance, CAST(rn AS INTEGER) AS rank FROM ranked WHERE rn <= {k}
ORDER BY qid, rank"""


def knn_join_back() -> str:
    return f"""WITH res AS ({knn_join()})
SELECT r.qid, r.id, r.distance, r.rank, CAST(e.label AS INTEGER) AS label
FROM res r JOIN embeddings e ON r.id = e.vec_id"""


def recall_at_k() -> str:
    d_exact = dist_sql("L2", "embedding", "qv")
    d_approx = dist_sql("L2", "qvec", "qq")
    return f"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qv FROM embeddings WHERE vec_id < {NQ} AND embedding IS NOT NULL),
exact AS (
  SELECT qid, id FROM (
    SELECT q.qid, e.vec_id AS id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {d_exact} ASC, e.vec_id ASC) AS rn
    FROM embeddings e, q WHERE e.embedding IS NOT NULL)
  WHERE rn <= {RECALL_K}),
codes AS ({CODES}),
qc AS (SELECT q.qid,
              list_transform(list_transform(q.qv, x -> CAST({q_round(_QQ_R, 'lo', 'hi')} AS SMALLINT)), c -> CAST(c AS DOUBLE)) AS qq
       FROM q, {PARAMS} prm),
approx AS (
  SELECT qid AS aqid, id AS aid FROM (
    SELECT qc.qid, codes.id,
           row_number() OVER (PARTITION BY qc.qid ORDER BY {d_approx} ASC, codes.id ASC) AS rn
    FROM codes, qc)
  WHERE rn <= {RECALL_K})
SELECT e.qid, CAST(count(a.aid) AS DOUBLE) / {float(RECALL_K)!r} AS recall
FROM exact e LEFT JOIN approx a ON a.aqid = e.qid AND a.aid = e.id
GROUP BY e.qid"""


def codec_json_roundtrip() -> str:
    return """SELECT l_orderkey AS okey,
       CAST(l_linenumber AS INTEGER) AS lnum,
       array_to_string(list_transform(
           CAST(concat('[', l_orderkey, ',', l_linenumber, ',', l_suppkey, ']') AS FLOAT[]),
           x -> CAST(CAST(x AS INTEGER) AS VARCHAR)), ',') AS vec_csv,
       CAST(3 AS INTEGER) AS dim
FROM lineitem WHERE l_orderkey <= 200"""


def _fixed_sum(expr: str, scale: float) -> str:
    """Mirror of workload._fixed_sum: exact fixed-point summation."""
    return f"(CAST(sum(CAST(round(({expr}) * {scale!r}) AS DECIMAL(38,0))) AS DOUBLE) / {scale!r})"


def pricing_summary() -> str:
    return f"""SELECT l_returnflag, l_linestatus,
       {_fixed_sum('l_quantity', 100.0)} AS sum_qty,
       {_fixed_sum('l_extendedprice', 100.0)} AS sum_base_price,
       {_fixed_sum('l_extendedprice * (1.0 - l_discount)', 10000.0)} AS sum_disc_price,
       {_fixed_sum('l_quantity', 100.0)} / CAST(count(*) AS DOUBLE) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def top_customers() -> str:
    return f"""WITH rev AS (
  SELECT o_custkey, {_fixed_sum('o_totalprice', 100.0)} AS revenue
  FROM orders GROUP BY o_custkey)
SELECT c_mktsegment, c_custkey, revenue, CAST(rank AS INTEGER) AS rank FROM (
  SELECT c.c_mktsegment, c.c_custkey, rev.revenue,
         row_number() OVER (PARTITION BY c.c_mktsegment ORDER BY rev.revenue DESC, c.c_custkey ASC) AS rank
  FROM customer c JOIN rev ON c.c_custkey = rev.o_custkey)
WHERE rank <= 3"""


def events_hourly() -> str:
    # integer epoch math on the nanosecond value (events.ts is
    # TIMESTAMP_NS in parquet) — timezone independent in both engines
    return f"""SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch,
       event_type,
       count(*) AS n_events,
       {_fixed_sum('value', 10000.0)} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2"""


def shipping_priority() -> str:
    return f"""SELECT l_orderkey, {_fixed_sum('l_extendedprice * (1.0 - l_discount)', 10000.0)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10"""


def region_volume() -> str:
    return f"""SELECT n_name, {_fixed_sum('l_extendedprice * (1.0 - l_discount)', 10000.0)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC"""


def sessionize(gap_us: int) -> str:
    ordered = "PARTITION BY user_id ORDER BY us, event_id"
    return f"""WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
b AS (
  SELECT user_id, event_id, us, value,
         CASE WHEN (us - lag(us) OVER ({ordered})) IS NULL
                   OR (us - lag(us) OVER ({ordered})) > {gap_us}
              THEN 1 ELSE 0 END AS new_sess
  FROM e),
s AS (
  SELECT user_id, us, value,
         sum(new_sess) OVER ({ordered} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM b)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events, min(us) AS start_us, max(us) AS end_us,
       {_fixed_sum('value', 10000.0)} AS sum_value
FROM s
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq"""


def events_props_agg() -> str:
    k = "CAST(json_extract(props, '$.k') AS BIGINT)"
    # CAST the sum: DuckDB sum(BIGINT) yields HUGEINT (int128) which the
    # driver canonicalizer hashes differently from Spark's BIGINT.
    return f"""SELECT event_type, count(*) AS n, CAST(sum({k}) AS BIGINT) AS sum_k, min({k}) AS min_k, max({k}) AS max_k
FROM events
WHERE {k} IS NOT NULL
GROUP BY event_type
ORDER BY event_type"""


def order_priority_counts() -> str:
    return """SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00')
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""


def promo_revenue_share() -> str:
    disc = "l_extendedprice * (1.0 - l_discount)"
    promo = f"CASE WHEN p_type = 'ECONOMY' THEN {disc} ELSE 0.0 END"
    return f"""SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) AS ship_month,
       {_fixed_sum(promo, 10000.0)} AS promo_revenue,
       {_fixed_sum(disc, 10000.0)} AS total_revenue,
       {_fixed_sum(promo, 10000.0)} / {_fixed_sum(disc, 10000.0)} AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
ORDER BY 1"""


def events_rollup() -> str:
    return f"""SELECT event_type, (epoch_ns(ts) // 86400000000000) AS day_epoch,
       count(*) AS n_events, {_fixed_sum('value', 10000.0)} AS sum_value
FROM events
GROUP BY ROLLUP(event_type, day_epoch)
ORDER BY event_type ASC NULLS FIRST, day_epoch ASC NULLS FIRST"""


def quality_rejects() -> str:
    return f"""SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
EXCEPT
SELECT doc_id FROM ({corpus_prep_q()})
ORDER BY doc_id"""


# ---------------------------------------------------------------- text analysis / dedup / ANN mirrors

from sqlite_vector_spark.functions.text import HASH_B, HASH_P, LANG_MARKERS, LANG_ORDER, STOPWORDS
from sqlite_vector_spark.workload import HYPERPLANES, IVF_C, IVF_K, IVF_NPROBE, NEARDUP_T

WORDS = "list_filter(string_split(text, ' '), w -> w <> '')"


def polyhash_sql(s: str) -> str:
    """Mirror of functions.text.polyhash: left fold (acc*31+ascii)%P."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * {HASH_B} + c) % {HASH_P})"
    )


def _substr_count(padded: str, needle: str) -> str:
    return f"CAST((length({padded}) - length(replace({padded}, '{needle}', ''))) / {len(needle)} AS BIGINT)"


def _stop_count(col: str = "text") -> str:
    padded = f"(' ' || {col} || ' ')"
    return "(" + " + ".join(_substr_count(padded, f" {sw} ") for sw in STOPWORDS) + ")"


_PUNCT_RE = "[\\.\\,\\!\\?\\;\\:]"


def _norm_text_sql(col: str = "text") -> str:
    """Mirror of functions.text.normalize_text (lowercase, punct to
    spaces, collapsed runs, trimmed)."""
    return (f"trim(regexp_replace(regexp_replace(lower({col}), "
            f"'{_PUNCT_RE}', ' ', 'g'), '  *', ' ', 'g'))")


def _distinct_tokens_sql(col: str = "text") -> str:
    """Mirror of array_distinct(words(normalize_text(col)))."""
    return f"list_distinct(list_filter(string_split({_norm_text_sql(col)}, ' '), w -> w <> ''))"


def text_stats() -> str:
    n_tok = f"CAST(len({WORDS}) AS BIGINT)"
    n_chr = "CAST(length(text) AS BIGINT)"
    n_punct = f"CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS BIGINT)"
    n_stop = _stop_count()
    tokd = f"CAST({n_tok} AS DOUBLE)"
    chrd = f"CAST({n_chr} AS DOUBLE)"
    len_score = f"least({tokd} / 100.0, 1.0)"
    punct_score = f"(1.0 - least(CAST({n_punct} AS DOUBLE) / {chrd} * 4.0, 1.0))"
    stop_score = f"least(CAST({n_stop} AS DOUBLE) / {tokd} * 4.0, 1.0)"
    quality = f"(CASE WHEN {chrd} = 0.0 THEN 0.0 ELSE ({len_score} + {punct_score} + {stop_score}) / 3.0 END)"
    return f"""SELECT doc_id,
       {n_tok} AS n_tokens,
       {n_chr} AS n_chars_len,
       {n_punct} AS n_punct,
       {n_stop} AS n_stop,
       {quality} AS quality
FROM documents"""


def token_counts_q() -> str:
    from sqlite_vector_spark.functions.text import SUBWORD_RE

    return f"""SELECT doc_id,
       CAST(len({WORDS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{SUBWORD_RE}')) AS BIGINT) AS subword_tokens
FROM documents"""


def bpe_token_counts_q() -> str:
    # Partial gate for the BPE merge loop (workload.bpe_token_counts_q):
    # the greedy data-dependent merge iteration is not SQL-expressible,
    # but its result invariant is — the oracle recomputes the exact
    # pre-token count and asserts the two-sided bound as literal TRUE;
    # a Spark-side merge-loop bug that breaks the bound hash-fails.
    from sqlite_vector_spark.functions.text import SUBWORD_RE

    return f"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{SUBWORD_RE}')) AS BIGINT) AS subword_tokens,
       TRUE AS bpe_in_bounds
FROM documents"""


def lang_id_q() -> str:
    padded = "(' ' || text || ' ')"
    scores = {
        lang: "(" + " + ".join(_substr_count(padded, f" {m} ") for m in LANG_MARKERS[lang]) + ")"
        for lang in LANG_ORDER
    }
    best = "greatest(" + ", ".join(scores[lang] for lang in LANG_ORDER) + ")"
    cases = " ".join(f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_ORDER)
    return f"""SELECT doc_id,
       (CASE WHEN {best} = 0 THEN 'und' {cases} ELSE 'und' END) AS lang_pred
FROM documents"""


def fingerprint_q() -> str:
    return f"SELECT doc_id, {polyhash_sql('text')} AS fp FROM documents"


def doc_split_assign_q(train_pct: int, val_pct: int) -> str:
    # Mirror of workload.doc_split_assign_q: content-hash split — the
    # polyhash fold is non-negative, so a single % 100 suffices.
    return f"""WITH b AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, ({polyhash_sql('text')}) % 100 AS bucket
  FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < {train_pct} THEN 'train'
            WHEN bucket < {val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM b"""


def token_doc_freq_q(min_df: int) -> str:
    # Mirror of workload.token_doc_freq_q: distinct normalized tokens
    # per doc -> document frequency, floored at min_df.
    toks = _distinct_tokens_sql()
    return f"""WITH t AS (SELECT doc_id, unnest({toks}) AS token FROM documents)
SELECT token, count(*) AS df
FROM t GROUP BY token
HAVING count(*) >= {min_df}
ORDER BY df DESC, token ASC"""


def token_cooccurrence_q(top: int) -> str:
    # Mirror of workload.token_cooccurrence_q: relative df gates
    # (5%-95%), relative pair floor (2%), lift = one exact-integer
    # double division (IEEE-correctly-rounded on both engines).
    toks = _distinct_tokens_sql()
    return f"""WITH t AS (SELECT doc_id, unnest({toks}) AS token FROM documents),
nd AS (SELECT count(*) AS n_docs FROM documents),
dfc AS (SELECT token, count(*) AS df FROM t GROUP BY token),
vocab AS (SELECT token, df FROM dfc, nd WHERE df * 20 >= n_docs AND df * 20 <= 19 * n_docs),
vt AS (SELECT t.doc_id, t.token, v.df FROM t JOIN vocab v USING (token)),
p AS (SELECT a.token AS t1, b.token AS t2, a.df AS df1, b.df AS df2
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token),
pc AS (SELECT t1, t2, df1, df2, count(*) AS n_xy
       FROM p GROUP BY t1, t2, df1, df2)
SELECT t1, t2, n_xy, df1, df2,
       CAST(n_xy * n_docs AS DOUBLE) / CAST(df1 * df2 AS DOUBLE) AS lift
FROM pc, nd
WHERE n_xy * 50 >= n_docs
ORDER BY lift DESC, t1 ASC, t2 ASC
LIMIT {top}"""


def dedup_exact_q() -> str:
    return """SELECT text, count(*) AS dup_count, min(doc_id) AS keeper_id
FROM documents GROUP BY text"""


# MinHash constants must mirror operators/dedup.py
_MH_A = "[2, 3, 5, 7, 11, 13, 17, 19]"
_MH_B = "[1, 2, 3, 4, 5, 6, 7, 8]"


def _doc_src(pred: str | None) -> str:
    """The documents read, optionally pre-filtered — the delete-twin
    oracles run the identical pipeline over the SURVIVING corpus by
    threading a predicate into every documents scan."""
    return "documents" if pred is None else f"(SELECT * FROM documents WHERE ({pred}))"


def _shingles(pred: str | None = None) -> str:
    return f"""WITH w AS (
  SELECT doc_id, {WORDS} AS ws FROM {_doc_src(pred)}),
sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')) END) AS s
  FROM w),
hashed AS (SELECT doc_id, {polyhash_sql('s')} AS h FROM sh),
sig AS (
  SELECT CAST(doc_id AS BIGINT) AS id, CAST(j AS INTEGER) AS j,
         min((({_MH_A})[j + 1] * h + ({_MH_B})[j + 1]) % {HASH_P}) AS minhash
  FROM hashed, range(0, 8) t(j)
  GROUP BY 1, 2),
bandkeys AS (
  SELECT id, CAST(j // 2 AS BIGINT) AS band,
         CAST(sum(minhash * (CASE WHEN j % 2 = 0 THEN {HASH_P} ELSE 1 END)) AS BIGINT) AS band_hash
  FROM sig GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM bandkeys l JOIN bandkeys r ON l.band = r.band AND l.band_hash = r.band_hash
  WHERE l.id < r.id)"""


_SHINGLES = _shingles()


def minhash_sig_q() -> str:
    return _SHINGLES + "\nSELECT id, j, minhash FROM sig"


def lsh_pairs_q() -> str:
    return _SHINGLES + "\nSELECT a, b FROM cand"


def simhash_q() -> str:
    return f"""WITH toks AS (
  SELECT doc_id, unnest({WORDS}) AS w FROM documents),
hashed AS (SELECT doc_id, {polyhash_sql('w')} AS h FROM toks),
bits AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
  FROM hashed, range(0, 32) t(b)
  GROUP BY 1, 2)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY 1"""


_SIMHASH_CTE = f"""WITH toks AS (
  SELECT doc_id, unnest({WORDS}) AS w FROM documents),
hashed AS (SELECT doc_id, {{PH}} AS h FROM toks),
bits AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
  FROM hashed, range(0, 32) t(b)
  GROUP BY 1, 2),
fp AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1)"""


def simhash_neardup_q(max_hamming: int = 6, bands: int = 4, bits: int = 32) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    cte = _SIMHASH_CTE.replace("{PH}", polyhash_sql("w"))
    return f"""{cte},
keys AS (
  SELECT id, CAST(b AS BIGINT) AS band, (simhash >> (b * {width})) & {mask} AS bh
  FROM fp, range(0, {bands}) t(b)),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM keys l JOIN keys r ON l.band = r.band AND l.bh = r.bh
  WHERE l.id < r.id)
SELECT c.a, c.b, CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
FROM cand c JOIN fp fa ON fa.id = c.a JOIN fp fb ON fb.id = c.b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {max_hamming}"""


def jaccard_pairs_q(pred: str | None = None) -> str:
    return _shingles(pred) + f""",
dw AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS id, w FROM (SELECT doc_id, unnest({WORDS}) AS w FROM {_doc_src(pred)})),
cnt AS (SELECT id, count(*) AS c FROM dw GROUP BY id),
inter AS (
  SELECT cand.a, cand.b, count(*) AS inter
  FROM cand JOIN dw x ON x.id = cand.a JOIN dw y ON y.id = cand.b AND y.w = x.w
  GROUP BY 1, 2)
SELECT c.a, c.b,
       coalesce(i.inter, 0) AS inter,
       ca.c + cb.c - coalesce(i.inter, 0) AS union_,
       CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(ca.c + cb.c - coalesce(i.inter, 0) AS DOUBLE) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN cnt ca ON ca.id = c.a
JOIN cnt cb ON cb.id = c.b"""


def sample_mix_q(rates: dict[str, int]) -> str:
    case = "CASE lang " + " ".join(f"WHEN '{k}' THEN {v}" for k, v in rates.items()) + " ELSE 0 END"
    bucket = f"(({polyhash_sql('text')}) % 100 + 100) % 100"
    return f"""SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, {bucket} AS bucket
FROM documents
WHERE {bucket} < {case}
ORDER BY doc_id"""


def neardup_representatives_q(jaccard_t: float, pred: str | None = None) -> str:
    """Transitive version: rep_id = min doc_id in the connected
    component of the verified near-dup graph, via a recursive CTE
    computing each node's reachable set (the edge set is tiny, so the
    transitive closure is cheap for the oracle). ``pred`` restricts
    every documents read to the surviving corpus — the delete-twin
    form: the identical pipeline rebuilt after a takedown."""
    did = "CAST(d.doc_id AS BIGINT)"
    rep = f"coalesce(comp.cluster, {did})"
    return f"""WITH RECURSIVE jp AS ({jaccard_pairs_q(pred)}),
pairs AS (SELECT a, b FROM jp WHERE jaccard >= {jaccard_t!r}),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(id, m) AS (
  SELECT a AS id, a AS m FROM edges
  UNION
  SELECT e.a AS id, r.m AS m FROM edges e JOIN reach r ON r.id = e.b
),
comp AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id)
SELECT {did} AS doc_id, {rep} AS rep_id, {rep} <> {did} AS is_dup
FROM {_doc_src(pred)} d
LEFT JOIN comp ON comp.id = CAST(d.doc_id AS BIGINT)
ORDER BY doc_id"""


def neardup_keep_best_q(jaccard_t: float) -> str:
    """Mirror of workload.neardup_keep_best_q: same recursive-CTE
    component closure as neardup_representatives_q, keeper = the
    member with most whitespace tokens (tiebreak min id)."""
    did = "CAST(d.doc_id AS BIGINT)"
    keep = f"coalesce(k.keeper_id, {did})"
    return f"""WITH RECURSIVE jp AS ({jaccard_pairs_q()}),
pairs AS (SELECT a, b FROM jp WHERE jaccard >= {jaccard_t!r}),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(id, m) AS (
  SELECT a AS id, a AS m FROM edges
  UNION
  SELECT e.a AS id, r.m AS m FROM edges e JOIN reach r ON r.id = e.b
),
comp AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id),
tok AS (SELECT CAST(doc_id AS BIGINT) AS id, CAST(len({WORDS}) AS BIGINT) AS n_tok
        FROM documents),
members AS (SELECT c.id, c.cluster, t.n_tok FROM comp c JOIN tok t ON t.id = c.id),
keep AS (SELECT cluster, id AS keeper_id FROM (
    SELECT cluster, id,
           row_number() OVER (PARTITION BY cluster ORDER BY n_tok DESC, id ASC) AS rn
    FROM members) WHERE rn = 1)
SELECT {did} AS doc_id, {keep} AS keeper_id, {keep} <> {did} AS is_dup
FROM documents d
LEFT JOIN comp ON comp.id = {did}
LEFT JOIN keep k ON k.cluster = comp.cluster
ORDER BY doc_id"""


def normalize_q() -> str:
    # Gate form mirrors workload.normalize_q: fixed-point micro-units
    # CSV (round(x*1e6) -> BIGINT -> comma-joined) because the driver's
    # canonicalizer can't hash list columns; round parity at 1e6 is the
    # same rule embedding_centroids relies on.
    nrm = _fold(f"list_transform(range(1, {DIM + 1}), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))")
    unit = (f"CASE WHEN sqrt({nrm}) = 0.0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({nrm})) END")
    return f"""SELECT CAST(vec_id AS BIGINT) AS id,
       list_aggregate(list_transform({unit}, x -> CAST(CAST(round(x * 1000000.0) AS BIGINT) AS VARCHAR)), 'string_agg', ',') AS unit_csv,
       CAST(len(embedding) AS INT) AS dim
FROM embeddings WHERE embedding IS NOT NULL"""


def _quality_sql() -> tuple[str, str]:
    """(n_tokens, quality) SQL — mirror of functions.text.quality_score."""
    n_tok = f"CAST(len({WORDS}) AS BIGINT)"
    n_chr = "CAST(length(text) AS BIGINT)"
    n_punct = f"CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS BIGINT)"
    n_stop = _stop_count()
    tokd = f"CAST({n_tok} AS DOUBLE)"
    chrd = f"CAST({n_chr} AS DOUBLE)"
    len_score = f"least({tokd} / 100.0, 1.0)"
    punct_score = f"(1.0 - least(CAST({n_punct} AS DOUBLE) / {chrd} * 4.0, 1.0))"
    stop_score = f"least(CAST({n_stop} AS DOUBLE) / {tokd} * 4.0, 1.0)"
    quality = f"(CASE WHEN {chrd} = 0.0 THEN 0.0 ELSE ({len_score} + {punct_score} + {stop_score}) / 3.0 END)"
    return n_tok, quality


def corpus_prep_q() -> str:
    n_tok, quality = _quality_sql()
    return f"""WITH stats AS (
  SELECT doc_id, text, {n_tok} AS n_tokens, {quality} AS quality
  FROM documents),
filtered AS (SELECT * FROM stats WHERE quality > 0.5),
keepers AS (SELECT text, min(doc_id) AS doc_id FROM filtered GROUP BY text)
SELECT f.doc_id, f.n_tokens, f.quality
FROM filtered f
WHERE EXISTS (SELECT 1 FROM keepers k WHERE k.text = f.text AND k.doc_id = f.doc_id)"""


def token_budget_pack_q(budget: int) -> str:
    n_tok, quality = _quality_sql()
    return f"""WITH stats AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, {n_tok} AS n_tokens, {quality} AS quality
  FROM documents),
p AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM stats)
SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM p WHERE cum_tokens <= {budget}
ORDER BY doc_id"""


def _plane_dot(vec: str, plane: list[float]) -> str:
    lit = qvec_literal(plane)
    return _fold(f"list_transform(range(1, {DIM + 1}), i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i])")


def _emb_src(pred: str | None) -> str:
    """The embeddings read, optionally pre-filtered — the delete-twin
    form of the embedding pipelines (mirrors _doc_src)."""
    return "embeddings" if pred is None else f"(SELECT * FROM embeddings WHERE ({pred}))"


def embedding_neardup_q(pred: str | None = None) -> str:
    bucket = " + ".join(
        f"(CASE WHEN {_plane_dot('embedding', plane)} > 0.0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(HYPERPLANES)
    )
    d = dist_sql("COSINE", "va", "vb")
    return f"""WITH base AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v, CAST({bucket} AS BIGINT) AS bucket
  FROM {_emb_src(pred)} WHERE embedding IS NOT NULL)
SELECT a, b, distance FROM (
  SELECT l.id AS a, r.id AS b, {d.replace('va', 'l.v').replace('vb', 'r.v')} AS distance
  FROM base l JOIN base r ON l.bucket = r.bucket AND l.id < r.id)
WHERE distance < {NEARDUP_T!r}"""


def embedding_neardup_representatives_q(pred: str | None = None) -> str:
    """Transitive closure over the verified embedding near-dup pairs
    (embedding_neardup_q), every non-NULL vector joined back — the
    embedding twin of neardup_representatives_q, pinning the
    incremental bucket-store path's label maintenance. ``pred``
    restricts every embeddings read to the surviving corpus (the
    delete-twin form)."""
    vid = "CAST(e.vec_id AS BIGINT)"
    rep = f"coalesce(comp.cluster, {vid})"
    return f"""WITH RECURSIVE jp AS ({embedding_neardup_q(pred)}),
edges AS (SELECT a, b FROM jp UNION ALL SELECT b AS a, a AS b FROM jp),
reach(id, m) AS (
  SELECT a AS id, a AS m FROM edges
  UNION
  SELECT e.a AS id, r.m AS m FROM edges e JOIN reach r ON r.id = e.b
),
comp AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id)
SELECT {vid} AS id, {rep} AS rep_id, {rep} <> {vid} AS is_dup
FROM {_emb_src(pred)} e
LEFT JOIN comp ON comp.id = CAST(e.vec_id AS BIGINT)
WHERE e.embedding IS NOT NULL
ORDER BY id"""


def ivf_scan_l2() -> str:
    return ivf_scan("L2")


def embedding_code_dedup_q() -> str:
    return f"""WITH codes AS ({CODES})
SELECT min(id) AS keep_id, count(*) AS n_dups
FROM codes
GROUP BY qvec
ORDER BY keep_id"""


def lsh_scan_cosine(probes: list[int]) -> str:
    bucket = " + ".join(
        f"(CASE WHEN {_plane_dot('embedding', plane)} > 0.0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(HYPERPLANES)
    )
    d = dist_sql("COSINE", "embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q)
SELECT vec_id AS id, {d} AS distance
FROM embeddings, qq
WHERE embedding IS NOT NULL AND ({bucket}) IN ({", ".join(str(int(b)) for b in probes)})
ORDER BY distance ASC, id ASC
LIMIT {K}"""


def _half_round_sql(x: str, fmt: str) -> str:
    """Exact round-to-nearest-even of DOUBLE ``x`` (an f32-exact value)
    into f16 or bf16 value space, result as DOUBLE — mirrors
    codec.encode_vector / halffloat._decode_batch without bit tricks:
    ulp = 2^(max(e, e_min) - mant_bits), value = roundbankers(x/ulp)*ulp.
    The exponent from log2 is snapped with exact power() comparisons so
    binade edges can't be off by one; |x| past the format max rounds to
    ±Inf. Verified bit-exact against numpy's casts over the real data
    and a denormal/overflow-boundary corpus (tests/test_halffloat_golden
    pins the engine side; check_oracle pins this side)."""
    if fmt == "f16":
        mant, emin, maxfin = 10, -14, 65504.0
    elif fmt == "bf16":
        mant, emin, maxfin = 7, -126, 3.3895313892515355e38
    else:  # pragma: no cover
        raise ValueError(fmt)
    ax = f"abs({x})"
    e0 = f"CAST(floor(log2({ax})) AS INTEGER)"
    e = (
        f"(CASE WHEN {ax} < power(2.0, {e0}) THEN {e0} - 1 "
        f"WHEN {ax} >= power(2.0, {e0} + 1) THEN {e0} + 1 ELSE {e0} END)"
    )
    ulp = f"power(2.0, greatest({e}, {emin}) - {mant})"
    r = f"(roundbankers({ax} / {ulp}, 0) * {ulp})"
    return (
        f"(CASE WHEN {x} = 0.0 THEN {x} "
        f"WHEN {r} > {maxfin!r} THEN sign({x}) * 'infinity'::DOUBLE "
        f"ELSE sign({x}) * {r} END)"
    )


def halffloat_scan(fmt: str, k: int = K) -> str:
    """L2 kNN over half-precision storage — the SQL replay of
    halffloat_full_scan for finite data (the NaN/Inf lane rules never
    fire on the generated embeddings; the golden tests cover them).
    Op-for-op mirror of halffloat._distances: per-lane diff (through a
    FLOAT32 round for bf16, distance-cpu.c:176), two-pass LASSQ with a
    sequential lane-order Σ, sqrt, final FLOAT32 round, eps-snap."""
    import numpy as np

    if fmt == "f16":
        q = np.asarray(Q64, dtype=np.float64).astype(np.float16).astype(np.float64)
        lane = "(v[i] - q[i])"
    else:
        bits = np.asarray(Q64, dtype="<f4").view("<u4").astype("<u8")
        q = (
            (((bits + 0x7FFF + ((bits >> 16) & 1)) >> 16).astype("<u4") << np.uint32(16))
            .view("<f4")
            .astype(np.float64)
        )
        lane = "CAST(CAST((v[i] - q[i]) AS FLOAT) AS DOUBLE)"
    rounded = _half_round_sql("CAST(x AS DOUBLE)", fmt)
    ssq = _fold("list_transform(d, x -> (x / scale) * (x / scale))")
    dist = (
        f"(CASE WHEN scale = 0.0 THEN 0.0 "
        f"ELSE CAST(CAST(sqrt((scale * scale) * {ssq}) AS FLOAT) AS DOUBLE) END)"
    )
    return f"""WITH hv AS (
  SELECT vec_id AS id, list_transform(embedding, x -> {rounded}) AS v
  FROM embeddings WHERE embedding IS NOT NULL),
qq AS (SELECT {qvec_literal(list(q))} AS q),
dl AS (
  SELECT id, list_transform(range(1, {DIM + 1}), i -> {lane}) AS d
  FROM hv, qq),
sc AS (SELECT id, d, list_max(list_transform(d, x -> abs(x))) AS scale FROM dl)
SELECT id, {snap(dist)} AS distance
FROM sc
ORDER BY distance ASC, id ASC
LIMIT {k}"""


def ivf_scan(metric: str, pred: str | None = None) -> str:
    """``pred`` (over ``id``) is the survivor predicate for the store
    DELETE gate: the cent CTE stays UNFILTERED (frozen centroids —
    the delete does not re-fit, same contract as the quantize twin)
    and row assignment is per-row, so filtering assigned rows equals
    deleting them from the partitioned store."""
    d_assign = dist_sql("L2", "e.embedding", "c.cv")
    d_probe = dist_sql("L2", "cv", "q")
    d_final = dist_sql(metric, "v", "q")
    survives = f" AND ({pred})" if pred else ""
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
cent AS (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_C}),
assign AS (
  SELECT id, v, cid AS cluster FROM (
    SELECT e.vec_id AS id, e.embedding AS v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, c.cid ASC) AS rn
    FROM embeddings e, cent c WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
probes AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY {d_probe} ASC, cid ASC) AS rn
    FROM cent, qq)
  WHERE rn <= {IVF_NPROBE})
SELECT id, {d_final} AS distance
FROM assign, qq
WHERE cluster IN (SELECT cid FROM probes){survives}
ORDER BY distance ASC, id ASC
LIMIT {IVF_K}"""


def ivf_kmeans_scan(metric: str = "L2", iters: int = 3) -> str:
    """IVF over Lloyd-TRAINED centroids, fully adjudicated in SQL: with
    ``iters`` fixed, k-means unrolls into one CTE chain per iteration
    (assign -> fixed-point per-dimension sums -> means, empty clusters
    keep their previous centroid). This only works because kmeans_fit
    accumulates in DECIMAL fixed-point (order-independent) and assigns
    with the same snapped sequential-fold distances as every scan — the
    centroids are bit-identical on both engines, so the final probe +
    scan hash-matches like plain ivf_scan."""
    d_assign = dist_sql("L2", "b.v", "c.cv")
    parts = [
        f"""base AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v
  FROM embeddings WHERE embedding IS NOT NULL),
c0 AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
         list_transform(v, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT id, v FROM base ORDER BY id LIMIT {IVF_C}))"""
    ]
    for it in range(1, iters + 1):
        prev, a, p, m, cur = f"c{it - 1}", f"a{it}", f"p{it}", f"m{it}", f"c{it}"
        parts.append(f"""{a} AS (
  SELECT id, v, cid AS cluster FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {d_assign} ASC, c.cid ASC) AS rn
    FROM base b, {prev} c)
  WHERE rn = 1),
{p} AS (
  SELECT cluster, i AS pos,
         sum(CAST(round(CAST(v[i] AS DOUBLE) * 1000000.0) AS DECIMAL(38,0))) AS s,
         count(*) AS n
  FROM {a}, range(1, {DIM + 1}) t(i)
  GROUP BY 1, 2),
{m} AS (
  SELECT cluster AS cid,
         list((CAST(s AS DOUBLE) / 1000000.0) / n ORDER BY pos) AS cv
  FROM {p} GROUP BY cluster),
{cur} AS (
  SELECT {prev}.cid, coalesce({m}.cv, {prev}.cv) AS cv
  FROM {prev} LEFT JOIN {m} ON {m}.cid = {prev}.cid)""")
    last = f"c{iters}"
    d_probe = dist_sql("L2", "cv", "q")
    d_final = dist_sql(metric, "v", "q")
    parts.append(f"""qq AS (SELECT {qvec_literal(Q64)} AS q),
assign AS (
  SELECT id, v, cid AS cluster FROM (
    SELECT b.id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.id ORDER BY {d_assign} ASC, c.cid ASC) AS rn
    FROM base b, {last} c)
  WHERE rn = 1),
probes AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY {d_probe} ASC, cid ASC) AS rn
    FROM {last}, qq)
  WHERE rn <= {IVF_NPROBE})""")
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT id, {d_final} AS distance
FROM assign, qq
WHERE cluster IN (SELECT cid FROM probes)
ORDER BY distance ASC, id ASC
LIMIT {IVF_K}"""


# ---------------------------------------------------------------- round-3 additions: contamination / repetition / source mix /
# ---------------------------------------------------------------- as-of join / exact group quantiles

from sqlite_vector_spark.workload import BENCH_MOD, QUANTILES

#: 3-word shingle list from a words array ws (same shape as _SHINGLES)
_SH3 = ("CASE WHEN len(ws) < 3 THEN []::VARCHAR[] "
        "ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')) END")


def contamination_check_q() -> str:
    return f"""WITH w AS (SELECT doc_id, {WORDS} AS ws FROM documents),
dsh AS (
  SELECT DISTINCT doc_id, unnest({_SH3}) AS s FROM w),
bench AS (SELECT DISTINCT s FROM dsh WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id, s FROM dsh WHERE doc_id % {BENCH_MOD} <> 0),
tot AS (SELECT doc_id, count(*) AS c FROM train GROUP BY 1),
ov AS (SELECT doc_id, count(*) AS o FROM train JOIN bench USING (s) GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(t.c, 0) AS n_shingles,
       coalesce(v.o, 0) AS n_overlap,
       CASE WHEN coalesce(t.c, 0) = 0 THEN 0.0
            ELSE CAST(coalesce(v.o, 0) AS DOUBLE) / CAST(t.c AS DOUBLE) END AS contamination
FROM documents d
LEFT JOIN tot t ON t.doc_id = d.doc_id
LEFT JOIN ov v ON v.doc_id = d.doc_id
WHERE d.doc_id % {BENCH_MOD} <> 0
ORDER BY doc_id"""


def repetition_scores_q() -> str:
    top = ("coalesce(list_max(list_transform(list_distinct(ws), "
           "w -> CAST(len(list_filter(ws, x -> x = w)) AS BIGINT))), 0)")
    return f"""WITH w AS (SELECT doc_id, {WORDS} AS ws FROM documents),
s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
         {top} AS top_freq
  FROM w)
SELECT doc_id, n_tokens, n_types, top_freq,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE CAST(top_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS rep_ratio,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS type_token_ratio
FROM s"""


def source_stats_q() -> str:
    n_tok, quality = _quality_sql()
    return f"""WITH per_doc AS (
  SELECT source, lang, {n_tok} AS n_tok, {quality} AS q FROM documents)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       {_fixed_sum('q', 1000000.0)} AS sum_quality
FROM per_doc
GROUP BY source, lang
ORDER BY source, lang"""


def asof_join_events_q() -> str:
    return """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value FROM events),
tagged AS (
  SELECT event_id, user_id, us, value, 1 AS tag,
         NULL::BIGINT AS c_id, NULL::BIGINT AS c_us
  FROM e WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, us, NULL::DOUBLE AS value, 0 AS tag,
         event_id AS c_id, us AS c_us
  FROM e WHERE event_type = 'click'),
w AS (
  SELECT event_id, user_id, us, value, tag,
         last_value(c_id IGNORE NULLS) OVER win AS click_id,
         last_value(c_us IGNORE NULLS) OVER win AS click_us
  FROM tagged
  WINDOW win AS (PARTITION BY user_id ORDER BY us, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, us, value, click_id, click_us
FROM w WHERE tag = 1
ORDER BY event_id"""


def asof_null_carry_events_q() -> str:
    # Atomic struct carry mirror (workload.asof_null_carry_events_q):
    # the carry rides as ONE struct through last_value(IGNORE NULLS),
    # so a click whose (injected-NULL) value is NULL still carries ITS
    # OWN NULL, never an older click's value.
    return """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value FROM events),
tagged AS (
  SELECT event_id, user_id, us, 1 AS tag,
         CAST(NULL AS STRUCT(c_id BIGINT, c_val DOUBLE)) AS carry
  FROM e WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, us, 0 AS tag,
         struct_pack(c_id := event_id,
                     c_val := CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END) AS carry
  FROM e WHERE event_type = 'click'),
w AS (
  SELECT event_id, user_id, us, tag,
         last_value(carry IGNORE NULLS) OVER win AS carry
  FROM tagged
  WINDOW win AS (PARTITION BY user_id ORDER BY us, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, us, carry.c_id AS click_id, carry.c_val AS click_value
FROM w WHERE tag = 1
ORDER BY event_id"""


def value_quantiles_q() -> str:
    picks = ", ".join(
        f"max(CASE WHEN rn = CAST(ceil({q!r} * n) AS INTEGER) THEN value END) AS p{int(q * 100)}"
        for q in QUANTILES
    )
    return f"""WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type, {picks}
FROM r GROUP BY event_type ORDER BY event_type"""


def value_winsorize_q(lo: float, hi: float) -> str:
    # Mirror of workload.value_winsorize_q: identical type-1 rank
    # bounds + least/greatest clamp (comparison-only, bit-exact).
    return f"""WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
b AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(ceil({lo!r} * n) AS INTEGER) THEN value END) AS lo,
         max(CASE WHEN rn = CAST(ceil({hi!r} * n) AS INTEGER) THEN value END) AS hi
  FROM r GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, b.lo), b.hi) AS value_clipped,
       e.value <> least(greatest(e.value, b.lo), b.hi) AS was_clipped
FROM events e JOIN b ON b.event_type = e.event_type
ORDER BY e.event_id"""


def chunk_dedup_q() -> str:
    from sqlite_vector_spark.workload import CHUNK_W as S

    chunks = (
        f"CASE WHEN len(ws) = 0 THEN []::VARCHAR[] "
        f"ELSE list_transform(range(0, CAST(ceil(len(ws) / {float(S)!r}) AS BIGINT)), "
        f"j -> array_to_string(ws[j * {S} + 1 : j * {S} + {S}], ' ')) END"
    )
    return f"""WITH w AS (SELECT doc_id, {WORDS} AS ws FROM documents),
ch AS (SELECT doc_id, unnest({chunks}) AS chunk FROM w),
h AS (SELECT doc_id, {polyhash_sql('chunk')} AS h FROM ch),
cnt AS (SELECT h, count(*) AS c FROM h GROUP BY h),
pd AS (
  SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
  FROM h JOIN cnt USING (h) GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       coalesce(pd.n_chunks, 0) AS n_chunks,
       coalesce(pd.n_dup_chunks, 0) AS n_dup_chunks,
       CASE WHEN coalesce(pd.n_chunks, 0) = 0 THEN 0.0
            ELSE CAST(pd.n_dup_chunks AS DOUBLE) / CAST(pd.n_chunks AS DOUBLE) END AS dup_ratio
FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
ORDER BY doc_id"""


def random_projection_q() -> str:
    from sqlite_vector_spark.workload import PROJ_PLANES

    cols = ", ".join(
        f"{_plane_dot('embedding', plane)} AS p{p}" for p, plane in enumerate(PROJ_PLANES)
    )
    return f"""SELECT CAST(vec_id AS BIGINT) AS id, {cols}
FROM embeddings WHERE embedding IS NOT NULL"""


def pii_scrub_q() -> str:
    # Mirrors workload.pii_scrub_q's IN-PLAN synthetic PII injection
    # (email %7, ipv4 %11, phone %13, each derived from doc_id) so the
    # counts gate NONZERO — an all-zero gate proves nothing about
    # matching. Identical string construction on both engines.
    from sqlite_vector_spark.functions.text import PII_ORDER, PII_PATTERNS

    did = "CAST(doc_id AS BIGINT)"
    inj = (
        "text"
        f" || CASE WHEN {did} % 7 = 0 THEN ' contact user' || CAST({did} AS VARCHAR) || '@example.com' ELSE '' END"
        f" || CASE WHEN {did} % 11 = 0 THEN ' from 10.' || CAST({did} % 200 AS VARCHAR) || '.0.' || CAST({did} % 250 AS VARCHAR) ELSE '' END"
        f" || CASE WHEN {did} % 13 = 0 THEN ' call 555-' || CAST(1000 + {did} % 9000 AS VARCHAR) ELSE '' END"
    )
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{PII_PATTERNS[k]}')) AS BIGINT) AS n_{'ipv4' if k == 'ipv4' else k + 's'}"
        for k in ("email", "ipv4", "phone")
    )
    scrubbed = "t"
    for k in PII_ORDER:
        scrubbed = f"regexp_replace({scrubbed}, '{PII_PATTERNS[k]}', '<{k.upper()}>', 'g')"
    return f"""WITH inj AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {inj} AS t FROM documents)
SELECT doc_id, {counts},
       CAST(length({scrubbed}) AS BIGINT) AS scrubbed_len
FROM inj"""


def asof_tolerance_events_q() -> str:
    from sqlite_vector_spark.workload import ASOF_TOL_US

    return f"""WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
tagged AS (
  SELECT event_id, user_id, us, 1 AS tag, NULL::BIGINT AS c_id, NULL::BIGINT AS c_us
  FROM e WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, user_id, us, 0 AS tag, event_id AS c_id, us AS c_us
  FROM e WHERE event_type = 'click'),
w AS (
  SELECT event_id, user_id, us, tag,
         last_value(c_id IGNORE NULLS) OVER win AS click_id,
         last_value(c_us IGNORE NULLS) OVER win AS click_us
  FROM tagged
  WINDOW win AS (PARTITION BY user_id ORDER BY us, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, us,
       CASE WHEN abs(us - click_us) <= {ASOF_TOL_US} THEN click_id END AS click_id
FROM w WHERE tag = 1
ORDER BY event_id"""


def embedding_centroids_q() -> str:
    return f"""SELECT CAST(label AS INTEGER) AS label, CAST(i - 1 AS INTEGER) AS pos,
       (CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) / count(*) AS c
FROM embeddings, range(1, {DIM + 1}) t(i)
WHERE embedding IS NOT NULL
GROUP BY label, i
ORDER BY label, pos"""


def balanced_sample_q(k: int) -> str:
    # Mirror of workload.balanced_sample_q: content-hash rank window.
    return f"""WITH r AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {polyhash_sql('text')} ASC, CAST(doc_id AS BIGINT) ASC) AS rn
  FROM documents)
SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= {k}
ORDER BY lang, rn"""


def approx_quantile_audit_q(n_quantiles: int) -> str:
    # Invariant gate for the GK-sketch audit (workload.
    # approx_quantile_audit_q): the oracle can't reproduce the sketch,
    # but it CAN assert the contract columns — per (event_type, qi)
    # the group count and literal TRUE. A sketch/merge bug that pushes
    # any approx value outside its rank bracket hash-fails.
    return f"""SELECT event_type, CAST(t.qi AS INTEGER) AS qi,
       count(*) AS n, TRUE AS within_bound
FROM events, range(0, {n_quantiles}) t(qi)
WHERE value IS NOT NULL
GROUP BY event_type, t.qi
ORDER BY event_type, qi"""


def purchase_session_join_q(gap_us: int) -> str:
    # Plain BETWEEN join over the sessionize windows — the oracle
    # keeps the naive inequality formulation; the Spark side's bucket
    # rewrite must reproduce it exactly.
    ordered = "PARTITION BY user_id ORDER BY us, event_id"
    return f"""WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value FROM events),
b AS (
  SELECT user_id, event_id, us, value,
         CASE WHEN (us - lag(us) OVER ({ordered})) IS NULL
                   OR (us - lag(us) OVER ({ordered})) > {gap_us}
              THEN 1 ELSE 0 END AS new_sess
  FROM e),
s AS (
  SELECT user_id, us, value,
         sum(new_sess) OVER ({ordered} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM b),
sess AS (
  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         min(us) AS start_us, max(us) AS end_us
  FROM s GROUP BY user_id, session_seq),
p AS (
  SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.us, sess.session_seq
FROM p JOIN sess ON sess.user_id = p.user_id
                AND p.us BETWEEN sess.start_us AND sess.end_us
ORDER BY p.event_id"""


def embedding_dim_stats_q() -> str:
    # Mirror of workload.embedding_dim_stats_q: min/max are exact on
    # the cast-to-double lanes; the mean uses the fixed-point DECIMAL
    # recipe (order-independent, engine-identical).
    x = "CAST(embedding[i] AS DOUBLE)"
    return f"""SELECT CAST(i - 1 AS INTEGER) AS pos,
       min({x}) AS dim_min,
       max({x}) AS dim_max,
       (CAST(sum(CAST(round({x} * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) / count(*) AS dim_mean,
       count(*) AS n
FROM embeddings, range(1, {DIM + 1}) t(i)
WHERE embedding IS NOT NULL
GROUP BY i
ORDER BY pos"""


def text_normalize_q() -> str:
    norm = _norm_text_sql()
    n_tok = f"CAST(len(list_filter(string_split({norm}, ' '), w -> w <> '')) AS BIGINT)"
    return f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {norm} AS norm_text,
       {n_tok} AS norm_tokens
FROM documents"""


def ivf_knn_join_l2_q(nprobe: int | None = None) -> str:
    d_assign = dist_sql("L2", "e.embedding", "c.cv")
    d_probe = dist_sql("L2", "c.cv", "q.qv")
    d_final = dist_sql("L2", "a.v", "qp.qv")
    np_ = int(nprobe or IVF_NPROBE)
    return f"""WITH cent AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_C}),
assign AS (
  SELECT id, v, cid AS cluster FROM (
    SELECT e.vec_id AS id, e.embedding AS v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, c.cid ASC) AS rn
    FROM embeddings e, cent c WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
q AS (SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qv
      FROM embeddings WHERE vec_id < {NQ} AND embedding IS NOT NULL),
qp AS (
  SELECT qid, qv, cid AS cluster FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY {d_probe} ASC, c.cid ASC) AS rn
    FROM q, cent c)
  WHERE rn <= {np_}),
scored AS (
  SELECT qp.qid, a.id, {d_final} AS distance
  FROM assign a JOIN qp ON a.cluster = qp.cluster),
ranked AS (
  SELECT qid, id, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, id ASC) AS rn
  FROM scored)
SELECT qid, id, distance, CAST(rn AS INTEGER) AS rank FROM ranked WHERE rn <= {KNN_K}"""


def asof_forward_events_q() -> str:
    """Forward as-of mirror: descending scan, right rows (tag 0) still
    sort before left at equal ts so an equal-ts purchase is visible;
    id DESC makes the carried row the smallest qualifying id."""
    return """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
tagged AS (
  SELECT event_id, user_id, us, 1 AS tag, NULL::BIGINT AS p_id, NULL::BIGINT AS p_us
  FROM e WHERE event_type = 'click'
  UNION ALL
  SELECT event_id, user_id, us, 0 AS tag, event_id AS p_id, us AS p_us
  FROM e WHERE event_type = 'purchase'),
w AS (
  SELECT event_id, user_id, us, tag,
         last_value(p_id IGNORE NULLS) OVER win AS purchase_id,
         last_value(p_us IGNORE NULLS) OVER win AS purchase_us
  FROM tagged
  WINDOW win AS (PARTITION BY user_id ORDER BY us DESC, tag ASC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, us, purchase_id, purchase_us
FROM w WHERE tag = 1
ORDER BY event_id"""


def ivf_recall_at_k_q() -> str:
    d = dist_sql("L2", "cv", "qv")
    return f"""WITH ivf AS ({ivf_knn_join_l2_q()}),
q AS (SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qv
      FROM embeddings WHERE vec_id < {NQ} AND embedding IS NOT NULL),
c AS (SELECT vec_id AS id, embedding AS cv FROM embeddings WHERE embedding IS NOT NULL),
exact AS (
  SELECT qid AS eqid, id AS eid FROM (
    SELECT q.qid, c.id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {d} ASC, c.id ASC) AS rn
    FROM c, q)
  WHERE rn <= {KNN_K})
SELECT e.eqid AS qid,
       CAST(count(i.id) AS DOUBLE) / {float(KNN_K)!r} AS recall
FROM exact e
LEFT JOIN ivf i ON i.qid = e.eqid AND i.id = e.eid
GROUP BY e.eqid
ORDER BY qid"""


# ---------------------------------------------------------------- product quantization (operators/pq.py)

from sqlite_vector_spark.workload import PQ_DSUB, PQ_KSUB, PQ_M  # noqa: E402


def _pq_sub_sq(a: str, b: str, sub: str, dsub: int = PQ_DSUB) -> str:
    """Snapped sequential-fold SQUARED_L2 between subspace ``sub`` of
    two vectors indexed in place (no list slicing): lane i of subspace
    s is element i + s*dsub — identical lane order and IEEE ops to
    functions.distance.distance_tree_sql over slice() and to pq._py_sq_l2."""
    x = f"CAST({a}[i + {sub}*{dsub}] AS DOUBLE)"
    y = f"CAST({b}[i + {sub}*{dsub}] AS DOUBLE)"
    return snap(_fold(f"list_transform(range(1, {dsub + 1}), i -> ({x} - {y}) * ({x} - {y}))"))


#: codebook rows (mirrors workload._pq_codebooks: first PQ_KSUB ids)
PQ_CB = f"SELECT CAST(vec_id AS BIGINT) AS j, embedding AS cv FROM embeddings WHERE vec_id < {PQ_KSUB} AND embedding IS NOT NULL"

#: subspace index table 0..PQ_M-1
PQ_SUBS = f"SELECT unnest(range(0, {PQ_M})) AS sub"


def _pq_codes_ctes() -> str:
    """cb/subs/asgn/codes CTE chain: per-(row, subspace) argmin over
    the codebook with (distance, j) tiebreak = pq.pq_encode_col's
    first-minimum position; codes collected in subspace order."""
    d = _pq_sub_sq("e.embedding", "c.cv", "s.sub")
    return f"""cb AS ({PQ_CB}),
subs AS ({PQ_SUBS}),
asgn AS (
  SELECT e.vec_id AS id, s.sub, c.j,
         row_number() OVER (PARTITION BY e.vec_id, s.sub ORDER BY {d} ASC, c.j ASC) AS rn
  FROM embeddings e, subs s, cb c
  WHERE e.embedding IS NOT NULL),
codes AS (SELECT id, list(j ORDER BY sub) AS cl FROM asgn WHERE rn = 1 GROUP BY id)"""


def _pq_lut_cte() -> str:
    """Flat LUT list ordered (sub, j): lf[s*KSUB + code + 1] =
    snapped ||q_s - c_{s,code}||² — the same doubles pq.adc_lut
    computes driver-side (same fold, same f32 inputs)."""
    d = _pq_sub_sq("q", "c.cv", "s.sub")
    return f"""lut AS (
  SELECT list(d ORDER BY sub, j) AS lf FROM (
    SELECT s.sub, c.j, {d} AS d FROM subs s, cb c, qq))"""


def _pq_adc_dist() -> str:
    """ADC distance: sequential fold of lf[s*KSUB + cl[s+1] + 1] in
    subspace order (mirrors F.aggregate over zip_with in
    pq.adc_distance_sql), then sqrt + snap."""
    terms = f"list_transform(range(0, {PQ_M}), s -> lf[s*{PQ_KSUB} + cl[s+1] + 1])"
    return snap(f"sqrt({_fold(terms)})")


def pq_codes_q() -> str:
    return f"""WITH {_pq_codes_ctes()}
SELECT id,
       array_to_string(list_transform(cl, x -> CAST(x AS VARCHAR)), ',') AS codes_csv,
       CAST(len(cl) AS BIGINT) AS m
FROM codes
ORDER BY id"""


def pq_scan_l2_q(k: int = K) -> str:
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
{_pq_codes_ctes()},
{_pq_lut_cte()}
SELECT id, {_pq_adc_dist()} AS distance
FROM codes, lut
ORDER BY distance ASC, id ASC
LIMIT {k}"""


def ivf_pq_scan_l2_q() -> str:
    d_assign = dist_sql("L2", "e.embedding", "cn.cnv")
    d_probe = dist_sql("L2", "cnv", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
cent AS (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cnv FROM embeddings WHERE vec_id < {IVF_C}),
assign AS (
  SELECT id, cid AS cluster FROM (
    SELECT e.vec_id AS id, cn.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, cn.cid ASC) AS rn
    FROM embeddings e, cent cn WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
probes AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY {d_probe} ASC, cid ASC) AS rn
    FROM cent, qq)
  WHERE rn <= {IVF_NPROBE}),
{_pq_codes_ctes()},
{_pq_lut_cte()}
SELECT c2.id AS id, {_pq_adc_dist()} AS distance
FROM codes c2, lut, assign a
WHERE a.id = c2.id AND a.cluster IN (SELECT cid FROM probes)
ORDER BY distance ASC, c2.id ASC
LIMIT {IVF_K}"""


def _mat_literal(rm) -> str:
    """DOUBLE[][] literal with exact float round-trip, the matrix
    analog of qvec_literal (same string-cast rule — see there)."""
    rows = ",".join(
        "[" + ",".join(f"'{float(v)!r}'::DOUBLE" for v in row) + "]" for row in rm
    )
    return f"[{rows}]::DOUBLE[][]"


def opq_scan_l2_q() -> str:
    """OPQ gate mirror (workload.opq_scan_l2): the seeded rotation
    rides in as a DOUBLE[][] literal; rotated lane i is the same
    0.0-init sequential fold of v[j] * R[i][j] as pq.rotate_col;
    codebooks = rotated first PQ_KSUB ids; the query arrives
    PRE-ROTATED with pq._rotate_py's identical fold, so the LUT/ADC
    chain is byte-for-byte the raw-PQ oracle over the rotated frame."""
    from sqlite_vector_spark.operators.pq import _rotate_py
    from sqlite_vector_spark.workload import _opq_rotation

    R = _opq_rotation()
    qrot = _rotate_py([float(x) for x in Q64], R)
    d_code = _pq_sub_sq("r.rv", "c.cv", "s.sub")
    lane = _fold(
        f"list_transform(range(1, {DIM + 1}), j -> CAST(e.embedding[j] AS DOUBLE) * rm[i][j])"
    )
    return f"""WITH rmat AS (SELECT {_mat_literal(R)} AS rm),
qq AS (SELECT {qvec_literal(qrot)} AS q),
rot AS (
  SELECT e.vec_id AS id,
         list_transform(range(1, {DIM + 1}), i -> {lane}) AS rv
  FROM embeddings e, rmat
  WHERE e.embedding IS NOT NULL),
cb AS (SELECT id AS j, rv AS cv FROM rot WHERE id < {PQ_KSUB}),
subs AS ({PQ_SUBS}),
asgn AS (
  SELECT r.id, s.sub, c.j,
         row_number() OVER (PARTITION BY r.id, s.sub ORDER BY {d_code} ASC, c.j ASC) AS rn
  FROM rot r, subs s, cb c),
codes AS (SELECT id, list(j ORDER BY sub) AS cl FROM asgn WHERE rn = 1 GROUP BY id),
{_pq_lut_cte()}
SELECT id, {_pq_adc_dist()} AS distance
FROM codes, lut
ORDER BY distance ASC, id ASC
LIMIT {K}"""


def ivf_pq_residual_scan_l2_q() -> str:
    """Residual IVFADC mirror (workload.ivf_pq_residual_scan_l2):
    residual table rv = embedding - coarse centroid (exact IEEE
    double subtraction of the same f32-cast values the engine
    subtracts), codebooks = rv of the first PQ_KSUB ids, codes = per-
    (row, subspace) snapped argmin over them, and ONE LUT PER PROBED
    CLUSTER built on (q - centroid[p]) — the same doubles
    pq.adc_lut computes on the driver. Final distance joins each
    row's cluster to its probe LUT: only probed clusters survive the
    inner join, mirroring the engine's branch filters."""
    from sqlite_vector_spark.workload import DIM

    d_assign = dist_sql("L2", "e.embedding", "cn.cnv")
    d_probe = dist_sql("L2", "cnv", "q")
    d_code = _pq_sub_sq("r.rv", "c.cv", "s.sub")
    d_lut = _pq_sub_sq("qr.qr", "c.cv", "s.sub")
    rv = (
        f"list_transform(range(1, {DIM + 1}), "
        f"i -> CAST(e.embedding[i] AS DOUBLE) - CAST(cn.cnv[i] AS DOUBLE))"
    )
    qr = (
        f"list_transform(range(1, {DIM + 1}), "
        f"i -> q[i] - CAST(cn.cnv[i] AS DOUBLE))"
    )
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
cent AS (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cnv FROM embeddings WHERE vec_id < {IVF_C}),
assign AS (
  SELECT id, cid AS cluster FROM (
    SELECT e.vec_id AS id, cn.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, cn.cid ASC) AS rn
    FROM embeddings e, cent cn WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
resid AS (
  SELECT e.vec_id AS id, a.cluster, {rv} AS rv
  FROM embeddings e
  JOIN assign a ON a.id = e.vec_id
  JOIN cent cn ON cn.cid = a.cluster
  WHERE e.embedding IS NOT NULL),
cb AS (SELECT id AS j, rv AS cv FROM resid WHERE id < {PQ_KSUB}),
subs AS ({PQ_SUBS}),
asgn AS (
  SELECT r.id, s.sub, c.j,
         row_number() OVER (PARTITION BY r.id, s.sub ORDER BY {d_code} ASC, c.j ASC) AS rn
  FROM resid r, subs s, cb c),
codes AS (SELECT id, list(j ORDER BY sub) AS cl FROM asgn WHERE rn = 1 GROUP BY id),
probes AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY {d_probe} ASC, cid ASC) AS rn
    FROM cent, qq)
  WHERE rn <= {IVF_NPROBE}),
qres AS (
  SELECT p.cid, {qr} AS qr
  FROM probes p JOIN cent cn ON cn.cid = p.cid, qq),
lutp AS (
  SELECT cid, list(d ORDER BY sub, j) AS lf FROM (
    SELECT qr.cid, s.sub, c.j, {d_lut} AS d
    FROM qres qr, subs s, cb c)
  GROUP BY cid)
SELECT c2.id AS id, {_pq_adc_dist()} AS distance
FROM codes c2
JOIN resid r2 ON r2.id = c2.id
JOIN lutp l ON l.cid = r2.cluster
ORDER BY distance ASC, id ASC
LIMIT {IVF_K}"""


def pq_recall_at_k_q() -> str:
    d_full = dist_sql("L2", "embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
{_pq_codes_ctes()},
{_pq_lut_cte()},
exact AS (
  SELECT id FROM (
    SELECT vec_id AS id, row_number() OVER (ORDER BY {d_full} ASC, vec_id ASC) AS rn
    FROM embeddings, qq WHERE embedding IS NOT NULL)
  WHERE rn <= {RECALL_K}),
pqk AS (
  SELECT id FROM (
    SELECT id, row_number() OVER (ORDER BY d ASC, id ASC) AS rn FROM (
      SELECT c2.id, {_pq_adc_dist()} AS d FROM codes c2, lut))
  WHERE rn <= {RECALL_K})
SELECT CAST(count(p.id) AS DOUBLE) / {float(RECALL_K)!r} AS recall
FROM exact e LEFT JOIN pqk p ON p.id = e.id"""


def pq_rerank_scan_l2_q() -> str:
    from sqlite_vector_spark.workload import RERANK_M

    d_full = dist_sql("L2", "e.embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
{_pq_codes_ctes()},
{_pq_lut_cte()},
cand AS (
  SELECT id FROM (
    SELECT id, row_number() OVER (ORDER BY d ASC, id ASC) AS rn FROM (
      SELECT c2.id, {_pq_adc_dist()} AS d FROM codes c2, lut))
  WHERE rn <= {RERANK_M})
SELECT e.vec_id AS id, {d_full} AS distance
FROM embeddings e, qq
WHERE e.embedding IS NOT NULL AND e.vec_id IN (SELECT id FROM cand)
ORDER BY distance ASC, id ASC
LIMIT {K}"""


# ---------------------------------------------------------------- binary quantization (operators/bq.py)


def _bq_word_sql(vec: str, w: int, dim: int) -> str:
    """Packed word w of the sign bits of ``vec``: Σ_i (CASE WHEN
    vec[w*64+i+1] > 0 THEN signed_bit_i) in lane order — bit 63's
    term is the NEGATIVE two's-complement value, so partial sums stay
    in BIGINT range and the total equals the engine's shiftleft
    packing exactly."""
    terms = []
    for i in range(min(64, dim - w * 64)):
        bit = 1 << i
        if bit >= 1 << 63:
            bit -= 1 << 64
        terms.append(
            f"(CASE WHEN CAST({vec}[{w * 64 + i + 1}] AS DOUBLE) > 0.0 "
            f"THEN CAST({bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(terms) + ")"


def _bq_codes_cte(dim: int = DIM) -> str:
    nw = (dim + 63) // 64
    words = ", ".join(f"{_bq_word_sql('embedding', w, dim)} AS w{w}" for w in range(nw))
    lst = "[" + ", ".join(f"w{w}" for w in range(nw)) + "]"
    return f"""bqc AS (
  SELECT id, {lst} AS bits FROM (
    SELECT vec_id AS id, {words} FROM embeddings WHERE embedding IS NOT NULL))"""


def bq_codes_q() -> str:
    return f"""WITH {_bq_codes_cte()}
SELECT id,
       array_to_string(list_transform(bits, x -> CAST(x AS VARCHAR)), ',') AS bits_csv,
       CAST(len(bits) AS BIGINT) AS n_words
FROM bqc
ORDER BY id"""


def bq_scan_hamming_q(k: int = K) -> str:
    from sqlite_vector_spark.operators.bq import bq_query_words

    qw = bq_query_words(Q64)
    ham = " + ".join(
        f"CAST(bit_count(xor(bits[{w + 1}], CAST({q} AS BIGINT))) AS BIGINT)"
        for w, q in enumerate(qw)
    )
    return f"""WITH {_bq_codes_cte()}
SELECT id, ({ham}) AS hamming
FROM bqc
ORDER BY hamming ASC, id ASC
LIMIT {k}"""


def bq_rerank_scan_l2_q() -> str:
    from sqlite_vector_spark.operators.bq import bq_query_words
    from sqlite_vector_spark.workload import RERANK_M

    qw = bq_query_words(Q64)
    ham = " + ".join(
        f"CAST(bit_count(xor(bits[{w + 1}], CAST({q} AS BIGINT))) AS BIGINT)"
        for w, q in enumerate(qw)
    )
    d_full = dist_sql("L2", "e.embedding", "q")
    return f"""WITH qq AS (SELECT {qvec_literal(Q64)} AS q),
{_bq_codes_cte()},
cand AS (
  SELECT id FROM (
    SELECT id, row_number() OVER (ORDER BY ({ham}) ASC, id ASC) AS rn FROM bqc)
  WHERE rn <= {RERANK_M})
SELECT e.vec_id AS id, {d_full} AS distance
FROM embeddings e, qq
WHERE e.embedding IS NOT NULL AND e.vec_id IN (SELECT id FROM cand)
ORDER BY distance ASC, id ASC
LIMIT {K}"""


# ---------------------------------------------------------------- n-gram LM quality scoring (functions/lm.py)


def lm_doc_scores_q() -> str:
    from sqlite_vector_spark.workload import LM_TRAIN_MOD

    bigrams = (
        "list_transform(range(1, len(ws)), i -> struct_pack(t1 := ws[i], t2 := ws[i+1]))"
    )
    return f"""WITH tokd AS (
  SELECT doc_id, {WORDS} AS ws FROM documents),
train_bg AS (
  SELECT bg.t1 AS t1, bg.t2 AS t2, count(*) AS c12 FROM (
    SELECT unnest({bigrams}) AS bg FROM tokd WHERE doc_id % {LM_TRAIN_MOD} = 0)
  GROUP BY 1, 2),
train_uni AS (
  SELECT t, count(*) AS c1 FROM (
    SELECT unnest(ws) AS t FROM tokd WHERE doc_id % {LM_TRAIN_MOD} = 0)
  GROUP BY t),
vsz AS (SELECT count(*) AS v FROM train_uni),
score_bg AS (
  SELECT doc_id, bg.t1 AS t1, bg.t2 AS t2 FROM (
    SELECT doc_id, unnest({bigrams}) AS bg FROM tokd WHERE doc_id % {LM_TRAIN_MOD} <> 0)),
probs AS (
  SELECT s.doc_id,
         (CAST(coalesce(b.c12, 0) + 1 AS DOUBLE))
           / (CAST(coalesce(u.c1, 0) AS DOUBLE) + CAST(v AS DOUBLE)) AS p
  FROM score_bg s
  LEFT JOIN train_bg b ON b.t1 = s.t1 AND b.t2 = s.t2
  LEFT JOIN train_uni u ON u.t = s.t1
  CROSS JOIN vsz),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CAST(round(p * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS psum
  FROM probs GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       coalesce(a.psum, 0.0) AS psum
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id % {LM_TRAIN_MOD} <> 0) d
LEFT JOIN agg a ON a.doc_id = d.doc_id
ORDER BY d.doc_id"""


# ---------------------------------------------------------------- chunking with overlap + temperature mixing (round 6)


def doc_chunk_overlap_q() -> str:
    from sqlite_vector_spark.workload import CHUNK_SIZE, CHUNK_STRIDE

    starts = (
        f"range(1, greatest(len(ws) - {CHUNK_SIZE} + {CHUNK_STRIDE}, 1) + 1, {CHUNK_STRIDE})"
    )
    return f"""WITH tokd AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {WORDS} AS ws FROM documents),
ch AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS chunk_id,
         ws[s : s + {CHUNK_SIZE} - 1] AS toks
  FROM (
    SELECT doc_id, ws, unnest({starts}) AS s,
           generate_subscripts({starts}, 1) AS i
    FROM tokd))
SELECT doc_id, chunk_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks, ' ') AS chunk_text
FROM ch
WHERE len(toks) > 0
ORDER BY doc_id, chunk_id"""


def temperature_mix_q() -> str:
    bucket = f"(({polyhash_sql('text')}) % 1000 + 1000) % 1000"
    return f"""WITH counts AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
mn AS (SELECT min(n_lang) AS n_min FROM counts),
rates AS (
  SELECT lang,
         CAST(floor(1000.0 * sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n_lang AS DOUBLE))) AS BIGINT) AS rate_pm
  FROM counts, mn)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, r.rate_pm, {bucket} AS bucket
FROM documents d
JOIN rates r ON r.lang = d.lang
WHERE {bucket} < r.rate_pm
ORDER BY doc_id"""


# ---------------------------------------------------------------- round-6c: hybrid retrieval / matryoshka / events analytics /
# ---------------------------------------------------------------- semantic dedup / sketch audits

#: normalized-token list (mirror of functions.text words(normalize_text(...)))
_NORM_TOKS = ("list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text), "
              f"'{_PUNCT_RE}', ' ', 'g'), '  *', ' ', 'g')), ' '), w -> w <> '')")


def _bm25_ctes(terms, k1: float, b: float) -> str:
    """base/stats CTEs + the fixed-order score expression for
    rational-idf BM25 (mirror of operators/retrieval.bm25_scores —
    all constants are Python-computed doubles emitted via repr so
    both engines parse the identical bit pattern; every op is exact
    or singly-rounded IEEE, no transcendentals)."""
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0.0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    one_b = repr(1.0 - b)
    k1p1 = repr(k1 + 1.0)
    terms_sql = []
    for i in range(len(terms)):
        idf = f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        denom = f"(tf_{i} + {k1!r} * ({one_b} + {b!r} * (dl / (sum_dl / n_docs))))"
        terms_sql.append(f"({idf} * ((tf_{i} * {k1p1}) / {denom}))")
    score = terms_sql[0]
    for t in terms_sql[1:]:
        score = f"({score} + {t})"
    return f"""tok AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {_NORM_TOKS} AS toks
  FROM documents WHERE text IS NOT NULL),
base AS (
  SELECT id, CAST(len(toks) AS DOUBLE) AS dl,
         {tf_cols}
  FROM tok),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) AS sum_dl,
         {df_cols}
  FROM base),
scored AS (
  SELECT id, {score} AS score FROM base, stats)"""


def bm25_topk_q() -> str:
    from sqlite_vector_spark.operators.retrieval import BM25_B, BM25_K1
    from sqlite_vector_spark.workload import BM25_TERMS, HYBRID_K

    return f"""WITH {_bm25_ctes(BM25_TERMS, BM25_K1, BM25_B)}
SELECT id, score FROM scored
ORDER BY score DESC, id ASC
LIMIT {HYBRID_K}"""


def hybrid_rrf_q() -> str:
    from sqlite_vector_spark.operators.retrieval import BM25_B, BM25_K1, RRF_K
    from sqlite_vector_spark.workload import BM25_TERMS, HYBRID_K

    d = dist_sql("COSINE", "embedding", "q")
    rk = repr(float(RRF_K))
    return f"""WITH {_bm25_ctes(BM25_TERMS, BM25_K1, BM25_B)},
varm AS (
  SELECT vec_id AS id, {d} AS distance
  FROM embeddings, (SELECT {qvec_literal(Q64)} AS q)
  WHERE embedding IS NOT NULL
  ORDER BY distance ASC, id ASC LIMIT {HYBRID_K}),
vr AS (
  SELECT id, row_number() OVER (ORDER BY distance ASC, id ASC) AS rank_0 FROM varm),
larm AS (
  SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT {HYBRID_K}),
br AS (
  SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank_1 FROM larm),
fused AS (
  SELECT coalesce(vr.id, br.id) AS id, vr.rank_0 AS rank_0, br.rank_1 AS rank_1
  FROM vr FULL OUTER JOIN br ON vr.id = br.id)
SELECT id,
       (coalesce(1.0 / ({rk} + CAST(rank_0 AS DOUBLE)), 0.0)
        + coalesce(1.0 / ({rk} + CAST(rank_1 AS DOUBLE)), 0.0)) AS rrf_score,
       CAST(rank_0 AS INTEGER) AS rank_0,
       CAST(rank_1 AS INTEGER) AS rank_1
FROM fused
ORDER BY rrf_score DESC, id ASC
LIMIT {HYBRID_K}"""


def matryoshka_rerank_l2_q() -> str:
    from sqlite_vector_spark.workload import MAT_DIM, MAT_M

    # _pair_fold indexes a[i] for i in 1..dim, so the coarse pass is
    # just dist_sql at dim=MAT_DIM over the untruncated column — the
    # same lanes the Spark side folds over slice(embedding, 1, MAT_DIM)
    cd = dist_sql("L2", "embedding", "q16", MAT_DIM)
    d = dist_sql("L2", "embedding", "qf")
    return f"""WITH q AS (
  SELECT {qvec_literal(Q64[:MAT_DIM])} AS q16, {qvec_literal(Q64)} AS qf),
cand AS (
  SELECT vec_id AS id FROM embeddings, q
  WHERE embedding IS NOT NULL
  ORDER BY {cd} ASC, vec_id ASC LIMIT {MAT_M})
SELECT vec_id AS id, {d} AS distance
FROM embeddings, q
WHERE embedding IS NOT NULL AND vec_id IN (SELECT id FROM cand)
ORDER BY distance ASC, id ASC
LIMIT {K}"""


def approx_distinct_audit_q() -> str:
    # Invariant gate (same pattern as approx_quantile_audit_q): the
    # oracle can't reproduce Spark's HLL++ registers, but the exact
    # distinct count and the literal-TRUE contract column are exact;
    # a sketch/merge regression that breaks the 4-sigma bound
    # hash-fails on within_bound.
    return """SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type"""


def cohort_retention_q(week_ns: int) -> str:
    return f"""WITH uw AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // {week_ns} AS week FROM events),
cw AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
FROM uw JOIN cw USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2"""


def event_funnel_q(steps, window_ns: int) -> str:
    s1, s2, s3 = steps
    return f"""WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns FROM events),
f1 AS (
  SELECT user_id, min(ts_ns) AS t1 FROM e WHERE event_type = '{s1}' GROUP BY user_id),
f2 AS (
  SELECT e.user_id, t1, min(ts_ns) AS t2
  FROM e JOIN f1 USING (user_id)
  WHERE event_type = '{s2}' AND ts_ns > t1 AND ts_ns - t1 <= {window_ns}
  GROUP BY e.user_id, t1),
f3 AS (
  SELECT e.user_id, min(ts_ns) AS t3
  FROM e JOIN f2 USING (user_id)
  WHERE event_type = '{s3}' AND ts_ns > t2 AND ts_ns - t1 <= {window_ns}
  GROUP BY e.user_id)
SELECT CAST(1 AS INTEGER) AS step_idx, '{s1}' AS step, count(*) AS n_users FROM f1
UNION ALL
SELECT CAST(2 AS INTEGER), '{s2}', count(*) FROM f2
UNION ALL
SELECT CAST(3 AS INTEGER), '{s3}', count(*) FROM f3
ORDER BY step_idx"""


def semantic_dedup_q() -> str:
    from sqlite_vector_spark.workload import SEM_C, SEM_T

    d_assign = dist_sql("L2", "e.embedding", "c.cv")
    d_pair = dist_sql("COSINE", "a.v", "b.v")
    return f"""WITH cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cv
  FROM embeddings WHERE vec_id < {SEM_C}),
assign AS (
  SELECT id, v, cluster FROM (
    SELECT e.vec_id AS id, e.embedding AS v, c.cid AS cluster,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, c.cid ASC) AS rn
    FROM embeddings e, cent c WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.id AS id
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.id < b.id
  WHERE {d_pair} < {SEM_T!r})
SELECT s.id, CAST(s.cluster AS INTEGER) AS cluster,
       (s.id NOT IN (SELECT id FROM dropped)) AS keep
FROM assign s
ORDER BY s.id"""


# ---------------------------------------------------------------- r6d: corpus cleaning / labeling / feature ops


def boilerplate_strip_q() -> str:
    from sqlite_vector_spark.workload import BOILER_DF, CHUNK_W as S

    chunk_structs = (
        f"CASE WHEN len(ws) = 0 THEN []::STRUCT(pos INTEGER, chunk VARCHAR)[] "
        f"ELSE list_transform(range(0, CAST(ceil(len(ws) / {float(S)!r}) AS BIGINT)), "
        f"j -> {{'pos': CAST(j AS INTEGER), "
        f"'chunk': array_to_string(ws[j * {S} + 1 : j * {S} + {S}], ' ')}}) END"
    )
    return f"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS id, {WORDS} AS ws FROM documents),
ch AS (SELECT id, unnest({chunk_structs}, recursive := true) FROM w),
h AS (SELECT id, pos, chunk, {polyhash_sql('chunk')} AS h FROM ch),
boiler AS (
  SELECT h FROM (SELECT h, count(DISTINCT id) AS df FROM h GROUP BY h)
  WHERE df >= {BOILER_DF}),
kept AS (SELECT id, pos, chunk FROM h WHERE h NOT IN (SELECT h FROM boiler)),
pd AS (
  SELECT id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY id),
tot AS (SELECT id, CAST(ceil(len(ws) / {float(S)!r}) AS BIGINT) AS n_chunks FROM w)
SELECT tot.id AS doc_id, tot.n_chunks,
       CAST(coalesce(pd.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(tot.n_chunks - coalesce(pd.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(pd.clean_text, '') AS clean_text,
       CAST(length(coalesce(pd.clean_text, '')) AS BIGINT) AS clean_len
FROM tot LEFT JOIN pd USING (id)
ORDER BY doc_id"""


def gopher_quality_q() -> str:
    from sqlite_vector_spark.workload import (
        GOPHER_MIN_STOPS,
        GOPHER_MIN_TTR,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_HI,
        GOPHER_MWL_LO,
    )

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {WORDS} AS ws FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws, x -> CAST(length(x) AS BIGINT))), (a, x) -> a + x) AS char_sum,
         CAST(len(list_filter(ws, x -> x IN ({stop_list}))) AS BIGINT) AS stop_hits,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_types
  FROM w),
r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
         stop_hits,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) END AS type_token_ratio
  FROM m)
SELECT doc_id, n_words, mean_word_len, stop_hits, type_token_ratio,
       (n_words >= {GOPHER_MIN_WORDS}
        AND mean_word_len >= {GOPHER_MWL_LO!r} AND mean_word_len <= {GOPHER_MWL_HI!r}
        AND stop_hits >= {GOPHER_MIN_STOPS}
        AND type_token_ratio > {GOPHER_MIN_TTR!r}) AS keep
FROM r
ORDER BY doc_id"""


def knn_classify_q() -> str:
    from sqlite_vector_spark.workload import CLS_MOD

    d = dist_sql("L2", "cv", "qv")
    return f"""WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id % {CLS_MOD} = 0 AND embedding IS NOT NULL),
c AS (
  SELECT vec_id AS id, embedding AS cv, CAST(label AS INTEGER) AS label FROM embeddings
  WHERE vec_id % {CLS_MOD} <> 0 AND embedding IS NOT NULL),
nn AS (
  SELECT qid, id, label FROM (
    SELECT q.qid, c.id, c.label,
           row_number() OVER (PARTITION BY q.qid ORDER BY {d} ASC, c.id ASC) AS rn
    FROM c, q)
  WHERE rn <= {KNN_K}),
votes AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY qid, label),
best AS (
  SELECT qid, label, votes,
         row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS rn
  FROM votes)
SELECT qid, label AS pred_label, CAST(votes AS BIGINT) AS votes
FROM best WHERE rn = 1
ORDER BY qid"""


def embedding_outliers_q() -> str:
    from sqlite_vector_spark.workload import OUTLIER_N

    return f"""WITH cent AS (
  SELECT CAST(i - 1 AS INTEGER) AS pos,
         (CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) / count(*) AS c
  FROM embeddings, range(1, {DIM + 1}) t(i)
  WHERE embedding IS NOT NULL
  GROUP BY i),
cv AS (SELECT list(c ORDER BY pos) AS cv FROM cent),
scored AS (
  SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, {DIM + 1}),
                i -> (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i]) * (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i]))),
              (a, x) -> a + x)) AS dist
  FROM embeddings e, cv
  WHERE e.embedding IS NOT NULL)
SELECT vec_id, dist,
       (row_number() OVER (ORDER BY dist DESC, vec_id ASC)) <= {OUTLIER_N} AS is_outlier
FROM scored
ORDER BY vec_id"""


def user_rolling_q() -> str:
    from sqlite_vector_spark.workload import ROLL_WIN_US

    frame = f"PARTITION BY user_id ORDER BY us RANGE BETWEEN {ROLL_WIN_US} PRECEDING AND CURRENT ROW"
    return f"""WITH e AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
         epoch_us(ts) AS us, value
  FROM events)
SELECT event_id, user_id, us AS ts_us,
       CAST(count(*) OVER ({frame}) AS BIGINT) AS n_7d,
       CAST(sum(CAST(round(value * 10000.0) AS DECIMAL(38,0))) OVER ({frame}) AS DOUBLE) / 10000.0 AS sum_value_7d
FROM e
ORDER BY event_id"""


def user_decay_q() -> str:
    from sqlite_vector_spark.workload import _DECAY_DAY_US, DECAY_CAP_D

    shift = (
        f"(CAST(1 AS BIGINT) << CAST({DECAY_CAP_D} - "
        f"least((tmax_us - us) // {_DECAY_DAY_US}, {DECAY_CAP_D}) AS INTEGER))"
    )
    return f"""WITH e AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS us, value FROM events),
t AS (SELECT max(us) AS tmax_us FROM e),
s AS (
  SELECT user_id, CAST(round(value * 10000.0) AS BIGINT) * {shift} AS fx
  FROM e, t)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(fx AS DECIMAL(38,0))) AS DOUBLE) / {10_000.0 * float(1 << DECAY_CAP_D)!r} AS decay_score
FROM s GROUP BY user_id ORDER BY user_id"""


def mmr_rerank_l2_q() -> str:
    from sqlite_vector_spark.workload import MMR_C, MMR_K, MMR_LAM, Q64

    dq = dist_sql("L2", "embedding", "qv")
    dpair = dist_sql("L2", "va", "vb")
    return f"""WITH RECURSIVE
q AS (SELECT {qvec_literal(Q64)} AS qv),
cand AS (
  SELECT id, v, dq FROM (
    SELECT e.vec_id AS id, e.embedding AS v, {dq} AS dq,
           row_number() OVER (ORDER BY {dq} ASC, e.vec_id ASC) AS rn
    FROM embeddings e, q WHERE e.embedding IS NOT NULL)
  WHERE rn <= {MMR_C}),
pair AS (
  SELECT a.id AS pa, b.id AS pb, {dpair} AS d
  FROM (SELECT id, v AS va FROM cand) a, (SELECT id, v AS vb FROM cand) b
  WHERE a.id <> b.id),
sel AS (
  SELECT 1 AS step,
         [(SELECT id FROM cand ORDER BY dq ASC, id ASC LIMIT 1)] AS ids
  UNION ALL
  SELECT s.step + 1,
         list_append(s.ids, (
           SELECT c.id FROM cand c
           WHERE NOT list_contains(s.ids, c.id)
           ORDER BY {MMR_LAM!r} * c.dq - {1.0 - MMR_LAM!r} * (
             SELECT min(p.d) FROM pair p WHERE p.pa = c.id AND list_contains(s.ids, p.pb)
           ) ASC, c.id ASC LIMIT 1))
  FROM sel s WHERE s.step < {MMR_K})
SELECT CAST(u.ord AS INTEGER) AS mmr_rank, CAST(u.id AS BIGINT) AS id, c.dq AS distance
FROM (SELECT unnest(ids) AS id, generate_subscripts(ids, 1) AS ord
      FROM sel WHERE step = {MMR_K}) u
JOIN cand c ON c.id = u.id
ORDER BY mmr_rank"""


def source_overlap_q() -> str:
    return f"""WITH w AS (SELECT source, {WORDS} AS ws FROM documents),
sh AS (SELECT source, unnest({_SH3}) AS s FROM w),
d AS (SELECT DISTINCT source, {polyhash_sql('s')} AS h FROM sh),
tot AS (SELECT source, count(*) AS n FROM d GROUP BY source),
pair AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared
  FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT p.sa, p.sb, p.n_shared, ta.n AS na, tb.n AS nb,
       CAST(p.n_shared AS DOUBLE) / CAST(ta.n + tb.n - p.n_shared AS DOUBLE) AS jaccard
FROM pair p JOIN tot ta ON ta.source = p.sa JOIN tot tb ON tb.source = p.sb
ORDER BY sa, sb"""


def corpus_report_q() -> str:
    from sqlite_vector_spark.workload import (
        GOPHER_MIN_STOPS,
        GOPHER_MIN_TTR,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_HI,
        GOPHER_MWL_LO,
    )

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""WITH w AS (SELECT source, lang, text, {WORDS} AS ws FROM documents),
m AS (
  SELECT source, lang,
         CAST(len(ws) AS BIGINT) AS n_words,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws, x -> CAST(length(x) AS BIGINT))), (a, x) -> a + x) AS char_sum,
         CAST(len(list_filter(ws, x -> x IN ({stop_list}))) AS BIGINT) AS stop_hits,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
         CAST(length(text) AS BIGINT) AS chars,
         {polyhash_sql('text')} AS fp
  FROM w),
r AS (
  SELECT source, lang, n_words, chars, fp,
         CASE WHEN n_words >= {GOPHER_MIN_WORDS}
               AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE) END) >= {GOPHER_MWL_LO!r}
               AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE) END) <= {GOPHER_MWL_HI!r}
               AND stop_hits >= {GOPHER_MIN_STOPS}
               AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) END) > {GOPHER_MIN_TTR!r}
              THEN 1 ELSE 0 END AS keep
  FROM m),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         CAST(sum(chars) AS BIGINT) AS chars,
         CAST(sum(keep) AS BIGINT) AS n_keep
  FROM r GROUP BY source)
SELECT source, n_docs, n_tokens, n_langs,
       CAST(chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
       CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_ratio,
       CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate
FROM g
ORDER BY source"""


def pack_sequences_q() -> str:
    from sqlite_vector_spark.workload import PACK_SEQ_LEN, PACK_SHARDS

    return f"""WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len({WORDS}) AS BIGINT) AS toks,
         {polyhash_sql('text')} AS h
  FROM documents),
s AS (
  SELECT doc_id, toks, h,
         CAST(h % {PACK_SHARDS} AS INTEGER) AS shard
  FROM base),
r AS (
  SELECT doc_id, shard, toks,
         CAST(sum(toks) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS BIGINT) AS "offset"
  FROM s)
SELECT doc_id, shard, toks, "offset", CAST("offset" // {PACK_SEQ_LEN} AS BIGINT) AS bin
FROM r
ORDER BY doc_id"""


def negative_samples_q() -> str:
    from sqlite_vector_spark.workload import NEG_ANCHORS, NEG_K

    return f"""WITH n1 AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
anchors AS (
  SELECT CAST(vec_id AS BIGINT) AS anchor, n FROM embeddings, n1
  WHERE vec_id < {NEG_ANCHORS} AND embedding IS NOT NULL),
cand AS (
  SELECT anchor, CAST(t.j AS INTEGER) AS j,
         (anchor * 2654435761 + t.j * 40503) % n AS raw, n
  FROM anchors, range(0, {NEG_K}) t(j)),
neg AS (
  SELECT anchor, j,
         CAST(CASE WHEN raw = anchor THEN (raw + 1) % n ELSE raw END AS BIGINT) AS neg_id
  FROM cand)
SELECT neg.anchor, neg.j, neg.neg_id, CAST(e.label AS INTEGER) AS neg_label
FROM neg JOIN embeddings e ON e.vec_id = neg.neg_id
ORDER BY anchor, j"""


def edit_distance_pairs_q() -> str:
    return _SHINGLES + """
SELECT c.a, c.b,
       CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev,
       CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len,
       CASE WHEN greatest(length(x.text), length(y.text)) = 0 THEN 1.0
            ELSE 1.0 - CAST(levenshtein(x.text, y.text) AS DOUBLE)
                 / CAST(greatest(length(x.text), length(y.text)) AS DOUBLE) END AS sim
FROM cand c
JOIN documents x ON x.doc_id = c.a
JOIN documents y ON y.doc_id = c.b
ORDER BY a, b"""


def value_zscore_q() -> str:
    mean = "(CAST(s1 AS DOUBLE) / 10000.0 / n)"
    var = f"(CAST(s2 AS DOUBLE) / 100000000.0 / n - {mean} * {mean})"
    return f"""WITH stats AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(round(value * 10000.0) AS DECIMAL(18,0))) AS s1,
         sum(CAST(round(value * 10000.0) AS DECIMAL(18,0)) * CAST(round(value * 10000.0) AS DECIMAL(18,0))) AS s2
  FROM events GROUP BY event_type),
m AS (SELECT event_type, {mean} AS mean, {var} AS var FROM stats)
SELECT CAST(e.event_id AS BIGINT) AS event_id, e.event_type,
       CAST(e.value AS DOUBLE) AS value,
       CASE WHEN m.var <= 0.0 THEN 0.0
            ELSE (e.value - m.mean) / sqrt(m.var) END AS z
FROM events e JOIN m USING (event_type)
ORDER BY event_id"""


def source_overlap_sketch_q() -> str:
    # Contract gate (approx_quantile_audit pattern): the oracle
    # recomputes the EXACT pair matrix and pins within_bound TRUE —
    # a sketch/merge bug that drifts past the error bound hash-fails.
    return f"""WITH w AS (SELECT source, {WORDS} AS ws FROM documents),
sh AS (SELECT source, unnest({_SH3}) AS s FROM w),
d AS (SELECT DISTINCT source, {polyhash_sql('s')} AS h FROM sh),
tot AS (SELECT source, count(*) AS n FROM d GROUP BY source),
shared AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared
  FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT ta.source AS sa, tb.source AS sb,
       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(ta.n + tb.n - coalesce(s.n_shared, 0) AS BIGINT) AS union_sz,
       TRUE AS within_bound
FROM tot ta JOIN tot tb ON ta.source < tb.source
LEFT JOIN shared s ON s.sa = ta.source AND s.sb = tb.source
ORDER BY sa, sb"""


def bm25_batch_topk_q() -> str:
    from sqlite_vector_spark.operators.retrieval import BM25_B, BM25_K1
    from sqlite_vector_spark.workload import BM25_BATCH, HYBRID_K

    all_terms = sorted({t for _, ts in BM25_BATCH for t in ts})
    tix = {t: i for i, t in enumerate(all_terms)}
    k1, b = BM25_K1, BM25_B
    one_b = repr(1.0 - b)
    k1p1 = repr(k1 + 1.0)

    def term_score(i: int) -> str:
        idf = f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        denom = f"(tf_{i} + {k1!r} * ({one_b} + {b!r} * (dl / (sum_dl / n_docs))))"
        return f"({idf} * ((tf_{i} * {k1p1}) / {denom}))"

    def query_score(ts) -> str:
        s = term_score(tix[ts[0]])
        for t in ts[1:]:
            s = f"({s} + {term_score(tix[t])})"
        return s

    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({qid} AS BIGINT) AS qid, id, {query_score(ts)} AS score FROM base, stats"
        for qid, ts in BM25_BATCH
    )
    return f"""WITH {_bm25_ctes(all_terms, k1, b)},
sel AS (
{arms}),
ranked AS (
  SELECT qid, id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank
  FROM sel)
SELECT qid, id, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {HYBRID_K}
ORDER BY qid, rank"""


def events_resample_q() -> str:
    return f"""WITH e AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, value FROM events),
agg AS (
  SELECT event_type, h, count(*) AS n_events,
         {_fixed_sum('value', 10000.0)} AS sum_value
  FROM e GROUP BY event_type, h),
span AS (SELECT min(h) AS h_lo, max(h) AS h_hi FROM e),
grid AS (
  SELECT t.event_type, unnest(generate_series(span.h_lo, span.h_hi)) AS h
  FROM (SELECT DISTINCT event_type FROM e) t, span)
SELECT grid.event_type,
       CAST(grid.h * 3600 AS BIGINT) AS hour_epoch,
       CAST(coalesce(agg.n_events, 0) AS BIGINT) AS n_events,
       coalesce(agg.sum_value, 0.0) AS sum_value
FROM grid LEFT JOIN agg ON agg.event_type = grid.event_type AND agg.h = grid.h
ORDER BY grid.event_type, hour_epoch"""


def user_type_pivot_q() -> str:
    kinds = ("click", "view", "purchase", "signup", "error")
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN event_type = '{k}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{k}"
        for k in kinds
    )
    return f"""SELECT CAST(user_id AS BIGINT) AS user_id,
       {cols},
       CAST(count(*) AS BIGINT) AS n_total
FROM events
GROUP BY user_id
ORDER BY user_id"""


_ERR_INCIDENTS = """hrs AS (
  SELECT DISTINCT epoch_us(ts) // 3600000000 AS h FROM events WHERE event_type = 'error'),
isl AS (SELECT h, h - row_number() OVER (ORDER BY h) AS island FROM hrs),
inc AS (
  SELECT min(h) AS start_h, max(h) AS end_h, CAST(count(*) AS BIGINT) AS n_hours
  FROM isl GROUP BY island)"""


def error_incidents_q() -> str:
    return f"""WITH {_ERR_INCIDENTS}
SELECT start_h, end_h, n_hours FROM inc ORDER BY start_h"""


def session_incident_overlap_q(gap_us: int) -> str:
    hour_us = 3_600_000_000
    ordered = "PARTITION BY user_id ORDER BY us, event_id"
    return f"""WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
b AS (
  SELECT user_id, event_id, us,
         CASE WHEN (us - lag(us) OVER ({ordered})) IS NULL
                   OR (us - lag(us) OVER ({ordered})) > {gap_us}
              THEN 1 ELSE 0 END AS new_sess
  FROM e),
s AS (
  SELECT user_id, us,
         sum(new_sess) OVER ({ordered.replace('event_id', 'event_id')} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM b),
sess AS (
  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         min(us) AS start_us, max(us) AS end_us
  FROM s GROUP BY user_id, session_seq),
{_ERR_INCIDENTS}
SELECT sess.user_id, sess.session_seq,
       CAST(inc.start_h * 3600 AS BIGINT) AS incident_epoch,
       CAST(least(sess.end_us, (inc.end_h + 1) * {hour_us} - 1)
            - greatest(sess.start_us, inc.start_h * {hour_us}) + 1 AS BIGINT) AS overlap_us
FROM sess JOIN inc
  ON sess.start_us <= (inc.end_h + 1) * {hour_us} - 1
 AND inc.start_h * {hour_us} <= sess.end_us
WHERE least(sess.end_us, (inc.end_h + 1) * {hour_us} - 1)
      - greatest(sess.start_us, inc.start_h * {hour_us}) + 1 > 0
ORDER BY user_id, session_seq, incident_epoch"""


def ivf_pq_knn_join_l2_q() -> str:
    from sqlite_vector_spark.workload import IVF_C, IVF_NPROBE, KNN_K, NQ

    d_assign = dist_sql("L2", "e.embedding", "cn.cnv")
    d_probe = dist_sql("L2", "cn.cnv", "q.qv")
    d_lut = _pq_sub_sq("q.qv", "c.cv", "s.sub")
    terms = f"list_transform(range(0, {PQ_M}), s -> lf[s*{PQ_KSUB} + cl[s+1] + 1])"
    adc = snap(f"sqrt({_fold(terms)})")
    return f"""WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qv FROM embeddings
  WHERE vec_id < {NQ} AND embedding IS NOT NULL),
cent AS (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cnv FROM embeddings WHERE vec_id < {IVF_C}),
assign AS (
  SELECT id, cid AS cluster FROM (
    SELECT e.vec_id AS id, cn.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, cn.cid ASC) AS rn
    FROM embeddings e, cent cn WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, cn.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY {d_probe} ASC, cn.cid ASC) AS rn
    FROM cent cn, q)
  WHERE rn <= {IVF_NPROBE}),
{_pq_codes_ctes()},
lutq AS (
  SELECT qid, list(d ORDER BY sub, j) AS lf FROM (
    SELECT q.qid, s.sub, c.j, {d_lut} AS d FROM subs s, cb c, q)
  GROUP BY qid),
scored AS (
  SELECT lutq.qid, c2.id, {adc} AS distance
  FROM codes c2
  JOIN assign a ON a.id = c2.id
  JOIN probes p ON p.cid = a.cluster
  JOIN lutq ON lutq.qid = p.qid),
ranked AS (
  SELECT qid, id, distance,
         row_number() OVER (PARTITION BY qid ORDER BY distance ASC, id ASC) AS rank
  FROM scored)
SELECT qid, id, distance, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KNN_K}
ORDER BY qid, rank"""


def incremental_dedup_q() -> str:
    # Full-rebuild LSH candidates over the WHOLE corpus, restricted to
    # pairs touching the batch (doc_id % 5 == 0) — what the Spark
    # side's incremental store query must equal exactly.
    return _SHINGLES + """
SELECT a, b FROM cand
WHERE a % 5 = 0 OR b % 5 = 0
ORDER BY a, b"""


def ivf_cluster_stats_q() -> str:
    from sqlite_vector_spark.workload import IVF_C

    d_assign = dist_sql("L2", "e.embedding", "cn.cnv")
    return f"""WITH cent AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cnv FROM embeddings WHERE vec_id < {IVF_C}),
assign AS (
  SELECT id, cid AS cluster FROM (
    SELECT e.vec_id AS id, cn.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_assign} ASC, cn.cid ASC) AS rn
    FROM embeddings e, cent cn WHERE e.embedding IS NOT NULL)
  WHERE rn = 1),
tot AS (SELECT count(*) AS n_total FROM assign)
SELECT CAST(cluster AS INTEGER) AS cluster, count(*) AS n,
       CAST(count(*) AS DOUBLE) / CAST(tot.n_total AS DOUBLE) AS share
FROM assign, tot
GROUP BY cluster, tot.n_total
ORDER BY cluster"""


def passage_dedup_q(width: int | None = None, min_df: int = 2) -> str:
    """Mirror of workload.passage_dedup_q: rolling window hashes via
    the same polyhash fold, occurrence count >= min_df, covered-token
    filter and maximal-span count via nested list lambdas — the same
    [p, p+W-1] coverage arithmetic as repeated_passage_strip."""
    from sqlite_vector_spark.workload import PASSAGE_W

    W = int(width or PASSAGE_W)
    winstr = f"array_to_string(w[p:p + {W - 1}], ' ')"
    covered = f"len(list_filter(fl, p -> p <= i AND p > i - {W})) > 0"
    return f"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {WORDS} AS w FROM documents),
win AS (
  SELECT id, CAST(u.p AS BIGINT) AS p, {polyhash_sql(winstr)} AS h
  FROM toks, UNNEST(range(1, len(w) - {W} + 2)) AS u(p)
  WHERE len(w) >= {W}),
repeated AS (SELECT h FROM win GROUP BY h HAVING count(*) >= {min_df}),
flagged AS (
  SELECT id, list_sort(list(p)) AS fl
  FROM win WHERE h IN (SELECT h FROM repeated) GROUP BY id),
j AS (
  SELECT t.id, t.w, coalesce(f.fl, CAST([] AS BIGINT[])) AS fl
  FROM toks t LEFT JOIN flagged f ON f.id = t.id),
stripped AS (
  SELECT id, w, fl,
         list_filter(range(1, len(w) + 1), i -> NOT ({covered})) AS kept,
         list_filter(fl, p -> len(list_filter(fl, q -> q < p AND q > p - {W})) = 0) AS starts
  FROM j)
SELECT id AS doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       CAST(len(starts) AS BIGINT) AS n_spans,
       coalesce(array_to_string(list_transform(kept, i -> w[i]), ' '), '') AS clean_text
FROM stripped
ORDER BY doc_id"""


def passage_strip_frozen_q(width: int | None = None, min_df: int = 2) -> str:
    """Mirror of workload.passage_strip_frozen_q: identical window
    hashing and span-merge strip as passage_dedup_q, but the repeated
    CTE counts occurrences over the INDEXED half (doc_id % 3 != 0)
    only, and the strip runs over the batch half — pinning the frozen
    index's horizon contract (within-batch repeats stay)."""
    from sqlite_vector_spark.workload import PASSAGE_W

    W = int(width or PASSAGE_W)
    winstr = f"array_to_string(w[p:p + {W - 1}], ' ')"
    covered = f"len(list_filter(fl, p -> p <= i AND p > i - {W})) > 0"
    return f"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id, {WORDS} AS w FROM documents),
win AS (
  SELECT id, CAST(u.p AS BIGINT) AS p, {polyhash_sql(winstr)} AS h
  FROM toks, UNNEST(range(1, len(w) - {W} + 2)) AS u(p)
  WHERE len(w) >= {W}),
repeated AS (
  SELECT h FROM win WHERE id % 3 != 0 GROUP BY h HAVING count(*) >= {min_df}),
batch AS (SELECT id, w FROM toks WHERE id % 3 = 0),
flagged AS (
  SELECT id, list_sort(list(p)) AS fl
  FROM win WHERE id % 3 = 0 AND h IN (SELECT h FROM repeated) GROUP BY id),
j AS (
  SELECT t.id, t.w, coalesce(f.fl, CAST([] AS BIGINT[])) AS fl
  FROM batch t LEFT JOIN flagged f ON f.id = t.id),
stripped AS (
  SELECT id, w, fl,
         list_filter(range(1, len(w) + 1), i -> NOT ({covered})) AS kept,
         list_filter(fl, p -> len(list_filter(fl, q -> q < p AND q > p - {W})) = 0) AS starts
  FROM j)
SELECT id AS doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       CAST(len(starts) AS BIGINT) AS n_spans,
       coalesce(array_to_string(list_transform(kept, i -> w[i]), ' '), '') AS clean_text
FROM stripped
ORDER BY doc_id"""


def bq_band_scan_q(band_bits: int = 8, k: int = K) -> str:
    """Mirror of workload.bq_band_scan_q: same packed words (bqc),
    candidates restricted to rows sharing at least one (band, value)
    with the query — the literal band values computed driver-side
    from the same packed query words the Spark plan prunes on — then
    exact popcount and the (hamming, id) top-k."""
    from sqlite_vector_spark.operators.bq import bq_query_words

    qw = bq_query_words(Q64)
    nw = (DIM + 63) // 64
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    terms = []
    for w in range(nw):
        for i in range(per_word):
            if w * 64 + i * band_bits < DIM:
                qbv = (qw[w] >> (i * band_bits)) & mask
                terms.append(f"(((bits[{w + 1}] >> {i * band_bits}) & {mask}) = {qbv})")
    ham = " + ".join(
        f"CAST(bit_count(xor(bits[{w + 1}], CAST({q} AS BIGINT))) AS BIGINT)"
        for w, q in enumerate(qw)
    )
    return f"""WITH {_bq_codes_cte()},
cand AS (SELECT id, bits FROM bqc WHERE {" OR ".join(terms)})
SELECT id, ({ham}) AS hamming
FROM cand
ORDER BY hamming ASC, id ASC
LIMIT {k}"""


def bq_knn_join_projected_q(band_bits: int = 8) -> str:
    """Mirror of workload.bq_knn_join_projected_q: packed projected
    sign bits via the same sequential plane-dot fold (_plane_dot ==
    the codegen encoder's 0.0-init zip_with/aggregate order), then
    the bq_knn_join_hamming candidate join restricted to the
    MIH_P-bit code layout."""
    from sqlite_vector_spark.workload import MIH_P, MIH_PLANES

    word = " + ".join(
        f"(CASE WHEN {_plane_dot('embedding', plane)} > 0.0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, plane in enumerate(MIH_PLANES)
    )
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    n_bands = sum(1 for i in range(per_word) if i * band_bits < MIH_P)
    ham = f"CAST(bit_count(xor(k.bits[1], q2.bits[1])) AS BIGINT)"
    bv = f"(bits[CAST(b // {per_word} AS INTEGER) + 1] >> ((b % {per_word}) * {band_bits})) & {mask}"
    return f"""WITH pbc AS (
  SELECT CAST(vec_id AS BIGINT) AS id, [CAST(({word}) AS BIGINT)] AS bits
  FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT id AS qid, bits FROM pbc WHERE id < {NQ}),
bands AS (SELECT CAST(unnest(range(0, {n_bands})) AS BIGINT) AS b),
cb AS (SELECT id, b, {bv} AS bv FROM pbc, bands),
qb AS (SELECT qid, b, {bv} AS bv FROM q, bands),
cand AS (SELECT DISTINCT qb.qid, cb.id FROM cb JOIN qb ON cb.b = qb.b AND cb.bv = qb.bv),
scored AS (
  SELECT c.qid, c.id, ({ham}) AS hamming
  FROM cand c JOIN pbc k ON k.id = c.id JOIN q q2 ON q2.qid = c.qid),
ranked AS (
  SELECT qid, id, hamming,
         row_number() OVER (PARTITION BY qid ORDER BY hamming ASC, id ASC) AS rank
  FROM scored)
SELECT CAST(qid AS BIGINT) AS qid, CAST(id AS BIGINT) AS id, hamming,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KNN_K}
ORDER BY qid, rank"""


def bq_knn_join_hamming_q(band_bits: int = 8) -> str:
    """Mirror of workload.bq_knn_join_hamming_q: same packed words
    (bqc), band values via (w >> s) & mask (mask-after-shift is
    portable across arithmetic/logical shift), DISTINCT band-collision
    candidates, exact popcount score, (hamming, id) rank window."""
    nw = (DIM + 63) // 64
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    n_bands = sum(
        1 for w in range(nw) for i in range(per_word) if w * 64 + i * band_bits < DIM
    )
    ham = " + ".join(
        f"CAST(bit_count(xor(k.bits[{w + 1}], q2.bits[{w + 1}])) AS BIGINT)"
        for w in range(nw)
    )
    bv = f"(bits[CAST(b // {per_word} AS INTEGER) + 1] >> ((b % {per_word}) * {band_bits})) & {mask}"
    return f"""WITH {_bq_codes_cte()},
q AS (SELECT id AS qid, bits FROM bqc WHERE id < {NQ}),
bands AS (SELECT CAST(unnest(range(0, {n_bands})) AS BIGINT) AS b),
cb AS (SELECT id, b, {bv} AS bv FROM bqc, bands),
qb AS (SELECT qid, b, {bv} AS bv FROM q, bands),
cand AS (SELECT DISTINCT qb.qid, cb.id FROM cb JOIN qb ON cb.b = qb.b AND cb.bv = qb.bv),
scored AS (
  SELECT c.qid, c.id, ({ham}) AS hamming
  FROM cand c JOIN bqc k ON k.id = c.id JOIN q q2 ON q2.qid = c.qid),
ranked AS (
  SELECT qid, id, hamming,
         row_number() OVER (PARTITION BY qid ORDER BY hamming ASC, id ASC) AS rank
  FROM scored)
SELECT CAST(qid AS BIGINT) AS qid, CAST(id AS BIGINT) AS id, hamming,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KNN_K}
ORDER BY qid, rank"""


def hybrid_rrf_batch_q() -> str:
    """Mirror of workload.hybrid_rrf_batch_q: the vec arm is the
    knn_join SQL at HYBRID_K for the BM25_BATCH qids, the lex arm the
    batched BM25 SQL, per-qid rank windows, (qid, id) full-outer
    fusion, the same fixed-order rational RRF fold, per-qid top-k."""
    from sqlite_vector_spark.operators.retrieval import RRF_K
    from sqlite_vector_spark.workload import BM25_BATCH, HYBRID_K

    nq = len(BM25_BATCH)
    rk = repr(float(RRF_K))
    return f"""WITH vec AS ({knn_join("L2", HYBRID_K, nq)}),
lex AS ({bm25_batch_topk_q()}),
r0 AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY distance ASC, id ASC) AS rank_0 FROM vec),
r1 AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank_1 FROM lex),
fused AS (
  SELECT coalesce(r0.qid, r1.qid) AS qid, coalesce(r0.id, r1.id) AS id,
         r0.rank_0 AS rank_0, r1.rank_1 AS rank_1
  FROM r0 FULL OUTER JOIN r1 ON r0.qid = r1.qid AND r0.id = r1.id),
s AS (
  SELECT qid, id,
         (coalesce(1.0 / ({rk} + CAST(rank_0 AS DOUBLE)), 0.0)
          + coalesce(1.0 / ({rk} + CAST(rank_1 AS DOUBLE)), 0.0)) AS rrf_score,
         rank_0, rank_1
  FROM fused),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, id ASC) AS hr FROM s)
SELECT CAST(qid AS BIGINT) AS qid, CAST(id AS BIGINT) AS id, rrf_score,
       CAST(rank_0 AS INTEGER) AS rank_0, CAST(rank_1 AS INTEGER) AS rank_1,
       CAST(hr AS INTEGER) AS hybrid_rank
FROM ranked WHERE hr <= {HYBRID_K}
ORDER BY qid, hybrid_rank"""


def ivf_recall_curve_q() -> str:
    """Mirror of workload.ivf_recall_curve_q: one UNION ALL branch per
    nprobe in IVF_CURVE, each counting exact-top-k hits inside the
    nprobe-parameterized IVF join SQL; recall = hits / (NQ*K)."""
    from sqlite_vector_spark.workload import IVF_CURVE

    d = dist_sql("L2", "cv", "qv")
    exact = f"""SELECT qid, id FROM (
    SELECT q.qid, c.id,
           row_number() OVER (PARTITION BY q.qid ORDER BY {d} ASC, c.id ASC) AS rn
    FROM (SELECT vec_id AS id, embedding AS cv FROM embeddings WHERE embedding IS NOT NULL) c,
         (SELECT CAST(vec_id AS BIGINT) AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < {NQ} AND embedding IS NOT NULL) q)
  WHERE rn <= {KNN_K}"""
    branches = []
    for p in IVF_CURVE:
        branches.append(
            f"""SELECT CAST({int(p)} AS BIGINT) AS nprobe,
       CAST(count(*) AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) * {float(KNN_K)!r} FROM
            (SELECT 1 FROM embeddings WHERE vec_id < {NQ} AND embedding IS NOT NULL)) AS recall
FROM ({exact}) e
WHERE EXISTS (SELECT 1 FROM ({ivf_knn_join_l2_q(p)}) i WHERE i.qid = e.qid AND i.id = e.id)"""
        )
    return "\nUNION ALL\n".join(branches) + "\nORDER BY nprobe"


def source_snapshot_drift_q(edges=(20, 40, 60, 80, 100, 150)) -> str:
    """Mirror of workload.source_snapshot_drift_q: same bucket rule
    (#edges <= token count), bucket-grid full join, integer TVD
    numerators |n_o*N_n - n_n*N_o| (BIGINT-exact at gate scale,
    matching Spark's DECIMAL(38,0) values), one double division."""
    lit_edges = "[" + ",".join(str(int(e)) for e in edges) + "]"
    return f"""WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS id, source,
         len({WORDS}) AS n
  FROM documents WHERE text IS NOT NULL),
bk AS (SELECT id, source, len(list_filter({lit_edges}, e -> e <= n)) AS b FROM toks),
o AS (SELECT source, b, CAST(count(*) AS BIGINT) AS n_o FROM bk WHERE id % 2 = 0 GROUP BY source, b),
nn AS (SELECT source, b, CAST(count(*) AS BIGINT) AS n_n FROM bk WHERE id % 2 = 1 GROUP BY source, b),
j AS (
  SELECT coalesce(o.source, nn.source) AS source, coalesce(o.b, nn.b) AS b,
         coalesce(o.n_o, 0) AS n_o, coalesce(nn.n_n, 0) AS n_n
  FROM o FULL OUTER JOIN nn ON o.source = nn.source AND o.b = nn.b),
tot AS (SELECT source, CAST(sum(n_o) AS BIGINT) AS n_old, CAST(sum(n_n) AS BIGINT) AS n_new
        FROM j GROUP BY source),
s AS (
  SELECT j.source, CAST(sum(abs(j.n_o * t.n_new - j.n_n * t.n_old)) AS BIGINT) AS num
  FROM j JOIN tot t ON t.source = j.source GROUP BY j.source)
SELECT t.source AS source, t.n_old, t.n_new,
       CASE WHEN t.n_old > 0 AND t.n_new > 0
            THEN CAST(s.num AS DOUBLE) / (2.0 * CAST(t.n_old AS DOUBLE) * CAST(t.n_new AS DOUBLE))
            ELSE 1.0 END AS tvd
FROM tot t JOIN s ON s.source = t.source
ORDER BY t.source"""
