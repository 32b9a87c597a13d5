"""SQL text surface + auto-route (SURVEY §4's optional optimizer item).

The reference's users type SQL — ``SELECT rowid, distance FROM
vector_full_scan(...)`` TVFs (sqlite-vector.c:1792-1880) — and its
cost model steers the planner between the exact and quantized TVFs
(estimatedCost 1851-1852 vs 2248-2249). This module is the Spark
analog, built WITHOUT a custom Catalyst rule (SURVEY §4's conclusion:
none is required):

1. ``expand_vector_sql(sql)`` — a textual macro: every
   ``vector_distance(a, b[, 'metric'])`` call is expanded into the
   equivalent Spark SQL higher-order-function expression
   (``aggregate(zip_with(...))``): ``distance_sql`` calls the one
   distance tree of functions/distance.py, so the fold is the one
   ``distance()`` builds, bit-identical results. The expanded text is
   plain Spark SQL: whole-stage-codegen'd, filter-pushdown-friendly,
   no UDF, works in ANY query shape (WHERE/JOIN/GROUP BY).

2. ``route_sql(spark, catalog, sql)`` — recognizes the canonical
   top-k shape

       SELECT <id> [AS <a>], vector_distance(<col>, array(...)
              [, '<metric>']) AS <d>
       FROM <table> ORDER BY <d> [ASC] LIMIT <k>

   and, when ``<table>.<col>`` is registered in the VectorCatalog,
   reroutes it onto the best registered tier via router.knn (the
   metadata-level rewrite of "ORDER BY distance LIMIT k onto the
   quantized replica" that the reference's cost steering performs).
   Any other text falls through to ``spark.sql`` after macro
   expansion — same results, no routing.

3. the reference's own SQL runs VERBATIM: the TVF queries ``SELECT
   rowid, distance FROM vector_full_scan('t','col',
   vector_as_f32('[...]'), k)`` plus the quantize/stream variants
   (API.md:212-260, parse_tvf/run_tvf), AND the management
   statements ``SELECT vector_version() / vector_backend() /
   vector_init(...) / vector_quantize(...) / vector_quantize_memory
   / _preload / _cleanup`` (API.md:24-168, parse_scalar/run_scalar,
   reference return types TEXT/INTEGER/NULL) — a reference user's
   existing scripts run unchanged, lifecycle included.

Distance-domain contract (SURVEY §2.3, same as the reference): a
query routed onto the quantized replica returns quantized-unit
distances — never rescaled. ``prefer="exact"`` forces true-domain
results through the same API.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from sqlite_vector_spark.functions.distance import distance_tree_sql
from sqlite_vector_spark.types import Metric, parse_metric

# ---------------------------------------------------------------- macro template


def distance_sql(a: str, b: str, metric: str | Metric = Metric.L2) -> str:
    """The Spark SQL text of ``distance(a, b, metric)`` — reference
    kernel semantics (distance-cpu.c:39-159 + eps-snap 994-996). It is
    functions/distance.py's one tree over operands cast to
    ARRAY<DOUBLE>: for a literal array argument the cast constant-folds
    to a DOUBLE-array literal, and the per-lane casts in the tree then
    simplify away (a per-element CAST of a literal re-ran on every row
    — measured 3.7x slower at 1M x 768, SCALE.md §SQL surface); for a
    column argument it is the same per-row widening either way. So
    macro-expanded SQL is bit-identical to distance() and to the DuckDB
    oracle's list_reduce fold (oracle.py dist_sql)."""
    return distance_tree_sql(f"CAST({a} AS ARRAY<DOUBLE>)", f"CAST({b} AS ARRAY<DOUBLE>)", metric)


# ---------------------------------------------------------------- call-site scanner

_CALL_RE = re.compile(r"\bvector_distance\s*\(", re.IGNORECASE)


def _scan_args(sql: str, open_paren: int) -> tuple[list[str], int]:
    """Split the balanced-paren argument list starting at ``sql[open_paren]``
    into top-level comma-separated arg texts; returns (args, index past
    the closing paren). Quote-aware (single/double)."""
    depth = 0
    args: list[str] = []
    buf: list[str] = []
    i = open_paren
    n = len(sql)
    quote: str | None = None
    esc = False
    while i < n:
        ch = sql[i]
        if quote is not None:
            buf.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            if depth > 1:
                buf.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(buf).strip())
                return args, i + 1
            buf.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    raise ValueError("unbalanced parentheses in vector_distance(...) call")


def _metric_from_arg(arg: str) -> Metric:
    m = re.fullmatch("'([A-Za-z0-9_]+)'|\"([A-Za-z0-9_]+)\"", arg.strip())
    if not m:
        raise ValueError(
            f"vector_distance metric argument must be a quoted literal like 'l2', got: {arg!r}"
        )
    return parse_metric(m.group(1) or m.group(2))


def _in_string(sql: str, pos: int) -> bool:
    """True when ``sql[pos]`` sits inside a quoted literal.
    Backslash-escape aware: Spark's default parser treats ``\\'`` as an
    escaped quote inside a literal (escapedStringLiterals=false), so a
    backslashed quote must NOT close the string."""
    quote: str | None = None
    esc = False
    for ch in sql[:pos]:
        if quote is not None:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
    return quote is not None


def split_statements(script: str) -> list[str]:
    """Split a ``;``-separated SQL script into statements, quote-aware
    (a ``;`` inside a string literal — e.g. a text filter pattern —
    does not terminate the statement). Empty fragments are dropped.

    Single forward pass: quote/escape state is tracked incrementally
    (the same rules as _in_string) instead of rescanning the script
    from 0 at every ``;`` — O(n), not O(n * semicolons), so large
    run_script inputs split in one sweep."""
    out, start = [], 0
    quote: str | None = None
    esc = False
    for i, ch in enumerate(script):
        if quote is not None:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == ";":
            frag = script[start:i].strip()
            if frag:
                out.append(frag)
            start = i + 1
    tail = script[start:].strip()
    if tail:
        out.append(tail)
    return out


def run_script(spark: SparkSession, catalog, script: str, id_col: str = "id") -> DataFrame | None:
    """Execute a multi-statement script through route_sql, statement
    by statement, returning the LAST statement's DataFrame (None for
    an empty script). The reference's API.md lifecycle — init ->
    quantize -> preload -> query -> cleanup — is written exactly this
    way, so a user's existing .sql script runs as one string.
    Management statements take effect eagerly inside run_scalar
    (catalog writes, replica builds); query statements stay lazy, and
    only the last one is returned for the caller to act on."""
    out = None
    for stmt in split_statements(script):
        out = route_sql(spark, catalog, stmt, id_col=id_col)
    return out


def expand_vector_sql(sql: str) -> str:
    """Expand every ``vector_distance(a, b[, 'metric'])`` call in ``sql``
    into the HOF distance expression. Innermost-first, quote-aware, so
    nested calls and string literals containing the token are safe."""
    out = sql
    for _ in range(4096):  # bounded: each pass expands one call site
        m = None
        for cand in _CALL_RE.finditer(out):
            if not _in_string(out, cand.start()):
                m = cand
                break
        if not m:
            return out
        args, end = _scan_args(out, out.index("(", m.start()))
        if len(args) not in (2, 3):
            raise ValueError(f"vector_distance takes 2 or 3 arguments, got {len(args)}")
        a, b = expand_vector_sql(args[0]), expand_vector_sql(args[1])
        metric = _metric_from_arg(args[2]) if len(args) == 3 else Metric.L2
        out = out[: m.start()] + "(" + distance_sql(a, b, metric) + ")" + out[end:]
    raise ValueError("more than 4096 vector_distance call sites in one statement")  # pragma: no cover


# ---------------------------------------------------------------- canonical top-k recognizer

_TOPK_RE = re.compile(
    r"^\s*SELECT\s+(?P<id>\w+)(?:\s+AS\s+(?P<id_alias>\w+))?\s*,\s*"
    r"vector_distance\s*\(\s*(?P<col>\w+)\s*,\s*array\s*\((?P<vec>[^)]*)\)\s*"
    r"(?:,\s*'(?P<metric>\w+)')?\s*\)\s+AS\s+(?P<alias>\w+)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"ORDER\s+BY\s+(?P<ob>\w+)(?:\s+ASC)?\s*"
    r"LIMIT\s+(?P<k>\d+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass(frozen=True)
class TopKQuery:
    """A recognized canonical top-k over a vector column."""

    table: str
    column: str
    query: tuple[float, ...]
    k: int
    metric: str | None  # None -> L2 (the macro default; see route_sql)
    id_col: str
    id_out: str  # output name for the id column (AS alias or id_col)
    dist_out: str  # output name for the distance column


def parse_topk(sql: str) -> TopKQuery | None:
    """Recognize the canonical ``ORDER BY vector_distance LIMIT k``
    shape; None when the text isn't exactly that shape (conservative:
    anything else falls through to full SQL execution)."""
    m = _TOPK_RE.match(sql)
    if not m:
        return None
    if m.group("ob").lower() != (m.group("alias") or "").lower():
        return None  # ordered by something other than the distance alias
    try:
        vec = tuple(float(tok) for tok in m.group("vec").split(",") if tok.strip())
    except ValueError:
        return None  # non-literal array elements -> not canonical
    if not vec:
        return None
    return TopKQuery(
        table=m.group("table"),
        column=m.group("col"),
        query=vec,
        k=int(m.group("k")),
        metric=m.group("metric"),
        id_col=m.group("id"),
        id_out=m.group("id_alias") or m.group("id"),
        dist_out=m.group("alias"),
    )


_EXPLAIN_RE = re.compile(r"^\s*EXPLAIN(?:\s+QUERY\s+PLAN)?\s+", re.IGNORECASE)


def explain_route(spark: SparkSession, catalog, sql: str, id_col: str = "id") -> DataFrame:
    """``EXPLAIN [QUERY PLAN] <statement>`` — classify WITHOUT
    executing: which surface the text hits (management / tvf /
    routed / sql) and, for routed text, which tier prefer='auto'
    lands on. The Spark analog of the reference's documented
    ``EXPLAIN QUERY PLAN SELECT ... FROM vector_full_scan(...)``
    workflow (API.md — SQLite surfaces the TVF cost choice there;
    here the same question is answered at the metadata level).
    Returns one row: (surface, detail, auto_target).

    This is the read-only pre-flight for the distance-domain switch:
    ``auto_target = quantized`` warns that the plain
    ``vector_distance`` spelling will return quantized-unit
    distances on execute."""
    body = _EXPLAIN_RE.sub("", sql, count=1)
    scalar = parse_scalar(body)
    if scalar is not None:
        surface, detail, target = "management", scalar[0], None
    else:
        tvf = parse_tvf(body)
        if tvf is not None:
            surface = "tvf"
            detail = f"vector_{tvf.fn}({tvf.table}.{tvf.column}, k={tvf.k})"
            target = "quantized" if tvf.fn.startswith("quantize") else "exact"
        else:
            decision = plan_route(catalog, body)
            if decision.tier == "routed":
                p = decision.topk
                surface = "routed"
                detail = f"{p.table}.{p.column} top-{p.k} {p.metric or 'L2'}"
                target = decision.auto_target
            else:
                surface, detail, target = "sql", "macro-expanded Spark SQL passthrough", None
    import pyspark.sql.functions as F

    return spark.range(1).select(
        F.lit(surface).alias("surface"),
        F.lit(detail).alias("detail"),
        F.lit(target).cast("string").alias("auto_target"),
    )


@dataclass(frozen=True)
class RouteDecision:
    """What route_sql decided, for explain/testing.

    route_sql attaches its decision to the returned DataFrame as
    ``df._sv_route`` — the plain ``vector_distance`` spelling silently
    lands in the quantized-unit distance domain when a replica is
    registered (prefer="auto"), and callers who need to know which
    domain they got read it here (or pre-flight with plan_route)."""

    tier: str  # "routed" | "sql" | "tvf" | "management" | "explain"
    topk: TopKQuery | None
    #: the concrete tier prefer="auto" would land on ("quantized" when
    #: a replica is registered, else "exact"); None for tier="sql"
    auto_target: str | None = None
    #: the prefer= actually passed to route_sql (None outside route_sql)
    prefer: str | None = None


def plan_route(catalog, sql: str) -> RouteDecision:
    """Decide without executing: canonical shape + registered column
    -> "routed" (with the auto target named); anything else -> "sql"
    (macro-expanded passthrough)."""
    p = parse_topk(sql)
    if p is not None and catalog is not None:
        try:
            ctx = catalog.get(p.table, p.column)
        except (KeyError, ValueError):
            p = None
        else:
            has_replica = ctx.quantized_path is not None and ctx.qscale is not None
            return RouteDecision("routed", p, "quantized" if has_replica else "exact")
    return RouteDecision("sql", None)


def route_sql(
    spark: SparkSession,
    catalog,
    sql: str,
    prefer: str = "auto",
    nprobe: int = 2,
    prefilter: int | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Run vector SQL with index auto-routing.

    Three recognized spellings, in order:
    1. the reference's own TVF text (``SELECT rowid, distance FROM
       vector_full_scan('t','col', vector_as_f32('[...]'), k)`` and
       the quantize/stream variants, API.md:229/260) — executed with
       reference semantics via run_tvf (``id_col`` names the table's
       id column standing in for SQLite's implicit rowid);
    2. canonical top-k text over a catalog-registered column — routed
       through router.knn (``prefer`` / ``nprobe`` / ``prefilter`` as
       there; "auto" picks the cheapest FULL-COVERAGE tier: quantized
       replica if registered, else exact; probe-limited tiers stay
       opt-in), result renamed to the SQL text's output columns;
    3. anything else — plain Spark SQL after macro expansion,
       identical semantics, no routing.

    The decision (tier, auto target, effective prefer) rides on the
    returned DataFrame as ``df._sv_route``: with prefer="auto" the
    SAME canonical text returns quantized-unit distances once a
    replica is registered and true distances before — a caller that
    must not cross distance domains checks the marker (or passes
    prefer="exact").
    """
    import dataclasses

    import pyspark.sql.functions as F

    def _mark(df: DataFrame, decision: RouteDecision) -> DataFrame:
        df._sv_route = dataclasses.replace(decision, prefer=prefer)
        return df

    if _EXPLAIN_RE.match(sql):
        return _mark(
            explain_route(spark, catalog, sql, id_col=id_col),
            RouteDecision("explain", None),
        )
    scalar = parse_scalar(sql)
    if scalar is not None:
        return _mark(
            run_scalar(spark, catalog, scalar[0], scalar[1], id_col=id_col),
            RouteDecision("management", None),
        )
    tvf = parse_tvf(sql)
    if tvf is not None:
        return _mark(run_tvf(spark, catalog, tvf, id_col=id_col), RouteDecision("tvf", None))
    decision = plan_route(catalog, sql)
    if decision.tier == "routed":
        from sqlite_vector_spark.router import knn

        p = decision.topk
        # a missing metric in vector_distance(...) means L2 on EVERY
        # path (the macro's documented default) — not the table's init
        # metric, which would make the same text return different
        # results depending on catalog registration. The reference's
        # init-metric behavior belongs to its TVF spelling (run_tvf).
        df = knn(
            spark,
            catalog,
            p.table,
            p.column,
            list(p.query),
            p.k,
            metric=p.metric or "L2",
            prefer=prefer,
            id_col=p.id_col,
            nprobe=nprobe,
            prefilter=prefilter,
        )
        return _mark(
            df.select(F.col("id").alias(p.id_out), F.col("distance").alias(p.dist_out)),
            decision,
        )
    # passthrough: embedded TVF calls become temp-view subqueries
    # (SURVEY §3 EP1's JOIN composition), then the distance macro
    # expands, then plain Spark SQL runs the rest
    return _mark(
        spark.sql(expand_vector_sql(_expand_tvf_subqueries(spark, catalog, sql, id_col=id_col))),
        decision,
    )


# ---------------------------------------------------------------- reference TVF spelling

#: the reference's own query text (API.md:229-230, 260-261):
#:   SELECT rowid, distance
#:   FROM vector_full_scan('documents','embedding', vector_as_f32('[...]'), 5)
#: Supported verbatim so reference users can run their existing SQL.
_TVF_NAMES = "vector_full_scan_stream|vector_quantize_scan_stream|vector_full_scan|vector_quantize_scan"
_TVF_RE = re.compile(
    r"^\s*SELECT\s+(?:\*|rowid(?:\s+AS\s+(?P<id_alias>\w+))?\s*,\s*distance(?:\s+AS\s+(?P<d_alias>\w+))?)\s+"
    rf"FROM\s+(?P<fn>{_TVF_NAMES})\s*\(\s*"
    r"'(?P<table>[^']+)'\s*,\s*'(?P<column>[^']+)'\s*,\s*(?P<vec>[^;]*?)"
    r"(?:,\s*(?P<k>\d+)\s*)?\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VEC_JSON_RE = re.compile(
    r"^(?:vector_as_f32\s*\(\s*)?'(?P<json>\[[^']*\])'\s*\)?$", re.IGNORECASE
)
_VEC_ARRAY_RE = re.compile(r"^array\s*\((?P<elems>[^)]*)\)$", re.IGNORECASE)


@dataclass(frozen=True)
class TvfQuery:
    """A recognized reference-TVF query."""

    fn: str  # full_scan | quantize_scan | full_scan_stream | quantize_scan_stream
    table: str
    column: str
    query: tuple[float, ...]
    k: int | None
    id_out: str
    dist_out: str


def parse_tvf(sql: str) -> TvfQuery | None:
    """Recognize the reference's TVF query text; None when the text is
    not that shape (callers fall through to the canonical recognizer /
    macro passthrough)."""
    m = _TVF_RE.match(sql)
    if not m:
        return None
    vec_txt = m.group("vec").strip()
    jm = _VEC_JSON_RE.match(vec_txt)
    if jm:
        import json as _json

        try:
            vec = tuple(float(v) for v in _json.loads(jm.group("json")))
        except (ValueError, TypeError):
            return None
    else:
        am = _VEC_ARRAY_RE.match(vec_txt)
        if not am:
            return None
        try:
            vec = tuple(float(tok) for tok in am.group("elems").split(",") if tok.strip())
        except ValueError:
            return None
    if not vec:
        return None
    fn = m.group("fn").lower().removeprefix("vector_")
    k = m.group("k")
    if fn.endswith("_stream"):
        if k is not None:
            return None  # stream TVFs take no k (API: 3 args)
    elif k is None:
        return None  # scan TVFs require k (API: 4 args)
    return TvfQuery(
        fn=fn,
        table=m.group("table"),
        column=m.group("column"),
        query=vec,
        k=int(k) if k is not None else None,
        id_out=m.group("id_alias") or "rowid",
        dist_out=m.group("d_alias") or "distance",
    )


def run_tvf(spark: SparkSession, catalog, tvf: TvfQuery, id_col: str = "id") -> DataFrame:
    """Execute a parsed reference-TVF query with reference semantics:
    the metric comes from vector_init (fixed per column, like the
    reference's per-connection context); vector_quantize_scan requires
    the replica built by vector_quantize (errors otherwise, mirroring
    the reference's 'must run vector_quantize first' contract);
    quantized results stay in quantized units (§2.3)."""
    import pyspark.sql.functions as F

    if catalog is None:
        raise ValueError("reference TVF queries need a VectorCatalog (run vector_init first)")
    ctx = catalog.get(tvf.table, tvf.column)  # KeyError -> not initialized
    q = list(tvf.query)
    if tvf.fn in ("full_scan", "quantize_scan"):
        from sqlite_vector_spark.router import knn

        prefer = "exact" if tvf.fn == "full_scan" else "quantized"
        df = knn(spark, catalog, tvf.table, tvf.column, q, tvf.k, prefer=prefer, id_col=id_col)
    elif tvf.fn == "full_scan_stream":
        from sqlite_vector_spark.operators.search import full_scan_stream

        df = full_scan_stream(spark.table(tvf.table), tvf.column, q, ctx.distance, id_col=id_col)
    else:  # quantize_scan_stream
        from sqlite_vector_spark.operators.quantize import (
            QuantParams,
            vector_quantize_scan_stream,
        )

        if ctx.quantized_path is None or ctx.qscale is None:
            raise ValueError(
                f"{tvf.table}.{tvf.column} has no quantized replica — run vector_quantize first"
            )
        from sqlite_vector_spark.sinks import read_store

        codes = read_store(spark, ctx.quantized_path)
        params = QuantParams(ctx.resolved_qtype, float(ctx.qscale), float(ctx.qoffset), 0)
        df = vector_quantize_scan_stream(codes, q, params, ctx.distance)
    return df.select(F.col("id").alias(tvf.id_out), F.col("distance").alias(tvf.dist_out))


# ---------------------------------------------------------------- reference scalar statements

#: the reference's management statements (API.md:24-168) — each a
#: 1-row SELECT of an extension function. Supported verbatim with the
#: reference's return types (TEXT / INTEGER / NULL).
_SCALAR_RE = re.compile(
    r"^\s*SELECT\s+(?P<fn>vector_version|vector_backend|vector_init|"
    r"vector_quantize_memory|vector_quantize_preload|vector_quantize_cleanup|vector_quantize)"
    r"\s*\(",
    re.IGNORECASE,
)


def parse_scalar(sql: str) -> tuple[str, list[str]] | None:
    """Recognize ``SELECT vector_*('t','c'[,'opts'])`` management
    statements; returns (fn_lower, [unquoted args]) or None. Argument
    splitting is quote-aware (the options literal itself contains
    commas, e.g. 'dimension=384,type=FLOAT32,distance=cosine')."""
    m = _SCALAR_RE.match(sql)
    if not m:
        return None
    fn = m.group("fn").lower()
    args_raw, end = _scan_args(sql, sql.index("(", m.start("fn")))
    if not re.fullmatch(r"\s*;?\s*", sql[end:]):
        return None  # more select items / clauses -> not a management statement
    args = []
    for part in args_raw:
        if not part:
            continue
        qm = re.fullmatch(r"'([^']*)'", part)
        if not qm:
            return None  # non-literal argument -> not the management spelling
        args.append(qm.group(1))
    return fn, args


def run_scalar(spark: SparkSession, catalog, fn: str, args: list[str], id_col: str = "id") -> DataFrame:
    """Execute a reference management statement with reference return
    types (API.md): version/backend -> 1-row TEXT; init/preload/
    cleanup -> 1-row NULL; quantize -> rows quantized (INTEGER);
    quantize_memory -> preload bytes (INTEGER).

    The quantized replica parquet lands under the catalog root
    (``<root>/shadow__<table>__<column>``), so vector_quantize /
    _memory / _preload / _cleanup compose across statements exactly
    like the reference's connection-shared quantization."""
    import os

    import pyspark.sql.functions as F

    def one(value, typ):
        return spark.range(1).select(F.lit(value).cast(typ).alias(fn))

    if fn == "vector_version":
        from sqlite_vector_spark.version import vector_version

        return one(vector_version(), "string")
    if fn == "vector_backend":
        from sqlite_vector_spark.version import vector_backend

        return one(vector_backend(), "string")
    if catalog is None:
        raise ValueError(f"{fn} needs a VectorCatalog")
    if fn == "vector_init":
        if len(args) != 3:
            raise ValueError("vector_init('table','column','options') takes 3 arguments")
        catalog.vector_init(spark.table(args[0]), args[0], args[1], args[2])
        return one(None, "string")
    # quantize family: ('table','column'[,'options']) — validate arity
    # BEFORE indexing so a 1-arg statement raises the contract
    # ValueError, not a raw IndexError (ADVICE r8)
    if len(args) < 2:
        raise ValueError(
            f"{fn}('table','column'"
            + (",'options'" if fn == "vector_quantize" else "")
            + f") takes at least 2 arguments, got {len(args)}"
        )
    table, column = args[0], args[1]
    ctx = catalog.get(table, column)
    if fn == "vector_quantize":
        from sqlite_vector_spark.operators.quantize import vector_quantize
        from sqlite_vector_spark.types import parse_memory

        max_memory = None
        if len(args) >= 3 and args[2]:
            for kv in args[2].split(","):
                k, _, v = kv.partition("=")
                if k.strip().lower() == "max_memory":
                    max_memory = parse_memory(v.strip())
        if not catalog.root:
            raise ValueError("vector_quantize-by-statement needs a catalog with a root directory")
        dest = os.path.join(catalog.root, re.sub(r"[^A-Za-z0-9_.-]", "_", f"shadow__{table}__{column}"))
        params = vector_quantize(
            spark.table(table), column, dest, id_col=id_col,
            catalog=catalog, table=table,
            max_memory=max_memory, dim=ctx.dimension if max_memory is not None else None,
        )
        return one(params.count, "bigint")
    if ctx.quantized_path is None:
        raise ValueError(f"{table}.{column} has no quantized replica — run vector_quantize first")
    from sqlite_vector_spark.sinks import read_store

    codes = read_store(spark, ctx.quantized_path)
    if fn == "vector_quantize_memory":
        from sqlite_vector_spark.operators.quantize import vector_quantize_memory

        return one(vector_quantize_memory(codes), "bigint")
    if fn == "vector_quantize_preload":
        from sqlite_vector_spark.operators.quantize import vector_quantize_preload

        vector_quantize_preload(codes)
        return one(None, "string")
    # vector_quantize_cleanup
    from sqlite_vector_spark.operators.quantize import vector_quantize_cleanup

    vector_quantize_cleanup(codes, dest_path=ctx.quantized_path, catalog=catalog, table=table, column=column)
    return one(None, "string")


# ---------------------------------------------------------------- embedded TVF composition

_TVF_CALL_RE = re.compile(rf"\b(?:{_TVF_NAMES})\s*\(", re.IGNORECASE)


def _expand_tvf_subqueries(spark: SparkSession, catalog, sql: str, id_col: str = "id") -> str:
    """Replace every embedded TVF call in ``sql`` with a temp view of
    its result — the reference's flagship composition (SURVEY §3 EP1:
    ``... JOIN vector_quantize_scan('t','c', ?, 20) v ON e.id =
    v.rowid``) in one SQL string. Each call is executed via run_tvf
    (columns rowid, distance) and registered as a generated view; the
    surrounding text then runs as plain Spark SQL, so aliases, join
    conditions, CTEs, and WHERE clauses all compose. Quote-aware:
    tokens inside string literals are untouched."""
    out = sql
    for _ in range(16):
        m = None
        for cand in _TVF_CALL_RE.finditer(out):
            if not _in_string(out, cand.start()):
                m = cand
                break
        if not m:
            return out
        args, end = _scan_args(out, out.index("(", m.start()))
        call_txt = out[m.start():end]
        tvf = parse_tvf(f"SELECT rowid, distance FROM {call_txt}")
        if tvf is None:
            raise ValueError(f"unsupported TVF call shape: {call_txt[:120]}")
        # uuid names: no cross-thread counter race on a shared session,
        # no collision with user views; views are session-scoped
        import uuid

        view = f"_svspark_tvf_{uuid.uuid4().hex[:12]}"
        run_tvf(spark, catalog, tvf, id_col=id_col).createOrReplaceTempView(view)
        out = out[: m.start()] + view + out[end:]
    raise ValueError("too many embedded TVF calls")  # pragma: no cover
