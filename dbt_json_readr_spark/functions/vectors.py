"""JVM-side vector math over ``array<float>`` embedding columns.

Dot products and norms are explicit left folds (``F.aggregate`` over
``zip_with``) so the summation order is the array order — deterministic
and identical to the DuckDB oracle's ``list_reduce`` fold, which a
parallel/reordered sum would not be.  Everything is cast to double
before multiplying so both engines round identically.

r13: higher-order functions are CodegenFallback — the fold runs on the
interpreted expression path, ~2× the CPU of compiled code (measured on
the brute-force pair scorer: 31.8 → 15.6 CPU·s at sf0.1).  The ``*_w``
variants below unroll the SAME left fold into a fixed-order expression
tree ``((0.0 + a[0]·b[0]) + a[1]·b[1]) + …`` whose width comes from a
one-row plan-build probe of the embedding table (``probe_width``), so
whole-stage codegen compiles it — identical associativity, identical
element order, bit-identical doubles (pinned by test + a 4M-pair
exact-compare probe).  A per-row width guard falls back to the exact
HOF fold for any row whose arrays do not match the probed width, so
the unroll is a pure execution-strategy change on ANY data.

The unrolled tree is generated as ONE SQL string handed to a single
``F.expr`` call and memoized per (names, width): building the same
tree out of ~4·width Column operator calls cost 1.4–1.9 s of DRIVER
time per plan build in Spark 4 classic (measured — it made
ann_bruteforce_topk 4× slower than the interpreted fold it replaced),
while one ANTLR parse of the ~6 KB string is ~10 ms and the memo makes
every later plan build free.  The string parses to the exact same
resolved Catalyst tree as the Column-API version (same operators, same
analyzer), so bit-identity is unaffected.  The ``*_w`` builders
therefore take column NAMES, not Columns — every call site scores
plainly-named projected columns.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with the norms precomputed ONCE per vector instead of per
    pair — HOF folds are interpreted (CodegenFallback), so the per-pair
    cost drops 3× and a corpus vector's norm is no longer re-folded for
    every query it meets.  Bit-identical to ``cosine``: same left-fold
    dot, same ``dot / (na * nb)`` association, so oracles need no
    restructuring."""
    return dot(a, b) / (na * nb)


# ------------------------------------------ codegen'd unrolled folds

# session → {(semanticHash, what): [(frame, value), ...]} — a probe is
# a one-row or footer-metadata job; caching it per (session, analyzed
# plan) keeps a bench's repeated plan builds (two bare loads of one
# path hash equal) from re-running it, while a filtered or otherwise
# derived frame over the same files is a different plan and re-probes.
# WeakKeyDictionary: a stopped session's entries vanish with it.
_PROBE_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def _probe(df: DataFrame, what: str, run):
    """``run()``'s value memoized on ``df``'s analyzed plan: keyed by
    ``semanticHash()`` and confirmed with ``sameSemantics`` (a hash is
    not an identity).  Only file-backed frames are cached; computed
    frames are probed per call, so only pass cheap-to-scan inputs."""
    try:
        file_backed = bool(df.inputFiles())
    except Exception:
        file_backed = False
    if not file_backed:
        return run()
    entries = _PROBE_CACHE.setdefault(df.sparkSession, {}).setdefault(
        (df.semanticHash(), what), []
    )
    for seen, value in entries:
        if df.sameSemantics(seen):
            return value
    value = run()
    entries.append((df, value))
    return value


def probe_width(df: DataFrame, col: str = "embedding") -> int | None:
    """Array width of ``col`` from ONE row of ``df`` — a plan-build
    metadata probe (the same class of driver round-trip as the dedup
    auto-gate's candidate count), cached by ``_probe``.  Returns None
    on an empty frame, in which case the ``*_w`` builders degrade to
    the interpreted fold."""

    def run():
        rows = df.select(F.size(F.col(col)).alias("w")).limit(1).collect()
        width = rows[0]["w"] if rows else None
        return width if width is not None and width > 0 else None

    return _probe(df, col, run)


# (kind, names..., width) → parsed Column; Columns are immutable
# unresolved expression trees, safe to reuse across any number of
# plans, so the memo makes repeated plan builds (a bench loop, the
# sweep keys) cost zero driver time after the first parse.
_EXPR_CACHE: dict = {}


def _qn(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for SQL
    text: ``a.v`` → ``\\`a\\`.\\`v\\``` — parses to the same
    UnresolvedAttribute as ``F.col("a.v")``."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _sql_dot_w(a: str, b: str, width: int) -> str:
    qa, qb = _qn(a), _qn(b)
    acc = "0.0D"
    for i in range(width):
        acc = f"({acc} + ({qa}[{i}] * {qb}[{i}]))"
    hof = (
        f"aggregate(zip_with({qa}, {qb}, (x, y) -> (x * y)), 0.0D, "
        f"(acc, x) -> (acc + x))"
    )
    return (
        f"CASE WHEN ((size({qa}) = {width}) AND (size({qb}) = {width})) "
        f"THEN {acc} ELSE {hof} END"
    )


def _cached_expr(key: tuple, sql_fn) -> Column:
    col = _EXPR_CACHE.get(key)
    if col is None:
        col = F.expr(sql_fn())
        _EXPR_CACHE[key] = col
    return col


def probe_count(df: DataFrame) -> int:
    """Row count of a (file-backed) frame as a plan-build probe, cached
    by ``_probe`` like ``probe_width`` — parquet count(*) is
    footer-metadata fast, and the cache makes a bench loop's repeated
    plan builds free."""
    return _probe(df, "__count__", df.count)


def dot_w(a: str, b: str, width: int | None) -> Column:
    """``dot`` unrolled to a fixed-order codegen expression tree of
    ``width`` terms — identical left-to-right association, so results
    are bit-identical to the HOF fold.  Rows whose arrays do not match
    ``width`` take the exact HOF fold via the guard (same value for
    every length combination, including the zip_with null-padding
    semantics, because the guard only passes equal-and-probed widths).
    ``width=None`` (empty/unknown table) is the HOF fold unchanged.
    ``a``/``b`` are column NAMES (see module docstring: the tree is
    built as one memoized ``F.expr`` parse, not 4·width Column ops)."""
    if not width:
        return dot(F.col(a), F.col(b))
    return _cached_expr(("dot", a, b, width), lambda: _sql_dot_w(a, b, width))


def norm_w(a: str, width: int | None) -> Column:
    if not width:
        return norm(F.col(a))
    return _cached_expr(
        ("norm", a, width), lambda: f"SQRT({_sql_dot_w(a, a, width)})"
    )


def cosine_w(a: str, b: str, width: int | None) -> Column:
    if not width:
        return cosine(F.col(a), F.col(b))
    return _cached_expr(
        ("cos", a, b, width),
        lambda: (
            f"(({_sql_dot_w(a, b, width)}) / "
            f"(SQRT({_sql_dot_w(a, a, width)}) * SQRT({_sql_dot_w(b, b, width)})))"
        ),
    )


def cosine_prenormed_w(
    a: str, b: str, na: str, nb: str, width: int | None
) -> Column:
    if not width:
        return cosine_prenormed(F.col(a), F.col(b), F.col(na), F.col(nb))
    return _cached_expr(
        ("cpn", a, b, na, nb, width),
        lambda: f"(({_sql_dot_w(a, b, width)}) / ({_qn(na)} * {_qn(nb)}))",
    )


# --------------------------------------------------- DuckDB SQL twins


def sql_to_double(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(x AS DOUBLE))"


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), "
        f"(acc, x) -> acc + x)"
    )


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"
