"""Vector column functions over ``array<float|double>`` embeddings.

All pure column expressions (`zip_with`/`aggregate` fold element-wise in
array order), so results are deterministic and bit-reproducible across
engines — required for oracle checks and good for 100 TB (JVM codegen,
no Python round-trip).  For very wide vectors (>4k dims) a Pandas-UDF
BLAS path would win; at embedding widths (64-4096) the fold is fine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def dot_explicit(a: Column | str, b: Column | str, dim: int) -> Column:
    """Dot product as an explicit left-associated sum of ``dim``
    element products — bit-identical to ``dot`` (0.0 + x == x) and to
    DuckDB's sequential list_dot_product, but pure codegen arithmetic
    where the HOF fold is CodegenFallback (interpreted per element —
    measured 10x slower in the PQ encode hot loop at 25M candidate
    rows).  Use when the width is statically known and the expression
    sits under a large join fan-out.

    When both sides are plain column NAMES the whole chain is built as
    ONE ``F.expr`` string: the SQL parser yields the identical
    left-associated GetArrayItem/multiply/add tree (verified analyzed-
    plan-identical up to expr ids), but in a single JVM round trip —
    the per-op Column API costs one ~1.7 ms py4j call per node, which
    made a 64-dim chain ~3.8 s of pure DRIVER time per query
    construction (guide §7.3: planning/driver time is real time)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_explicit_sql(a, b, dim))
    terms = [a.getItem(i) * b.getItem(i) for i in range(dim)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def dot_explicit_sql(a: str, b: str, dim: int) -> str:
    """The SQL-string form of ``dot_explicit`` over two column names —
    ``(`a`[0] * `b`[0]) + ...`` (left-associated by the parser)."""
    return " + ".join(f"(`{a}`[{i}] * `{b}`[{i}])" for i in range(dim))


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """dot/(|a|*|b|) — written exactly this way (not sqrt(na*nb)) so the
    DuckDB oracle can mirror the float op order bit-for-bit."""
    return dot(a, b) / (norm2(a) * norm2(b))


def scale(a: Column, s: Column | float) -> Column:
    s_c = F.lit(s) if isinstance(s, (int, float)) else s
    return F.transform(a, lambda x: x * s_c)


def add(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x + y)
