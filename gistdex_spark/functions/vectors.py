"""Vector math over ``ARRAY<FLOAT>`` columns, evaluated JVM-side.

Reference semantics: ``cosineSimilarity`` returns dot/(|a||b|), 0 when either
vector has zero magnitude (reference `src/core/embedding/embedding.ts:143-173`,
`src/core/utils/math-utils.ts:4-77`). The reference normalizes embeddings at
index time so score == dot product on its own data; we keep the full cosine
so arbitrary (non-normalized) embedding columns score correctly too.

All of these build Catalyst ``ZipWith``/``ArrayAggregate`` expressions: no
Python UDF in the hot path. Both expressions implement ``CodegenFallback``,
so whole-stage codegen does not compile them; Spark interprets each fold,
one lambda call per element. Hence :func:`cosine` evaluates only the dot
fold per scored pair and takes norms that were folded once per row: a norm
column projected before a join, the row norm :func:`with_cosine` projects,
or a driver-side :func:`seq_norm` for a literal query. Accumulation is
sequential over the array (index order), which makes the floating-point
result reproducible across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(a: Column | str) -> Column:
    return F.col(a) if isinstance(a, str) else a


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns, accumulated as DOUBLE in index order."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def seq_norm(vec: list[float]) -> float:
    """Driver-side :func:`l2_norm` of a literal vector: the same left fold
    in double, so the value is bit-identical to the engine's."""
    s = 0.0
    for v in vec:
        s += float(v) * float(v)
    return math.sqrt(s)


def cosine(
    a: Column | str,
    b: Column | str | list[float],
    na: Column | str | float | None = None,
    nb: Column | str | float | None = None,
) -> Column:
    """Cosine similarity with the reference's zero-vector guard (→ 0.0).

    ``b`` may be a Python vector: it enters the plan as one nested literal
    with its norm folded driver-side. ``na``/``nb`` are norms the caller
    already holds (a column projected once per row, or a float); left
    ``None``, a column's norm is folded inline at every evaluation. A float
    norm is guarded here: zero makes every score 0.0, as the column guard
    would. A NULL vector scores NULL unless the other side is zero.
    """
    if not isinstance(b, (Column, str)):
        b, nb = vector_literal(b), seq_norm(b) if nb is None else nb
    a, b = _col(a), _col(b)
    guard, norms = None, []
    for v, n in ((a, na), (b, nb)):
        if n is None or isinstance(n, (Column, str)):
            n = l2_norm(v) if n is None else _col(n)
            g = n == F.lit(0.0)
            guard = g if guard is None else guard | g
        elif n == 0.0:
            return F.lit(0.0)
        else:
            n = F.lit(float(n))
        norms.append(n)
    score = dot(a, b) / (norms[0] * norms[1])
    return score if guard is None else F.when(guard, F.lit(0.0)).otherwise(score)


def with_cosine(
    df: DataFrame,
    vec_col: str,
    query: Column | str | list[float],
    score_col: str = "score",
    query_norm: Column | str | float | None = None,
) -> DataFrame:
    """Attach ``round(cosine(vec_col, query), 6)`` as ``score_col``.

    The row's norm is its own projection below the score. ``CollapseProject``
    does not inline a non-cheap expression that the upper projection uses
    twice (zero guard and divisor), so the norm is folded once per row.
    Score a sorted-and-limited shortlist with :func:`cosine` instead: the
    optimizer pushes projections through a limit, and two of them between
    the limit and its sort stop the planner from forming a
    ``TakeOrderedAndProject`` heap.
    """
    n = f"__{score_col}_norm"
    return (
        df.withColumn(n, l2_norm(vec_col))
        .withColumn(
            score_col,
            F.round(cosine(vec_col, query, na=n, nb=query_norm), 6),
        )
        .drop(n)
    )


def normalize(a: Column | str) -> Column:
    """v / |v|; identity for the zero vector (reference `embedding.ts:131-141`)."""
    a = _col(a)
    n = l2_norm(a)
    return F.when(n == F.lit(0.0), a.cast("array<double>")).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )


# ---------------------------------------------------------------------------
# SQL-string builders (same math for the DuckDB oracle). The driver hash-
# compares Spark output vs DuckDB output, so both engines must run the
# identical formula with the identical accumulation order.
# ---------------------------------------------------------------------------


def sql_dot(a: str, b: str) -> str:
    """DuckDB SQL for the same sequential double dot product."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def sql_cosine(a: str, b: str) -> str:
    d = sql_dot(a, b)
    na = f"sqrt({sql_dot(a, a)})"
    nb = f"sqrt({sql_dot(b, b)})"
    return f"(CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 ELSE {d} / ({na} * {nb}) END)"


def vector_literal(vec: list[float]) -> Column:
    """A literal query vector as a Spark array column (broadcast by value).
    ONE Literal node (Spark 4 nested-lit), not D Literal+CreateArray nodes
    — keeps analyzer/codegen cost constant in the vector width."""
    return F.lit([float(v) for v in vec])


def sql_vector_literal(vec: list[float]) -> str:
    """The same literal for DuckDB SQL."""
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"
