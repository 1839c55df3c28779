"""Vector distance / similarity column expressions.

The reference computes cosine similarity row-at-a-time in numpy
(reference src/app.py:52-59) with a non-standard guard: if either
operand has zero norm the result is the sentinel ``-1.0`` (not NaN or
null — reference src/app.py:57-58). That sentinel is preserved here
exactly (pinned by tests/test_vector.py).

The column expressions here are built from higher-order functions
(``zip_with`` / ``aggregate``) and stay on the JVM: they score rows
against a literal target (``score_against_target``, the search and
dedup operators) and define the evaluation order every scorer must
reproduce. Batch kNN (queries x corpus) does NOT run these folds per
pair: ``operators/knn.py`` scores Arrow batches in numpy with the same
left fold over dims, so its scores are bit-identical to
:func:`unit_cosine` / :func:`l2_distance`.

All math is done in DOUBLE precision regardless of the storage type
(testdata stores ``array<float>``) so results are reproducible and
match the DuckDB oracle bit-for-bit at reasonable rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    """Cast an array<float>/array<double> column to array<double>."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def literal_vector(values) -> Column:
    """A literal array<double> column from a Python float sequence.

    Spark mapping of the reference's broadcast-once target vector
    (reference src/app.py:134,193): the literal is constant-folded into
    the plan, so scoring a corpus against it is a scan + projection with
    no join and no shuffle.
    """
    return F.array(*[F.lit(float(v)) for v in values]).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise dot product via zip_with + aggregate (reference src/app.py:55).

    Left-to-right fold in double precision — the same evaluation order a
    sequential loop uses, which keeps parity with the oracle tight.
    """
    a, b = as_double_array(a), as_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    """L2 norm (reference src/app.py:56)."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with the reference's -1.0 zero-norm sentinel.

    Parity target: reference src/app.py:52-59 — ``dot/(na*nb)``, and
    -1.0 (not null/NaN) when either norm is 0.
    """
    a, b = as_double_array(a), as_double_array(b)
    na, nb = norm(a), norm(b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(-1.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance (the metric ChromaDB reports in the reference's
    kNN printout, reference src/cod.py:134-139)."""
    a, b = as_double_array(a), as_double_array(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize; zero vectors pass through unchanged (no division by 0)."""
    a = as_double_array(a)
    n = norm(a)
    return F.when(n == F.lit(0.0), a).otherwise(
        F.transform(a, lambda x: x / n)
    )


def with_unit_vectors(
    df,
    vec_col: str = "embedding",
    unit_col: str = "unit",
    norm_col: str = "vnorm",
):
    """Add per-row norm and unit-vector columns via two chained
    projections.

    Pairwise similarity (joins) must NOT call :func:`cosine` directly:
    the norm subexpressions would be re-evaluated per *pair* (5 array
    folds per comparison). Materializing ``unit`` and ``vnorm`` once per
    row first reduces every pairwise cosine to a single fold —
    the difference between O(pairs·d) and O(pairs·5d + rows·d), and at
    100 TB the difference between a feasible join and not.

    Zero vectors keep unit = the zero vector; combine with
    :func:`unit_cosine`'s norm guard for the reference's -1.0 sentinel.
    """
    from pyspark.sql import DataFrame  # local import to avoid cycle at module load

    assert isinstance(df, DataFrame)
    step1 = df.withColumn(norm_col, norm(vec_col))
    # second projection: norm_col is now a plain attribute, evaluated
    # once per row, not once per array element inside the lambda
    nc = F.col(norm_col)
    return step1.withColumn(
        unit_col,
        F.when(nc == F.lit(0.0), as_double_array(vec_col)).otherwise(
            F.transform(as_double_array(vec_col), lambda x: x / nc)
        ),
    )


def unit_cosine(
    unit_a: Column | str,
    unit_b: Column | str,
    norm_a: Column | str,
    norm_b: Column | str,
) -> Column:
    """Cosine from pre-normalized vectors: one fold per pair, preserving
    the -1.0 zero-norm sentinel via the precomputed norms."""
    na = F.col(norm_a) if isinstance(norm_a, str) else norm_a
    nb = F.col(norm_b) if isinstance(norm_b, str) else norm_b
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(-1.0)).otherwise(
        dot(unit_a, unit_b)
    )


def norm_py(values) -> float:
    """Driver-side L2 norm with a sequential left-to-right fold —
    bit-identical to :func:`norm` (numpy pairwise summation would
    differ in the last bits)."""
    import math

    acc = 0.0
    for x in values:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def normalize_py(values) -> list[float]:
    """Driver-side unit-normalize over :func:`norm_py` — bit-identical
    to :func:`with_unit_vectors`; zero vectors pass through unchanged."""
    n = norm_py(values)
    if n == 0.0:
        return [float(x) for x in values]
    return [float(x) / n for x in values]


def dim_check(a: Column | str, expected_dim: int) -> Column:
    """Boolean constraint ``size(a) = D``.

    The reference never validates dimensionality (SURVEY.md §1.3); we
    make it an explicit, cheap predicate a collection can enforce on
    ingest (``df.filter(dim_check(...))`` or an assert-count job).
    """
    c = F.col(a) if isinstance(a, str) else a
    return F.size(c) == F.lit(expected_dim)


# --- DuckDB oracle SQL fragment builders -------------------------------
# Used by the query catalog so the Spark expression and the oracle SQL
# are generated from one place and cannot drift.

def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


def sql_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN {sql_norm(a)} = 0 OR {sql_norm(b)} = 0 THEN -1.0 "
        f"ELSE {sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}) END"
    )


def sql_with_unit(table_sql: str, cols: str, vec: str) -> str:
    """DuckDB twin of :func:`with_unit_vectors`: a subquery exposing
    ``{cols}, nrm, unit`` with the same two-step evaluation (norm first,
    then per-element division), so unit values are bit-identical."""
    return (
        f"SELECT {cols}, nrm, "
        f"CASE WHEN nrm = 0 THEN ({vec})::DOUBLE[] "
        f"ELSE list_transform(({vec})::DOUBLE[], x -> x / nrm) END AS unit "
        f"FROM (SELECT {cols}, {vec}, sqrt({sql_dot(vec, vec)}) AS nrm "
        f"FROM {table_sql})"
    )


def sql_unit_cosine(unit_a: str, unit_b: str, norm_a: str, norm_b: str) -> str:
    """DuckDB twin of :func:`unit_cosine`."""
    return (
        f"CASE WHEN {norm_a} = 0 OR {norm_b} = 0 THEN -1.0 "
        f"ELSE list_dot_product({unit_a}, {unit_b}) END"
    )
