"""Array / vector column functions.

The raster flatten from the reference (``ensemble.py:28``) plus
the vector primitives the similarity-search extension needs. All JVM-side
higher-order functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two ``array<numeric>`` columns (sequential fold,
    deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI divide-by-zero failure)
    when either vector has zero norm — one all-zero embedding in a
    100 TB corpus must not kill the scoring stage."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def to_double_array(a: Column) -> Column:
    """array<float> → array<double> (match DuckDB DOUBLE math exactly)."""
    return F.transform(a, lambda x: x.cast("double"))


def flatten_to_rows(df, array_col: str, id_cols: list[str], pos_name: str = "idx", val_name: str = "val"):
    """``.ravel()`` analog: explode array to (id, idx, value) long rows.

    Reference: ensemble.py:28,111-113. 1-based index to match SQL
    array semantics.
    """
    return df.select(
        *id_cols, F.posexplode(array_col).alias(pos_name, val_name)
    ).withColumn(pos_name, F.col(pos_name) + F.lit(1))
