"""Vector math as Catalyst expressions over ``array<float>`` columns.

The semantic core of the reference is cosine top-k retrieval
(/root/reference/src/datastore.py:85,93 — cosine metric;
/root/reference/src/model.py:73-79 — top-k query).  These helpers express
dot/norm/cosine with ``zip_with``/``aggregate`` higher-order functions —
JVM-side, no Python — for the SQL-expressible paths; the bulk linking path
uses NumPy BLAS inside a pandas UDF instead (operators/linking.py).

All arithmetic is done in DOUBLE with a sequential left fold, which is the
same evaluation order DuckDB's ``list_dot_product`` uses on DOUBLE[] —
exact cross-engine parity for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
