"""Vector math over ``array<float>`` embedding columns.

Pure higher-order-function expressions (``aggregate``/``zip_with``)
— JVM-evaluated, no Python boundary, no UDF pickling; at 100 TB this
keeps similarity scans executor-local and codegen-adjacent.
CPU-bound callers repartition to cores first (see queries_vector);
the sketch-class operators (operators/dedup.py minhash) show the
vectorized-numpy alternative for when batch math beats per-element
expression eval.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays (double result)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))

