"""Verify-stage Jaccard expressions over signature and shingle-set
columns, as JVM built-ins (no Python crossing).

Signatures and LSH bands come from the Arrow kernels in
``operators/arrow_sig.py``; their semantics replicate the reference
kernel (its ``src/sketch/min-hash.ts:34-36,94-110``):
``sig[i] = min over shingles x of (a_i*x + b_i) mod c``.

LSH banding is NOT in the reference (it does all-pairs ``compareWith``);
we band to generate candidate pairs at scale and keep ``compareWith``
semantics for the verification stage, so accept/reject decisions match
the reference at the same signature config (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def estimated_jaccard_expr(sig1: Column, sig2: Column, k: int) -> Column:
    """compareWith on two signature columns: (# equal positions)/k
    (min-hash.ts:117-132), as built-in zip_with/aggregate — JVM-side."""
    eq = F.zip_with(sig1, sig2, lambda x, y: (x == y).cast("int"))
    return (
        F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double") / F.lit(k)
    )


def exact_jaccard_expr(s1: Column, s2: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (shingle sets) —
    the reference's test oracle formula (tests/min-hash.test.ts:8-11)."""
    inter = F.size(F.array_intersect(s1, s2))
    union = F.size(s1) + F.size(s2) - inter
    return inter.cast("double") / union.cast("double")
