"""The in-row pair expansion: every ordered pair of one array's elements.

Candidate generation (LSH buckets, baskets, co-occurring terms) collects a
group into one sorted array and expands it to the pairs ``(arr[i], arr[j])``
with ``i < j`` in the JVM, so no self-join shuffles the group.

The lambda body reads nothing that depends on the row alone: the tail after
element ``i`` is an open-ended ``slice`` whose length is a constant minus
``i``, not ``size(arr) - i - 1``. A lambda body runs interpreted, per
element, so a row-only expression there is recomputed for every element
(``scripts/explain_audit.py`` flags it).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# slice(arr, i + 2, _TAIL - i) keeps every element after position i + 1
# (1-based): the requested end, (i + 1) + (_TAIL - i), is Int.MaxValue, so
# it covers any array and never overflows the JVM's int arithmetic
_TAIL = 2**31 - 2


def in_row_pairs(arr: str, a: str, b: str) -> Column:
    """``array<struct<a, b>>`` of every pair ``(arr[i], arr[j])``, ``i < j``,
    of the array column named ``arr``, in array order; empty for arrays of
    fewer than two elements. Sort the array first for canonical pairs."""
    col = F.col(arr)
    return F.flatten(
        F.transform(
            col,
            lambda x, i: F.transform(
                F.slice(col, i + 2, F.lit(_TAIL) - i),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
