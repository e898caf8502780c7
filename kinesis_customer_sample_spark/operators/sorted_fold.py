"""Sorted-key fold: a sequential per-key recursion in one Python pass.

Recursions such as Holt smoothing, Croston's method or a Kalman filter
depend on row order within a key, so no built-in aggregate expresses them.
The fold shuffles by key, sorts each partition by (key, order) and makes
ONE `mapInPandas` pass — the secondary-sort pattern: O(rows) Python with
one pandas frame per Arrow batch, where `applyInPandas` pays a measured
~1.3 ms per group in pandas construction, a fixed tax that dominates at
feature-store key counts. No global sort, no driver loop.

A key's rows all land in one partition and arrive in order, but may span
Arrow batches, so rows are gathered across batch boundaries and the
caller's recursion runs only once the key changes or the partition ends.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def sorted_key_fold(
    df: DataFrame,
    key: str,
    order: str,
    fold: Callable[[object, list[tuple]], tuple | None],
    schema: str,
) -> DataFrame:
    """Call `fold(k, rows)` once per value k of column `key`, where `rows`
    are k's rows sorted by `order`, each a tuple of `df`'s other columns
    in column order (numpy scalars, as pandas hands them over). Every
    tuple `fold` returns becomes one output row of the DDL `schema`;
    `None` emits nothing for that key."""
    names = StructType.fromDDL(schema).fieldNames()
    rest = [c for c in df.columns if c != key]

    def run(batches):
        cur, rows, out = None, [], []
        for pdf in batches:
            cols = [pdf[c].to_numpy() for c in rest]
            for k, row in zip(pdf[key].to_numpy(), zip(*cols)):
                if rows and k != cur:
                    res = fold(cur, rows)
                    if res is not None:
                        out.append(res)
                    rows = []
                cur = k
                rows.append(row)
        if rows:
            res = fold(cur, rows)
            if res is not None:
                out.append(res)
        yield pd.DataFrame.from_records(out, columns=names)

    return (
        df.repartition(key).sortWithinPartitions(key, order).mapInPandas(run, schema)
    )
