"""Centred moments of an ``array<double>`` column in one pass, and the
PCA solved from them on the driver.

``column_moments`` is one pass over the input. A ``mapInPandas``
kernel turns each partition into one row ``(n, mean, M2)``, where
``M2 = Σ (x − mean)(x − mean)ᵀ`` comes from numpy BLAS over each Arrow
batch. Rows merge with Chan et al.'s pairwise update,

    n = na + nb,  δ = mean_b − mean_a,
    mean = mean_a + δ·nb/n,  M2 = M2a + M2b + δδᵀ·na·nb/n,

which stays centred, so it keeps its precision at any offset of the
data. When there are more input partitions than
``spark.sql.shuffle.partitions``, those rows are merged once more in
Spark over that many partitions (a second stage, and a second job under
AQE), so the driver receives a bounded number of d×d matrices however
large the input is, as MLlib's ``treeAggregate`` bounds it. With fewer,
the second level would only add a shuffle (~0.15 s warm at sf0.01), so
it is skipped. ``principal_axes`` then solves the d×d eigenproblem with
``numpy.linalg.eigh``.
"""

from __future__ import annotations

import sys
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame

MOMENT_SCHEMA = "n bigint, mean array<double>, m2 array<double>"

_EMPTY = (0, None, None)


def merge(a: tuple, b: tuple) -> tuple:
    """Chan et al.'s pairwise update of two ``(n, mean, M2)`` triples."""
    na, nb = a[0], b[0]
    if nb == 0:
        return a
    if na == 0:
        return b
    n = na + nb
    delta = b[1] - a[1]
    return n, a[1] + delta * (nb / n), a[2] + b[2] + np.outer(delta, delta) * (na * nb / n)


def _row(m: tuple) -> pd.DataFrame:
    return pd.DataFrame({"n": [m[0]], "mean": [m[1]], "m2": [m[2].ravel()]})


def partial_moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel over a column ``x``: one moment row per
    partition, none for an empty one."""
    acc = _EMPTY
    for pdf in batches:
        if len(pdf):
            x = np.stack(pdf["x"].to_numpy()).astype(np.float64, copy=False)
            mean = x.mean(axis=0)
            xc = x - mean
            acc = merge(acc, (len(x), mean, xc.T @ xc))
    if acc[0]:
        yield _row(acc)


def merge_rows(rows) -> tuple:
    """The merge of ``(n, mean, flattened M2)`` rows."""
    acc = _EMPTY
    for n, mean, m2 in rows:
        d = len(mean)
        acc = merge(acc, (int(n), np.asarray(mean), np.asarray(m2).reshape(d, d)))
    return acc


def merge_moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel over moment rows: their merge, as one row."""
    acc = merge_rows(row for pdf in batches for row in zip(pdf["n"], pdf["mean"], pdf["m2"]))
    if acc[0]:
        yield _row(acc)


def moment_rows(df: DataFrame, x: Column) -> DataFrame:
    """The moment rows of column ``x`` that the driver collects: one per
    input partition, merged once more over ``spark.sql.shuffle.partitions``
    partitions when there are more input partitions than that. Counting
    them plans ``df``, which starts no job for a scan."""
    fan_in = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = df.select(x.alias("x")).mapInPandas(partial_moments, MOMENT_SCHEMA)
    if df.rdd.getNumPartitions() > fan_in:
        rows = rows.repartition(fan_in).mapInPandas(merge_moments, MOMENT_SCHEMA)
    return rows


def column_moments(df: DataFrame, x: Column) -> tuple[int, np.ndarray, np.ndarray]:
    """``(n, mean, M2)`` of the vectors in column ``x`` of ``df``."""
    return merge_rows(moment_rows(df, x).collect())


def principal_axes(n: int, m2: np.ndarray, k: int) -> np.ndarray:
    """The top ``k`` eigenvectors of the sample covariance ``M2/(n−1)``,
    as columns in descending eigenvalue order. Each one's sign is fixed
    so that its largest-|loading| entry is positive."""
    if n < 2:
        raise ValueError(f"PCA needs at least 2 rows, got {n}")
    _, vecs = np.linalg.eigh(m2 / (n - 1))
    axes = vecs[:, ::-1][:, :k]
    top = np.abs(axes).argmax(axis=0)
    return axes * np.sign(axes[top, np.arange(k)])


# The kernels run in Python workers, which may not be able to import
# this package: ship this module's code by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
