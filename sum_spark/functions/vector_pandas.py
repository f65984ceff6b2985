"""Vectorized NumPy backend for the vector kernels — the analog of the
reference's ``blas32`` backend (/root/reference/node/backend/blas32.go:41-43),
selected like ``backend.Select`` (node/backend/backend.go:26-36).

Arrow-batched pandas UDFs: each batch arrives as a pandas Series of
ndarrays, its rows are stacked into one (rows, dim) matrix per vector
length, and the kernel is one BLAS call per matrix. This is the
wide-vector fast path; for dims up to a few hundred, the pure-Catalyst
expressions in ``vector.py`` win because they never leave the JVM.

Unlike the reference — whose backend serializes every call behind a global
mutex (node/backend/backend.go:8,67-71) — both backends here parallelize
per-partition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

_BACKEND = "catalyst"  # {"catalyst", "numpy"}; reference default is "blas32"


def select_backend(name: str) -> None:
    """Choose the kernel implementation, mirroring backend.Select
    (node/backend/backend.go:26-36). 'catalyst' ≈ 'naive' (but codegen'd
    and parallel), 'numpy' ≈ 'blas32'."""
    if name not in ("catalyst", "numpy"):
        raise ValueError(f"unknown backend {name!r}")
    global _BACKEND
    _BACKEND = name


def current_backend() -> str:
    return _BACKEND


def _rowwise(kernel, *cols: pd.Series) -> pd.Series:
    """Apply ``kernel`` (stacked (rows, dim) float64 matrices in, one value
    per row out) to each group of rows whose vectors share one length. An
    Arrow batch holds whatever rows the partitioning put together, so
    lengths can differ inside one batch and a single np.stack would raise.
    Rows with a null vector or operands of different lengths come out
    null, as in the Catalyst kernels."""
    groups: dict[int, list[int]] = {}
    for i, vs in enumerate(zip(*cols)):
        if all(v is not None and len(v) == len(vs[0]) for v in vs):
            groups.setdefault(len(vs[0]), []).append(i)
    out = np.full(len(cols[0]), np.nan)  # NaN -> null on the way back to Arrow
    for idx in groups.values():
        out[idx] = kernel(*(np.stack(c.to_numpy()[idx]).astype(np.float64) for c in cols))
    return pd.Series(out)


def _cosine(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    dots = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return np.where(den == 0.0, 0.0, dots / np.where(den == 0.0, 1.0, den))


@F.pandas_udf(DoubleType())
def dot_np(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched dot product: one einsum per same-length group of an Arrow
    batch."""
    return _rowwise(lambda ma, mb: np.einsum("ij,ij->i", ma, mb), a, b)


@F.pandas_udf(DoubleType())
def magnitude_np(a: pd.Series) -> pd.Series:
    return _rowwise(lambda ma: np.linalg.norm(ma, axis=1), a)


@F.pandas_udf(DoubleType())
def cosine_np(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine with the reference's zero-magnitude -> 0.0 rule
    (node/wrapper/record.go:98-102)."""
    return _rowwise(_cosine, a, b)


def dot_auto(a: Column | str, b: Column | str) -> Column:
    """Backend-dispatched dot, like the reference's pluggable Dot kernel."""
    from sum_spark.functions import vector

    if _BACKEND == "numpy":
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return dot_np(a, b)
    return vector.dot(a, b)


def cosine_auto(a: Column | str, b: Column | str) -> Column:
    from sum_spark.functions import vector

    if _BACKEND == "numpy":
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return cosine_np(a, b)
    return vector.cosine(a, b)
