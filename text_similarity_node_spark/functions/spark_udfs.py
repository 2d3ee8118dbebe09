"""Vectorized pandas/Arrow UDF kernels (the slow-path escape hatch).

Per the north rule, ALL Python execution is Arrow-batched (`pandas_udf`) —
never row-at-a-time `F.udf`.  These wrap the reference-parity scalar kernels
(kernels.py) for the algorithms Spark has no built-in for (Damerau, Jaro,
Jaro-Winkler, the exact multiset measures when case-folding is needed), and
hash tokens for the signature UDFs.

Null semantics: a null input string produces a null result (DataFrame error
channel — the analogue of the reference's ``Result<T>`` wrapper,
``src/core/types.hpp:89-128``); kernels never throw across partitions.
"""

from __future__ import annotations

from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import AlgorithmConfig
from . import kernels


def _pairwise_udf(fn: Callable[[str, str], Optional[float]], ret=T.DoubleType()):
    @F.pandas_udf(ret)
    def udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(s1, s2):
            if a is None or b is None:
                out.append(None)
                continue
            try:
                out.append(fn(a, b))
            except Exception:
                out.append(None)  # error channel: null, never a task failure
        return pd.Series(out, dtype="float64" if ret == T.DoubleType() else "object")

    return udf


def similarity_udf(cfg: AlgorithmConfig):
    """calculateSimilarity as a vectorized column function; full parity
    including quick answers and fold tables."""
    cfg.validate()

    def fn(a: str, b: str) -> float:
        return kernels.similarity(a, b, cfg)

    return _pairwise_udf(fn)


def distance_udf(cfg: AlgorithmConfig):
    """calculateDistance (integer channel, x1000 for fractional metrics)."""
    cfg.validate()

    def fn(a: str, b: str) -> float:
        return float(kernels.distance(a, b, cfg))

    return _pairwise_udf(fn)


# ---------------------------------------------------------------------------
# token hashing for signatures (shared by minhash / simhash)
# ---------------------------------------------------------------------------

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def hash_tokens_u64(tokens: list[str]) -> np.ndarray:
    """Deterministic 64-bit FNV-1a of each token's UTF-8 bytes, vectorized
    over a padded byte matrix (no per-byte Python).  Stable across processes
    and executors (unlike Python's salted ``hash``)."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bufs = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    width = int(lens.max())
    mat = np.zeros((n, width), dtype=np.uint8)
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    # scatter the ragged buffers into the padded matrix
    idx = np.repeat(np.arange(n), lens)
    col = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
    mat[idx, col] = flat
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    np.seterr(over="ignore")
    for j in range(width):
        active = lens > j
        h[active] = (h[active] ^ mat[active, j].astype(np.uint64)) * _FNV_PRIME
    # final avalanche (xorshift-multiply) to decorrelate short tokens
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    return h
