"""Substring/containment candidate pass (SURVEY.md §7.5).

LSH over whole-document shingle sets under-weights *containment*: a short
transcript embedded verbatim in a much longer one has low Jaccard yet is a
real duplicate (boilerplate prepends/appends).  The reference's kernels see
these pairs only through Overlap/Tversky; at scale we need a candidate
generator for them.

Design: per-document **winnowing fingerprints** (Schleimer, Wilkerson,
Aiken, SIGMOD 2003 — the public MOSS algorithm): rolling-hash every
``substring_min_len``-gram, then keep only the minimum hash in each window
of ``w`` consecutive positions.  Winnowing guarantees any shared substring
of length >= min_len + w - 1 yields at least one shared fingerprint, so the
equi-join on fingerprints is candidate-complete for long exact overlaps
while emitting O(len/w) rows per document.

Everything is one Arrow-batched numpy UDF (rolling hash via cumulative
polynomial trick) plus ``lsh``'s capped key join over
``fingerprint_keys`` — no per-row Python, no shuffle of text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BASE = 1_000_003
_MAX_GRAM = 256  # fingerprint grams longer than this are not supported

# BASE^j over natural uint64 wraparound — the rolling polynomial ring.
# (An earlier version used a Mersenne-61 modulus with a per-character
# Python loop: 1.9 µs/char, ~20 s for 343k transcripts at local[8].  The
# wraparound ring lets the k window terms be k vectorized shifted
# multiply-adds instead.)
_BPOW = np.empty(_MAX_GRAM, dtype=np.uint64)
_BPOW[0] = 1
with np.errstate(over="ignore"):  # wraparound is the point, not an error
    for _i in range(1, _MAX_GRAM):
        _BPOW[_i] = _BPOW[_i - 1] * np.uint64(_BASE)  # wraps mod 2^64


def _rolling_fingerprints(s: str, k: int, w: int) -> list[int]:
    """Winnowed k-gram rolling hashes of s (codepoint-level).
    h(i) = sum_{j<k} codes[i+j] * BASE^(k-1-j)  (mod 2^64), >>1 to fit the
    positive LongType range."""
    n = len(s)
    if n < k:
        return []
    np.seterr(over="ignore")
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    m = n - k + 1
    out = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        out += codes[j : j + m] * _BPOW[k - 1 - j]
    out >>= np.uint64(1)
    if m <= w:
        return [int(out.min())]
    # winnowing: min of each length-w window (robust variant: record each
    # distinct (hash) once when it becomes the window minimum)
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(out, w).min(axis=1)
    return np.unique(mins).astype(np.int64).tolist()


def fingerprint_udf(k: int, window: int):
    if k < 1 or k > _MAX_GRAM:
        raise ValueError(
            f"fingerprint gram length k={k} out of range [1, {_MAX_GRAM}] "
            "(_BPOW table size) — raise _MAX_GRAM if longer overlap grams "
            "are needed"
        )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _rolling_fingerprints(t, k, window) if t is not None else []
                for t in texts
            ]
        )

    return udf


def fingerprint_keys(fps: DataFrame, id_col: str) -> DataFrame:
    """(id, fp) rows -> ``(id, band_id=0, band_hash=fp)`` keys for ``lsh``'s
    join shapes: one band, the fingerprint its key."""
    return fps.select(
        id_col, F.lit(0).alias("band_id"), F.col("fp").alias("band_hash")
    )


def containment_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 32,
    window: int = 16,
    fingerprint_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """df(id, text) -> (pairs(id1 < id2), fingerprint dispositions): the
    pairs sharing >= 1 winnowed fingerprint of a >= min_len-char exact
    overlap.

    ``fingerprint_cap`` drops degenerate fingerprints shared by more than
    cap documents: a boilerplate sentence present in f docs otherwise
    yields f²/2 candidate pairs that share ONLY the boilerplate (measured
    1.37M of 1.7M candidates on a 20k-clip corpus before this cap).  Such
    pairs are not duplicates; members that really are near-dups still reach
    verification through the MinHash pass.  The cap is never silent: the
    dispositions (``lsh.candidate_pairs``' rows, ``n_rows`` = docs per
    fingerprint) mark each capped fingerprint ``dropped``.  Fingerprints
    below the cap but above the default ``hot_band_threshold`` take the
    salted join."""
    from ..config import PipelineConfig
    from . import lsh

    fps = df.select(
        F.col(id_col),
        F.explode(fingerprint_udf(min_len, window)(F.col(text_col))).alias("fp"),
    ).distinct()
    return lsh.candidate_pairs(
        fingerprint_keys(fps, id_col), PipelineConfig(), id_col=id_col,
        cap=fingerprint_cap,
    )


def _sa_lcs(s: str, t: str) -> int:
    """Longest common substring length via the suffix automaton of ``s``
    streamed with ``t`` — the standard O(|s| + |t|) construction (Blumer
    et al. 1985; the textbook online-extend algorithm).  This is the exact
    verifier behind ``lcs_verify``; the O(|s|·|t|) DP is the test oracle
    (tests/test_suffix_lcs.py)."""
    # online suffix-automaton build over s
    MAXLEN = [0]
    LINK = [-1]
    TRANS: list[dict[str, int]] = [{}]
    last = 0
    for ch in s:
        cur = len(MAXLEN)
        MAXLEN.append(MAXLEN[last] + 1)
        LINK.append(-1)
        TRANS.append({})
        p = last
        while p != -1 and ch not in TRANS[p]:
            TRANS[p][ch] = cur
            p = LINK[p]
        if p == -1:
            LINK[cur] = 0
        else:
            q = TRANS[p][ch]
            if MAXLEN[p] + 1 == MAXLEN[q]:
                LINK[cur] = q
            else:
                clone = len(MAXLEN)
                MAXLEN.append(MAXLEN[p] + 1)
                LINK.append(LINK[q])
                TRANS.append(dict(TRANS[q]))
                while p != -1 and TRANS[p].get(ch) == q:
                    TRANS[p][ch] = clone
                    p = LINK[p]
                LINK[q] = clone
                LINK[cur] = clone
        last = cur
    # stream t through the automaton tracking current match length
    v, length, best = 0, 0, 0
    for ch in t:
        while v and ch not in TRANS[v]:
            v = LINK[v]
            length = MAXLEN[v]
        if ch in TRANS[v]:
            v = TRANS[v][ch]
            length += 1
            if length > best:
                best = length
        else:
            v, length = 0, 0
    return best


def lcs_len_udf():
    """(text1, text2) -> exact longest-common-substring length.

    Per-pair Python (Arrow-batched) — the documented slow path, but it
    runs ONLY on candidate pairs (the winnowing join has already reduced
    the pair space), the automaton is linear in the pair's combined
    length, and the BLOB/text shuffles once to meet its pair.  A
    whole-batch vectorization has no numpy shape here (per-pair dynamic
    trie); the same defense as the minhash/simhash per-row loops."""

    @F.pandas_udf(T.IntegerType())
    def udf(t1: pd.Series, t2: pd.Series) -> pd.Series:
        out = np.zeros(len(t1), dtype=np.int32)
        for i, (a, b) in enumerate(zip(t1, t2)):
            if a and b:
                # build the automaton over the shorter side
                if len(a) > len(b):
                    a, b = b, a
                out[i] = _sa_lcs(a, b)
        return pd.Series(out)

    return udf


def lcs_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 32,
) -> DataFrame:
    """Exact-overlap verify for the substring pass: attach both texts to
    each candidate pair, compute the exact longest-common-substring
    length (suffix automaton), keep pairs with lcs_len >= min_len.
    Returns (id1, id2, lcs_len).  Composes with containment_candidates:
    winnowing guarantees a candidate for any overlap >= k + window - 1,
    so candidates -> lcs_verify is EXACT (recall 1.0) for overlaps at or
    above that guarantee length."""
    t1 = docs.select(F.col(id_col).alias("id1"), F.col(text_col).alias("_t1"))
    t2 = docs.select(F.col(id_col).alias("id2"), F.col(text_col).alias("_t2"))
    return (
        pairs.join(t1, "id1").join(t2, "id2")
        .withColumn("lcs_len", lcs_len_udf()(F.col("_t1"), F.col("_t2")))
        .filter(F.col("lcs_len") >= min_len)
        .select("id1", "id2", "lcs_len")
    )
