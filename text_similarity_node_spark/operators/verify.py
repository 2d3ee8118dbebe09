"""Exact multiset-Jaccard verification of candidate pairs.

Semantics: reference NGRAM-mode Jaccard (min-count intersection / max-count
union, ``/root/reference/src/algorithms/token_based.cpp:30-43,103-126``),
using the multiset identity |A ∪ B| = |A| + |B| - |A ∩ B| so only the
intersection needs computing.

Shape: sorted-array merge.  Each document is reduced once to a sorted array
of xxhash64 gram hashes; the candidate pairs join against it (no shuffle of
the arrays for the first join), and an Arrow-batched numpy UDF merges each
pair's two arrays into the exact multiset |A ∩ B|.  Candidate sets reaching
verification are prefiltered, so |pairs| << |docs| * grams/doc: an
inverted-index join (explode grams, join on (pair, gram), sum the
min-counts) would shuffle every pair x gram row instead -- at 400k docs /
363k pairs ~176M rows through two join shuffles, whose I/O does not scale
with cores (143 s at local[32] vs 210 s at local[8]).  The batch
pipeline, the streaming sink, ``dedup.neardup_dedup`` and the driver
queries all verify through this one shape.

Edge parity note: pairs with zero shared grams get Jaccard 0 and pairs of
empty-token documents never reach candidates (empty token sets produce no
LSH bands), matching pipeline behavior; the scalar kernels in
functions/kernels.py remain the full-fidelity contract including
empty-vs-empty quick answers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def verify_pairs_multiset_jaccard_arrays(
    candidates: DataFrame,
    docs_tokens: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    presorted_hashes: bool = False,
    total_col: str | None = None,
) -> DataFrame:
    """candidates(id1, id2 [, extra cols]) + docs(id, tokens) ->
    (id1, id2, jaccard) with multiset Jaccard >= threshold.

    Each doc is reduced ONCE to a sorted array of xxhash64 gram hashes
    (JVM transform+sort_array); the small pair table joins against it
    (pairs side broadcast, array side streamed — no array shuffle for the
    first join), and an Arrow-batched numpy UDF merges each pair's two
    sorted arrays: run-length unique + intersect1d + min-count sum = exact
    multiset |A∩B| (token_based.cpp:30-43 semantics over hashed grams; a
    collision would need two distinct grams of the same pair to collide,
    ~2^-64 per pair).

    ``presorted_hashes=True`` declares that ``tokens_col`` already holds
    sorted xxhash64 arrays (with ``total_col`` carrying the gram count) —
    used by callers that persist the reduced form, e.g. the streaming
    dedup's docs store, so the reduction isn't recomputed per batch."""
    @F.pandas_udf(T.LongType())
    def isz_udf(a1: pd.Series, a2: pd.Series) -> pd.Series:
        out = np.zeros(len(a1), dtype=np.int64)
        for i in range(len(a1)):
            x, y = a1.iloc[i], a2.iloc[i]
            if x is None or y is None or len(x) == 0 or len(y) == 0:
                continue
            ux, cx = np.unique(np.asarray(x, dtype=np.int64), return_counts=True)
            uy, cy = np.unique(np.asarray(y, dtype=np.int64), return_counts=True)
            _, ix, iy = np.intersect1d(
                ux, uy, assume_unique=True, return_indices=True
            )
            out[i] = int(np.minimum(cx[ix], cy[iy]).sum())
        return pd.Series(out)

    if presorted_hashes:
        total = (
            F.col(total_col) if total_col else F.size(F.col(tokens_col))
        )
        arrs = docs_tokens.select(
            F.col(id_col).alias("_vid"),
            F.col(tokens_col).alias("_harr"),
            total.alias("_total"),
        )
    else:
        # persist the reduced form: both join sides read it, and without
        # the cache the tokenize + hash + sort runs TWICE over the whole
        # corpus (once per side).  GC-cleaned like the other operator
        # persists.
        arrs = docs_tokens.select(
            F.col(id_col).alias("_vid"),
            F.sort_array(
                F.transform(F.col(tokens_col), lambda t: F.xxhash64(t))
            ).alias("_harr"),
            F.size(F.col(tokens_col)).alias("_total"),
        ).persist()
    pairs = candidates.select("id1", "id2")
    a1 = arrs.select(
        F.col("_vid").alias("id1"), F.col("_harr").alias("_h1"),
        F.col("_total").alias("t1"),
    )
    a2 = arrs.select(
        F.col("_vid").alias("id2"), F.col("_harr").alias("_h2"),
        F.col("_total").alias("t2"),
    )
    joined = pairs.join(a1, "id1").join(a2, "id2")
    scored = joined.withColumn("isz", isz_udf(F.col("_h1"), F.col("_h2")))
    jac = F.col("isz").cast("double") / (F.col("t1") + F.col("t2") - F.col("isz"))
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
