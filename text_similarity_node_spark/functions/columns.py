"""JVM-side Column expressions for the hot path.

Everything here compiles to built-in Catalyst expressions (whole-stage
codegen, no Python in the loop).  These are the scale-out versions of the
reference kernels wherever Spark built-ins can express the exact semantics;
the pandas-UDF kernels (spark_udfs.py) cover the rest and serve as the
parity oracle.

Reference semantics being reproduced:

* char n-gram shingles with the len<n whole-string rule
  (``/root/reference/src/algorithms/base_algorithm.cpp:159-205``)
* ASCII ``\\b\\w+\\b`` word tokens (``base_algorithm.cpp:145-157``; Java
  regex ``\\w``/``\\b`` are ASCII-classed by default, matching the
  reference's byte-regex behavior)
* set-Jaccard (WORD mode, ``token_based.cpp:128-159``) and multiset-Jaccard
  (CHAR/NGRAM mode, ``token_based.cpp:103-126``) via count-maps
* Levenshtein similarity = 1 - d/max(len) (``levenshtein.cpp:314-321``)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------


def char_ngrams(col: Column | str, n: int) -> Column:
    """Codepoint n-gram shingles; len<n -> [whole string]; '' -> []."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(grams)


def word_tokens(col: Column | str) -> Column:
    """ASCII \\b\\w+\\b word tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"\b\w+\b"), 0)


def token_count_map(tokens: Column) -> Column:
    """tokens array -> map token -> count (the Counter / FrequencyVector of
    the reference, ``token_based.hpp:12-83``).  O(distinct * n) per row —
    fine for transcript-sized arrays; the pipeline's signature stage uses
    explode+groupBy for unbounded inputs."""
    distinct = F.array_distinct(tokens)
    return F.map_from_arrays(
        distinct,
        F.transform(distinct, lambda t: F.size(F.filter(tokens, lambda x: x == t))),
    )


# ---------------------------------------------------------------------------
# set / multiset measures over token arrays (JVM-side)
# ---------------------------------------------------------------------------


def _nz(x: Column) -> Column:
    return F.coalesce(x, F.lit(0))


def multiset_intersection_size(m1: Column, m2: Column) -> Column:
    """sum over union keys of min(count) — Counter::intersect."""
    zipped = F.map_zip_with(m1, m2, lambda k, v1, v2: F.least(_nz(v1), _nz(v2)))
    return F.aggregate(F.map_values(zipped), F.lit(0), lambda acc, v: acc + v)


def multiset_union_size(m1: Column, m2: Column) -> Column:
    """sum over union keys of max(count) — Counter::union_with."""
    zipped = F.map_zip_with(m1, m2, lambda k, v1, v2: F.greatest(_nz(v1), _nz(v2)))
    return F.aggregate(F.map_values(zipped), F.lit(0), lambda acc, v: acc + v)


def multiset_jaccard(m1: Column, m2: Column) -> Column:
    """Multiset Jaccard over two count maps (CHAR/NGRAM semantics,
    token_based.cpp:103-126).  Empty-vs-empty -> 1.0, one-empty -> 0.0
    (quick-answer parity)."""
    inter = multiset_intersection_size(m1, m2).cast("double")
    union = multiset_union_size(m1, m2).cast("double")
    both_empty = (F.size(F.map_keys(m1)) == 0) & (F.size(F.map_keys(m2)) == 0)
    one_empty = (F.size(F.map_keys(m1)) == 0) | (F.size(F.map_keys(m2)) == 0)
    return (
        F.when(both_empty, F.lit(1.0))
        .when(one_empty, F.lit(0.0))
        .otherwise(F.when(union == 0, F.lit(0.0)).otherwise(inter / union))
    )


def set_jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over token arrays (WORD semantics, token_based.cpp:128-159)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(F.array_union(da, db)).cast("double")
    both_empty = (F.size(da) == 0) & (F.size(db) == 0)
    one_empty = (F.size(da) == 0) | (F.size(db) == 0)
    return (
        F.when(both_empty, F.lit(1.0))
        .when(one_empty, F.lit(0.0))
        .otherwise(F.when(union == 0, F.lit(0.0)).otherwise(inter / union))
    )


def multiset_dice(m1: Column, m2: Column) -> Column:
    """Multiset Sørensen-Dice (token_based.cpp:163-222)."""
    inter = multiset_intersection_size(m1, m2).cast("double")
    t1 = F.aggregate(F.map_values(m1), F.lit(0), lambda a, v: a + v)
    t2 = F.aggregate(F.map_values(m2), F.lit(0), lambda a, v: a + v)
    total = (t1 + t2).cast("double")
    both_empty = (t1 == 0) & (t2 == 0)
    one_empty = (t1 == 0) | (t2 == 0)
    return (
        F.when(both_empty, F.lit(1.0))
        .when(one_empty, F.lit(0.0))
        .otherwise(F.when(total == 0, F.lit(0.0)).otherwise(2.0 * inter / total))
    )


def multiset_overlap(m1: Column, m2: Column) -> Column:
    """Multiset overlap coefficient (token_based.cpp:226-284)."""
    inter = multiset_intersection_size(m1, m2).cast("double")
    t1 = F.aggregate(F.map_values(m1), F.lit(0), lambda a, v: a + v)
    t2 = F.aggregate(F.map_values(m2), F.lit(0), lambda a, v: a + v)
    mn = F.least(t1, t2).cast("double")
    both_empty = (t1 == 0) & (t2 == 0)
    one_empty = (t1 == 0) | (t2 == 0)
    return (
        F.when(both_empty, F.lit(1.0))
        .when(one_empty, F.lit(0.0))
        .otherwise(F.when(mn == 0, F.lit(0.0)).otherwise(inter / mn))
    )


def multiset_tversky(m1: Column, m2: Column, alpha: float, beta: float) -> Column:
    """Multiset Tversky index (token_based.cpp:288-360)."""
    inter = multiset_intersection_size(m1, m2).cast("double")
    t1 = F.aggregate(F.map_values(m1), F.lit(0), lambda a, v: a + v).cast("double")
    t2 = F.aggregate(F.map_values(m2), F.lit(0), lambda a, v: a + v).cast("double")
    denom = inter + F.lit(alpha) * (t1 - inter) + F.lit(beta) * (t2 - inter)
    both_empty = (t1 == 0) & (t2 == 0)
    one_empty = (t1 == 0) | (t2 == 0)
    return (
        F.when(both_empty, F.lit(1.0))
        .when(one_empty, F.lit(0.0))
        .otherwise(F.when(denom == 0.0, F.lit(0.0)).otherwise(inter / denom))
    )


def freq_cosine(m1: Column, m2: Column) -> Column:
    """Token-frequency cosine over count maps (vector_based.cpp:86-123),
    clamped to [0,1]; identical strings short-circuit upstream."""
    zipped = F.map_zip_with(m1, m2, lambda k, v1, v2: _nz(v1) * _nz(v2))
    dot = F.aggregate(F.map_values(zipped), F.lit(0), lambda a, v: a + v).cast("double")
    mag1 = F.sqrt(
        F.aggregate(F.map_values(m1), F.lit(0), lambda a, v: a + v * v).cast("double")
    )
    mag2 = F.sqrt(
        F.aggregate(F.map_values(m2), F.lit(0), lambda a, v: a + v * v).cast("double")
    )
    both_empty = (F.size(F.map_keys(m1)) == 0) & (F.size(F.map_keys(m2)) == 0)
    one_empty = (F.size(F.map_keys(m1)) == 0) | (F.size(F.map_keys(m2)) == 0)
    return (
        F.when(both_empty, F.lit(1.0))
        .when(one_empty, F.lit(0.0))
        .when((mag1 == 0.0) | (mag2 == 0.0), F.lit(0.0))
        .otherwise(F.least(F.greatest(dot / (mag1 * mag2), F.lit(0.0)), F.lit(1.0)))
    )


# ---------------------------------------------------------------------------
# positional kernels with built-in support
# ---------------------------------------------------------------------------


def levenshtein_similarity(c1: Column, c2: Column) -> Column:
    """sim = 1 - d / max(len) with quick-answer parity; d from the built-in
    JVM expression (codegen, no Python)."""
    d = F.levenshtein(c1, c2).cast("double")
    max_len = F.greatest(F.length(c1), F.length(c2)).cast("double")
    return (
        F.when((F.length(c1) == 0) & (F.length(c2) == 0), F.lit(1.0))
        .when((F.length(c1) == 0) | (F.length(c2) == 0), F.lit(0.0))
        .otherwise(1.0 - d / max_len)
    )


def levenshtein_similarity_banded(c1: Column, c2: Column, band: int) -> Column:
    """sim = 1 - d/max(len) where d comes from the banded 3-arg built-in
    (O(band·n) + early abandon instead of O(n²), levenshtein.cpp:168-246).
    EXACT only for predicates `sim >= tau` with band >= (1-tau)·max_len over
    the whole input: pairs the band rejects (d = -1) get sim 0, which the
    predicate would have rejected anyway."""
    d = F.levenshtein(c1, c2, band)
    max_len = F.greatest(F.length(c1), F.length(c2)).cast("double")
    return (
        F.when((F.length(c1) == 0) & (F.length(c2) == 0), F.lit(1.0))
        .when((F.length(c1) == 0) | (F.length(c2) == 0), F.lit(0.0))
        .when(d < 0, F.lit(0.0))
        .otherwise(1.0 - d.cast("double") / max_len)
    )


def hamming_distance_equal_len(c1: Column, c2: Column) -> Column:
    """Positional mismatch count for equal-length strings; null when lengths
    differ (the error channel in DataFrame form)."""
    pairs = F.arrays_zip(F.split(c1, ""), F.split(c2, ""))
    d = F.size(F.filter(pairs, lambda p: p["0"] != p["1"]))
    return F.when(F.length(c1) == F.length(c2), d).otherwise(F.lit(None))


# ---------------------------------------------------------------------------
# embedding math (JVM-side; no UDF)
# ---------------------------------------------------------------------------


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def cosine_sim_vec(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
