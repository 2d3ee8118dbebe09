"""Suffix-automaton LCS verify: kernel fuzz vs the O(n*m) DP oracle, and
the candidates -> lcs_verify composition's exactness on planted overlaps."""

from __future__ import annotations

import random

from text_similarity_node_spark.operators.suffix import (
    _sa_lcs,
    containment_candidates,
    lcs_verify,
)


def _dp_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


def test_sa_lcs_matches_dp_fuzz():
    rng = random.Random(13)
    for _ in range(300):
        a = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 40)))
        b = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 40)))
        assert _sa_lcs(a, b) == _dp_lcs(a, b), (a, b)


def test_sa_lcs_edges():
    assert _sa_lcs("", "abc") == 0
    assert _sa_lcs("abc", "") == 0
    assert _sa_lcs("abc", "abc") == 3
    assert _sa_lcs("xabcy", "zabcw") == 3


def test_lcs_verify_exact_on_planted_overlaps(spark):
    """Planted overlaps above the winnowing guarantee are all found with
    their exact lengths; unrelated docs produce nothing >= min_len."""
    rng = random.Random(99)

    def gibberish(n):
        return "".join(rng.choice("0123456789abcdef") for _ in range(n))

    rows = []
    expected = {}
    for i in range(20):
        base = gibberish(200)
        rows.append((i, base))
        if i % 4 == 0:
            ov_len = 40 + i
            copy = gibberish(60) + "Z" + base[50:50 + ov_len] + "Z" + gibberish(60)
            rows.append((i + 1000, copy))
            expected[(i, i + 1000)] = ov_len
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands, _ = containment_candidates(df, "doc_id", "text", min_len=16, window=8)
    got = {
        (r["id1"], r["id2"]): r["lcs_len"]
        for r in lcs_verify(cands, df, "doc_id", "text", min_len=30).collect()
    }
    assert got == expected
