"""SimHash pigeonhole candidate join: exactness + skew disposition.

The block join routes through lsh.candidate_pairs' cold/salted/capped
disposition (round-2 verdict item 2): a degenerate sketch value or a
narrow-key radius must not put a whole hot key on one reducer.  Radius >= 4
uses the two-level pigeonhole (4 x 16-bit blocks + 1-bit-flip build-side
expansion) instead of 64/(r+1)-bit keys.
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from text_similarity_node_spark.config import PipelineConfig
from text_similarity_node_spark.operators import simhash


def _brute_pairs(vals: dict[str, int], radius: int) -> set[tuple[str, str]]:
    out = set()
    for (i1, v1), (i2, v2) in itertools.combinations(sorted(vals.items()), 2):
        if bin((v1 ^ v2) & 0xFFFFFFFFFFFFFFFF).count("1") <= radius:
            out.add((i1, i2))
    return out


def _mk_df(spark, vals: dict[str, int]):
    rows = [(k, v if v < 2**63 else v - 2**64) for k, v in vals.items()]
    return spark.createDataFrame(rows, "clip_id string, simhash long")


def _flip_bits(v: int, bits: list[int]) -> int:
    for b in bits:
        v ^= 1 << b
    return v


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(7)
    base = {f"r{i:03d}": rng.getrandbits(64) for i in range(80)}
    # planted near-neighbours at controlled Hamming distances
    seed = base["r000"]
    for d in (1, 3, 5, 7, 8, 9):
        bits = rng.sample(range(64), d)
        base[f"p{d:02d}"] = _flip_bits(seed, bits)
    return base


@pytest.mark.parametrize("radius", [3, 7])
def test_candidates_exact_vs_bruteforce(spark, corpus, radius):
    df = _mk_df(spark, corpus)
    cfg = PipelineConfig(hamming_radius=radius)
    pairs, _ = simhash.simhash_candidates(df, cfg)
    got = {
        (r.id1, r.id2)
        for r in pairs.collect()
    }
    assert got == _brute_pairs(corpus, radius)


def test_two_level_plan_selected():
    assert simhash._block_plan(3) == (4, 16, False)
    assert simhash._block_plan(7) == (4, 16, True)
    assert simhash._block_plan(6) == (4, 16, True)
    nb, w, flip = simhash._block_plan(10)  # audit radii fall back to standard
    assert (nb, w, flip) == (11, 5, False)


def test_hot_key_salted_still_exact(spark):
    """200 rows sharing one sketch (the degenerate simhash-0 case) with a
    low hot threshold: the salted triangle must still enumerate every pair."""
    vals = {f"h{i:03d}": 0 for i in range(60)}
    vals.update({f"c{i:03d}": random.Random(i).getrandbits(64) for i in range(20)})
    df = _mk_df(spark, vals)
    cfg = PipelineConfig(hamming_radius=3, hot_band_threshold=10, salt_buckets=4)
    pairs, _ = simhash.simhash_candidates(df, cfg)
    got = {
        (r.id1, r.id2)
        for r in pairs.collect()
    }
    assert got == _brute_pairs(vals, 3)
    assert len([p for p in got if p[0].startswith("h")]) >= 60 * 59 // 2


def test_hot_key_cap_drops_with_bounded_fanout(spark):
    """band_cap below the hot key's row count: the quadratic key is dropped
    (metered, not silent) and only cold-key pairs survive."""
    vals = {f"h{i:03d}": 0 for i in range(60)}
    near = {"a1": 1 << 20, "a2": (1 << 20) ^ 2}  # hamming 1 pair, cold keys
    vals.update(near)
    df = _mk_df(spark, vals)
    cfg = PipelineConfig(hamming_radius=3, hot_band_threshold=5, band_cap=30)
    pairs, _ = simhash.simhash_candidates(df, cfg)
    got = {
        (r.id1, r.id2)
        for r in pairs.collect()
    }
    assert ("a1", "a2") in got
    assert not any(p[0].startswith("h") and p[1].startswith("h") for p in got)


def test_disposition_metrics_emitted(spark):
    """The ledger records the dropped/salted keys (no-silent-caps)."""
    from text_similarity_node_spark.operators import lsh

    vals = {f"h{i:03d}": 0 for i in range(60)}
    df = _mk_df(spark, vals)
    cfg = PipelineConfig(hamming_radius=3, hot_band_threshold=5, band_cap=30)
    probe = df.select(
        "clip_id",
        "simhash",
        F.explode(simhash.hamming_blocks(F.col("simhash"), 3)).alias("blk"),
    ).select(
        "clip_id",
        "simhash",
        F.col("blk.block_id").alias("band_id"),
        F.col("blk.block_value").alias("band_hash"),
    )
    _, metrics = lsh.candidate_pairs(probe, cfg, id_col="clip_id")
    rows = metrics.collect()
    assert any(r.disposition == "dropped" and r.n_rows == 60 for r in rows)
