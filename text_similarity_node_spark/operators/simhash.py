"""SimHash (64-bit random-hyperplane sketch) + Hamming banding.

Maps the reference's cosine semantics (``src/algorithms/vector_based.cpp``)
to scale: documents whose token-frequency vectors have high cosine
similarity get SimHash values within a small Hamming distance.

Candidate generation uses the pigeonhole block trick: split the 64-bit
sketch into ``hamming_radius + 1`` blocks — any pair within the radius must
agree exactly on at least one block.  ``block_keys`` turns the blocks into
``(id, band_id, band_hash)`` keys for either of ``lsh``'s join shapes (the
batch self-join or the streaming probe), and ``within_radius`` is the
verification both apply: pure JVM ``bit_count(s1 ^ s2) <= radius``.

The sketch itself is one Arrow-batched numpy UDF: token hash -> 64 bit
columns (unpackbits), weighted by token count, sign-reduced.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..functions.spark_udfs import hash_tokens_u64


@F.pandas_udf(T.LongType())
def simhash64_udf(tokens: pd.Series) -> pd.Series:
    """array<string> tokens (with multiplicity) -> 64-bit SimHash.

    Per-row numpy on purpose: the (distinct x 64) bit matrix per row is
    cache-resident.  A whole-batch lexsort + add.reduceat variant was
    measured 9x slower (DRAM-sized 2.5M x 64 int64 contrib matrix)."""
    out = np.zeros(len(tokens), dtype=np.int64)
    for i, toks in enumerate(tokens):
        if toks is None or len(toks) == 0:
            out[i] = 0
            continue
        uniq: dict[str, int] = {}
        for t in toks:
            uniq[t] = uniq.get(t, 0) + 1
        h = hash_tokens_u64(list(uniq.keys()))
        w = np.fromiter(uniq.values(), dtype=np.int64, count=len(uniq))
        bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        acc = (w[:, None] * (2 * bits.astype(np.int64) - 1)).sum(axis=0)
        pows = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
        out[i] = pows[acc > 0].sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(out)


def with_simhash(df: DataFrame, tokens_col: str, out_col: str = "simhash") -> DataFrame:
    return df.withColumn(out_col, simhash64_udf(F.col(tokens_col)))


def _block_value(sim_col: Column, i: int, width: int) -> Column:
    return (
        F.shiftrightunsigned(sim_col, i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
    )


def _block_plan(radius: int) -> tuple[int, int, bool]:
    """-> (nblocks, width, flip) for the pigeonhole candidate join.

    radius <= 3: standard pigeonhole, radius+1 blocks of >= 16 bits — keys
    are already high-entropy.

    4 <= radius <= 7: standard blocks would be 64/(radius+1) <= 12 bits wide
    (radius 7 -> 8-bit blocks = 256 distinct join keys: quadratic on any
    large corpus).  Use the two-level pigeonhole instead (HmSearch-style):
    4 blocks of 16 bits; a pair with <= radius <= 7 differing bits has some
    block with <= floor(7/4) = 1 differing bit, so probing each exact block
    value against the build side's {value} U {value with one bit flipped}
    expansion finds every true pair.  Keys stay 16-bit (65k values/block)
    at the cost of a 17x build-side expansion — ~30x fewer candidate pairs
    than 8-bit keys at equal corpus size.

    radius >= 8: fall back to standard pigeonhole (narrow keys), relying on
    the salted/capped disposition for skew — only audit-scale queries use
    radii this wide."""
    if radius <= 3 or radius >= 8:
        nblocks = radius + 1
        return nblocks, 64 // nblocks, False
    return 4, 16, True


def hamming_blocks(sim_col: Column, radius: int) -> Column:
    """simhash -> array<struct<block_id,block_value>> of exact block keys
    (pigeonhole: a pair within the radius agrees on >= 1 block — exactly for
    the standard plan; within 1 bit per block for the two-level plan, where
    the build side adds 1-bit-flip expansions via hamming_blocks_expanded)."""
    nblocks, width, _ = _block_plan(radius)
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("block_id"),
                _block_value(sim_col, i, width).alias("block_value"),
            )
            for i in range(nblocks)
        ]
    )


def hamming_blocks_expanded(sim_col: Column, radius: int) -> Column:
    """Build-side keys: exact block values plus, under the two-level plan,
    every single-bit flip of each block value (width+1 keys per block)."""
    nblocks, width, flip = _block_plan(radius)
    entries = []
    for i in range(nblocks):
        v = _block_value(sim_col, i, width)
        bid = F.lit(i).cast("int")
        entries.append(F.struct(bid.alias("block_id"), v.alias("block_value")))
        if flip:
            for b in range(width):
                entries.append(
                    F.struct(
                        bid.alias("block_id"),
                        v.bitwiseXOR(F.lit(1 << b)).alias("block_value"),
                    )
                )
    return F.array(*entries)


def block_keys(
    df: DataFrame, radius: int, id_col: str = "clip_id", sim_col: str = "simhash"
) -> tuple[DataFrame, DataFrame | None]:
    """(id, simhash) -> (probe, build) key frames
    (id, simhash, band_id, band_hash) for ``lsh``'s join shapes.

    probe holds each sketch's exact block keys.  build is the 1-bit-flip
    expansion under the two-level plan, else ``None`` (the exact keys
    join themselves).  Either way a pair within the radius shares a key."""

    def _explode(keys_col: Column) -> DataFrame:
        return df.select(
            F.col(id_col), F.col(sim_col), F.explode(keys_col).alias("blk")
        ).select(
            id_col,
            sim_col,
            F.col("blk.block_id").alias("band_id"),
            F.col("blk.block_value").alias("band_hash"),
        )

    _, _, flip = _block_plan(radius)
    probe = _explode(hamming_blocks(F.col(sim_col), radius))
    build = (
        _explode(hamming_blocks_expanded(F.col(sim_col), radius)) if flip else None
    )
    return probe, build


def within_radius(pairs: DataFrame, radius: int, sim_col: str = "simhash") -> DataFrame:
    """Candidate pairs carrying ``{sim_col}_1``/``{sim_col}_2`` -> the pairs
    within Hamming ``radius``, with their ``hamming`` distance, verified
    JVM-side with bit_count(xor)."""
    return pairs.withColumn(
        "hamming",
        F.bit_count(F.col(f"{sim_col}_1").bitwiseXOR(F.col(f"{sim_col}_2"))),
    ).filter(F.col("hamming") <= radius)


def simhash_candidates(
    df: DataFrame, cfg: PipelineConfig, id_col: str = "clip_id", sim_col: str = "simhash"
) -> tuple[DataFrame, DataFrame]:
    """(id, simhash) -> (pairs(id1, id2, hamming) with hamming <= radius,
    the block-key dispositions).

    The block equi-join goes through ``lsh.candidate_pairs``' skew
    disposition (cold / salted-triangle / capped-with-metrics), so a
    degenerate sketch value (e.g. simhash 0 from near-empty token sets) or
    a narrow-key radius can't put a whole hot key on one reducer; the
    dispositions are what the caller's ledger audits."""
    from . import lsh

    probe, build = block_keys(df, cfg.hamming_radius, id_col, sim_col)
    pairs, dispositions = lsh.candidate_pairs(
        probe, cfg, id_col=id_col, right_bands=build, carry_cols=[sim_col]
    )
    return (
        within_radius(pairs, cfg.hamming_radius, sim_col).select("id1", "id2", "hamming"),
        dispositions,
    )
