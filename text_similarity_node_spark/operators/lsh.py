"""LSH candidate generation: salted, skew-aware band self-join.

The core scale problem (SURVEY.md §7 hard-part #2): a band key shared by m
rows yields m(m-1)/2 candidate pairs — degenerate bands (boilerplate /
silence transcripts) explode quadratically.  Strategy here:

1. count rows per (band_id, band_hash) key — one cheap aggregation;
2. keys with count > ``band_cap`` are *dropped with metrics* (never
   silently: the dropped key count and row mass go to the metrics sink) —
   at web scale such bands are boilerplate, and the SimHash + substring
   passes still cover their members;
3. keys with ``hot_band_threshold < count <= band_cap`` go through a
   **salted triangle join**: rows get a deterministic salt in [0, g); the
   pair space is covered by joining salt-block pairs (i <= j), replicating
   each row g times on the build side only — bounded fan-out, no single
   reducer sees the whole hot key;
4. cold keys take the same join with one salt bucket -- exactly the plain
   equi-join.  Their fan-out is bounded by ``hot_band_threshold``; no
   skew handling is left to AQE, which the pipeline may pin off
   (``PipelineConfig.adaptive_enabled``).

Pairs are deduped on (id1 < id2) and across bands with dropDuplicates —
at most one row per candidate pair leaves this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig


def candidate_pairs(
    bands: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "clip_id",
    right_bands: DataFrame | None = None,
    carry_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """bands(id, band_id, band_hash) -> (pairs(id1, id2), band_metrics).

    band_metrics rows: (band_id, band_hash, n_rows, disposition) with
    disposition in {cold, salted, dropped} — the no-silent-caps ledger.

    ``right_bands`` (optional) makes the join asymmetric: probe keys come
    from ``bands``, build keys from ``right_bands`` (e.g. SimHash two-level
    pigeonhole, where the right side carries 1-bit-flip expansions).  Both
    sides must share the id space; each unordered pair still meets at least
    once and dropDuplicates collapses double hits.  Counts/dispositions are
    taken on the right (expanded) side — that's the fan-out driver.

    ``carry_cols`` (optional) are extra per-row columns carried through the
    join and emitted as ``{col}_1`` / ``{col}_2`` — saves the caller two
    corpus-wide joins to re-attach verification payloads (e.g. the sketch)."""
    key = ["band_id", "band_hash"]
    carry_cols = carry_cols or []

    # bands is consumed by the counts aggregate and (twice) by the salted
    # self-join; the persist keeps the upstream signature decode from
    # re-running per consumer.  persist (NOT localCheckpoint: that writes
    # partitions to executor disk, and on shared-disk hardware the write
    # serializes across cores — measured 3.5x pipeline slowdown at
    # local[32]).  No unpersist leak: the ContextCleaner unpersists the
    # blocks when the plan is GC'd on the driver.
    #
    # ``_bkey`` dictionary-encodes the composite (band_id, band_hash) to a
    # single long at the source, so everything downstream — the broadcast
    # hot-key tag, the salted join, its shuffle — moves 8 key bytes per
    # row instead of 12 and hashes ONE column.  A 64-bit fuse collision
    # merely merges two band buckets (extra candidates, killed by the
    # exact verify) — the same failure class, at the same ~2^-64 rate, as
    # the band_hash already being an xxhash64 of the signature slice.
    bands = bands.withColumn("_bkey", F.xxhash64(*key)).persist()
    rbands = bands if right_bands is None else (
        right_bands.withColumn("_bkey", F.xxhash64(*key)).persist()
    )
    counts = rbands.groupBy(*key).agg(F.count(F.lit(1)).alias("n_rows"))
    counts = counts.withColumn(
        "disposition",
        F.when(F.col("n_rows") > cfg.band_cap, F.lit("dropped"))
        .when(F.col("n_rows") > cfg.hot_band_threshold, F.lit("salted"))
        .otherwise(F.lit("cold")),
    ).persist()
    # persisted because BOTH the caller's band audit (a collect) and the
    # two broadcast hot-key builds below read it — without the cache the
    # full band aggregation (25 x n_docs rows) re-runs per consumer

    # the non-cold key set is tiny (one row per distinct hot/dropped key)
    hot_keys = (
        counts.filter(F.col("disposition") != "cold")
        .withColumn("_bkey", F.xxhash64(*key))
        .select("_bkey", "disposition")
    )

    def _tag(side: DataFrame) -> DataFrame:
        t = side.join(F.broadcast(hot_keys), "_bkey", "left")
        return t.withColumn(
            "disposition", F.coalesce("disposition", F.lit("cold"))
        ).filter(F.col("disposition") != "dropped")

    tagged = _tag(bands)
    tagged_r = tagged if right_bands is None else _tag(rbands)

    # --- one uniform salted triangle join --------------------------------
    # Cold keys take salt-bucket count 1 (salt 0 on both sides — exactly
    # the plain equi-join); hot keys take g buckets.  Left rows keep their
    # deterministic salt; right rows replicate to every block of their
    # key's bucket count.  Every unordered pair {x, y} with id_x < id_y
    # meets in exactly one block (l=x at salt_x, r=y's replica at salt_x),
    # so the pair space is covered while no reducer sees more than ~1/g of
    # a hot key's left rows — the quadratic blowup is split across g*g
    # tasks.  A single join (vs separate cold/hot branches + union) halves
    # the passes over the band table.
    g = cfg.salt_buckets
    gk = F.when(F.col("disposition") == "salted", F.lit(g)).otherwise(F.lit(1))
    # the salt is folded INTO the fused key (xxhash64 of key + salt
    # block), so the shuffled probe row is exactly (id, one long) — the
    # skinniest row the join can carry — and the join condition is a
    # single-column equi-join the planner hashes once per row
    left = tagged.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(id_col)), gk).cast("int")
    ).select(
        id_col, F.xxhash64("_bkey", "salt").alias("_jkey"), *carry_cols
    )
    right = tagged_r.withColumn(
        "salt_j", F.explode(F.sequence(F.lit(0), gk - 1))
    ).select(
        id_col, F.xxhash64("_bkey", "salt_j").alias("_jkey"), *carry_cols
    )
    l = left.alias("l")
    r = right.alias("r")
    join_cond = (
        (F.col("l._jkey") == F.col("r._jkey"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    )
    if right_bands is not None:
        # asymmetric: a pair can match in both directions (x's exact key in
        # y's expansion AND vice versa); cover both so id1 < id2 still
        # enumerates every pair, then dedupe.
        join_cond = (
            (F.col("l._jkey") == F.col("r._jkey"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        )
    out_cols = [
        F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id1"),
        F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id2"),
    ] if right_bands is not None else [
        F.col(f"l.{id_col}").alias("id1"),
        F.col(f"r.{id_col}").alias("id2"),
    ]
    carry_out = []
    if carry_cols and right_bands is not None:
        # keep carried payloads aligned with the (id1, id2) canonical order
        swap = F.col(f"l.{id_col}") > F.col(f"r.{id_col}")
        for c in carry_cols:
            carry_out.append(
                F.when(swap, F.col(f"r.{c}")).otherwise(F.col(f"l.{c}")).alias(f"{c}_1")
            )
            carry_out.append(
                F.when(swap, F.col(f"l.{c}")).otherwise(F.col(f"r.{c}")).alias(f"{c}_2")
            )
    elif carry_cols:
        for c in carry_cols:
            carry_out.append(F.col(f"l.{c}").alias(f"{c}_1"))
            carry_out.append(F.col(f"r.{c}").alias(f"{c}_2"))
    pairs = (
        l.join(r, join_cond)
        .select(*out_cols, *carry_out)
        .dropDuplicates(["id1", "id2"])
    )
    return pairs, counts
