"""LSH candidate generation: one key function per tier, two join shapes.

Every text candidate tier reduces a document to keys
``(id, band_id, band_hash)`` -- MinHash bands (``minhash.explode_bands``),
SimHash pigeonhole blocks (``simhash.block_keys``) and winnowing
fingerprints (``suffix.fingerprint_keys``) -- and two documents are
candidates iff they share a key.  The keys are joined in one of two shapes:

* ``candidate_pairs`` -- data at rest (the batch pipeline, driver queries):
  a salted, capped self-join of the whole key table.
* ``probe_pairs`` -- a micro-batch against history (the streaming sink):
  the new batch's keys are broadcast and history streams through a
  broadcast-hash join, so the per-batch cost is O(batch + candidates) and
  history is never shuffled.

Both emit canonical ``id1 < id2`` pairs.

The scale problem of the at-rest shape (SURVEY.md §7 hard-part #2): a band
key shared by m rows yields m(m-1)/2 candidate pairs -- degenerate bands
(boilerplate / silence transcripts) explode quadratically.  Strategy:

1. count rows per (band_id, band_hash) key -- one cheap aggregation;
2. keys with count > ``cap`` (default ``band_cap``) are *dropped with
   metrics* (never silently: the caller writes the dispositions to the
   ledger) -- at web scale such bands are boilerplate, and the other tiers
   still cover their members;
3. keys with ``hot_band_threshold < count <= cap`` go through a
   **salted triangle join**: rows get a deterministic salt in [0, g); the
   pair space is covered by joining salt-block pairs (i <= j), replicating
   each row g times on the build side only -- bounded fan-out, no single
   reducer sees the whole hot key;
4. cold keys take the same join with one salt bucket -- exactly the plain
   equi-join.  Their fan-out is bounded by ``hot_band_threshold``; no
   skew handling is left to AQE, which the pipeline may pin off
   (``PipelineConfig.adaptive_enabled``).

``candidate_pairs`` dedupes pairs across keys -- at most one row per
candidate pair leaves it.  ``probe_pairs`` does not (a pair sharing k keys
appears up to 2k times): the sink dedupes the union of its tiers once.
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
    cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """bands(id, band_id, band_hash) -> (pairs(id1, id2), dispositions).

    dispositions rows: (band_id, band_hash, n_rows, disposition) with
    disposition in {cold, salted, dropped} — the no-silent-caps ledger.
    ``cap`` is the per-key row cap; it defaults to ``cfg.band_cap`` (the
    fingerprint tier passes ``fingerprint_cap``).

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
    cap = cfg.band_cap if cap is None else cap

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
        F.when(F.col("n_rows") > cap, F.lit("dropped"))
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
    l, r = left.alias("l"), right.alias("r")
    # symmetric: each unordered pair meets once per shared key with the
    # smaller id on the left.  Asymmetric: a pair can match in both
    # directions (x's exact key in y's expansion AND vice versa); cover
    # both, and let the canonical select order the ids.
    lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    pairs = l.join(
        r,
        (F.col("l._jkey") == F.col("r._jkey"))
        & ((lid < rid) if right_bands is None else (lid != rid)),
    ).select(*_canonical("l", "r", id_col, carry_cols))
    return pairs.dropDuplicates(["id1", "id2"]), counts


def probe_pairs(
    new_keys: DataFrame,
    history_keys: DataFrame | None,
    build_keys: DataFrame | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Keys ``(clip_id, band_id, band_hash)`` of a micro-batch (and of
    history) -> canonical candidate pairs (id1 < id2 [, {col}_1, {col}_2])
    with at least one new member.

    The broadcast side is the new batch: ``build_keys`` when given (e.g.
    the SimHash two-level plan's 1-bit-flip expansion of the new keys),
    else ``new_keys``.  The streamed side is ``new_keys`` plus
    ``history_keys``, so history is never shuffled and history-vs-history
    pairs are never formed.  Each new-vs-new pair meets in both orders,
    so the asymmetric build side covers it like ``candidate_pairs``'
    ``right_bands``.  Uncapped: a cap over an arrival prefix is the
    caller's policy.  Pairs repeat once per shared key; callers dedupe."""
    carry_cols = carry_cols or []
    cols = ["clip_id", "band_id", "band_hash", *carry_cols]
    probe = new_keys.select(*cols)
    if history_keys is not None:
        probe = probe.unionByName(history_keys.select(*cols))
    build = (new_keys if build_keys is None else build_keys).select(*cols)
    p, b = probe.alias("p"), F.broadcast(build).alias("b")
    return p.join(
        b,
        (F.col("p.band_id") == F.col("b.band_id"))
        & (F.col("p.band_hash") == F.col("b.band_hash"))
        & (F.col("p.clip_id") != F.col("b.clip_id")),
    ).select(*_canonical("p", "b", "clip_id", carry_cols))


def _canonical(a: str, b: str, id_col: str, carry_cols: list[str]) -> list:
    """Select list ordering a joined row's two ids as (id1 < id2), with
    each carried column following its id as ``{col}_1`` / ``{col}_2``."""
    swap = F.col(f"{a}.{id_col}") > F.col(f"{b}.{id_col}")

    def ordered(c: str) -> tuple:
        # (c of the smaller-id side, c of the larger-id side)
        x, y = F.col(f"{a}.{c}"), F.col(f"{b}.{c}")
        return F.when(swap, y).otherwise(x), F.when(swap, x).otherwise(y)

    id1, id2 = ordered(id_col)
    out = [id1.alias("id1"), id2.alias("id2")]
    for c in carry_cols:
        c1, c2 = ordered(c)
        out += [c1.alias(f"{c}_1"), c2.alias(f"{c}_2")]
    return out
