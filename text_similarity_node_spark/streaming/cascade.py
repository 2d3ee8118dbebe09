"""Incremental (streaming) TIERED audio dedup cascade.

The batch cascade (operators/audio_cascade.py) attributes every duplicate
to the first tier that catches it — exact, landmark+SNR, semitone-DTW,
pitch — over a whole corpus at once.  Here clips arrive as micro-batches
and each clip is attributed against ALL history plus the earlier clips of
its own batch, without ever re-walking history: the daily-ingest shape of
a 10^12-clip catalog.

Per-tier state lives in the checkpoint warehouse as append-only parquet
stores with ONE-SHOT-FAITHFUL visibility: the batch cascade is
tier-major (every clip passes tier t before any clip reaches t+1), so a
clip removed at tier t' was present in the residual of every tier
t <= t' — including as a keeper that other clips CHAIN to.  Each store
therefore holds the clips visible to ITS tier (not removed at any
earlier tier), not merely end-of-batch survivors:

* ``md5_store``    — (clip_id, h): ONE row per distinct content hash,
  carrying the per-hash MIN arrival id.  Equivalent to full tier-1
  visibility because tier-1 attribution is always to the hash-group
  min and tier-1-removed clips never reach later tiers' residuals;
  keeps the broadcast history probe batch-bounded even on
  exact-dup-heavy streams.
* ``marks_store``  — (clip_id, h) landmark hashes of clips that
  survived tier 1 (tier 2's residual).
* ``clips_store``  — (clip_id, bytes, sr_hz) payloads of tier-2-visible
  clips; only clips named by tier-2 candidate pairs are fetched
  (count-first isin pushdown under a cap, semi-join above it).
* ``words_store``  — (clip_id, w) semitone spike-mask words of clips
  surviving tiers 1-2 (tier 3's residual).
* ``feats_store``  — (clip_id, feats, n_frames): tier-3 DTW features
  for the same visibility (skinny doubles; joined by candidate id,
  never bulk-read).
* ``prof_store``   — (clip_id, inv_key, profile): tier-4 pitch keys and
  semitone profiles of clips surviving tiers 1-3.
* ``hot_store``    — (tier_name, h, n_at_detection) batch-keyed: join
  keys that crossed their cap, learned online and excluded from both
  sides of every later batch — the no-silent-caps policy.
* ``attrib``       — batch-id-keyed output dirs of
  (clip_id, kept_id, tier, tier_name): replay overwrites, idempotent.

ARRIVAL-ORDER CONTRACT: attribution uses the batch cascade's min-id
keeper rule, and one-shot removal decisions depend only on SMALLER ids
(a clip is removed iff matched to a smaller remaining id; by induction
on id, remaining-status of smaller clips never depends on larger ones).
With the per-tier visibility rule above, the id-ordered stream
therefore reproduces the one-shot cascade on ANY corpus — including
cross-tier keeper chains (a tier-3 keeper later removed at tier 4),
which the earlier survivors-only stores silently diverged on (found by
the 3000-clip soak, tests/test_streaming_cascade_soak.py; the
star-corpus equality test never exercised a chain).  Equality is
contractual when no hot-key cap fires: batch caps count keys over the
whole corpus, the stream over each arrival prefix.

REPLAY: attribution/hot outputs are batch-id-keyed and overwritten; the
feature stores are append-mode, so a crash-replayed batch doubles their
rows — every consumer is duplicate-tolerant by construction (md5 history
deduped, candidate pairs pass through distinct(), removal sets through a
groupBy), asserted by the replay test.  A candidate pair whose HISTORY side
has the LARGER id would require retroactively removing an
already-attributed keeper; such pairs are dropped WITH a metric column
in the batch ledger, never silently.

Per-batch cost is O(batch + candidates), independent of history size:
every history store is probed through an equi-join keyed by the new
side's features, payload/feature fetches touch candidate ids only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ledger import _ISIN_PUSHDOWN_CAP, append_batch_metrics, store_exists


class IncrementalAudioCascade:
    """foreachBatch sink: per-clip tier attribution against all history."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        snr_threshold_db: float = 25.0,
        min_matches: int = 2,
        max_dtw: float = 0.15,
        pitch_threshold: float = 0.9,
        hash_cap: int = 64,
        word_cap: int = 64,
        key_cap: int = 4096,
        landmark_kwargs: dict | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.snr_threshold_db = snr_threshold_db
        # landmark-tier candidate rule: a pair must share >= min_matches
        # DISTINCT landmark hashes before the SNR verify — the same
        # default as the batch cascade's landmark_snr_pairs
        # (operators/audio_cascade.py), so streaming == batch holds for
        # pairs sharing exactly one hash that would clear the verify
        self.min_matches = min_matches
        self.max_dtw = max_dtw
        self.pitch_threshold = pitch_threshold
        self.hash_cap = hash_cap
        self.word_cap = word_cap
        self.key_cap = key_cap
        self.landmark_kwargs = landmark_kwargs or dict(
            frame_len=4096, hop=2048, peaks_per_frame=3, fanout=2,
            freq_quant_hz=1.0,
        )
        os.makedirs(state_dir, exist_ok=True)
        p = lambda n: os.path.join(state_dir, n)  # noqa: E731
        self.md5_path = p("md5_store")
        self.marks_path = p("marks_store")
        self.clips_path = p("clips_store")
        self.words_path = p("words_store")
        self.feats_path = p("feats_store")
        self.prof_path = p("prof_store")
        self.hot_path = p("hot_store")
        self.attrib_path = p("attrib")
        #: every DataFrame .cache()'d during the current micro-batch;
        #: unpersisted wholesale at the end of process_batch so a
        #: long-running stream never accumulates stale RDD blocks
        self._batch_cached: list[DataFrame] = []

    # -- helpers ----------------------------------------------------------

    def _read(self, path: str) -> DataFrame | None:
        if not store_exists(path):
            return None
        return self.spark.read.parquet(path)

    def _known_hot(self, tier: str) -> DataFrame | None:
        hot = self._read(self.hot_path)
        if hot is None:
            return None
        return hot.filter(F.col("tier_name") == tier).select("h")

    def _capped_join_sides(self, new_kv, tier, cap, hot_rows):
        """Apply known-hot exclusion and the per-batch cap to a NEW-side
        (clip_id, h) table; record newly hot keys.  Returns kept new
        side (cached)."""
        known = self._known_hot(tier)
        if known is not None:
            new_kv = new_kv.join(F.broadcast(known), "h", "left_anti")
        counts = new_kv.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
        batch_hot = counts.filter(F.col("n") > cap)
        hot_rows.append(
            batch_hot.select(
                F.lit(tier).alias("tier_name"),
                "h",
                F.col("n").alias("n_at_detection"),
            )
        )
        kept = new_kv.join(
            F.broadcast(batch_hot.select("h")), "h", "left_anti"
        ).cache()
        self._batch_cached.append(kept)
        return kept

    def _pair_candidates(self, kept_new, hist_kv, tier, dropped_acc,
                         with_key: bool = False):
        """(clip_id, h) new side vs itself (id1 < id2) and vs the history
        store; history-larger pairs are counted into ``dropped_acc`` and
        dropped (arrival-order contract).  With ``with_key`` each row
        also carries the shared hash ``h`` so callers can count DISTINCT
        shared keys per pair (the landmark tier's min_matches rule;
        distinct because replayed appends can double store rows)."""
        keep_cols = ["id1", "id2"] + (["h"] if with_key else [])
        a, b = kept_new.alias("a"), kept_new.alias("b")
        nn = a.join(
            F.broadcast(b),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        ).select(
            F.col("a.clip_id").alias("id1"),
            F.col("b.clip_id").alias("id2"),
            F.col("a.h").alias("h"),
        ).select(*keep_cols)
        if hist_kv is None:
            return nn
        known = self._known_hot(tier)
        if known is not None:
            hist_kv = hist_kv.join(F.broadcast(known), "h", "left_anti")
        hh = hist_kv.alias("h2").join(
            F.broadcast(kept_new.alias("n")), F.col("n.h") == F.col("h2.h")
        ).select(
            F.col("h2.clip_id").alias("id1"),
            F.col("n.clip_id").alias("id2"),
            F.col("h2.h").alias("h"),
        )
        ok = hh.filter(F.col("id1") < F.col("id2")).select(*keep_cols)
        n_dropped = hh.filter(F.col("id1") >= F.col("id2")).count()
        dropped_acc.append(n_dropped)
        return nn.unionByName(ok)

    @staticmethod
    def _removed(pairs, tier_idx, tier_name):
        return (
            pairs.groupBy(F.col("id2").alias("clip_id"))
            .agg(F.min("id1").alias("kept_id"))
            .withColumn("tier", F.lit(tier_idx).cast("int"))
            .withColumn("tier_name", F.lit(tier_name))
            .localCheckpoint()
        )

    def _fetch_payloads(self, batch_df, cand_pairs):
        """Payloads for exactly the clips the candidate pairs touch."""
        cand_ids = (
            cand_pairs.select(F.explode(F.array("id1", "id2")).alias("clip_id"))
            .distinct()
            .cache()
        )
        self._batch_cached.append(cand_ids)
        n = cand_ids.count()
        payloads = batch_df.select("clip_id", "bytes")
        hist = self._read(self.clips_path)
        if hist is not None and n:
            hist = hist.select("clip_id", "bytes")
            if n <= _ISIN_PUSHDOWN_CAP:
                ids = [r[0] for r in cand_ids.collect()]
                hist = hist.filter(F.col("clip_id").isin(*ids))
            else:
                hist = hist.join(cand_ids, "clip_id", "left_semi")
            payloads = payloads.unionByName(hist)
        return payloads.dropDuplicates(["clip_id"])

    # -- the batch --------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        from ..operators.audio import pairwise_snr_bestgain_udf
        from ..operators.audio_cascade import semitone_words_feats_udf
        from ..operators.audio_dtw import dtw_verify_udf
        from ..operators.audio_fp import audio_landmarks_udf
        from ..operators.audio_pitch import (
            best_shift_cosine,
            semitone_profile_udf,
            shift_invariant_key,
        )

        t0 = time.time()
        batch_df = batch_df.select("clip_id", "bytes", "sr_hz").dropDuplicates(
            ["clip_id"]
        ).cache()
        self._batch_cached = [batch_df]
        hot_rows: list[DataFrame] = []
        dropped_hist: list[int] = []
        removed_parts: list[DataFrame] = []

        def residual(df):
            out = df
            for part in removed_parts:
                out = out.join(
                    part.select(F.col("clip_id")), "clip_id", "left_anti"
                )
            return out

        # ---- tier 1: exact ------------------------------------------------
        md5_new = batch_df.select(
            "clip_id", F.md5(F.col("bytes")).alias("h")
        ).cache()
        self._batch_cached.append(md5_new)
        hist_md5 = self._read(self.md5_path)
        w = Window.partitionBy("h")
        in_batch = md5_new.withColumn("bmin", F.min("clip_id").over(w))
        hist_hit = None
        if hist_md5 is not None:
            # flat-per-batch-cost contract: the history store STREAMS
            # through an inner probe against the BROADCAST batch (a
            # plain left join here would shuffle the whole history md5
            # store every micro-batch); the hit set is batch-sized, so
            # the subsequent left join is batch-vs-batch.  The store
            # holds the per-hash MIN id only (see the write site), so
            # the hit set is <= one row per batch hash even on
            # exact-dup-heavy streams; dropDuplicates guards against
            # store rows doubled by a crash-replayed append.
            hist_hit = (
                hist_md5.select("h", F.col("clip_id").alias("hid"))
                .join(F.broadcast(md5_new.select("h").distinct()), "h")
                .dropDuplicates(["h", "hid"])
                .localCheckpoint()
            )
            joined = in_batch.join(F.broadcast(hist_hit), "h", "left")
        else:
            # null of the ID'S OWN type: clip ids may be strings (the
            # bench corpus) or longs (the synth corpora) and the keeper
            # least()/min() arithmetic must stay type-consistent
            joined = in_batch.withColumn(
                "hid",
                F.lit(None).cast(batch_df.schema["clip_id"].dataType),
            )
        exact_removed = (
            joined.withColumn(
                "kept",
                F.when(
                    F.col("hid").isNotNull()
                    & (F.col("hid") < F.col("clip_id")),
                    F.least(F.col("hid"), F.col("bmin")),
                ).when(F.col("bmin") < F.col("clip_id"), F.col("bmin")),
            )
            .filter(F.col("kept").isNotNull())
            .groupBy("clip_id")
            .agg(F.min("kept").alias("kept_id"))
            .select(
                "clip_id",
                "kept_id",
                F.lit(1).cast("int").alias("tier"),
                F.lit("exact").alias("tier_name"),
            )
            .localCheckpoint()
        )
        n_hist_larger_exact = 0
        if hist_md5 is not None:
            # history-larger exact matches violate the arrival contract
            n_hist_larger_exact = (
                joined.filter(
                    F.col("hid").isNotNull()
                    & (F.col("hid") > F.col("clip_id"))
                    & (F.col("bmin") == F.col("clip_id"))
                ).count()
            )
        dropped_hist.append(n_hist_larger_exact)
        removed_parts.append(exact_removed)

        # ---- tier 2: landmark candidates + best-gain SNR ------------------
        rem2 = residual(batch_df).cache()
        self._batch_cached.append(rem2)
        lm_new = (
            rem2.select(
                "clip_id",
                F.explode(
                    audio_landmarks_udf(**self.landmark_kwargs)(
                        F.col("bytes"), F.col("sr_hz")
                    )
                ).alias("h"),
            )
            .distinct()
        )
        lm_kept = self._capped_join_sides(
            lm_new, "landmark", self.hash_cap, hot_rows
        )
        # min_matches parity with the batch cascade: count DISTINCT
        # shared hashes per pair (distinct absorbs replay-doubled store
        # rows) and keep only pairs clearing the same >= 2 bar
        # landmark_snr_pairs applies before ITS verify
        cand2 = (
            self._pair_candidates(
                lm_kept, self._read(self.marks_path), "landmark",
                dropped_hist, with_key=True,
            )
            .groupBy("id1", "id2")
            .agg(F.count_distinct("h").alias("n_matches"))
            .filter(F.col("n_matches") >= self.min_matches)
            .select("id1", "id2")
            .cache()
        )
        self._batch_cached.append(cand2)
        payloads = self._fetch_payloads(rem2, cand2)
        verified2 = (
            cand2.join(
                payloads.select(
                    F.col("clip_id").alias("id1"), F.col("bytes").alias("_b1")
                ),
                "id1",
            )
            .join(
                payloads.select(
                    F.col("clip_id").alias("id2"), F.col("bytes").alias("_b2")
                ),
                "id2",
            )
            .withColumn(
                "snr_db", pairwise_snr_bestgain_udf(F.col("_b1"), F.col("_b2"))
            )
            .filter(F.col("snr_db") >= self.snr_threshold_db)
            .select("id1", "id2")
        )
        removed_parts.append(self._removed(verified2, 2, "landmark"))

        # ---- tier 3: semitone words + DTW ---------------------------------
        rem3 = residual(batch_df).cache()
        self._batch_cached.append(rem3)
        ingest3 = semitone_words_feats_udf()
        f3_new = (
            rem3.select(
                "clip_id",
                ingest3(F.col("bytes"), F.col("sr_hz")).alias("s"),
            )
            .select("clip_id", "s.words", "s.feats", "s.n_frames")
            .cache()
        )
        self._batch_cached.append(f3_new)
        w3_new = f3_new.select(
            "clip_id", F.explode("words").alias("h")
        ).distinct()
        w3_kept = self._capped_join_sides(w3_new, "dtw", self.word_cap, hot_rows)
        hist_words = self._read(self.words_path)
        cand3 = self._pair_candidates(
            w3_kept,
            hist_words.select("clip_id", F.col("w").alias("h"))
            if hist_words is not None
            else None,
            "dtw",
            dropped_hist,
        ).distinct().cache()
        self._batch_cached.append(cand3)
        feats_all = f3_new.select("clip_id", "feats", "n_frames")
        hist_feats = self._read(self.feats_path)
        if hist_feats is not None:
            # candidate ids are batch-bounded: broadcast them so the
            # feats store streams through the semi-probe unshuffled
            feats_all = feats_all.unionByName(
                hist_feats.join(
                    F.broadcast(
                        cand3.select(F.col("id1").alias("clip_id")).distinct()
                    ),
                    "clip_id",
                    "left_semi",
                )
            )
        verify3 = dtw_verify_udf(n_bands=56, radius=3)
        verified3 = (
            cand3.join(
                feats_all.select(
                    F.col("clip_id").alias("id1"),
                    F.col("feats").alias("f1"),
                    F.col("n_frames").alias("nf1"),
                ),
                "id1",
            )
            .join(
                feats_all.select(
                    F.col("clip_id").alias("id2"),
                    F.col("feats").alias("f2"),
                    F.col("n_frames").alias("nf2"),
                ),
                "id2",
            )
            .withColumn("d", verify3("f1", "nf1", "f2", "nf2"))
            .filter(F.col("d") <= self.max_dtw)
            .select("id1", "id2")
        )
        removed_parts.append(self._removed(verified3, 3, "dtw"))

        # ---- tier 4: pitch key + best-lag NCC -----------------------------
        rem4 = residual(batch_df).cache()
        self._batch_cached.append(rem4)
        prof_new = (
            rem4.select(
                "clip_id",
                semitone_profile_udf()(F.col("bytes"), F.col("sr_hz")).alias(
                    "profile"
                ),
            )
            .withColumn("inv_key", shift_invariant_key(F.col("profile")))
            .cache()
        )
        self._batch_cached.append(prof_new)
        k4_new = prof_new.select("clip_id", F.col("inv_key").alias("h"))
        k4_kept = self._capped_join_sides(k4_new, "pitch", self.key_cap, hot_rows)
        hist_prof = self._read(self.prof_path)
        cand4 = self._pair_candidates(
            k4_kept,
            hist_prof.select("clip_id", F.col("inv_key").alias("h"))
            if hist_prof is not None
            else None,
            "pitch",
            dropped_hist,
        ).distinct().cache()
        self._batch_cached.append(cand4)
        prof_all = prof_new.select("clip_id", "profile")
        if hist_prof is not None:
            prof_all = prof_all.unionByName(
                hist_prof.select("clip_id", "profile").join(
                    F.broadcast(
                        cand4.select(F.col("id1").alias("clip_id")).distinct()
                    ),
                    "clip_id",
                    "left_semi",
                )
            )
        best = best_shift_cosine(F.col("p1"), F.col("p2"), 60, 4)
        verified4 = (
            cand4.join(
                prof_all.select(
                    F.col("clip_id").alias("id1"), F.col("profile").alias("p1")
                ),
                "id1",
            )
            .join(
                prof_all.select(
                    F.col("clip_id").alias("id2"), F.col("profile").alias("p2")
                ),
                "id2",
            )
            .withColumn("best", best)
            .filter(F.col("best.cos_sim") >= self.pitch_threshold)
            .select("id1", "id2")
        )
        removed_parts.append(self._removed(verified4, 4, "pitch"))

        # ---- output + state -----------------------------------------------
        attrib = removed_parts[0]
        for part in removed_parts[1:]:
            attrib = attrib.unionByName(part)
        attrib.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.attrib_path, f"batch_id={int(batch_id)}"))
        # metric counts BEFORE the hot_store overwrite below: the
        # candidate lineages read hot_store (known-hot exclusion), and on
        # a replayed batch counting them after the overwrite would scan a
        # file listing whose files were just replaced
        n_rows_in = batch_df.count()
        n_candidates = cand2.count() + cand3.count() + cand4.count()
        n_attrib = attrib.count()

        # ONE-SHOT-FAITHFUL store visibility: the batch cascade is
        # tier-major (every clip passes tier t before any clip reaches
        # tier t+1), so a clip removed at tier t' WAS in the residual of
        # every tier t <= t' — including as a keeper other clips chain
        # to.  A clip must therefore stay visible in tier t's candidate
        # store iff it was not removed at a tier BEFORE t, which is
        # exactly the per-tier residual frame each ingest was computed
        # on (md5_new: all; lm_kept: rem2; f3_new: rem3; prof_new:
        # rem4).  Filtering every store to end-of-batch SURVIVORS (the
        # old rule) silently broke batch==stream equality on corpora
        # with cross-tier keeper chains — found by the 3000-clip soak
        # (tests/test_streaming_cascade_soak.py); one-shot removal
        # decisions depend only on smaller ids, so with this rule the
        # id-ordered stream reproduces the one-shot cascade on ANY
        # corpus, star-shaped or not.
        # md5 store: per-hash MIN id only, and only for hashes not yet in
        # history.  One-shot-faithful because tier-1 attribution is always
        # to the per-hash group min (the first arrival, which by id order
        # is tier-1-surviving), and tier-1-removed clips never reach later
        # tiers' residuals — so no other tier ever needs the dropped rows.
        # This keeps the store at one row per distinct content hash and
        # the broadcast hist_hit probe batch-bounded on exact-dup-heavy
        # streams.  (hist_hit is localCheckpoint'd above, so the anti-join
        # here does not re-list the store directory this write appends to.)
        md5_min = md5_new.groupBy("h").agg(F.min("clip_id").alias("clip_id"))
        if hist_hit is not None:
            md5_min = md5_min.join(
                F.broadcast(hist_hit.select("h").distinct()), "h", "left_anti"
            )
        md5_min.select("clip_id", "h").write.mode("append").parquet(
            self.md5_path
        )
        lm_kept.select("clip_id", "h").write.mode("append").parquet(
            self.marks_path
        )
        f3_new.select(
            "clip_id", F.explode("words").alias("w")
        ).distinct().write.mode("append").parquet(self.words_path)
        f3_new.select("clip_id", "feats", "n_frames").write.mode(
            "append"
        ).parquet(self.feats_path)
        prof_new.select("clip_id", "inv_key", "profile").write.mode(
            "append"
        ).parquet(self.prof_path)
        (
            rem2.select("clip_id", "bytes", "sr_hz")
        ).sortWithinPartitions("clip_id").write.mode("append").parquet(
            self.clips_path
        )
        hot_all = hot_rows[0]
        for h in hot_rows[1:]:
            hot_all = hot_all.unionByName(h)
        n_contract_dropped = sum(int(x) for x in dropped_hist)
        if n_contract_dropped:
            # arrival-order contract violations are durable metrics, not
            # silence: a history-side id larger than the new clip's means
            # the stream is not id-ordered and attribution diverges from
            # the one-shot cascade for those pairs
            hot_all = hot_all.unionByName(
                self.spark.createDataFrame(
                    [("arrival_contract", -1, n_contract_dropped)],
                    ["tier_name", "h", "n_at_detection"],
                )
            )
        # materialize before writing: the cap lineage READS hot_store
        # (known-hot exclusion), so writing a hot_store subdir from the
        # un-materialized plan would delete files under its own scan on
        # a crash-replayed batch
        hot_all.localCheckpoint().write.mode("overwrite").parquet(
            os.path.join(self.hot_path, f"batch_id={int(batch_id)}")
        )
        append_batch_metrics(
            self.state_dir, "cascade", batch_id,
            rows_in=n_rows_in,
            n_candidates=n_candidates,
            n_pairs=n_attrib,
            started_at=t0,
        )
        for df in self._batch_cached:
            df.unpersist()
        self._batch_cached = []

    # -- views -------------------------------------------------------------

    def attributions(self) -> DataFrame:
        """All (clip_id, kept_id, tier, tier_name, batch_id) rows so far."""
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            self.attrib_path
        )

    def hot_keys(self) -> DataFrame:
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            self.hot_path
        )

    def start(self, source_dir: str, schema: str, checkpoint_dir: str):
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
