"""Incremental (streaming) AUDIO content dedup.

The batch operator (operators/audio_fp.py) fingerprints a whole corpus at
once; here clips arrive as files in a directory (Kafka stand-in) and each
micro-batch is deduplicated against every clip seen so far — the streaming
shape the 10^12-clip ingest actually needs:

    new batch ─► landmarks ─► kept hashes ─┐
                                           ├─ hash join ─► pair counts ─►
    marks store (all history) ─────────────┘      SNR verify ─► pairs
    clips store (payloads, at rest) ── candidates only ──────┘

State lives in the checkpoint warehouse as three append-only parquet
stores (the text path's layout, streaming/incremental.py):

* ``marks_store`` — (clip_id, h) distinct landmark hashes, hash-partitioned
  on ``pmod(h, P)`` and sorted by h within files: the history side of the
  candidate join, streamed through a broadcast-hash probe (the NEW side is
  broadcast), never shuffled.
* ``clips_store`` — (clip_id, bytes, sr_hz) sorted by clip_id: the BLOB
  stays at rest; only clips named by this batch's candidate pairs are
  fetched (count-first isin pushdown under a cap, semi-join above it — the
  same driver-safe discipline as the text path).
* ``hot_store`` — hashes that crossed ``hash_cap`` in some earlier batch,
  appended under batch-id-keyed dirs (idempotent on replay).  The hot set
  is learned ONLINE: a boilerplate hash (test tone, silence) pays its
  quadratic join cost at most once — in the batch where it crosses the
  cap, bounded by cap * batch_size rows per hash — and is anti-joined away
  from BOTH join sides in every later batch.  Batch-vs-streaming pair
  equivalence therefore holds exactly on corpora whose hashes stay under
  the cap (asserted in tests); corpora with hot hashes degrade the same
  way the batch cap does, never silently (the hot rows are durable
  metrics).

Per-batch cost is O(batch + candidates), independent of history size —
the same flat-cost contract as the text incremental path, asserted in
tests/test_streaming_audio.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audio import pairwise_snr_udf
from ..operators.audio_fp import audio_landmarks_udf
from .ledger import _ISIN_PUSHDOWN_CAP, append_batch_metrics, store_exists

#: hash partitions for the marks store (file layout only, not results)
_MARK_PARTITIONS = 16


class IncrementalAudioDedup:
    """foreachBatch sink: maintains marks/clips/hot stores and emits
    SNR-verified audio near-dup pairs per micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        min_matches: int = 1,
        hash_cap: int = 64,
        snr_threshold_db: float = 20.0,
        **landmark_kwargs,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.min_matches = min_matches
        self.hash_cap = hash_cap
        self.snr_threshold_db = snr_threshold_db
        self.landmark_kwargs = landmark_kwargs
        os.makedirs(state_dir, exist_ok=True)
        self.marks_path = os.path.join(state_dir, "marks_store")
        self.clips_path = os.path.join(state_dir, "clips_store")
        self.hot_path = os.path.join(state_dir, "hot_store")
        self.pairs_path = os.path.join(state_dir, "verified_pairs")
        self.labels_path = os.path.join(state_dir, "cluster_labels")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time


        t0 = time.time()
        lm_new = (
            batch_df.select(
                "clip_id",
                F.explode(
                    audio_landmarks_udf(**self.landmark_kwargs)(
                        F.col("bytes"), F.col("sr_hz")
                    )
                ).alias("h"),
            )
            .distinct()
            .cache()
        )

        # exclude hashes already known hot (learned in earlier batches)
        if store_exists(self.hot_path):
            known_hot = self.spark.read.parquet(self.hot_path).select("h")
            kept_new = lm_new.join(F.broadcast(known_hot), "h", "left_anti")
        else:
            known_hot = None
            kept_new = lm_new
        # per-batch cap: hashes this batch alone pushes over the cap are
        # dropped now and recorded hot (metered, never silent)
        new_counts = kept_new.groupBy("h").agg(
            F.count(F.lit(1)).alias("n_new")
        )
        batch_hot = new_counts.filter(F.col("n_new") > self.hash_cap)
        kept_new = kept_new.join(
            F.broadcast(batch_hot.select("h")), "h", "left_anti"
        ).cache()

        # candidates: new-vs-new plus new-vs-history; the NEW side is
        # broadcast in both joins, history streams through the probe
        a, b = kept_new.alias("a"), kept_new.alias("b")
        nn = a.join(
            F.broadcast(b),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        ).select(
            F.col("a.clip_id").alias("id1"),
            F.col("b.clip_id").alias("id2"),
            F.col("a.h").alias("h"),
        )
        newly_hot_hist = None
        if store_exists(self.marks_path):
            hist = self.spark.read.parquet(self.marks_path).select(
                "clip_id", "h"
            )
            if known_hot is not None:
                hist = hist.join(F.broadcast(known_hot), "h", "left_anti")
            matched = hist.alias("h2").join(
                F.broadcast(kept_new.alias("n")),
                F.col("n.h") == F.col("h2.h"),
            )
            nh = matched.select(
                F.least(
                    F.col("n.clip_id"), F.col("h2.clip_id")
                ).alias("id1"),
                F.greatest(
                    F.col("n.clip_id"), F.col("h2.clip_id")
                ).alias("id2"),
                F.col("n.h").alias("h"),
            ).filter(F.col("id1") != F.col("id2"))
            # a hash whose history fanout crossed the cap this batch has
            # now paid its one-time join cost; record it hot so every
            # later batch excludes it before joining
            newly_hot_hist = (
                matched.groupBy(F.col("n.h").alias("h"))
                .agg(F.count(F.lit(1)).alias("n_hist"))
                .filter(F.col("n_hist") > self.hash_cap)
            )
            edges = nn.unionByName(nh)
        else:
            edges = nn
        pairs = (
            edges.groupBy("id1", "id2")
            .agg(F.countDistinct("h").alias("n_matches"))
            .filter(F.col("n_matches") >= self.min_matches)
            .cache()
        )

        # payloads for exactly the clips the candidates touch: batch clips
        # from memory, historical clips via count-first isin/semi fetch
        cand_ids_df = (
            pairs.select(F.explode(F.array("id1", "id2")).alias("clip_id"))
            .distinct()
            .cache()
        )
        n_cand_ids = cand_ids_df.count()
        payloads = batch_df.select("clip_id", "bytes")
        if store_exists(self.clips_path) and n_cand_ids:
            hist_clips = self.spark.read.parquet(self.clips_path).select(
                "clip_id", "bytes"
            )
            if n_cand_ids <= _ISIN_PUSHDOWN_CAP:
                ids = [r[0] for r in cand_ids_df.collect()]
                hist_clips = hist_clips.filter(F.col("clip_id").isin(*ids))
            else:
                hist_clips = hist_clips.join(
                    cand_ids_df, "clip_id", "left_semi"
                )
            payloads = payloads.unionByName(hist_clips)
        payloads = payloads.dropDuplicates(["clip_id"])

        verified = (
            pairs.join(
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
            .withColumn("snr_db", pairwise_snr_udf(F.col("_b1"), F.col("_b2")))
            .filter(F.col("snr_db") >= self.snr_threshold_db)
            .select(
                "id1",
                "id2",
                "n_matches",
                "snr_db",
                F.lit(int(batch_id)).alias("batch_id"),
            )
        )
        # idempotence: one output dir per batch id, overwritten on replay
        verified.write.mode("overwrite").parquet(
            os.path.join(self.pairs_path, f"batch_id={int(batch_id)}")
        )
        # incremental cluster labels (streaming/labels.py): affected-only
        # deltas, latest batch wins at read time
        from .labels import update_labels

        labels_update, n_pairs = update_labels(
            self.spark, self.pairs_path, self.labels_path, batch_id
        )

        # persist state (all batch-keyed or append-only-by-construction)
        hot_rows = batch_hot.select(
            "h", F.col("n_new").alias("n_at_detection")
        )
        if newly_hot_hist is not None:
            hot_rows = hot_rows.unionByName(
                newly_hot_hist.select(
                    "h", F.col("n_hist").alias("n_at_detection")
                )
            )
        hot_rows.write.mode("overwrite").parquet(
            os.path.join(self.hot_path, f"batch_id={int(batch_id)}")
        )
        (
            kept_new.withColumn(
                "mh_part", F.pmod(F.col("h"), F.lit(_MARK_PARTITIONS))
            )
            .sortWithinPartitions("h")
            .write.mode("append")
            .partitionBy("mh_part")
            .parquet(self.marks_path)
        )
        batch_df.select("clip_id", "bytes", "sr_hz").sortWithinPartitions(
            "clip_id"
        ).write.mode("append").parquet(self.clips_path)
        # per-batch metrics row (batch-id-keyed file: replay overwrites)
        append_batch_metrics(
            self.state_dir, "audio", batch_id,
            rows_in=batch_df.select("clip_id").count(),
            n_candidates=pairs.count(),
            n_pairs=n_pairs,
            started_at=t0,
            labels_update=labels_update,
        )
        lm_new.unpersist()
        kept_new.unpersist()
        pairs.unpersist()
        cand_ids_df.unpersist()

    def verified_pairs(self) -> DataFrame:
        """All pairs emitted so far (union of the batch-keyed output dirs)."""
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            self.pairs_path
        )

    def cluster_labels(self) -> DataFrame:
        """Current (clip_id, cluster_id) view (streaming/labels.py)."""
        from .labels import current_labels

        return current_labels(self.spark, self.labels_path)

    def hot_hashes(self) -> DataFrame:
        """The learned hot set with detection-time fanout (durable metrics)."""
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
