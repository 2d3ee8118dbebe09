"""Incremental (streaming) near-duplicate detection.

The reference is batch-only (SURVEY.md §2.3: no watermarks/state anywhere in
its src/), so streaming here is *engine capability*, not parity: new clips
arrive as files in a directory (stand-in for Kafka at scale), and each
micro-batch is deduplicated against everything seen so far:

    new batch ─► one feature pass ─► bands ──┐
                 (checkpointed)   ─► simhash ┼─ history joins ─► candidates ─► verify
                                  ─► fps ────┘                   (checkpointed)  │
    band/sims/fps stores (history) ──────────┘                                   │
    docs store (gram arrays) ────────────────────────────────────────────────────┘

All three batch-pipeline candidate tiers (minhash LSH bands, simhash
pigeonhole blocks, winnowing containment fingerprints) run incrementally:
each history store streams through a broadcast-hash probe against the new
batch, so per-batch cost stays O(batch + candidates).  Cap-free, the
union of per-batch verified pairs EQUALS the one-shot pipeline's
(bench.py soak); the containment fingerprint cap counts over the arrival
prefix rather than the full corpus, and every firing is durable in
hot_fps_store — divergence from batch is observable, never silent.

State lives in the checkpoint warehouse as append-only parquet stores —
the streaming analogue of the batch pipeline's checkpoint tables, giving
exactly-once semantics through foreachBatch + idempotent batch-id dirs.

Per-batch job shape — a micro-batch's cost is mostly fixed per-job
overhead, so the sink keeps the job count small:

* **One feature pass.**  The batch is read and tokenized once; the
  MinHash, SimHash and winnowing-fingerprint pandas UDFs and the sorted
  xxhash64 gram arrays are evaluated in one projection (one Python pass)
  and materialized once with ``localCheckpoint``.  The tiers' new-side
  frames (bands, docs, sims, fps) are JVM-side projections of it.
* **Checkpointed candidates.**  The deduplicated union of every tier's
  candidates is materialized once; verification, the candidate-id fetch
  and the metrics count read it instead of re-running the history joins.
* **Schema-pinned reads.**  Every store is read with its fixed schema
  (``STORE_SCHEMAS``), so no read launches a footer-inference job.
* **One band file per partition per batch.**  The band rows are shuffled
  on ``bh_part`` before the partitioned append.

Why batch cost does NOT grow linearly with history:

* The new-vs-history band join broadcasts the NEW side (a micro-batch's
  bands are small by definition), so the history store is streamed through
  a broadcast-hash join — never shuffled.  History partitions are read in
  parallel and the per-batch shuffle volume is O(batch + candidates),
  independent of history size.
* The band store is hash-partitioned on ``pmod(band_hash, P)`` and sorted
  by ``band_hash`` within files, so the scan is sequential 16-byte rows
  with row-group min/max stats available to future range/bloom pushdowns
  (and partition-level parallelism for the broadcast probe).
* The docs store (the heavy side: per-doc sorted gram-hash arrays) is
  never scanned wholesale: only the clip_ids appearing in this batch's
  candidate pairs are fetched, via an ``isin`` predicate pushed into the
  parquet scan (files are sorted by clip_id, so row-group stats skip
  non-matching groups).  Its read cost is O(candidates), not O(history).
  Above ``_ISIN_PUSHDOWN_CAP`` ids the fetch is a left-semi join instead;
  the batch's metrics row records the id count and the path taken.
* Verification is the batch path's array-merge shape
  (operators/verify.verify_pairs_multiset_jaccard_arrays): per-pair numpy
  merge over presorted xxhash64 gram arrays.

tests/test_streaming.py asserts pair-level correctness vs the batch
pipeline AND that per-batch wall time stays flat as history grows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators import minhash
from ..operators.verify import verify_pairs_multiset_jaccard_arrays
from ..plans.pipeline import _tokens_col

# number of hash partitions for the band store; at cluster scale make this
# proportional to history volume (it only affects file layout, not results)
_BAND_PARTITIONS = 16
# above this many candidate ids, skip the isin pushdown (a huge IN list
# costs more to evaluate than it saves) and fall back to a shuffle join
_ISIN_PUSHDOWN_CAP = 100_000

# Fixed schema of each store, keyed by its directory under the state dir
# (partition columns last).  Clip ids are strings, as in the batch
# pipeline.  tests/test_streaming.py checks each against the schema Spark
# infers from the files the sink writes.
STORE_SCHEMAS = {
    "bands_store": "clip_id string, band_id int, band_hash bigint, bh_part int",
    "docs_store": "clip_id string, gram_hashes array<bigint>, n_grams int",
    "sims_store": "clip_id string, simhash bigint",
    "fps_store": "fp bigint, clip_id string",
    "hot_fps_store": "fp bigint, n_docs bigint, batch_id int",
    "verified_pairs": "id1 string, id2 string, jaccard double, batch_id int",
}


class IncrementalDedup:
    """foreachBatch sink: maintains band + gram stores and emits verified
    pairs."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig, state_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.bands_path = os.path.join(state_dir, "bands_store")
        self.docs_path = os.path.join(state_dir, "docs_store")
        self.pairs_path = os.path.join(state_dir, "verified_pairs")
        self.labels_path = os.path.join(state_dir, "cluster_labels")
        # simhash + containment tier state (only written when the
        # corresponding cfg flag is on)
        self.sims_path = os.path.join(state_dir, "sims_store")
        self.fps_path = os.path.join(state_dir, "fps_store")
        self.hot_fps_path = os.path.join(state_dir, "hot_fps_store")

    def _store_exists(self, path: str) -> bool:
        return os.path.exists(path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        )

    def _read(self, store: str) -> DataFrame:
        """One of the sink's stores (a dir under state_dir), read with its
        fixed schema."""
        return self.spark.read.schema(STORE_SCHEMAS[store]).parquet(
            os.path.join(self.state_dir, store)
        )

    def _features(self, batch_df: DataFrame) -> DataFrame:
        """The batch's per-doc features from one read and one tokenization:
        MinHash signature, sorted xxhash64 gram array and gram count, plus
        the SimHash and the distinct winnowing fingerprints when their
        tiers are on.  The pandas UDFs sit in one projection, so Spark
        evaluates them in one Python pass; the result is materialized once
        and every per-tier frame is a JVM-side projection of it."""
        cfg = self.cfg
        docs = batch_df.select("clip_id", "transcript").withColumn(
            "tokens", _tokens_col(cfg)
        )
        feats = minhash.with_minhash(docs, "tokens", cfg)
        if cfg.simhash_enabled:
            from ..operators.simhash import with_simhash

            feats = with_simhash(feats, "tokens")
        if cfg.substring_enabled:
            from ..operators.suffix import fingerprint_udf

            # window=16 mirrors containment_candidates' default — the
            # winnowing guarantee is shared substrings >= min_len + 15
            feats = feats.withColumn(
                "fps",
                F.array_distinct(
                    fingerprint_udf(cfg.substring_min_len, 16)(
                        F.col("transcript")
                    )
                ),
            )
        return (
            feats.withColumn(
                "gram_hashes",
                F.sort_array(
                    F.transform(F.col("tokens"), lambda t: F.xxhash64(t))
                ),
            )
            .withColumn("n_grams", F.size("tokens"))
            .drop("transcript", "tokens")
            .localCheckpoint()
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        from .ledger import append_batch_metrics

        t0 = time.time()
        cfg = self.cfg
        bid = int(batch_id)
        feats = self._features(batch_df)
        new_bands = minhash.explode_bands(feats, "clip_id", "minhash", cfg)
        # per-doc sorted gram-hash arrays + totals: the array-merge verify's
        # input shape, precomputed once per doc at ingest time
        new_docs = feats.select("clip_id", "gram_hashes", "n_grams")

        # candidates: new-vs-new plus new-vs-history.  Both joins broadcast
        # the new side, so history is streamed, never shuffled.
        a, b = new_bands.alias("a"), new_bands.alias("b")
        nn = a.join(
            F.broadcast(b),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        ).select(
            F.col("a.clip_id").alias("id1"), F.col("b.clip_id").alias("id2")
        )
        if self._store_exists(self.bands_path):
            hist = self._read("bands_store").alias("h")
            nh = hist.join(
                F.broadcast(new_bands.alias("n")),
                (F.col("n.band_id") == F.col("h.band_id"))
                & (F.col("n.band_hash") == F.col("h.band_hash")),
            ).select(
                F.least(F.col("n.clip_id"), F.col("h.clip_id")).alias("id1"),
                F.greatest(F.col("n.clip_id"), F.col("h.clip_id")).alias("id2"),
            ).filter(F.col("id1") != F.col("id2"))
            cand = nn.unionByName(nh)
        else:
            cand = nn
        tiers = [cand]

        # ---- simhash tier (batch parity: operators/simhash.py) ----------
        # Exact pigeonhole block keys of (new batch + full history) are
        # probed against the BROADCAST expanded keys of the new batch
        # only, so history streams through a broadcast-hash join exactly
        # like the band store.  Pair coverage equals the batch tier's:
        # new-vs-new pairs meet through both orders of the exact-vs-
        # expanded join; a history clip h meets a new clip n iff some
        # block of h is within 1 flipped bit of n's same block — the
        # identical HmSearch predicate, applied when the LATER clip
        # arrives.  The tier is cap-free (the batch tier's salted/capped
        # band disposition is corpus-global and has no arrival-prefix
        # analogue), so stream==batch equality is contractual exactly
        # when no batch-side band cap fires — same contract as the
        # cascade's hot-key caps.
        new_sims = None
        if cfg.simhash_enabled:
            from ..operators import simhash as sh

            radius = cfg.hamming_radius
            new_sims = feats.select("clip_id", "simhash")

            def _blocks(df: DataFrame, blocks_fn) -> DataFrame:
                return df.select(
                    "clip_id",
                    "simhash",
                    F.explode(blocks_fn(F.col("simhash"), radius)).alias("blk"),
                ).select(
                    "clip_id", "simhash",
                    F.col("blk.block_id").alias("block_id"),
                    F.col("blk.block_value").alias("block_value"),
                )

            exp_new = _blocks(new_sims, sh.hamming_blocks_expanded)
            exact_all = _blocks(new_sims, sh.hamming_blocks)
            if self._store_exists(self.sims_path):
                exact_all = exact_all.unionByName(
                    _blocks(self._read("sims_store"), sh.hamming_blocks)
                )
            sim_cand = (
                exact_all.alias("e")
                .join(
                    F.broadcast(exp_new.alias("x")),
                    (F.col("e.block_id") == F.col("x.block_id"))
                    & (F.col("e.block_value") == F.col("x.block_value"))
                    & (F.col("e.clip_id") != F.col("x.clip_id")),
                )
                .withColumn(
                    "hamming",
                    F.bit_count(
                        F.col("e.simhash").bitwiseXOR(F.col("x.simhash"))
                    ),
                )
                .filter(F.col("hamming") <= radius)
                .select(
                    F.least(
                        F.col("e.clip_id"), F.col("x.clip_id")
                    ).alias("id1"),
                    F.greatest(
                        F.col("e.clip_id"), F.col("x.clip_id")
                    ).alias("id2"),
                )
            )
            tiers.append(sim_cand)

        # ---- containment tier (batch parity: operators/suffix.py) -------
        # Same winnowing fingerprints, same equi-join; history fingerprints
        # stream against the broadcast new-batch fingerprint set.  The
        # boilerplate cap (cfg.fingerprint_cap) counts each fingerprint
        # over the ARRIVAL PREFIX (new batch + history), not the full
        # corpus the batch pass sees: a fingerprint crossing the cap at
        # batch k is recorded in hot_fps_store with its count at
        # detection (never silent) and is excluded from every later
        # batch's join — but pairs it generated in earlier batches stay
        # emitted.  Cap-free runs are therefore exactly batch-equal; runs
        # where the cap fires diverge observably through hot_fps_store
        # (tests/test_streaming.py::test_fp_cap_mid_stream_is_observable).
        #
        # Replay (same batch_id after a crash past the store appends):
        # this batch's own rows in fps_store and its own hot_fps_store
        # record are not history, so both are excluded — the replay
        # counts, caps and pairs exactly as the first attempt did.
        fps_use = None
        newly_hot = None
        if cfg.substring_enabled:
            fps_new = feats.select("clip_id", F.explode("fps").alias("fp"))
            if self._store_exists(self.hot_fps_path):
                known_hot = (
                    self.spark.read.schema(STORE_SCHEMAS["hot_fps_store"])
                    .option("recursiveFileLookup", "true")
                    .parquet(self.hot_fps_path)
                    .filter(F.col("batch_id") != bid)
                    .select("fp")
                    .distinct()
                )
                fps_new = fps_new.join(
                    F.broadcast(known_hot), "fp", "left_anti"
                )
            # prefix count per fingerprint: this batch's docs + history
            # docs (store holds every non-hot fingerprint row so far)
            n_new = fps_new.groupBy("fp").agg(
                F.count(F.lit(1)).alias("n_new")
            )
            hist_fps_hit = None
            if self._store_exists(self.fps_path):
                # localCheckpoint (not cache): severs lineage from the
                # store directory this batch later APPENDS to, so the
                # post-write metrics count can never re-list the store
                # and see this batch's own rows as history
                hist_fps_hit = (
                    self._read("fps_store")
                    .join(
                        F.broadcast(fps_new.select("fp").distinct()), "fp"
                    )
                    .join(
                        F.broadcast(feats.select("clip_id")), "clip_id",
                        "left_anti",
                    )
                    .dropDuplicates(["fp", "clip_id"])
                    .localCheckpoint()
                )
                n_hist = hist_fps_hit.groupBy("fp").agg(
                    F.count(F.lit(1)).alias("n_hist")
                )
                counts = n_new.join(n_hist, "fp", "left").select(
                    "fp",
                    (
                        F.col("n_new")
                        + F.coalesce(F.col("n_hist"), F.lit(0))
                    ).alias("n_docs"),
                )
            else:
                counts = n_new.select(
                    "fp", F.col("n_new").alias("n_docs")
                )
            newly_hot = counts.filter(
                F.col("n_docs") > cfg.fingerprint_cap
            ).localCheckpoint()
            fps_use = fps_new.join(
                F.broadcast(newly_hot.select("fp")), "fp", "left_anti"
            )
            a, b = fps_use.alias("a"), fps_use.alias("b")
            cont_nn = a.join(
                F.broadcast(b),
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.clip_id") < F.col("b.clip_id")),
            ).select(
                F.col("a.clip_id").alias("id1"),
                F.col("b.clip_id").alias("id2"),
            )
            tiers.append(cont_nn)
            if hist_fps_hit is not None:
                hist_use = hist_fps_hit.join(
                    F.broadcast(newly_hot.select("fp")), "fp", "left_anti"
                )
                cont_nh = hist_use.alias("h").join(
                    F.broadcast(fps_use.alias("n")),
                    (F.col("h.fp") == F.col("n.fp"))
                    & (F.col("h.clip_id") != F.col("n.clip_id")),
                ).select(
                    F.least(
                        F.col("h.clip_id"), F.col("n.clip_id")
                    ).alias("id1"),
                    F.greatest(
                        F.col("h.clip_id"), F.col("n.clip_id")
                    ).alias("id2"),
                )
                tiers.append(cont_nh)

        cand = tiers[0]
        for t in tiers[1:]:
            cand = cand.unionByName(t)
        cand = cand.dropDuplicates(["id1", "id2"]).localCheckpoint()

        # gram arrays for exactly the docs the candidates touch: new-batch
        # docs from the feature checkpoint; historical docs via a
        # pushed-down isin scan (store files are sorted by clip_id ->
        # row-group skipping), so the docs-store read is O(candidates), not
        # O(history).  One bounded collect fetches the id set; when it
        # overflows _ISIN_PUSHDOWN_CAP — a hot-band batch against deep
        # history can produce millions of candidate ids — the ids are
        # counted distributively and the store is read through a left-semi
        # join, so the full set never reaches the driver.
        cand_ids_df = cand.select(
            F.explode(F.array("id1", "id2")).alias("clip_id")
        ).distinct()
        cand_ids = [
            r[0] for r in cand_ids_df.limit(_ISIN_PUSHDOWN_CAP + 1).collect()
        ]
        over_cap = len(cand_ids) > _ISIN_PUSHDOWN_CAP
        n_cand_ids = cand_ids_df.count() if over_cap else len(cand_ids)
        all_docs = new_docs
        docs_read = "none"
        if n_cand_ids and self._store_exists(self.docs_path):
            hist_docs = self._read("docs_store")
            if over_cap:
                docs_read = "semi_join"
                hist_docs = hist_docs.join(cand_ids_df, "clip_id", "left_semi")
            else:
                docs_read = "isin"
                hist_docs = hist_docs.filter(F.col("clip_id").isin(*cand_ids))
            all_docs = all_docs.unionByName(hist_docs)
        # dedupe (a replayed batch may have written its docs already)
        all_docs = all_docs.dropDuplicates(["clip_id"])

        verified = verify_pairs_multiset_jaccard_arrays(
            cand,
            all_docs.select(
                "clip_id",
                F.col("gram_hashes").alias("tokens_presorted"),
                F.col("n_grams"),
            ),
            "clip_id",
            "tokens_presorted",
            cfg.verify_threshold,
            presorted_hashes=True,
            total_col="n_grams",
        ).select("id1", "id2", "jaccard", F.lit(bid).alias("batch_id"))
        # idempotence: one output dir per batch id, overwritten on replay
        pairs_dir = os.path.join(self.pairs_path, f"batch_id={bid}")
        verified.write.mode("overwrite").parquet(pairs_dir)
        self._update_labels(batch_id)
        # one shuffle on bh_part: each band partition gets one file per
        # batch instead of one per input partition
        (
            new_bands.withColumn(
                "bh_part", F.pmod(F.col("band_hash"), F.lit(_BAND_PARTITIONS))
            )
            .repartition("bh_part")
            .sortWithinPartitions("band_hash")
            .write.mode("append")
            .partitionBy("bh_part")
            .parquet(self.bands_path)
        )
        new_docs.sortWithinPartitions("clip_id").write.mode("append").parquet(
            self.docs_path
        )
        if new_sims is not None:
            new_sims.write.mode("append").parquet(self.sims_path)
        if fps_use is not None:
            # only non-hot fingerprints enter the store: hot membership is
            # durable in hot_fps_store, so the store stays O(docs x
            # fingerprints-per-doc) even on boilerplate-heavy streams
            fps_use.sortWithinPartitions("fp").write.mode("append").parquet(
                self.fps_path
            )
            # batch-keyed, overwritten on replay — idempotent, and the
            # count-at-detection makes every cap firing observable
            newly_hot.withColumn("batch_id", F.lit(bid)).write.mode(
                "overwrite"
            ).parquet(os.path.join(self.hot_fps_path, f"batch_id={bid}"))
        # per-batch metrics row (batch-id-keyed file: replay overwrites);
        # counts come from the checkpoints / the just-written tiny pair dir
        append_batch_metrics(
            self.state_dir, "text", batch_id,
            rows_in=feats.count(),
            n_candidates=cand.count(),
            n_pairs=self.spark.read.schema(STORE_SCHEMAS["verified_pairs"])
            .parquet(pairs_dir)
            .count(),
            started_at=t0,
            n_cand_ids=n_cand_ids,
            docs_read=docs_read,
        )

    def compact_stores(self, target_files_per_partition: int = 1) -> None:
        """Rewrite the band and doc stores to bounded file counts: each
        micro-batch appends its own small parquet files, and after many
        batches the footer-read overhead (one per file per scan) starts to
        dominate the history probe.  Compaction preserves layout
        invariants — bands stay hash-partitioned on bh_part and sorted by
        band_hash, docs stay sorted by clip_id (the row-group-skipping
        contract of the isin pushdown).  Run it between drains (it must
        not race an active process_batch); atomic via write-new + rename,
        same as the catalog's checkpoint writes."""
        import shutil
        import uuid

        for store, part_cols, sort_col in (
            ("bands_store", ["bh_part"], "band_hash"),
            ("docs_store", [], "clip_id"),
        ):
            path = os.path.join(self.state_dir, store)
            if not self._store_exists(path):
                continue
            df = self._read(store)
            tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
            writer = (
                df.repartition(target_files_per_partition, *part_cols)
                if part_cols
                else df.coalesce(target_files_per_partition)
            ).sortWithinPartitions(sort_col).write.mode("overwrite")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(tmp)
            old = f"{path}__old_{uuid.uuid4().hex[:8]}"
            os.rename(path, old)
            os.rename(tmp, path)
            shutil.rmtree(old, ignore_errors=True)

    def start(self, source_dir: str, schema: str, checkpoint_dir: str):
        stream = (
            self.spark.readStream.schema(schema).parquet(source_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def verified_pairs(self) -> DataFrame:
        return self._read("verified_pairs")

    # --- incremental cluster-label maintenance ---------------------------
    # (shared machinery + scale/replay rationale: streaming/labels.py)

    def _update_labels(self, batch_id: int) -> None:
        from .labels import update_labels

        update_labels(self.spark, self.pairs_path, self.labels_path, batch_id)

    def cluster_labels(self) -> DataFrame:
        from .labels import current_labels

        return current_labels(self.spark, self.labels_path)
