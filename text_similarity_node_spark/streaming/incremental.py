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

All three candidate tiers are the batch pipeline's shared operators: the
same key functions (``minhash.explode_bands``, ``simhash.block_keys``,
``suffix.fingerprint_keys``) and the same Hamming check
(``simhash.within_radius``), joined by ``lsh.probe_pairs`` -- the
micro-batch shape of ``lsh.candidate_pairs``: each history store streams
through a broadcast-hash probe against the new batch, so per-batch cost
stays O(batch + candidates).  The only tier logic that lives here is the
stream-only arrival-prefix fingerprint cap.  Cap-free, the
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
  candidates is materialized once; verification and the candidate-id
  fetch read it instead of re-running the history joins.
* **Labels on the driver.**  The cluster-label update (streaming/labels.py)
  fetches the batch's pairs and the prior components they touch with two
  bounded collects, labels them with a Python union-find and writes the
  delta with pyarrow; only a batch whose edges or touched members exceed
  ``_ISIN_PUSHDOWN_CAP`` runs the iterative distributed hash-min.
* **A metrics row without count jobs.**  ``rows_in`` and ``n_candidates``
  are ``Observation`` s on the feature and candidate checkpoints, which
  fill them as they materialize, and ``n_pairs`` is the label update's
  edge fetch.
* **Schema-pinned reads.**  Every store is read with its fixed schema
  (``STORE_SCHEMAS``), so no read launches a footer-inference job.
* **One band file per partition per batch.**  The band rows are shuffled
  on ``bh_part`` before the partitioned append.

Why batch cost does NOT grow linearly with history:

* Every tier's probe broadcasts the NEW side (a micro-batch's keys are
  small by definition), so the history stores are streamed through a
  broadcast-hash join — never shuffled.  History partitions are read in
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
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators import lsh, minhash, simhash, suffix
from ..operators.verify import verify_pairs_multiset_jaccard_arrays
from ..plans.pipeline import _tokens_col
from .ledger import _ISIN_PUSHDOWN_CAP, append_batch_metrics, store_exists

# number of hash partitions for the band store; at cluster scale make this
# proportional to history volume (it only affects file layout, not results)
_BAND_PARTITIONS = 16

# Fixed schema of each store, keyed by its directory under the state dir
# (partition columns last).  Clip ids are strings, as in the batch
# pipeline.  tests/test_streaming.py checks each against the schema Spark
# infers from the files the sink writes.
STORE_SCHEMAS = {
    "bands_store": "clip_id string, band_id int, band_hash bigint, bh_part int",
    "docs_store": "clip_id string, gram_hashes array<bigint>, n_grams int",
    "sims_store": "clip_id string, simhash bigint",
    "fps_store": "fp bigint, clip_id string",
    "hot_fps_store": "fp bigint, n_docs bigint, batch_id int",  # batch_id: the dir
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

    def _read(self, store: str) -> DataFrame:
        """One of the sink's stores (a dir under state_dir), read with its
        fixed schema."""
        return self.spark.read.schema(STORE_SCHEMAS[store]).parquet(
            os.path.join(self.state_dir, store)
        )

    def _history(self, store: str) -> DataFrame | None:
        """``_read(store)``, or None before the store's first append."""
        if not store_exists(os.path.join(self.state_dir, store)):
            return None
        return self._read(store)

    def _features(self, batch_df: DataFrame, rows: Observation) -> DataFrame:
        """The batch's per-doc features from one read and one tokenization:
        MinHash signature, sorted xxhash64 gram array and gram count, plus
        the SimHash and the distinct winnowing fingerprints when their
        tiers are on.  The pandas UDFs sit in one projection, so Spark
        evaluates them in one Python pass; the result is materialized once
        (``rows`` observes its row count ``n``) and every per-tier frame
        is a JVM-side projection of it."""
        cfg = self.cfg
        docs = batch_df.select("clip_id", "transcript").withColumn(
            "tokens", _tokens_col(cfg)
        )
        feats = minhash.with_minhash(docs, "tokens", cfg)
        if cfg.simhash_enabled:
            feats = simhash.with_simhash(feats, "tokens")
        if cfg.substring_enabled:
            # window=16 mirrors containment_candidates' default — the
            # winnowing guarantee is shared substrings >= min_len + 15
            feats = feats.withColumn(
                "fps",
                F.array_distinct(
                    suffix.fingerprint_udf(cfg.substring_min_len, 16)(
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
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.time()
        cfg = self.cfg
        bid = int(batch_id)
        # row counts filled by the checkpoints' own jobs, for the metrics row
        rows_obs, cand_obs = Observation(), Observation()
        feats = self._features(batch_df, rows_obs)
        new_bands = minhash.explode_bands(feats, "clip_id", "minhash", cfg)
        # per-doc sorted gram-hash arrays + totals: the array-merge verify's
        # input shape, precomputed once per doc at ingest time
        new_docs = feats.select("clip_id", "gram_hashes", "n_grams")

        # candidates: each tier keys the new batch (and its history store)
        # with the batch pipeline's key function, and lsh.probe_pairs joins
        # the keys -- new side broadcast, history streamed, never shuffled
        tiers = [lsh.probe_pairs(new_bands, self._history("bands_store"))]

        # ---- simhash tier ------------------------------------------------
        # A history clip h meets a new clip n iff some block of h is within
        # 1 flipped bit of n's same block (two-level plan) or equal to it --
        # the batch tier's predicate, applied when the LATER clip arrives.
        # The tier is cap-free (the batch tier's salted/capped disposition
        # is corpus-global and has no arrival-prefix analogue), so
        # stream==batch equality is contractual exactly when no batch-side
        # band cap fires -- same contract as the cascade's hot-key caps.
        new_sims = None
        if cfg.simhash_enabled:
            radius = cfg.hamming_radius
            new_sims = feats.select("clip_id", "simhash")
            probe, build = simhash.block_keys(new_sims, radius)
            hist_sims = self._history("sims_store")
            hist_probe = (
                None if hist_sims is None
                else simhash.block_keys(hist_sims, radius)[0]
            )
            tiers.append(simhash.within_radius(
                lsh.probe_pairs(
                    probe, hist_probe, build_keys=build, carry_cols=["simhash"]
                ),
                radius,
            ))

        # ---- containment tier: the arrival-prefix fingerprint cap --------
        # The boilerplate cap (cfg.fingerprint_cap) counts each fingerprint
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
        fps_use = newly_hot = None
        if cfg.substring_enabled:
            fps_new = feats.select("clip_id", F.explode("fps").alias("fp"))
            known_hot = self._history("hot_fps_store")
            if known_hot is not None:
                known_hot = known_hot.filter(F.col("batch_id") != bid)
                fps_new = fps_new.join(
                    F.broadcast(known_hot.select("fp").distinct()), "fp",
                    "left_anti",
                )
            # history rows of this batch's fingerprints (the store holds
            # every non-hot fingerprint row so far).  localCheckpoint, not
            # cache: it severs lineage from the store directory this batch
            # later APPENDS to, so no later action can re-list the store
            # and see this batch's own rows as history.
            hist_fps = self._history("fps_store")
            prefix = fps_new
            if hist_fps is not None:
                hist_fps = (
                    hist_fps.join(
                        F.broadcast(fps_new.select("fp").distinct()), "fp"
                    )
                    .join(
                        F.broadcast(feats.select("clip_id")), "clip_id",
                        "left_anti",
                    )
                    .dropDuplicates(["fp", "clip_id"])
                    .localCheckpoint()
                )
                prefix = prefix.unionByName(hist_fps)
            newly_hot = (
                prefix.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .filter(F.col("n_docs") > cfg.fingerprint_cap)
                .localCheckpoint()
            )
            fps_use = fps_new.join(
                F.broadcast(newly_hot.select("fp")), "fp", "left_anti"
            )
            # history rows of a hot fingerprint find no partner: the
            # broadcast new side no longer holds that fingerprint
            tiers.append(lsh.probe_pairs(
                suffix.fingerprint_keys(fps_use, "clip_id"),
                None if hist_fps is None
                else suffix.fingerprint_keys(hist_fps, "clip_id"),
            ))

        cand = (
            reduce(DataFrame.unionByName, [t.select("id1", "id2") for t in tiers])
            .dropDuplicates(["id1", "id2"])
            .observe(cand_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )

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
        if n_cand_ids and store_exists(self.docs_path):
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
        labels_update, n_pairs = self._update_labels(batch_id)
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
            # count-at-detection makes every cap firing observable.  The
            # batch_id=N directory is the record's only batch_id column.
            newly_hot.write.mode("overwrite").parquet(
                os.path.join(self.hot_fps_path, f"batch_id={bid}")
            )
        # per-batch metrics row (batch-id-keyed file: replay overwrites);
        # no count job: the checkpoints' observations and the label
        # update's edge fetch hold the counts
        append_batch_metrics(
            self.state_dir, "text", batch_id,
            rows_in=rows_obs.get["n"],
            n_candidates=cand_obs.get["n"],
            n_pairs=n_pairs,
            started_at=t0,
            n_cand_ids=n_cand_ids,
            docs_read=docs_read,
            labels_update=labels_update,
        )

    def compact_stores(self, target_files_per_partition: int = 1) -> None:
        """Rewrite the band, doc, simhash and fingerprint stores to
        bounded file counts: each
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
            ("sims_store", [], "clip_id"),
            ("fps_store", [], "fp"),
        ):
            path = os.path.join(self.state_dir, store)
            if not store_exists(path):
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

    def _update_labels(self, batch_id: int) -> tuple[str, int]:
        from .labels import update_labels

        return update_labels(
            self.spark, self.pairs_path, self.labels_path, batch_id
        )

    def cluster_labels(self) -> DataFrame:
        from .labels import current_labels

        return current_labels(self.spark, self.labels_path)
