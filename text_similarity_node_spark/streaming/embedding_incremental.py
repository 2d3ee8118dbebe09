"""Incremental (streaming) SEMANTIC dedup over embedding vectors.

Completes the streaming trilogy (text: incremental.py, audio:
audio_incremental.py): new embedding rows arrive as files in a directory
(Kafka stand-in) and each micro-batch is deduplicated against everything
seen so far, using the batch semantic_dedup's candidate geometry
(operators/dedup.semantic_dedup — k-means lists, nprobe boundary reach):

    new batch ─► list assign (home + nprobe) ─┐
                                              ├─ list join ─► candidates ─►
    member store (all history, by list_id) ───┘   exact cosine ─► pairs

State lives in the checkpoint warehouse as append-only parquet stores:

* ``centroids_store`` — the coarse quantizer, trained ONCE on the first
  batch (deterministic hash-selected sample, seeded spherical k-means)
  and persisted; every later batch and every restart loads the same
  centroids, so list assignments never drift (the streaming analogue of
  freezing the IVF codebook before ingest).
* ``member_store`` — (vec_id, list_id, is_home), each vector under its
  home list AND its nprobe expansion lists, PARTITIONED BY list_id.  The
  candidate join covers both directions of semantic_dedup's boundary
  contract: new-side probes x history homes, and new-side homes x
  history probes.  The new side broadcasts (a micro-batch is small by
  definition), so history is streamed, never shuffled, and the list_id
  partitioning gives partition-level pruning on the probe lists this
  batch actually touches.
* ``vec_store`` — (vec_id, v) sorted by vec_id: payloads at rest; only
  vectors named by this batch's candidate pairs are fetched (count-first
  isin pushdown under a cap, semi-join above it — the text path's
  driver-safe discipline).

Per-batch cost is O(batch x list-occupancy + candidates), independent of
total history size for fixed list occupancy; growing corpora re-train
with more lists offline and re-ingest membership (the FAISS re-index
convention), which the stores' layout supports without touching
payloads.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import ivf_assign_udf, train_ivf_centroids
from .ledger import _ISIN_PUSHDOWN_CAP, append_batch_metrics, store_exists


class IncrementalSemanticDedup:
    """foreachBatch sink: maintains centroid/member/vector stores and
    emits exact-cosine-verified near-dup pairs per micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        dim: int,
        threshold: float = 0.98,
        n_lists: int = 8,
        nprobe: int = 4,
        seed: int = 42,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.dim = dim
        self.threshold = threshold
        self.n_lists = n_lists
        self.nprobe = nprobe
        self.seed = seed
        os.makedirs(state_dir, exist_ok=True)
        self.centroids_path = os.path.join(state_dir, "centroids_store")
        self.member_path = os.path.join(state_dir, "member_store")
        self.vec_path = os.path.join(state_dir, "vec_store")
        self.pairs_path = os.path.join(state_dir, "verified_pairs")

    # -- centroids ---------------------------------------------------------

    def _centroids(self, batch_vecs: DataFrame) -> np.ndarray:
        """Load the frozen codebook, or train it on the first batch and
        persist.  Training is deterministic (hash-selected sample, seeded
        k-means), so a replay of batch 0 after the persist loads the
        identical centroids — idempotent by construction."""
        if store_exists(self.centroids_path):
            rows = (
                self.spark.read.parquet(self.centroids_path)
                .orderBy("list_id")
                .collect()
            )
            return np.asarray([r["c"] for r in rows], dtype=np.float64)
        cents = train_ivf_centroids(
            batch_vecs, "vec_id", "v", self.n_lists, seed=self.seed
        )
        self.spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "list_id int, c array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(self.centroids_path)
        return cents

    # -- the sink ------------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import time


        t0 = time.time()
        new = batch_df.select(
            F.col("vec_id"), F.col("v").cast("array<double>").alias("v")
        )
        cents = self._centroids(new)
        assign1 = ivf_assign_udf(cents, nprobe=1)
        assignp = ivf_assign_udf(cents, nprobe=self.nprobe)
        tagged = new.withColumn("probes", assignp(F.col("v"))).withColumn(
            "home", F.element_at(F.col("probes"), 1)
        ).cache()

        # new-vs-new within the batch: home x probes, both directions via
        # != then least/greatest (home-in-probes is not symmetric)
        a = tagged.select("vec_id", "v", "home").alias("a")
        b = tagged.select(
            "vec_id", "v", F.explode("probes").alias("plist")
        ).alias("b")
        nn = a.join(
            F.broadcast(b),
            (F.col("a.home") == F.col("b.plist"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("id1"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("id2"),
        )

        cand = nn
        if store_exists(self.member_path):
            hist = self.spark.read.parquet(self.member_path).alias("h")
            def _pairs(joined):
                return joined.select(
                    F.least(F.col("h.vec_id"), F.col("n.vec_id")).alias("id1"),
                    F.greatest(F.col("h.vec_id"), F.col("n.vec_id")).alias("id2"),
                )

            # direction 1: a new vector's probe lists hit history HOMES
            d1 = _pairs(
                hist.filter(F.col("h.is_home")).join(
                    F.broadcast(
                        tagged.select(
                            "vec_id", F.explode("probes").alias("plist")
                        ).alias("n")
                    ),
                    F.col("h.list_id") == F.col("n.plist"),
                )
            )
            # direction 2: a new vector's HOME hits history probe rows
            d2 = _pairs(
                hist.join(
                    F.broadcast(tagged.select("vec_id", "home").alias("n")),
                    F.col("h.list_id") == F.col("n.home"),
                )
            )
            nh = d1.unionByName(d2).filter(F.col("id1") != F.col("id2"))
            cand = cand.unionByName(nh)
        cand = cand.dropDuplicates(["id1", "id2"]).cache()

        # payloads for exactly the vectors the candidates touch: new-batch
        # vectors from memory, historical ones via the count-first isin /
        # semi-join discipline (vec_store sorted by vec_id -> row-group
        # skipping; the driver never materializes an unbounded id set)
        cand_ids_df = (
            cand.select(F.explode(F.array("id1", "id2")).alias("vec_id"))
            .distinct()
            .cache()
        )
        n_cand_ids = cand_ids_df.count()
        vecs = tagged.select("vec_id", "v")
        if store_exists(self.vec_path) and n_cand_ids:
            hist_vecs = self.spark.read.parquet(self.vec_path)
            if n_cand_ids <= _ISIN_PUSHDOWN_CAP:
                ids = [r[0] for r in cand_ids_df.collect()]
                hist_vecs = hist_vecs.filter(F.col("vec_id").isin(*ids))
            else:
                hist_vecs = hist_vecs.join(cand_ids_df, "vec_id", "left_semi")
            vecs = vecs.unionByName(hist_vecs)
        vecs = vecs.dropDuplicates(["vec_id"])

        from ..operators.ann import cosine_pairs_udf

        v1 = vecs.select(F.col("vec_id").alias("id1"), F.col("v").alias("_v1"))
        v2 = vecs.select(F.col("vec_id").alias("id2"), F.col("v").alias("_v2"))
        verified = (
            cand.join(v1, "id1").join(v2, "id2")
            .withColumn("cos_sim", cosine_pairs_udf()(F.col("_v1"), F.col("_v2")))
            .filter(F.col("cos_sim") >= self.threshold)
            .select("id1", "id2", "cos_sim")
        )
        # idempotence: one output dir per batch id, overwritten on replay
        # (the batch_id=N dir name doubles as the partition column on read)
        verified.write.mode("overwrite").parquet(
            os.path.join(self.pairs_path, f"batch_id={int(batch_id)}")
        )

        members = tagged.select(
            "vec_id", F.explode("probes").alias("list_id"), "home"
        ).select(
            "vec_id", "list_id", (F.col("list_id") == F.col("home")).alias("is_home")
        )
        (
            members.write.mode("append")
            .partitionBy("list_id")
            .parquet(self.member_path)
        )
        tagged.select("vec_id", "v").sortWithinPartitions("vec_id").write.mode(
            "append"
        ).parquet(self.vec_path)
        # per-batch metrics row (batch-id-keyed file: replay overwrites)
        append_batch_metrics(
            self.state_dir, "semantic", batch_id,
            rows_in=tagged.count(),
            n_candidates=cand.count(),
            n_pairs=self.spark.read.parquet(
                os.path.join(self.pairs_path, f"batch_id={int(batch_id)}")
            ).count(),
            started_at=t0,
        )
        tagged.unpersist()
        cand.unpersist()
        cand_ids_df.unpersist()

    def compact_stores(self, target_files_per_partition: int = 1) -> None:
        """Rewrite the member and vector stores to bounded file counts
        (each micro-batch appends small files; footer reads eventually
        dominate the history probe).  Layout invariants preserved —
        members stay partitioned by list_id, vectors stay sorted by
        vec_id (the row-group-skipping contract of the isin pushdown).
        Run between drains; atomic via write-new + rename (the text
        path's discipline, streaming/incremental.py)."""
        import shutil
        import uuid

        spark = self.spark
        for path, part_cols, sort_col in (
            (self.member_path, ["list_id"], "vec_id"),
            (self.vec_path, [], "vec_id"),
        ):
            if not store_exists(path):
                continue
            df = spark.read.parquet(path)
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
        stream = self.spark.readStream.schema(schema).parquet(source_dir)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def verified_pairs(self) -> DataFrame:
        return self.spark.read.parquet(self.pairs_path)
