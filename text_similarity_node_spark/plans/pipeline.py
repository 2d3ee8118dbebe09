"""The near-duplicate detection + clustering pipeline (SURVEY.md §7).

Stage DAG over ``clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript)``:

    shingle ──► minhash ──► bands ──► lsh_candidates ─┐
            └─► simhash ──► hamming_candidates ───────┼─► verify ─► cc ─► clusters
            └─► winnow  ──► containment_candidates ───┘

Design decisions that carry the 100 TB story:

* **Column pruning first.** Stage 1 selects (clip_id, transcript) only; the
  audio BLOB never enters a shuffle.  Signatures (1 KiB/row) — not
  transcripts — flow into the band stage.
* **Every stage checkpoints** through the catalog keyed by config hash;
  re-running a killed job skips completed stages (resume contract,
  tests/test_resume.py).
* **Metrics + lineage ledgers.**  Each stage appends (run_id, stage,
  config_hash, rows_in, rows_out, dropped, detail) — caps are never silent:
  every candidate tier's key dispositions reach the ledger as one audit row
  (``lsh_band_audit``, ``simhash_band_audit``, ``containment_fp_audit``).
* **Skew handling** lives in operators/lsh.py: all three tiers' keys go
  through one salted triangle join (hot keys salted, degenerate keys capped
  with metrics), so every join carries its own skew disposition.  AQE is
  pinned per ``cfg.adaptive_enabled`` for the run (``None`` keeps the
  session's setting); nothing here relies on it.
* **Verification is a sorted-array merge**: the candidate union is deduped
  and passed through the multiset-sound MinHash prefilter, then each pair's
  presorted xxhash64 gram arrays are merged by an Arrow-batched numpy UDF
  into the exact multiset Jaccard (reference NGRAM semantics,
  token_based.cpp:30-43; operators/verify.verify_pairs_multiset_jaccard_arrays).
  Each pair is verified once (the distributed analogue of the reference's
  result cache, similarity_engine.cpp:486-558).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import PipelineConfig, Preprocessing
from ..functions import columns as C
from ..operators import lsh, minhash, simhash, suffix, verify
from ..operators.components import connected_components, connected_components_twostar
from ..session import empty_frame
from ..sources.catalog import ParquetCatalog


# the metrics ledger's schema: ``_log`` writes every row with it, and the
# run's final ledger read passes it (as Spark's schema), so that read runs
# no footer-inference job
_METRICS_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("config_hash", pa.string()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("dropped", pa.int64()),
        ("detail", pa.string()),
        ("elapsed_s", pa.float64()),
    ]
)


@dataclass
class PipelineResult:
    clusters: DataFrame
    verified_pairs: DataFrame
    metrics: DataFrame


def _tokens_col(cfg: PipelineConfig):
    if cfg.shingle_mode == Preprocessing.WORD:
        return C.word_tokens(F.col("transcript"))
    return C.char_ngrams(F.col("transcript"), cfg.ngram_size)


class NearDupPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig, warehouse: str):
        self.spark = spark
        self.cfg = cfg
        self.catalog = ParquetCatalog(spark, warehouse)
        self.chash = cfg.config_hash()
        self._t0 = time.time()
        # rows_out of each stage, keyed by the id() of the returned
        # DataFrame: when stage N's input IS stage N-1's output (the common
        # case), its rows_in is already known and the extra count action —
        # whose cost is dominated by single-threaded driver planning over
        # the accumulated plan tree, not the scan — is skipped.  The
        # event-log profile measured ~47 s of between-stages driver-only
        # gap per 400k-clip run; this removes the redundant half of those
        # actions at every parallelism level.  The keyed DataFrames are
        # also strongly referenced here so a GC'd plan can never recycle
        # an id() onto a stale count.
        self._known_counts: dict[int, int] = {}
        self._known_refs: list[DataFrame] = []
        # intra-stage persists (e.g. the tagged prefilter frame) a build
        # closure registers here; _stage unpersists them once the stage
        # output is materialized, instead of leaving them to GC
        self._stage_scratch: list[DataFrame] = []

    # -- ledger helpers ------------------------------------------------------

    def _log(self, stage: str, rows_in: int, rows_out: int, dropped: int = 0,
             detail: str = "") -> None:
        self.catalog.append_rows(
            [
                {
                    "run_id": self.cfg.run_id,
                    "stage": stage,
                    "config_hash": self.chash,
                    "rows_in": int(rows_in),
                    "rows_out": int(rows_out),
                    "dropped": int(dropped),
                    "detail": detail,
                    "elapsed_s": float(time.time() - self._t0),
                }
            ],
            "metrics",
            schema=_METRICS_SCHEMA,
        )

    def _log_partitions(self, stage: str, direction: str, df: DataFrame) -> None:
        """Per-partition row counts for one side of a stage (the north
        rule's per-partition lineage/metrics): one ledger row per Spark
        partition, written driver-side via pyarrow like the other ledgers
        (a distributed 1-row-per-partition write would cost a Spark job's
        overhead for ~32 rows).  The count aggregates per
        spark_partition_id over the materialized stage output — parquet
        row-group stats make it a metadata-weight scan."""
        counts = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        schema = pa.schema(
            [
                ("run_id", pa.string()),
                ("stage", pa.string()),
                ("config_hash", pa.string()),
                ("direction", pa.string()),
                ("partition_id", pa.int64()),
                ("rows", pa.int64()),
            ]
        )
        self.catalog.append_rows(
            [
                {
                    "run_id": self.cfg.run_id,
                    "stage": stage,
                    "config_hash": self.chash,
                    "direction": direction,
                    "partition_id": int(r["partition_id"]),
                    "rows": int(r["rows"]),
                }
                for r in counts
            ],
            "metrics_partitions",
            schema=schema,
        )

    def _audit(self, stage: str, dispositions: DataFrame) -> None:
        """One ledger row for a candidate tier's key dispositions
        (``lsh.candidate_pairs``): ``dropped`` is the row mass of the
        capped keys -- band rows, or documents per capped fingerprint --
        and the detail counts the capped and the salted keys."""
        disp = F.col("disposition")
        dropped, dropped_keys, salted_keys = dispositions.agg(
            F.coalesce(F.sum(F.when(disp == "dropped", F.col("n_rows"))), F.lit(0)),
            F.count(F.when(disp == "dropped", F.lit(1))),
            F.count(F.when(disp == "salted", F.lit(1))),
        ).collect()[0]
        self._log(
            stage, -1, -1, dropped=int(dropped),
            detail=f"dropped_keys={int(dropped_keys)},salted_keys={int(salted_keys)}",
        )

    def _lineage(self, stage: str, input_desc: str) -> None:
        schema = pa.schema(
            [
                ("run_id", pa.string()),
                ("stage", pa.string()),
                ("config_hash", pa.string()),
                ("input_snapshot", pa.string()),
            ]
        )
        self.catalog.append_rows(
            [
                {
                    "run_id": self.cfg.run_id,
                    "stage": stage,
                    "config_hash": self.chash,
                    "input_snapshot": input_desc,
                }
            ],
            "lineage",
            schema=schema,
        )

    def _stage(
        self,
        name: str,
        build,
        rows_in_df: DataFrame | None = None,
        bucket_col: str | None = None,
    ) -> DataFrame:
        """Run-or-resume one stage: if the checkpoint exists for this config
        hash, read it back; else build, persist, log.  With
        ``cfg.checkpoint_stages`` off, stage outputs stay as in-memory
        persists (one fused DAG, no durable-store I/O — the scaling-bench
        mode; resume is unavailable in that mode by construction).

        ``bucket_col`` (with ``cfg.bucketed_stores``) persists the stage
        hash-bucketed + sorted on that key, so downstream equi-joins on it
        skip the store-side exchange (tests/test_bucketing.py).  Resume
        order: bucketed table (same-session registration) -> plain path
        read (correct either way — bucket files are ordinary parquet)."""
        bucket_col = bucket_col if self.cfg.bucketed_stores else None

        def _rows_in() -> int:
            if rows_in_df is None:
                return -1
            known = self._known_counts.get(id(rows_in_df))
            return known if known is not None else rows_in_df.count()

        def _drain_scratch() -> None:
            for df in self._stage_scratch:
                df.unpersist()
            self._stage_scratch = []

        if not self.cfg.checkpoint_stages:
            out = build().persist()
            n_in = _rows_in()
            n_out = out.count()
            _drain_scratch()
            self._known_counts[id(out)] = n_out
            self._known_refs.append(out)
            self._log(name, n_in, n_out)
            self._lineage(name, input_desc=f"stage-input:{name}")
            self._maybe_log_partitions(name, rows_in_df, out)
            return out
        if bucket_col is not None and self.catalog.bucketed_exists(name, self.chash):
            out = self.catalog.read_bucketed(name, self.chash)
            self._log(name, -1, out.count(), detail="resumed-from-checkpoint")
            return out
        if self.catalog.exists(name, self.chash):
            out = self.catalog.read(name, self.chash)
            self._log(name, -1, out.count(), detail="resumed-from-checkpoint")
            # per-partition rows were written by the original run (keyed by
            # the same config hash) — not re-recorded on resume
            return out
        df = build()
        if bucket_col is not None:
            out = self.catalog.write_bucketed(
                df, name, self.chash, bucket_col,
                n_buckets=self.cfg.shuffle_partitions,
            )
        else:
            out = self.catalog.write(df, name, self.chash)
        _drain_scratch()
        n_in = _rows_in()
        n_out = out.count()
        self._known_counts[id(out)] = n_out
        self._known_refs.append(out)
        self._log(name, n_in, n_out)
        self._lineage(name, input_desc=f"stage-input:{name}")
        self._maybe_log_partitions(name, rows_in_df, out)
        return out

    def _maybe_log_partitions(
        self, name: str, rows_in_df: DataFrame | None, out: DataFrame
    ) -> None:
        if not self.cfg.per_partition_metrics:
            return
        if rows_in_df is not None:
            self._log_partitions(name, "in", rows_in_df)
        self._log_partitions(name, "out", out)

    # -- stages ---------------------------------------------------------------

    def run(self, clips: DataFrame) -> PipelineResult:
        """Pin the run's execution confs (restored after): AQE per
        ``cfg.adaptive_enabled`` (see the config rationale +
        measurements), and ``spark.sql.shuffle.partitions`` to
        ``cfg.shuffle_partitions`` so the config value actually governs
        the pipeline's shuffles regardless of the session default."""
        spark = self.spark
        pins = {
            "spark.sql.shuffle.partitions": str(self.cfg.shuffle_partitions),
        }
        if self.cfg.adaptive_enabled is not None:
            pins["spark.sql.adaptive.enabled"] = str(
                self.cfg.adaptive_enabled
            ).lower()
        prior = {k: spark.conf.get(k, None) for k in pins}
        for k, v in pins.items():
            spark.conf.set(k, v)
        try:
            return self._run(clips)
        finally:
            for k, v in prior.items():
                if v is not None:
                    spark.conf.set(k, v)
                else:
                    # a pre-run get of None means the conf was unset in
                    # this session — restore that, don't leak the pin
                    try:
                        spark.conf.unset(k)
                    except Exception:
                        pass

    def _run(self, clips: DataFrame) -> PipelineResult:
        cfg = self.cfg
        spark = self.spark

        # Stage 0: exact-duplicate canonicalization.  Byte-identical
        # transcripts are similarity 1.0 by the reference's quick answer
        # (base_algorithm.cpp:243-278) — no tokenization needed.  Grouping
        # them first (one shuffle on md5) shrinks every downstream stage;
        # members inherit their representative's cluster at the end.
        def build_groups():
            from pyspark.sql import Window

            if not cfg.exact_dedup_first:
                return clips.select(
                    "clip_id", F.col("clip_id").alias("rep_id")
                )
            w = Window.partitionBy(F.md5("transcript"))
            return clips.select(
                "clip_id", F.min("clip_id").over(w).alias("rep_id")
            )

        groups = self._stage("exact_groups", build_groups, clips)
        rep_ids = groups.filter(F.col("clip_id") == F.col("rep_id")).select("clip_id")
        rep_clips = clips.join(rep_ids, "clip_id", "left_semi")

        # Stage 1: shingle + signatures over representatives only.  Prune to
        # (clip_id, transcript) — the BLOB stays at rest.  One pass computes
        # tokens, minhash, simhash.
        def build_signatures():
            docs = rep_clips.select("clip_id", "transcript").withColumn(
                "tokens", _tokens_col(cfg)
            )
            sig = minhash.with_minhash(docs, "tokens", cfg)
            sig = simhash.with_simhash(sig, "tokens")
            # (n_distinct, n_total) make the set-space prefilter sound for
            # the multiset verify (see minhash.prefilter_candidates)
            n_distinct, n_total = minhash.token_stats_cols(F.col("tokens"))
            return sig.select(
                "clip_id", "minhash", "simhash",
                n_distinct.alias("n_distinct"), n_total.alias("n_total"),
            )

        signatures = self._stage(
            "signatures", build_signatures, rep_ids, bucket_col="clip_id"
        )

        # Stage 2: LSH band candidates (salted, capped-with-metrics), with
        # the signature-agreement prefilter FUSED into the stage: the raw
        # band join emits a quadratic noise mass on self-similar corpora
        # (46.7M pairs for 200k clips measured) and checkpointing it makes
        # the stage disk-bound — the write doesn't parallelize with cores.
        # Prefiltered pairs (multiset-Jaccard upper bound >= threshold,
        # multiset-sound — see minhash.prefilter_candidates) are what any
        # downstream consumer can use; the margin is logged, never silent.
        def build_lsh_pairs():
            bands = minhash.explode_bands(signatures, "clip_id", "minhash", cfg)
            pairs, dispositions = lsh.candidate_pairs(bands, cfg)
            self._audit("lsh_band_audit", dispositions)
            pairs = minhash.prefilter_candidates(pairs, signatures, cfg)
            self._log(
                "lsh_prefilter", -1, -1,
                detail=f"fused; margin={cfg.minhash_prefilter_margin}",
            )
            return pairs.withColumn("source", F.lit("minhash_lsh"))

        lsh_pairs = self._stage("lsh_candidates", build_lsh_pairs, signatures)

        # Stage 3: SimHash Hamming candidates.
        if cfg.simhash_enabled:
            def build_simhash_pairs():
                pairs, dispositions = simhash.simhash_candidates(
                    signatures.select("clip_id", "simhash"), cfg
                )
                self._audit("simhash_band_audit", dispositions)
                return pairs.select("id1", "id2").withColumn(
                    "source", F.lit("simhash")
                )

            sim_pairs = self._stage(
                "simhash_candidates", build_simhash_pairs, signatures
            )
        else:
            sim_pairs = empty_frame(spark, "id1 string, id2 string, source string")

        # Stage 4: containment (winnowed substring) candidates.
        if cfg.substring_enabled:
            def build_containment_pairs():
                pairs, dispositions = suffix.containment_candidates(
                    rep_clips.select("clip_id", "transcript"),
                    "clip_id",
                    "transcript",
                    min_len=cfg.substring_min_len,
                    fingerprint_cap=cfg.fingerprint_cap,
                )
                self._audit("containment_fp_audit", dispositions)
                return pairs.withColumn("source", F.lit("containment"))

            sub_pairs = self._stage("containment_candidates", build_containment_pairs, rep_ids)
        else:
            sub_pairs = empty_frame(spark, "id1 string, id2 string, source string")

        # Stage 5: verify — dedupe the union, prefilter, join transcripts
        # back, exact multiset-Jaccard JVM-side.  Each pair verified once.
        # The agreement prefilter re-runs over the union because simhash /
        # containment pairs haven't seen it.  The gate is multiset-sound:
        # it scales the set-space threshold by each pair's repetition bound
        # (J_multi <= min(m1,m2) * J_set, see minhash.prefilter_candidates),
        # so a pair it drops cannot pass the exact multiset verify — up to
        # MinHash estimator variance, which the margin covers (logged).
        def build_verified():
            cand_union = (
                lsh_pairs.unionByName(sim_pairs).unionByName(sub_pairs)
                .groupBy("id1", "id2")
                .agg(F.array_join(F.collect_set("source"), ",").alias("sources"))
            )
            # tag + one aggregation: the union, the prefilter joins, and
            # BOTH ledger counts materialize in a single job (two count
            # actions here were two full plan-walks at every level)
            tagged = minhash.prefilter_candidates(
                cand_union, signatures, cfg, tag_col="_keep"
            ).persist()
            self._stage_scratch.append(tagged)
            n_before, n_after = tagged.agg(
                F.count(F.lit(1)),
                F.coalesce(F.sum(F.col("_keep").cast("long")), F.lit(0)),
            ).collect()[0]
            cand = tagged.filter(F.col("_keep")).drop("_keep")
            self._log(
                "verify_prefilter", n_before, n_after,
                dropped=n_before - n_after,
                detail=f"margin={cfg.minhash_prefilter_margin}",
            )
            self._maybe_log_partitions("verify_prefilter", None, cand)
            docs = rep_clips.select(
                "clip_id", _tokens_col(cfg).alias("tokens")
            )
            # array-merge shape: prefiltered candidate sets are small
            # relative to docs x grams, so the shuffle-free sorted-array
            # merge beats the inverted-index join (which shuffles every
            # pair x gram row; see verify.py for measurements)
            passed = verify.verify_pairs_multiset_jaccard_arrays(
                cand, docs, "clip_id", "tokens", cfg.verify_threshold
            )
            return passed.join(cand.select("id1", "id2", "sources"), ["id1", "id2"])

        verified = self._stage("verified_pairs", build_verified)

        # Stage 6: connected components over representative pairs, then
        # every clip inherits its representative's cluster (exact-dup
        # groups with no near-dup links cluster on rep_id).
        def build_clusters():
            cc_fn = (
                connected_components_twostar
                if cfg.cc_algorithm == "twostar"
                else connected_components
            )
            comp = cc_fn(
                verified.select("id1", "id2"),
                max_iterations=cfg.cc_max_iterations,
                checkpoint_every=cfg.cc_checkpoint_every,
            ).withColumnRenamed("clip_id", "rep_id")
            return (
                groups.join(comp, "rep_id", "left")
                .select(
                    "clip_id",
                    F.coalesce("cluster_id", F.col("rep_id")).alias("cluster_id"),
                )
            )

        clusters = self._stage("clusters", build_clusters, verified)

        metrics = self.catalog.read_ledger(
            "metrics", schema=from_arrow_schema(_METRICS_SCHEMA)
        ).filter(
            (F.col("run_id") == cfg.run_id) & (F.col("config_hash") == self.chash)
        )
        return PipelineResult(clusters=clusters, verified_pairs=verified, metrics=metrics)
