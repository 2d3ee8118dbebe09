"""Run configuration for the engine.

Two dataclasses:

* :class:`AlgorithmConfig` — mirrors the reference's per-call kernel config
  (``/root/reference/src/core/types.hpp:47-61``): algorithm, preprocessing
  mode, case sensitivity, ngram size plus the optional algorithm-specific
  knobs (threshold, alpha/beta, prefix weight/length, max string length).
* :class:`PipelineConfig` — the *frozen* whole-run configuration for the
  distributed near-duplicate pipeline.  The reference mutates a global config
  behind a shared mutex (``src/engine/similarity_engine.cpp:363-371``); in a
  distributed engine a mutable global is a hazard, so one immutable config is
  created per run, hashed (for lineage / resume keying), and broadcast to
  executors by closure capture.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass
from enum import Enum
from typing import Optional

DEFAULT_MAX_STRING_LENGTH = 100_000  # bytes, src/engine/similarity_engine.cpp:560-576


class Algorithm(str, Enum):
    """AlgorithmType 0-12, src/core/types.hpp:15-29."""

    LEVENSHTEIN = "levenshtein"
    DAMERAU_LEVENSHTEIN = "damerau_levenshtein"
    HAMMING = "hamming"
    JARO = "jaro"
    JARO_WINKLER = "jaro_winkler"
    JACCARD = "jaccard"
    SORENSEN_DICE = "sorensen_dice"
    OVERLAP = "overlap"
    TVERSKY = "tversky"
    COSINE = "cosine"
    EUCLIDEAN = "euclidean"
    MANHATTAN = "manhattan"
    CHEBYSHEV = "chebyshev"


# numeric ids match the reference enum order (src/core/types.hpp:15-29)
ALGORITHM_IDS = {a: i for i, a in enumerate(Algorithm)}


class Preprocessing(str, Enum):
    """PreprocessingMode, src/core/types.hpp:31-36."""

    NONE = "none"
    CHARACTER = "character"
    WORD = "word"
    NGRAM = "ngram"


@dataclass(frozen=True)
class AlgorithmConfig:
    """Kernel configuration (src/core/types.hpp:47-61 defaults)."""

    algorithm: Algorithm = Algorithm.LEVENSHTEIN
    preprocessing: Preprocessing = Preprocessing.CHARACTER
    case_sensitive: bool = True
    ngram_size: int = 2
    threshold: Optional[float] = None  # Levenshtein early-exit / JW boost gate
    alpha: Optional[float] = None  # Tversky
    beta: Optional[float] = None  # Tversky
    prefix_weight: Optional[float] = None  # Jaro-Winkler
    prefix_length: Optional[int] = None  # Jaro-Winkler
    max_string_length: int = DEFAULT_MAX_STRING_LENGTH

    def validate(self) -> None:
        """Mirror BaseAlgorithm::validate_configuration
        (src/algorithms/base_algorithm.cpp:205-240)."""
        if self.ngram_size <= 0:
            raise ValueError("ngram_size must be >= 1")
        if self.algorithm == Algorithm.TVERSKY:
            if self.alpha is None or self.beta is None:
                raise ValueError("Tversky algorithm requires alpha and beta parameters")
            if self.alpha < 0.0 or self.beta < 0.0:
                raise ValueError("Tversky alpha/beta must be >= 0")
        if self.algorithm == Algorithm.JARO_WINKLER:
            if self.prefix_weight is not None and not (0.0 <= self.prefix_weight <= 0.25):
                raise ValueError("prefix_weight must be in [0, 0.25]")
            if self.prefix_length is not None and self.prefix_length > 4:
                raise ValueError("prefix_length must be <= 4")
        if self.threshold is not None and self.threshold < 0.0:
            raise ValueError("threshold must be >= 0")


@dataclass(frozen=True)
class PipelineConfig:
    """Whole-run config for the near-duplicate pipeline.

    ``shingle_mode``/``ngram_size`` feed the reference tokenizer semantics
    (SURVEY.md §2.2; shingles are case-sensitive); the rest parameterize the
    scale machinery the reference lacks.  Every field is honoured by the
    pipeline.
    """

    # shingling (reference tokenizer semantics)
    shingle_mode: Preprocessing = Preprocessing.NGRAM
    ngram_size: int = 3

    # MinHash / LSH.  Default b=25/r=5: collision P at the J=0.8 verify
    # threshold is 1-(1-0.8^5)^25 = 0.9998 (recall margin), while the
    # high-baseline-similarity regime (random pairs at set-J~0.35-0.5 in
    # small-vocab corpora) collides ~3x less than b=32/r=4 — measured 15.1M
    # spurious candidates from 8.9k docs before this tuning.
    minhash_k: int = 125
    lsh_bands: int = 25
    lsh_rows: int = 5
    minhash_seed: int = 42
    # Candidate prefilter: drop pairs whose PROVABLE multiset-Jaccard
    # upper bound M/(T1+T2-M) (M = estimated common-distinct count +
    # min(T-s); see minhash.prefilter_candidates) is below
    # verify_threshold.  On repeat-free docs this is exactly the set-J
    # gate; repetition loosens it only as much as soundness requires.
    # The margin covers MinHash estimator noise on the common-count
    # estimate (sigma = sqrt(J(1-J)/k) ~= 0.04 at k=125; 0.25 is ~5.5
    # sigma) — pairs killed here cannot pass the exact multiset verify;
    # 0 disables the filter.
    minhash_prefilter_margin: float = 0.25
    # Exact-duplicate canonicalization: group byte-identical transcripts
    # before candidate generation (identical strings are similarity 1.0 by
    # the reference's quick answer — no tokenization needed).
    exact_dedup_first: bool = True

    # SimHash / Hamming banding.  ``simhash_enabled`` turns the whole
    # pass off (batch and stream alike) — for corpora where the band pass
    # alone carries recall.
    simhash_enabled: bool = True
    hamming_radius: int = 3

    # verification: exact multiset Jaccard (reference NGRAM semantics)
    verify_threshold: float = 0.8

    # skew handling
    hot_band_threshold: int = 2_000  # rows sharing one (band, hash) key
    salt_buckets: int = 16
    band_cap: int = 50_000  # hard cap per band key; overflows logged, never silent

    # substring/containment pass
    substring_min_len: int = 32
    substring_enabled: bool = True
    # fingerprints shared by more than this many docs are dropped (with
    # metrics, never silently) — boilerplate disposition; see
    # operators/suffix.containment_candidates
    fingerprint_cap: int = 64

    # connected components
    cc_max_iterations: int = 50
    cc_checkpoint_every: int = 1
    # "hashmin" (O(diameter) rounds; cheapest per round — dup clusters are
    # usually dense + shallow) or "twostar" (Kiveris alternating
    # large/small-star; O(log^2 n) rounds regardless of shape — pick when
    # the dup graph may carry long drift chains).
    cc_algorithm: str = "hashmin"

    # execution
    shuffle_partitions: int = 32
    # Durable per-stage checkpoints (parquet/Iceberg tables keyed by config
    # hash) give resume + lineage; False keeps intermediates as in-memory
    # persist() only — one fused DAG, no checkpoint I/O.  On a cluster the
    # checkpoint store scales with executors; in the single-disk sandbox it
    # serializes, so the scaling bench disables it at BOTH levels.
    checkpoint_stages: bool = True
    # Per-partition rows-in/rows-out ledger rows for every stage (the
    # north rule's per-partition lineage/metrics).  One extra count-by-
    # partition job per stage side (~sub-second on checkpointed output);
    # the latency-calibrated scaling bench turns it off along with
    # checkpoint_stages.
    per_partition_metrics: bool = True
    # Persist keyed stage outputs (the signature store) as BUCKETED tables
    # (hash-bucketed + sorted on the key, ParquetCatalog.write_bucketed):
    # every downstream equi-join on the key — the two signature-agreement
    # prefilter attaches per run — skips the store-side shuffle exchange.
    # Execution-only (same rows either way, excluded from config_hash);
    # a plain-parquet checkpoint from an earlier run still resumes (the
    # catalog falls back to the path read, losing only the co-location).
    bucketed_stores: bool = True
    # Adaptive Query Execution for the pipeline's own queries.  Every
    # join in this plan is already a deterministic equi-join with
    # explicit skew disposition (salted triangle bands, metered caps),
    # so AQE's contribution here is re-optimizing each materialized
    # query stage — single-threaded driver work between stages that is
    # identical at every parallelism level.  Measured on the 200k-clip
    # scaling corpus at local[8]: 115.9 s with AQE vs 93.2 s without
    # (the CC loop alone 10.0 -> 2.9 s — one re-plan per iteration).
    # None = leave the session's setting untouched; True/False pins the
    # conf for the run and restores it after.  Production deployments
    # with non-salted ad-hoc queries in the same session should keep
    # their session default on.
    adaptive_enabled: bool | None = None

    run_id: str = "run0"

    def __post_init__(self) -> None:
        if self.minhash_k != self.lsh_bands * self.lsh_rows:
            raise ValueError(
                f"minhash_k ({self.minhash_k}) must equal "
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows})"
            )

    def config_hash(self) -> str:
        """Stable hash of everything that affects results (not run_id);
        keys lineage + resume: a stage output is reusable iff its config
        hash matches."""
        payload = asdict(self)
        payload.pop("run_id")
        # execution-only knobs don't change results
        payload.pop("checkpoint_stages", None)
        payload.pop("shuffle_partitions", None)
        payload.pop("per_partition_metrics", None)
        payload.pop("bucketed_stores", None)
        payload.pop("adaptive_enabled", None)
        blob = json.dumps(payload, sort_keys=True, default=str).encode()
        return hashlib.sha256(blob).hexdigest()[:16]
