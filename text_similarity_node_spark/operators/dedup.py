"""Deduplication compositions for training-data pipelines.

Thin, documented compositions of the engine's primitives into the shapes a
corpus pipeline actually calls:

* exact_dedup           — hash-groupBy on content (one shuffle on md5)
* neardup_dedup         — MinHash/LSH + exact verify + CC -> keep/drop
* embedding_neardup     — RHP-bucketed cosine near-dup over embeddings
* semantic_dedup        — SemDeDup: k-means-cluster-scoped cosine dedup
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions import columns as C
from ..operators import lsh, minhash, verify
from ..operators.components import connected_components


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Returns df + (is_duplicate, canonical_id): one row per input, the
    lexicographically-minimal id of each identical-content group marked
    canonical.  Scale: a single shuffle on the content hash; content itself
    is never compared pairwise."""
    h = F.md5(F.col(content_col))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("canonical_id", F.first(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


def neardup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: PipelineConfig,
) -> DataFrame:
    """MinHash/LSH candidates -> exact multiset-Jaccard verify -> connected
    components -> per-row keep/drop (cluster minimum kept).  The in-memory
    sibling of plans/pipeline.py for callers that don't need checkpoints."""
    docs = df.select(
        F.col(id_col).alias("rid"),
        C.char_ngrams(F.col(text_col), cfg.ngram_size).alias("tokens"),
    )
    sig = minhash.with_minhash(docs, "tokens", cfg)
    bands = minhash.explode_bands(sig, "rid", "minhash", cfg)
    pairs, _ = lsh.candidate_pairs(bands, cfg, id_col="rid")
    verified = verify.verify_pairs_multiset_jaccard_arrays(
        pairs, docs, "rid", "tokens", cfg.verify_threshold
    ).select("id1", "id2")
    comp = connected_components(
        verified, max_iterations=cfg.cc_max_iterations
    ).withColumnRenamed("clip_id", "_cc_id")
    return (
        df.join(comp, df[id_col] == F.col("_cc_id"), "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", df[id_col]))
        .withColumn("is_duplicate", df[id_col] != F.col("cluster_id"))
        .drop("_cc_id")
    )


def multimodal_neardup(
    clips: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "clip_id",
    text_col: str = "transcript",
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
    snr_threshold_db: float = 20.0,
    audio_fp_kwargs: dict | None = None,
) -> DataFrame:
    """Cross-modal near-dup clustering: a pair is an edge if EITHER its
    transcripts pass the exact multiset-Jaccard verify (MinHash/LSH
    candidates) OR its waveforms pass the exact SNR verify (spectral-
    landmark candidates).  The union is what a real ingest pipeline
    needs: re-transcribed or transcription-corrupted copies of the same
    recording are invisible to the text path and caught by the audio
    path, and text-only duplicates (same words, different speakers) are
    invisible to the audio path — connected components over the union
    clusters both.  Returns clips + (cluster_id, is_duplicate); each
    edge's modality provenance is in the intermediate union (via
    collect_set, one row per pair).  Scale shape: the two candidate
    paths share the
    column-pruning discipline (BLOB only enters the audio UDF stage and
    the SNR verify of candidate pairs; transcripts only the shingle
    stage); the edge union is a plain distinct."""
    from .audio_fp import audio_neardup

    docs = clips.select(
        F.col(id_col).alias("rid"),
        C.char_ngrams(F.col(text_col), cfg.ngram_size).alias("tokens"),
    )
    sig = minhash.with_minhash(docs, "tokens", cfg)
    bands = minhash.explode_bands(sig, "rid", "minhash", cfg)
    pairs, _ = lsh.candidate_pairs(bands, cfg, id_col="rid")
    text_edges = verify.verify_pairs_multiset_jaccard_arrays(
        pairs, docs, "rid", "tokens", cfg.verify_threshold
    ).select("id1", "id2", F.lit("text").alias("via"))

    audio_edges = audio_neardup(
        clips, id_col, bytes_col, sr_col,
        snr_threshold_db=snr_threshold_db,
        **(audio_fp_kwargs or {}),
    ).select("id1", "id2", F.lit("audio").alias("via"))

    edges = (
        text_edges.unionByName(audio_edges)
        .groupBy("id1", "id2")
        .agg(F.array_join(F.collect_set("via"), ",").alias("matched_via"))
    )
    comp = connected_components(
        edges.select("id1", "id2"), max_iterations=cfg.cc_max_iterations
    ).withColumnRenamed("clip_id", "_cc_id")
    return (
        clips.join(comp, clips[id_col] == F.col("_cc_id"), "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", clips[id_col]))
        .withColumn("is_duplicate", clips[id_col] != F.col("cluster_id"))
        .drop("_cc_id")
    )


def embedding_neardup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.98,
    n_bits: int = 8,
    seed: int = 42,
    hot_bucket_threshold: int = 5_000,
    salt_buckets: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: RHP bucket join (1-bit multiprobe)
    + exact cosine filter.  Returns (id1, id2, cos_sim).

    Skew: an RHP bucket holding m vectors yields O(m * m_probe) join rows
    in one reducer (embedding clusters — e.g. boilerplate pages or silence
    clips — concentrate mass in few buckets).  Buckets whose true-bucket
    occupancy exceeds ``hot_bucket_threshold`` take the same salted
    triangle join as the LSH band stage (operators/lsh.py): the exact side
    keeps a deterministic salt in [0, g), the probe side replicates to
    every salt block, so every colliding pair still meets exactly once
    while no reducer sees more than ~1/g of a hot bucket."""
    from ..operators.ann import rhp_bucket_udf

    bucket = rhp_bucket_udf(dim, n_bits, seed)
    v = df.select(
        F.col(id_col).alias("rid"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("bucket", bucket(F.col("v")))
    v = v.persist()  # consumed by counts + both join sides (GC-cleaned)
    probes = v.withColumn(
        "pbucket",
        F.explode(
            F.array(F.col("bucket"), *[
                F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)
            ])
        ),
    )
    # hot-key set from true-bucket occupancy (the skew driver on both join
    # sides); tiny — one row per hot bucket — so it broadcasts
    hot = (
        v.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_bucket_threshold)
        .select("bucket", F.lit(salt_buckets).alias("_g"))
    )
    left = (
        v.join(F.broadcast(hot), "bucket", "left")
        .withColumn("_gk", F.coalesce("_g", F.lit(1)))
        .withColumn("salt", F.pmod(F.xxhash64(F.col("rid")), F.col("_gk")).cast("int"))
        .select("rid", "v", "bucket", "salt")
    )
    right = (
        probes.join(
            F.broadcast(hot.withColumnRenamed("bucket", "pbucket")), "pbucket", "left"
        )
        .withColumn("_gk", F.coalesce("_g", F.lit(1)))
        .withColumn("salt_j", F.explode(F.sequence(F.lit(0), F.col("_gk") - 1)))
        .select("rid", "v", "pbucket", "salt_j")
    )
    a, b = left.alias("a"), right.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.pbucket"))
        & (F.col("a.salt") == F.col("b.salt_j"))
        & (F.col("a.rid") < F.col("b.rid")),
    ).select(
        F.col("a.rid").alias("id1"),
        F.col("b.rid").alias("id2"),
        C.cosine_sim_vec(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
    ).dropDuplicates(["id1", "id2"])
    return pairs.filter(F.col("cos_sim") >= threshold)

def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.98,
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    hot_list_threshold: int = 50_000,
    salt_buckets: int = 8,
    centroids=None,
    max_iterations: int = 50,
    keep: str = "min_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster embeddings with the IVF coarse
    quantizer (sampled spherical k-means, operators/ann.py), generate
    candidate pairs only WITHIN clusters, exact-cosine verify at
    ``threshold``, connected components, and emit ``(id, rep_id)`` for
    every member of a duplicate component (singletons are not emitted,
    matching connected_components' contract).

    ``keep`` selects the representative of each component:

    * ``"min_id"`` (default) — the minimum member id; deterministic,
      content-independent, the stable choice for resumable pipelines.
    * ``"low_centroid_sim"`` — the member LEAST similar to its home
      centroid (the SemDeDup paper's keep policy: within a dup group the
      most atypical member preserves the most diversity in the retained
      corpus); ties break on min id.  One extra window over the labeled
      members — no new shuffle key.

    Boundary recall: cluster assignment is many-to-one, so a near-dup pair
    straddling a centroid boundary would be invisible to a pure
    top-1-per-side scheme.  Here the probe side expands to its ``nprobe``
    nearest lists and the join covers BOTH directions (x's home list in
    y's probes OR y's home in x's probes), so a pair is missed only if
    neither endpoint ranks the other's home centroid in its top
    ``nprobe`` — vanishingly unlikely at dedup-grade thresholds where the
    two vectors are nearly collinear.  q60's driver oracle checks the
    assignment output exactly on a planted corpus.

    Scale shape (the reason this beats all-pairs at 100 TB): candidates
    come from a per-list equi-join — expected list occupancy N/n_lists,
    so candidate volume is ~N^2 * nprobe / n_lists instead of N^2; n_lists
    grows with corpus size (FAISS convention ~sqrt(N)) keeping lists
    bounded.  Skew: a degenerate list (embedding mass collapsing onto one
    centroid — boilerplate pages, silence clips) takes the same salted
    triangle join as the LSH band stage; occupancy is counted on the home
    assignment (the quadratic driver), hot lists broadcast.  The vector
    payload rides the join only to feed the exact-cosine verify; at
    production dim sizes, project (id, list_id) through the join and
    re-attach vectors to the (much smaller) candidate set instead."""
    from ..operators.ann import ivf_assign_udf, train_ivf_centroids

    if centroids is None:
        centroids = train_ivf_centroids(
            df, id_col, vec_col, n_lists, seed=seed
        )
    assign1 = ivf_assign_udf(centroids, nprobe=1)
    assignp = ivf_assign_udf(centroids, nprobe=nprobe)
    v = df.select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("list_id", F.element_at(assign1(F.col("v")), 1))
    v = v.persist()  # counts + exact side + probe side (GC-cleaned)
    probes = v.select(
        "rid", "v", F.explode(assignp(F.col("v"))).alias("plist")
    )
    hot = (
        v.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_list_threshold)
        .select("list_id", F.lit(salt_buckets).alias("_g"))
    )
    left = (
        v.join(F.broadcast(hot), "list_id", "left")
        .withColumn("_gk", F.coalesce("_g", F.lit(1)))
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col("rid")), F.col("_gk")).cast("int")
        )
        .select("rid", "v", "list_id", "salt")
    )
    right = (
        probes.join(
            F.broadcast(hot.withColumnRenamed("list_id", "plist")),
            "plist", "left",
        )
        .withColumn("_gk", F.coalesce("_g", F.lit(1)))
        .withColumn("salt_j", F.explode(F.sequence(F.lit(0), F.col("_gk") - 1)))
        .select("rid", "v", "plist", "salt_j")
    )
    from ..operators.ann import cosine_pairs_udf

    a, b = left.alias("a"), right.alias("b")
    # both directions (home-in-probes is not symmetric), normalized + deduped.
    # Verify kernel: the Arrow-vectorized cosine (measured 3.5x over the
    # interpreted JVM aggregate at candidate-mass scale); the output here
    # is a thresholded pair set, so the O(ulp) summation-order difference
    # vs the JVM fold is immaterial (see cosine_pairs_udf).
    pairs = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.plist"))
            & (F.col("a.salt") == F.col("b.salt_j"))
            & (F.col("a.rid") != F.col("b.rid")),
        )
        .select(
            F.least(F.col("a.rid"), F.col("b.rid")).alias("id1"),
            F.greatest(F.col("a.rid"), F.col("b.rid")).alias("id2"),
            cosine_pairs_udf()(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
        )
        .dropDuplicates(["id1", "id2"])
        .filter(F.col("cos_sim") >= threshold)
    )
    labels = connected_components(
        pairs.select("id1", "id2"), max_iterations=max_iterations
    ).select(
        F.col("clip_id").alias("rid"), F.col("cluster_id").alias("_cc")
    )
    if keep == "min_id":
        # connected_components' label IS the min member id
        return labels.select(
            F.col("rid").alias(id_col), F.col("_cc").alias("rep_id")
        )
    if keep != "low_centroid_sim":
        raise ValueError(f"unknown keep policy: {keep!r}")
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("double")
    def _home_sim(vs, lists):  # cosine to the HOME centroid
        import pandas as pd

        out = []
        for vec, li in zip(vs, lists):
            x = np.asarray(vec, dtype=np.float64)
            n = np.linalg.norm(x)
            out.append(float(cents[int(li)] @ x / n) if n > 0 else 0.0)
        return pd.Series(out)

    member = labels.join(v.select("rid", "v", "list_id"), "rid").withColumn(
        "_sim", _home_sim(F.col("v"), F.col("list_id"))
    )
    w = Window.partitionBy("_cc").orderBy(F.asc("_sim"), F.asc("rid"))
    reps = (
        member.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("_cc"), F.col("rid").alias("rep_id"))
    )
    return member.join(reps, "_cc").select(
        F.col("rid").alias(id_col), "rep_id"
    )


def crossmodal_disagreement(
    clips: DataFrame,
    id_col: str = "clip_id",
    text_col: str = "transcript",
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
    min_matches: int = 1,
    **audio_fp_kwargs,
) -> DataFrame:
    """Cross-modal edge DIFF — the decision layer over (clip, transcript)
    pairs that multimodal_neardup's edge UNION deliberately flattens:

    - audio-dup AND transcript-equal  -> ``full_dup``            (collapse)
    - audio-dup, transcripts differ   -> ``transcript_conflict`` (same
      recording re-transcribed: keep ONE clip, arbitrate the transcript —
      the q97 keep-policy input)
    - transcript-equal, audio differs -> ``re_read``             (same
      words, different recording: a legitimate independent performance —
      do NOT collapse; deduping on text alone would destroy it)

    Audio identity comes from the spectral-landmark fingerprint join
    (audio_fp.audio_fingerprint_pairs); transcript identity is EXACT
    equality via an md5(transcript) equi-join — the input_hint's own
    per-row invariant ("transcript equality"), one q05-shaped shuffle of
    a 32-char key.  Returns (id1, id2, audio_dup, text_dup, verdict),
    one row per pair holding at least one edge.  Scale: both edge sets
    come from bucketed equi-joins (landmark hash / md5 key); the BLOB
    never shuffles; the final full-outer join keys on (id1, id2) —
    skinny int pairs."""
    from .audio_fp import audio_fingerprint_pairs

    audio_e = audio_fingerprint_pairs(
        clips, id_col, bytes_col, sr_col,
        min_matches=min_matches, **audio_fp_kwargs,
    ).select("id1", "id2", F.lit(True).alias("audio_dup"))

    t = clips.select(
        F.col(id_col).alias("rid"), F.md5(F.col(text_col)).alias("tkey")
    )
    a, b = t.alias("a"), t.alias("b")
    text_e = (
        a.join(
            b,
            (F.col("a.tkey") == F.col("b.tkey"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .select(
            F.col("a.rid").alias("id1"),
            F.col("b.rid").alias("id2"),
            F.lit(True).alias("text_dup"),
        )
    )
    return (
        audio_e.join(text_e, ["id1", "id2"], "full_outer")
        .select(
            "id1",
            "id2",
            F.coalesce("audio_dup", F.lit(False)).alias("audio_dup"),
            F.coalesce("text_dup", F.lit(False)).alias("text_dup"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("audio_dup") & F.col("text_dup"), "full_dup")
            .when(F.col("audio_dup"), "transcript_conflict")
            .otherwise("re_read"),
        )
    )
