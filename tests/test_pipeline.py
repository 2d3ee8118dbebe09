"""End-to-end pipeline: dup-pair recall >= 0.99 vs brute-force reference
kernels on the planted-cluster clips table (BASELINE.md target #1)."""

from __future__ import annotations

import itertools
import tempfile

import pytest

from text_similarity_node_spark.config import (
    Algorithm,
    AlgorithmConfig,
    PipelineConfig,
    Preprocessing,
)
from text_similarity_node_spark.functions.kernels import similarity
from text_similarity_node_spark.plans.pipeline import NearDupPipeline
from text_similarity_node_spark.sources.clips import ClipsSpec, generate_clips

N_CLIPS = 400
SPEC = ClipsSpec(n_clips=N_CLIPS, seed=42)
CFG = PipelineConfig(
    shingle_mode=Preprocessing.NGRAM,
    ngram_size=3,
    minhash_k=128,
    lsh_bands=32,
    lsh_rows=4,
    verify_threshold=0.8,
    hot_band_threshold=100,
    salt_buckets=4,
    run_id="test_run",
)


@pytest.fixture(scope="module")
def clips_pdf(spark):
    clips, truth = generate_clips(spark, SPEC)
    return clips.select("clip_id", "transcript").toPandas()


@pytest.fixture(scope="module")
def brute_force_pairs(clips_pdf):
    """Oracle: exact reference-kernel multiset-Jaccard on ALL pairs."""
    kcfg = AlgorithmConfig(
        algorithm=Algorithm.JACCARD,
        preprocessing=Preprocessing.NGRAM,
        ngram_size=CFG.ngram_size,
    )
    rows = list(clips_pdf.itertuples(index=False))
    out = set()
    for a, b in itertools.combinations(rows, 2):
        if similarity(a.transcript, b.transcript, kcfg) >= CFG.verify_threshold:
            i, j = sorted((a.clip_id, b.clip_id))
            out.add((i, j))
    return out


def _co_clustered_pairs(clusters: dict) -> set:
    by_cluster: dict = {}
    for cid, cluster in clusters.items():
        by_cluster.setdefault(cluster, []).append(cid)
    out = set()
    for members in by_cluster.values():
        members.sort()
        for i, j in itertools.combinations(members, 2):
            out.add((i, j))
    return out


def _oracle_clusters(pairs: set, all_ids) -> dict:
    """Reference cluster assignments: connected components of the
    brute-force >= threshold pair graph (union-find)."""
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return {i: find(i) for i in all_ids}


@pytest.fixture(scope="module")
def pipeline_result(spark):
    clips, truth = generate_clips(spark, SPEC)
    with tempfile.TemporaryDirectory() as wh:
        pipe = NearDupPipeline(spark, CFG, wh)
        res = pipe.run(clips)
        verified = {
            tuple(sorted((r.id1, r.id2))) for r in res.verified_pairs.collect()
        }
        clusters = {r.clip_id: r.cluster_id for r in res.clusters.collect()}
        metrics = res.metrics.collect()
    return verified, clusters, metrics


def test_recall_vs_brute_force(pipeline_result, brute_force_pairs, clips_pdf):
    """BASELINE.json metric: dup-pair recall vs reference cluster
    assignments — pairs co-clustered by the oracle (CC over brute-force
    exact-kernel pairs) must be co-clustered by the pipeline."""
    _, clusters, _ = pipeline_result
    assert brute_force_pairs, "oracle produced no dup pairs — generator broken"
    oracle = _oracle_clusters(brute_force_pairs, list(clips_pdf["clip_id"]))
    want = _co_clustered_pairs(oracle)
    got = _co_clustered_pairs(clusters)
    missed = want - got
    recall = 1 - len(missed) / len(want)
    assert recall >= 0.99, (
        f"recall {recall:.4f} < 0.99: missed {len(missed)}/{len(want)}"
        f" e.g. {sorted(missed)[:5]}"
    )


def test_precision_vs_brute_force(pipeline_result, brute_force_pairs, clips_pdf):
    """Pipeline edges are exact-verified (>= t) or byte-identical, so
    pipeline clusters can only refine-or-equal the oracle clusters: every
    co-clustered pipeline pair must be co-clustered by the oracle."""
    _, clusters, _ = pipeline_result
    oracle = _oracle_clusters(brute_force_pairs, list(clips_pdf["clip_id"]))
    want = _co_clustered_pairs(oracle)
    got = _co_clustered_pairs(clusters)
    false_pos = got - want
    assert not false_pos, f"false co-clusterings: {sorted(false_pos)[:5]}"


def test_clusters_cover_all_clips(pipeline_result):
    _, clusters, _ = pipeline_result
    assert len(clusters) == N_CLIPS
    # cluster representative is a member id (min-label CC)
    for cid, cluster in clusters.items():
        assert cluster <= cid or cluster in clusters


def test_verified_pairs_share_cluster(pipeline_result):
    verified, clusters, _ = pipeline_result
    for i, j in verified:
        assert clusters[i] == clusters[j], f"verified pair ({i},{j}) split"


def test_metrics_ledger_written(pipeline_result):
    _, _, metrics = pipeline_result
    stages = {m.stage for m in metrics}
    assert {"signatures", "lsh_candidates", "verified_pairs", "clusters"} <= stages
    # no silent caps: the band audit row exists
    assert any(m.stage == "lsh_band_audit" for m in metrics)


def test_simhash_band_cap_reaches_ledger(spark):
    """Six clips share one SimHash, so each of its four block keys holds
    six rows; with band_cap=3 the SimHash tier drops those keys and the
    drop reaches the ledger as a simhash_band_audit row."""
    rows = [(f"d{i}", "one transcript shared by every clip here") for i in range(6)]
    rows += [(f"u{i}", f"unrelated words number {i} for a cold key") for i in range(4)]
    clips = spark.createDataFrame(rows, "clip_id string, transcript string")
    cfg = PipelineConfig(
        exact_dedup_first=False, substring_enabled=False, band_cap=3,
        per_partition_metrics=False, run_id="simhash_cap",
    )
    with tempfile.TemporaryDirectory() as wh:
        metrics = {
            m.stage: m
            for m in NearDupPipeline(spark, cfg, wh).run(clips).metrics.collect()
        }
    audit = metrics["simhash_band_audit"]
    assert audit.dropped == 6 * 4, audit
    assert audit.detail.startswith("dropped_keys=4,"), audit


def test_pinned_rereads_match_inferred_schemas(spark):
    """Every checkpointed stage is re-read with the schema of the frame it
    wrote, and the final metrics read with the ledger's fixed schema; each
    must equal the schema Spark infers from the written files."""
    from text_similarity_node_spark.plans.pipeline import _METRICS_SCHEMA
    from pyspark.sql.pandas.types import from_arrow_schema

    rows = [(f"d{i}", f"a shared transcript with a small edit {i % 2}")
            for i in range(4)]
    rows += [(f"u{i}", f"unrelated words number {i} here") for i in range(4)]
    clips = spark.createDataFrame(rows, "clip_id string, transcript string")
    cfg = PipelineConfig(per_partition_metrics=False, run_id="pinned")
    with tempfile.TemporaryDirectory() as wh:
        pipe = NearDupPipeline(spark, cfg, wh)
        reread = {}
        write = pipe.catalog.write

        def recording_write(df, table, config_hash):
            reread[table] = out = write(df, table, config_hash)
            return out

        pipe.catalog.write = recording_write
        pipe.run(clips)
        assert {"exact_groups", "lsh_candidates", "simhash_candidates",
                "containment_candidates", "verified_pairs",
                "clusters"} <= set(reread)
        for table, out in reread.items():
            inferred = spark.read.parquet(pipe.catalog._path(table, pipe.chash))
            assert out.schema == inferred.schema, table
        pinned = pipe.catalog.read_ledger(
            "metrics", schema=from_arrow_schema(_METRICS_SCHEMA)
        )
        assert pinned.schema == pipe.catalog.read_ledger("metrics").schema


def test_twostar_cc_same_clusters(spark, pipeline_result):
    """cc_algorithm='twostar' is a drop-in: identical cluster assignments
    to the default hash-min on the same planted corpus."""
    import dataclasses

    clips, _ = generate_clips(spark, SPEC)
    cfg2 = dataclasses.replace(CFG, cc_algorithm="twostar", run_id="test_run_ts")
    with tempfile.TemporaryDirectory() as wh:
        res = NearDupPipeline(spark, cfg2, wh).run(clips)
        clusters2 = {r.clip_id: r.cluster_id for r in res.clusters.collect()}
    _, clusters, _ = pipeline_result
    assert clusters2 == clusters


def test_prefilter_disabled_margin_zero(spark, pipeline_result):
    """margin=0 documented as 'disables the filter' (config.py): the
    pipeline must run end-to-end (the tagging call site still gets its
    tag column) and produce the SAME verified pairs — the prefilter is
    sound, so disabling it only removes work, never answers."""
    import dataclasses

    clips, _ = generate_clips(spark, SPEC)
    cfg0 = dataclasses.replace(
        CFG, minhash_prefilter_margin=0.0, run_id="test_run_m0"
    )
    with tempfile.TemporaryDirectory() as wh:
        res = NearDupPipeline(spark, cfg0, wh).run(clips)
        verified0 = {
            tuple(sorted((r.id1, r.id2))) for r in res.verified_pairs.collect()
        }
        metrics = res.metrics.collect()
    verified, _, _ = pipeline_result
    assert verified0 == verified
    # the disabled filter drops nothing, visibly
    pf = [m for m in metrics if m.stage == "verify_prefilter"]
    assert pf and pf[0].dropped == 0


def test_containment_tier_rescues_lsh_misses(spark):
    """Tier complementarity, end-to-end: with a deliberately lossy band
    plan (b=5, r=24 — S-curve candidate recall ~0.75 at set-J~0.93, the
    cheap-join/lossy-recall corner of the b*r trade), minhash-only MUST
    miss some true pairs, and the containment tier (winnowed
    fingerprints over the pairs' long shared tails) must restore them —
    batch and stream alike.  This pins WHY the pipeline unions three
    candidate generators: the verify threshold alone cannot recover a
    pair no generator surfaced."""
    import dataclasses
    import random

    from text_similarity_node_spark.streaming.incremental import (
        IncrementalDedup,
    )

    rng = random.Random(11)
    vocab = [f"{a}{b}{c}" for a in "bcdfgh" for b in "aeiou" for c in "klmnpr"]
    rows = []
    truth = set()
    for p in range(30):
        base = [rng.choice(vocab) for _ in range(60)]
        # mutate 4 of the first 20 words: trigram multiset J ~0.85-0.93,
        # set-J ~0.93 (what the bands see), and the untouched >=280-char
        # tail guarantees shared winnowing fingerprints (>= min_len +
        # window - 1 = 47-char exact overlap)
        head = list(base[:20])
        for i in rng.sample(range(20), 4):
            head[i] = rng.choice(vocab)
        a_id, b_id = f"p{p:03d}_a", f"p{p:03d}_b"
        rows.append((a_id, " ".join(base)))
        rows.append((b_id, " ".join(head + base[20:])))
        truth.add((a_id, b_id))
    for i in range(30):  # background noise
        rows.append((f"n{i:03d}", " ".join(rng.choice(vocab) for _ in range(55))))
    rows.sort()
    clips = spark.createDataFrame(rows, "clip_id string, transcript string")

    lossy = PipelineConfig(
        minhash_k=120, lsh_bands=5, lsh_rows=24,
        verify_threshold=0.8, exact_dedup_first=False,
        simhash_enabled=False, substring_enabled=False,
        fingerprint_cap=10**9, run_id="lossy_mh",
    )
    with tempfile.TemporaryDirectory() as wh:
        mh_only = {
            tuple(sorted((r.id1, r.id2)))
            for r in NearDupPipeline(spark, lossy, wh).run(clips)
            .verified_pairs.collect()
        }
    rescued_cfg = dataclasses.replace(
        lossy, substring_enabled=True, run_id="lossy_rescued"
    )
    with tempfile.TemporaryDirectory() as wh:
        with_cont = {
            tuple(sorted((r.id1, r.id2)))
            for r in NearDupPipeline(spark, rescued_cfg, wh).run(clips)
            .verified_pairs.collect()
        }
    missed = truth - mh_only
    assert missed, (
        "lossy banding missed nothing — the complementarity scenario "
        "did not materialize (seed drift?)"
    )
    assert truth <= with_cont, sorted(truth - with_cont)[:3]
    assert missed <= with_cont

    # the SIMHASH tier independently rescues the same misses when its
    # radius is sized to the perturbation: cosine ~0.96 between the
    # planted frequency vectors puts E[hamming] ~6 bits on the 64-bit
    # sketch, so the default radius 3 is too tight for THESE pairs
    # (that's what containment is for) but radius 12 (standard
    # pigeonhole, 13 blocks) covers the distribution's tail
    simhash_cfg = dataclasses.replace(
        lossy, simhash_enabled=True, hamming_radius=12,
        run_id="lossy_simhash"
    )
    with tempfile.TemporaryDirectory() as wh:
        with_sim = {
            tuple(sorted((r.id1, r.id2)))
            for r in NearDupPipeline(spark, simhash_cfg, wh).run(clips)
            .verified_pairs.collect()
        }
    assert truth <= with_sim, sorted(truth - with_sim)[:3]

    # the stream reproduces the rescue through its fps history store:
    # split so every pair's _b doc arrives a batch after its _a doc
    with tempfile.TemporaryDirectory() as state:
        sink = IncrementalDedup(spark, rescued_cfg, state)
        thirds = [rows[:40], rows[40:80], rows[80:]]
        for b, chunk in enumerate(thirds):
            sink.process_batch(
                spark.createDataFrame(chunk, "clip_id string, transcript string"), b
            )
        stream_pairs = {
            tuple(sorted((r.id1, r.id2)))
            for r in sink.verified_pairs().select("id1", "id2").collect()
        }
    assert stream_pairs == with_cont
