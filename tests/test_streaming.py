"""Incremental streaming dedup: two file-arrival batches; pairs found both
within a batch and across batches against the signature store."""

from __future__ import annotations

import os
import tempfile

import pytest

from text_similarity_node_spark.config import PipelineConfig
from text_similarity_node_spark.streaming.incremental import IncrementalDedup

SCHEMA = "clip_id string, transcript string"


@pytest.fixture()
def dirs():
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "incoming")
        state = os.path.join(d, "state")
        ckpt = os.path.join(d, "ckpt")
        os.makedirs(src)
        yield src, state, ckpt


def _write_batch(spark, src, rows, name):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, name)
    )


def test_incremental_dedup_across_batches(spark, dirs):
    src, state, ckpt = dirs
    cfg = PipelineConfig(verify_threshold=0.8, run_id="stream_test")
    dedup = IncrementalDedup(spark, cfg, state)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    # batch 1: one dup pair inside the batch
    _write_batch(
        spark, src,
        [("c1", base), ("c2", base + "!"), ("c3", "completely different words here")],
        "b1",
    )
    q = dedup.start(src + "/*", SCHEMA, ckpt)
    q.awaitTermination(120)

    pairs1 = {(r.id1, r.id2) for r in dedup.verified_pairs().collect()}
    assert ("c1", "c2") in pairs1
    assert not any("c3" in p for p in pairs1)

    # batch 2: a dup of historical c1 plus a new unique
    _write_batch(
        spark, src,
        [("c4", base + " extra"), ("c5", "nothing matches this transcript at all")],
        "b2",
    )
    q = dedup.start(src + "/*", SCHEMA, ckpt)
    q.awaitTermination(120)

    pairs2 = {(r.id1, r.id2) for r in dedup.verified_pairs().collect()}
    assert ("c1", "c4") in pairs2  # cross-batch match via the band store
    assert ("c1", "c2") in pairs2  # batch-1 output retained
    assert not any("c5" in p for p in pairs2)


def test_batch_time_flat_as_history_grows(spark, dirs):
    """Guard against O(history) per-batch cost: a small batch processed
    against a 17x-larger history must not cost materially more than the
    same-size batch processed against near-empty history.  (The docs store
    is read via candidate-id pushdown and the band store is probed with a
    broadcast of the new side, so per-batch work tracks batch+candidates,
    not history.)"""
    import time

    import random

    src, state, ckpt = dirs
    cfg = PipelineConfig(verify_threshold=0.8, run_id="stream_growth")
    dedup = IncrementalDedup(spark, cfg, state)

    vocab = [f"w{v}" for v in range(4000)]

    def clips(start, n, tag):
        # genuinely distinct documents (independent 12-word samples from a
        # 4000-word vocab): near-zero cross-doc similarity, so candidate
        # count stays ~0 and the measurement isolates history-size cost
        # rather than LSH noise
        out = []
        for i in range(start, start + n):
            rng = random.Random(f"{tag}{i}")
            out.append((f"{tag}{i}", " ".join(rng.sample(vocab, 12))))
        return out

    def run_once(rows, name):
        _write_batch(spark, src, rows, name)
        t0 = time.time()
        q = dedup.start(src + "/*", SCHEMA, ckpt)
        q.awaitTermination(300)
        return time.time() - t0

    t_small_hist = run_once(clips(0, 300, "a"), "g1")      # history: empty
    run_once(clips(0, 5000, "h"), "g2")                     # build history
    # best-of-2 against the grown history: this is a wall-clock guard on a
    # shared box (the full suite runs parallel Spark sessions), so a single
    # sample can catch an ambient stall; the min isolates the plan cost
    t_big_hist = min(
        run_once(clips(0, 300, "z"), "g3"),                 # history: 5300
        run_once(clips(0, 300, "y"), "g4"),                 # history: 5600
    )
    # linear-in-history cost would make these batches ~17x the first's
    # data cost; allow generous fixed-overhead slack
    assert t_big_hist < 2.0 * t_small_hist + 5.0, (
        f"batch time grew with history: {t_small_hist:.1f}s -> "
        f"{t_big_hist:.1f}s"
    )


def test_compaction_preserves_results_and_bounds_files(spark, dirs):
    """compact_stores shrinks the stores' file counts without changing
    subsequent dedup results."""
    import glob

    src, state, ckpt = dirs
    cfg = PipelineConfig(verify_threshold=0.8, run_id="stream_compact")
    dedup = IncrementalDedup(spark, cfg, state)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    for i, name in enumerate(["k1", "k2", "k3"]):
        _write_batch(
            spark, src,
            [(f"x{i}", f"totally unrelated words number {i} here we go now"),
             (f"y{i}", base + f" tail {i}")],
            name,
        )
        q = dedup.start(src + "/*", SCHEMA, ckpt)
        q.awaitTermination(120)

    def n_files(p):
        return len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))

    before = n_files(dedup.bands_path) + n_files(dedup.docs_path)
    n_sims, n_fps = n_files(dedup.sims_path), n_files(dedup.fps_path)
    dedup.compact_stores()
    after = n_files(dedup.bands_path) + n_files(dedup.docs_path)
    assert after < before
    assert n_files(dedup.sims_path) == 1 < n_sims
    assert n_files(dedup.fps_path) == 1 < n_fps

    # a post-compaction batch still matches against full history
    # (" tail 9" keeps multiset-J vs "base + tail 0" ~0.97, above the
    # 0.8 verify threshold — a longer divergent suffix would dilute J
    # below it and test nothing)
    _write_batch(spark, src, [("z9", base + " tail 9")], "k4")
    q = dedup.start(src + "/*", SCHEMA, ckpt)
    q.awaitTermination(120)
    pairs = {(r.id1, r.id2) for r in dedup.verified_pairs().collect()}
    assert any("z9" in p and "y0" in p for p in pairs), pairs


def test_over_cap_candidates_take_semi_join_path(spark, dirs, monkeypatch):
    """More distinct candidate ids than _ISIN_PUSHDOWN_CAP: the historical
    doc fetch must go through the distributed left-semi join, never
    collecting the id set to the driver (round-2 verdict item 3)."""
    import text_similarity_node_spark.streaming.incremental as inc

    monkeypatch.setattr(inc, "_ISIN_PUSHDOWN_CAP", 2)
    src, state, ckpt = dirs
    cfg = PipelineConfig(verify_threshold=0.8, run_id="stream_cap_test")
    dedup = IncrementalDedup(spark, cfg, state)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    _write_batch(
        spark, src,
        [(f"h{i}", base + f" tail{i}") for i in range(6)],
        "b1",
    )
    q = dedup.start(src + "/*", SCHEMA, ckpt)
    q.awaitTermination(120)

    # batch 2: dups of several historical docs -> > cap distinct cand ids
    _write_batch(
        spark, src,
        [(f"n{i}", base + f" tail{i}!") for i in range(6)],
        "b2",
    )
    q = dedup.start(src + "/*", SCHEMA, ckpt)
    q.awaitTermination(120)

    pairs = {(r.id1, r.id2) for r in dedup.verified_pairs().collect()}
    for i in range(6):
        assert (f"h{i}", f"n{i}") in pairs, f"missing cross-batch pair {i}"
    from text_similarity_node_spark.streaming.ledger import read_batch_metrics

    last = max(
        read_batch_metrics(spark, state).collect(), key=lambda r: r.batch_id
    )
    assert last.docs_read == "semi_join" and last.n_cand_ids > 2


def test_streaming_cluster_labels_match_batch_cc(spark, dirs):
    """The per-batch label deltas (incremental_components, affected-only)
    must compose to exactly the full CC over all verified pairs — across
    batches that create clusters, extend them, and merge them."""
    from text_similarity_node_spark.operators.components import (
        connected_components,
    )

    src, state, ckpt = dirs
    cfg = PipelineConfig(verify_threshold=0.8, run_id="stream_labels")
    dedup = IncrementalDedup(spark, cfg, state)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "pack my box with five dozen liquor jugs for the long trip north"
    _write_batch(
        spark, src,
        [("c1", base), ("c2", base + "!"), ("d1", other)],
        "b1",
    )
    dedup.start(src + "/*", SCHEMA, ckpt).awaitTermination(120)
    labels1 = {(r.clip_id, r.cluster_id)
               for r in dedup.cluster_labels().collect()}
    assert labels1 == {("c1", "c1"), ("c2", "c1")}

    # batch 2 extends the c-cluster and starts the d-cluster
    _write_batch(
        spark, src,
        [("c4", base + " extra"), ("d2", other + "!")],
        "b2",
    )
    dedup.start(src + "/*", SCHEMA, ckpt).awaitTermination(120)

    got = {(r.clip_id, r.cluster_id) for r in dedup.cluster_labels().collect()}
    want = {
        (r.clip_id, r.cluster_id)
        for r in connected_components(
            dedup.verified_pairs().select("id1", "id2")
        ).collect()
    }
    assert got == want
    assert ("c4", "c1") in got and ("d2", "d1") in got


def test_label_delta_replay_idempotent(spark, dirs):
    """A crash between the label write and the checkpoint commit replays
    the batch: re-applying the same edges against state that already
    includes them must reproduce the identical label view (the delta dir
    is batch-keyed and overwritten; adding present edges changes no
    component)."""
    src, state, ckpt = dirs
    cfg = PipelineConfig(verify_threshold=0.8, run_id="stream_replay")
    dedup = IncrementalDedup(spark, cfg, state)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    batch = spark.createDataFrame(
        [("c1", base), ("c2", base + "!"), ("c3", "unrelated words entirely")],
        SCHEMA,
    )
    dedup.process_batch(batch, 0)
    labels_first = {(r.clip_id, r.cluster_id)
                    for r in dedup.cluster_labels().collect()}
    dedup.process_batch(batch, 0)  # replay
    labels_replayed = {(r.clip_id, r.cluster_id)
                       for r in dedup.cluster_labels().collect()}
    assert labels_first == labels_replayed == {("c1", "c1"), ("c2", "c1")}


# verified pairs of three batches: batch 1 extends a and b and starts c,
# batch 2 merges a with b (and so c), batch 3 has no pairs
_LABEL_BATCHES = [
    [("a1", "a2"), ("a2", "a3"), ("b1", "b2")],
    [("a3", "a4"), ("b2", "c1"), ("d1", "d2")],
    [("a4", "b1"), ("c1", "c9")],
    [],
]


def _write_pairs(pairs_path, bid, pairs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(pairs_path, f"batch_id={bid}")
    os.makedirs(d)
    pq.write_table(
        pa.table({"id1": [p[0] for p in pairs], "id2": [p[1] for p in pairs]},
                 schema=pa.schema([("id1", pa.string()), ("id2", pa.string())])),
        os.path.join(d, "part-0.parquet"),
    )


def test_label_update_paths_agree(spark, dirs):
    """Per batch, the driver path (union-find) and the distributed path
    (a cap of 0 forces hash-min) write label views equal to each other
    and to union-find over every pair so far, and say which path ran."""
    from text_similarity_node_spark.operators.components import union_find_labels
    from text_similarity_node_spark.streaming.labels import (
        current_labels,
        update_labels,
    )

    _, state, _ = dirs
    pairs_path = os.path.join(state, "pairs")
    seen = []
    for bid, pairs in enumerate(_LABEL_BATCHES):
        _write_pairs(pairs_path, bid, pairs)
        seen += pairs
        views = []
        for cap in (None, 0):
            labels_path = os.path.join(state, f"labels_{cap}")
            path, n_pairs = update_labels(
                spark, pairs_path, labels_path, bid, cap=cap
            )
            assert n_pairs == len(pairs)
            assert path == ("distributed" if cap == 0 and pairs else "driver")
            views.append(dict(current_labels(spark, labels_path).collect()))
        assert views[0] == views[1] == union_find_labels(seen), bid


def test_label_update_job_count(spark, dirs):
    """The driver path's label update of a batch that extends prior
    components runs a handful of Spark jobs, where iterative hash-min ran
    one localCheckpoint and one count per iteration (33 jobs here)."""
    from text_similarity_node_spark.streaming.labels import update_labels

    _, state, _ = dirs
    pairs_path = os.path.join(state, "pairs")
    labels_path = os.path.join(state, "labels")
    sc = spark.sparkContext
    for bid, pairs in enumerate(_LABEL_BATCHES[:2]):
        _write_pairs(pairs_path, bid, pairs)
        sc.setJobGroup(f"label_update_{bid}", "label update")
        try:
            update_labels(spark, pairs_path, labels_path, bid)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("label_update_1"))
    assert n_jobs <= 5, n_jobs


def test_sink_records_label_update_path(spark, dirs, monkeypatch):
    """The text sink's metrics row names the label path: ``driver`` by
    default, ``distributed`` once the cap is below the batch's pair
    count, with the same cluster labels either way."""
    import text_similarity_node_spark.streaming.labels as labels_mod
    from text_similarity_node_spark.streaming.ledger import read_batch_metrics

    _, state, _ = dirs
    cfg = PipelineConfig(
        verify_threshold=0.8, simhash_enabled=False, substring_enabled=False,
        run_id="stream_label_path",
    )
    base = "the quick brown fox jumps over the lazy dog again and again today"
    batches = [
        [("c1", base), ("c2", base + "!"), ("d1", "unrelated words entirely")],
        [("c4", base + " extra"), ("c5", base + "?")],
    ]
    got = {}
    for cap in (None, 0):
        if cap is not None:
            monkeypatch.setattr(labels_mod, "_ISIN_PUSHDOWN_CAP", cap)
        sink = IncrementalDedup(spark, cfg, os.path.join(state, f"cap_{cap}"))
        for bid, rows in enumerate(batches):
            sink.process_batch(spark.createDataFrame(rows, SCHEMA), bid)
        got[cap] = {
            (r.clip_id, r.cluster_id) for r in sink.cluster_labels().collect()
        }
        paths = {r.labels_update
                 for r in read_batch_metrics(spark, sink.state_dir).collect()}
        assert paths == {"driver" if cap is None else "distributed"}, cap
    assert got[None] == got[0]
    assert {c for _, c in got[None]} == {"c1"} and len(got[None]) == 4


@pytest.mark.parametrize("hamming_radius", [3, 5])
def test_all_tiers_parity_with_batch_pipeline(spark, dirs, hamming_radius):
    """Stream == one-shot with simhash AND containment tiers enabled
    (cap-free): the union of per-batch verified pairs over an id-ordered
    stream equals the batch pipeline's verified set on the same corpus.
    The corpus plants LSH-shaped near-dups, simhash-shaped pairs, a
    long-substring containment pair, and exact dups, split across three
    batches so every tier exercises both its new-vs-new and its
    new-vs-history join.  Radius 5 takes the SimHash two-level plan,
    whose probe broadcasts the new batch's 1-bit-flip expansion."""
    import dataclasses
    import random
    import tempfile

    from text_similarity_node_spark.plans.pipeline import NearDupPipeline

    cfg = PipelineConfig(
        verify_threshold=0.8,
        exact_dedup_first=False,
        simhash_enabled=True,
        substring_enabled=True,
        fingerprint_cap=10**9,
        hamming_radius=hamming_radius,
        run_id="stream_tiers",
    )
    vocab = [f"tok{v}" for v in range(500)]
    rng = random.Random(7)
    rows = []
    # planted near-dup clusters (word-level edits on a 40-token base)
    for c in range(12):
        base = [rng.choice(vocab) for _ in range(40)]
        for m in range(3):
            words = list(base)
            for _ in range(m):  # 0/1/2 token replacements
                words[rng.randrange(40)] = rng.choice(vocab)
            rows.append((f"c{c:03d}_{m}", " ".join(words)))
    # exact dups (must verify through the LSH path at J=1)
    rows.append(("e000_a", rows[0][1]))
    # containment: one transcript embedded verbatim inside a longer one
    embedded = " ".join(rng.choice(vocab) for _ in range(30))
    rows.append(("s000_short", embedded))
    rows.append((
        "s001_long",
        " ".join(rng.choice(vocab) for _ in range(25))
        + " " + embedded + " "
        + " ".join(rng.choice(vocab) for _ in range(25)),
    ))
    # background noise
    for i in range(40):
        rows.append(
            (f"n{i:03d}", " ".join(rng.choice(vocab) for _ in range(35)))
        )
    rows.sort()  # id-ordered arrival, matching the streaming contract

    src, state, ckpt = dirs
    sink = IncrementalDedup(spark, cfg, state)
    thirds = [rows[: len(rows) // 3], rows[len(rows) // 3 : 2 * len(rows) // 3],
              rows[2 * len(rows) // 3 :]]
    for b, chunk in enumerate(thirds):
        df = spark.createDataFrame(chunk, SCHEMA)
        sink.process_batch(df, b)
    stream_pairs = {
        (r.id1, r.id2)
        for r in sink.verified_pairs().select("id1", "id2").collect()
    }

    with tempfile.TemporaryDirectory() as wh:
        ref_cfg = dataclasses.replace(cfg, run_id="stream_tiers_ref")
        res = NearDupPipeline(
            spark, ref_cfg, wh
        ).run(spark.createDataFrame(rows, SCHEMA))
        batch_pairs = {
            (r.id1, r.id2)
            for r in res.verified_pairs.select("id1", "id2").collect()
        }
    assert stream_pairs == batch_pairs, (
        f"missing={sorted(batch_pairs - stream_pairs)[:5]} "
        f"extra={sorted(stream_pairs - batch_pairs)[:5]}"
    )
    assert len(stream_pairs) >= 12  # the planted clusters actually verified


def test_fp_cap_mid_stream_is_observable(spark, dirs):
    """A containment fingerprint crossing cfg.fingerprint_cap mid-stream
    is (a) recorded in hot_fps_store with its count at detection, (b)
    excluded from every later batch's join, and (c) never silently grows
    the fps store."""
    import glob

    src, state, ckpt = dirs
    cfg = PipelineConfig(
        verify_threshold=0.99,  # boilerplate-only pairs must NOT verify
        exact_dedup_first=False,
        simhash_enabled=False,
        substring_enabled=True,
        substring_min_len=16,
        fingerprint_cap=6,
        run_id="stream_capfire",
    )
    sink = IncrementalDedup(spark, cfg, state)
    boiler = "this exact boilerplate sentence appears in every single doc"
    import random

    rng = random.Random(3)
    vocab = [f"w{v}" for v in range(300)]

    def doc(i):
        filler = " ".join(rng.choice(vocab) for _ in range(30))
        return (f"d{i:03d}", filler + " " + boiler)

    # batch 0: 5 boilerplate docs — under the cap, fingerprints stored
    sink.process_batch(
        spark.createDataFrame([doc(i) for i in range(5)], SCHEMA), 0
    )
    hot0 = spark.read.parquet(sink.hot_fps_path)
    assert hot0.count() == 0
    # batch 1: 5 more — prefix count 10 > cap 6: the shared fingerprints
    # must cross the cap NOW, with count-at-detection recorded
    sink.process_batch(
        spark.createDataFrame([doc(i) for i in range(5, 10)], SCHEMA), 1
    )
    hot1 = spark.read.parquet(sink.hot_fps_path)
    hot_rows = hot1.collect()
    assert hot_rows, "cap crossing left no hot_fps_store rows"
    assert all(r.n_docs > cfg.fingerprint_cap for r in hot_rows)
    assert {r.batch_id for r in hot_rows} == {1}
    n_fp_files_after_b1 = len(
        glob.glob(os.path.join(sink.fps_path, "**", "*.parquet"),
                  recursive=True)
    )
    fp_store_rows_b1 = spark.read.parquet(sink.fps_path)
    hot_set = {r.fp for r in hot_rows}
    # batch 2: more boilerplate docs — known-hot fingerprints are
    # excluded up front: none of them may be appended to the fps store
    sink.process_batch(
        spark.createDataFrame([doc(i) for i in range(10, 15)], SCHEMA), 2
    )
    fp_store_rows_b2 = spark.read.parquet(sink.fps_path)
    added = (
        fp_store_rows_b2.join(
            fp_store_rows_b1, ["clip_id", "fp"], "left_anti"
        ).collect()
    )
    assert added, "batch-2 docs contributed no non-hot fingerprints"
    assert not any(r.fp in hot_set for r in added), (
        "known-hot fingerprint re-entered the store"
    )


def _boiler_docs(lo, hi, boiler, seed=3):
    import random

    rng = random.Random(seed)
    vocab = [f"w{v}" for v in range(300)]
    return [
        (f"d{i:03d}", " ".join(rng.choice(vocab) for _ in range(30)) + " " + boiler)
        for i in range(lo, hi)
    ]


def _hot_rows(spark, sink):
    from text_similarity_node_spark.streaming.incremental import STORE_SCHEMAS

    return sorted(
        tuple(r)
        for r in spark.read.schema(STORE_SCHEMAS["hot_fps_store"])
        .parquet(sink.hot_fps_path)
        .collect()
    )


def test_replay_does_not_double_count_fp_cap(spark, dirs):
    """A batch replayed under its own batch_id (crash after the store
    appends) finds its own fingerprint rows in fps_store.  They are not
    history: with a cap between the true count and twice it, the replay
    must not mark the shared fingerprints hot, and its pairs stay."""
    src, state, ckpt = dirs
    cfg = PipelineConfig(
        verify_threshold=0.5,
        exact_dedup_first=False,
        simhash_enabled=False,
        substring_enabled=True,
        substring_min_len=16,
        fingerprint_cap=6,  # 4 docs share the boilerplate; a replay sees 8
        run_id="stream_replay_cap",
    )
    sink = IncrementalDedup(spark, cfg, state)
    boiler = (
        "this exact boilerplate sentence appears in every single doc and "
        "it runs long enough to dominate each transcript's grams"
    )
    batch = spark.createDataFrame(_boiler_docs(0, 4, boiler), SCHEMA)
    sink.process_batch(batch, 0)
    pairs_first = {(r.id1, r.id2) for r in sink.verified_pairs().collect()}
    assert pairs_first, "the boilerplate docs produced no pairs to lose"
    assert _hot_rows(spark, sink) == []
    sink.process_batch(batch, 0)  # replay
    assert _hot_rows(spark, sink) == [], "replay marked its own fps hot"
    pairs_replayed = {(r.id1, r.id2) for r in sink.verified_pairs().collect()}
    assert pairs_replayed == pairs_first


def test_replay_keeps_hot_record(spark, dirs):
    """Replaying the batch whose fingerprints crossed the cap must
    rewrite the same hot_fps_store record: the batch's own earlier record
    is not a known-hot fingerprint from history."""
    src, state, ckpt = dirs
    cfg = PipelineConfig(
        verify_threshold=0.99,
        exact_dedup_first=False,
        simhash_enabled=False,
        substring_enabled=True,
        substring_min_len=16,
        fingerprint_cap=6,
        run_id="stream_replay_hot",
    )
    sink = IncrementalDedup(spark, cfg, state)
    boiler = "this exact boilerplate sentence appears in every single doc"
    sink.process_batch(
        spark.createDataFrame(_boiler_docs(0, 5, boiler), SCHEMA), 0
    )
    batch1 = spark.createDataFrame(_boiler_docs(5, 10, boiler), SCHEMA)
    sink.process_batch(batch1, 1)
    hot_first = _hot_rows(spark, sink)
    assert hot_first, "the cap did not fire at batch 1"
    sink.process_batch(batch1, 1)  # replay
    assert _hot_rows(spark, sink) == hot_first


@pytest.fixture(scope="module")
def two_batch_sink(spark):
    """All tiers on, two batches of four input partitions each, the
    second holding near-dups of the first."""
    import random

    cfg = PipelineConfig(
        verify_threshold=0.8,
        exact_dedup_first=False,
        simhash_enabled=True,
        substring_enabled=True,
        fingerprint_cap=10**9,
        run_id="stream_layout",
    )
    rng = random.Random(11)
    vocab = [f"tok{v}" for v in range(500)]
    base = [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(40)]
    with tempfile.TemporaryDirectory() as d:
        sink = IncrementalDedup(spark, cfg, os.path.join(d, "state"))
        for b in range(2):
            rows = [(f"b{b}_{i:03d}", t + f" v{b}") for i, t in enumerate(base)]
            sink.process_batch(
                spark.createDataFrame(rows, SCHEMA).repartition(4), b
            )
        yield spark, sink


def test_band_store_one_file_per_partition_per_batch(two_batch_sink):
    import glob

    _, sink = two_batch_sink
    parts = glob.glob(os.path.join(sink.bands_path, "bh_part=*"))
    assert parts
    for p in parts:
        assert len(glob.glob(os.path.join(p, "*.parquet"))) <= 2, p


def test_pinned_store_schemas_match_written_files(two_batch_sink):
    """Each schema the sink reads a store with equals the one Spark
    infers from the files it wrote: a column added to a writer without
    the matching reader change fails here."""
    from text_similarity_node_spark.streaming.incremental import STORE_SCHEMAS
    from text_similarity_node_spark.streaming.labels import labels_schema
    from text_similarity_node_spark.streaming.ledger import _METRICS_DDL

    spark, sink = two_batch_sink
    pinned = {
        store: STORE_SCHEMAS[store]
        for store in (
            "bands_store", "docs_store", "sims_store", "fps_store",
            "verified_pairs",
        )
    }
    pinned["cluster_labels"] = labels_schema()
    pinned["batch_metrics"] = _METRICS_DDL
    pinned["hot_fps_store"] = STORE_SCHEMAS["hot_fps_store"]
    for store, ddl in pinned.items():
        path = os.path.join(sink.state_dir, store)
        inferred = spark.read.parquet(path).schema
        assert spark.read.schema(ddl).parquet(path).schema == inferred, store
    # the batch_id=N directory alone carries the hot record's batch id
    assert "batch_id" in spark.read.parquet(sink.hot_fps_path).columns
    # each label delta is the one pyarrow-written file of its batch dir
    for b in range(2):
        d = os.path.join(sink.labels_path, f"batch_id={b}")
        assert os.listdir(d) == ["labels.parquet"], d
    assert "labels_update" in spark.read.parquet(
        os.path.join(sink.state_dir, "batch_metrics")
    ).columns


def test_batch_metrics_record_candidate_fetch(two_batch_sink):
    from text_similarity_node_spark.streaming.ledger import read_batch_metrics

    spark, sink = two_batch_sink
    m = {r.batch_id: r for r in read_batch_metrics(spark, sink.state_dir).collect()}
    # batch 0 has no docs store to read; batch 1's near-dups of batch 0
    # fetch their partners through the isin pushdown
    assert m[0].docs_read == "none"
    assert m[1].docs_read == "isin" and m[1].n_cand_ids >= 80
    # the observed and fetched counts: 40 docs per batch, batch 1's
    # near-dups of batch 0 verify
    assert m[0].rows_in == m[1].rows_in == 40
    assert m[1].n_candidates >= m[1].n_pairs >= 40
    assert {m[0].labels_update, m[1].labels_update} == {"driver"}
