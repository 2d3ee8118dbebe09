"""Connected components over the verified-pair edge list.

Iterative min-label propagation expressed as DataFrame self-joins
(SURVEY.md §7.6; GraphFrames deliberately not used — external dep).  The
algorithm is the classic "hash-min": every vertex repeatedly adopts the
minimum label in its closed neighborhood until a fixpoint.

Scale discipline (SURVEY.md §4 'Iteration at scale'):
* lineage is cut every ``checkpoint_every`` iterations with
  ``localCheckpoint`` (or a durable checkpoint dir when the caller passes a
  catalog) — Catalyst cannot optimize across iterations and an uncut plan
  grows exponentially;
* convergence test is a cheap aggregate (count of label changes), not a
  collect of labels;
* edges are symmetrized once up front; each iteration is one shuffle on
  vertex id.

For graphs with very long chains, hash-min needs O(diameter) iterations;
near-duplicate clusters are dense and shallow in practice (diameter <= 3-4),
so the loop converges in a handful of passes.  ``max_iterations`` bounds
pathological inputs; hitting it raises (never silently wrong clusters).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    pass


def _edge_digest(e: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive xxhash64 XOR-fold) of an edge set — a
    cheap distributed fixpoint test that never collects edges to the
    driver.  XOR (not sum) because the edge list is distinct by
    construction and bit_xor cannot overflow under ANSI arithmetic."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).first()
    return int(row.n), int(row.h)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u with neighborhood G(u) (symmetric
    view) links each strictly-larger neighbor to m = min(G(u) + {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("mv")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges large->small, then every node u
    links its smaller neighbors (and itself) to m = min of those neighbors."""
    canon = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        canon.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    own = mins.select("u", F.col("m").alias("v"))
    return relink.unionByName(own).distinct()


def connected_components_twostar(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 25,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014).  Same contract as :func:`connected_components` —
    labels(clip_id, cluster_id), cluster_id = min member id, singleton
    vertices not emitted — but converges in O(log^2 n) rounds regardless
    of graph shape, where hash-min needs O(diameter) rounds.

    Use this variant when the dup graph may contain long chains
    (transcript-drift chains A~B~C~... where consecutive pairs match but
    distant ones don't): at 10^12-clip scale a 10^4-link chain costs
    hash-min 10^4 full-edge shuffles but two-star ~2*log2(10^4) ~= 27
    rounds.  For dense shallow dup clusters (diameter <= 3-4) hash-min's
    per-round cost is lower — the pipeline keeps it as the default and
    exposes this via ``PipelineConfig.cc_algorithm = "twostar"``.

    Scale notes: both stars are groupBy-min (map-side combinable — a hub
    key aggregates partially before the shuffle) plus one shuffle join on
    the node id; the edge list monotonically contracts toward a star
    forest, so later rounds are cheaper.  Fixpoint is detected with a
    distributed (count, hash-sum) digest, never a driver collect;
    lineage is cut every ``checkpoint_every`` rounds.
    """
    e = (
        edges.select(F.col(id1).alias("u"), F.col(id2).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    digest = _edge_digest(e)
    for it in range(max_iterations):
        nxt = _small_star(_large_star(e))
        if (it + 1) % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        nxt_digest = _edge_digest(nxt)
        e = nxt
        if nxt_digest == digest:
            # star forest: every edge is (member, component-min)
            members = e.select(
                F.col("u").alias("clip_id"), F.col("v").alias("cluster_id")
            )
            roots = e.select(
                F.col("v").alias("clip_id"), F.col("v").alias("cluster_id")
            ).distinct()
            connected_components_twostar.last_iterations = it + 1
            return members.unionByName(roots)
        digest = nxt_digest
    raise ConvergenceError(
        f"connected_components_twostar did not converge in {max_iterations} iterations"
    )


connected_components_twostar.last_iterations = 0


def connected_components(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 50,
    checkpoint_every: int = 1,
) -> DataFrame:
    """edges(id1, id2) -> labels(clip_id, cluster_id).

    cluster_id is the minimum member id of each component (deterministic,
    stable across runs).  Vertices present only as singletons are NOT
    emitted — callers union in singletons if needed.
    """
    spark = edges.sparkSession
    sym = (
        edges.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
        .unionByName(edges.select(F.col(id2).alias("src"), F.col(id1).alias("dst")))
        .distinct()
    )
    # initial label: min neighbor (including self)
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.min("src")).alias("label"))
        .withColumnRenamed("src", "vid")
    )
    labels = labels.localCheckpoint(eager=True)

    for it in range(max_iterations):
        # propagate: candidate label for dst = min(label[src]) over in-edges
        prop = (
            sym.join(labels, sym.src == labels.vid)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("dst", "vid2")
        )
        new_labels = (
            labels.join(prop, labels.vid == prop.vid2, "left")
            .select(
                "vid",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                    "changed"
                ),
            )
        )
        if (it + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        n_changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            connected_components.last_iterations = it + 1
            return labels.select(
                F.col("vid").alias("clip_id"), F.col("label").alias("cluster_id")
            )
    raise ConvergenceError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


connected_components.last_iterations = 0


def union_find_labels(edges: Iterable[tuple]) -> dict:
    """{vertex: min vertex of its component} for every vertex of ``edges``
    -- :func:`connected_components`' contract (self-loop vertices
    included), computed on the driver for a graph that fits in memory.

    Union-find with path halving; a union hangs the larger root under the
    smaller, so every root is the minimum of its component."""
    parent: dict = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for u, v in edges:
        ru = find(parent.setdefault(u, u))
        rv = find(parent.setdefault(v, v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {v: find(v) for v in parent}


def incremental_components(
    prior_labels: DataFrame,
    new_edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 50,
    affected_only: bool = False,
) -> DataFrame:
    """Update cluster labels with one epoch of NEW edges without
    re-walking the old graph — the daily-ingest shape: at 10^12 rows
    the full edge list is never recomputed; each epoch only touches
    the components its new edges reach.

    prior_labels(clip_id, cluster_id) + new_edges(id1, id2)
    -> labels(clip_id, cluster_id) for every vertex in a non-singleton
    component of the UNION graph — identical to running
    :func:`connected_components` over (all old edges ∪ new edges),
    proven in tests/test_components.py under arbitrary edge splits.

    Why it is sound: a prior component is connectivity-equivalent to
    its STAR (member -> cluster_id edges), so CC over (stars of
    TOUCHED components ∪ new edges) reproduces exactly the merged
    components; untouched components cannot change (no new edge
    reaches them) and pass through unmodified.  Cost scales with the
    affected-component mass, not the corpus: two broadcast-sized
    semi-joins pick the touched members, and the iterative CC runs on
    the mini-graph only.

    The streaming label store (streaming/labels.py) labels a mini-graph
    of up to its driver cap with :func:`union_find_labels` instead, since
    at that size every hash-min iteration is per-job overhead; this is
    its path above the cap, where neither the edges nor the touched
    members may be brought to the driver."""
    ne = new_edges.select(F.col(id1).alias("id1"), F.col(id2).alias("id2"))
    new_vids = (
        ne.select(F.col("id1").alias("vid"))
        .unionByName(ne.select(F.col("id2").alias("vid")))
        .distinct()
    )
    touched_clusters = (
        prior_labels.join(
            new_vids, prior_labels.clip_id == new_vids.vid, "leftsemi"
        )
        .select("cluster_id")
        .distinct()
    )
    touched_members = prior_labels.join(
        touched_clusters, "cluster_id", "leftsemi"
    )
    star_edges = touched_members.filter(
        F.col("clip_id") != F.col("cluster_id")
    ).select(
        F.col("clip_id").alias("id1"), F.col("cluster_id").alias("id2")
    )
    mini = connected_components(
        star_edges.unionByName(ne), max_iterations=max_iterations
    )
    if affected_only:
        # delta view for log-structured label stores: only vertices whose
        # label was (re)computed this epoch — complete, because a touched
        # component contributes its ENTIRE membership through its star
        return mini
    untouched = prior_labels.join(touched_clusters, "cluster_id", "left_anti")
    return untouched.select("clip_id", "cluster_id").unionByName(mini)
