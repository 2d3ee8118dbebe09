"""Incremental cluster-label maintenance shared by the streaming dedup
sinks (text, audio): compose each batch's verified pairs into cluster
labels, writing only the AFFECTED labels as a batch-keyed delta — a
log-structured store with a latest-batch-wins read view.  Per-batch label
cost scales with the mass of the components the batch touches, never
with corpus size, the same flat-cost contract as the sinks' band/marks
stores.

A prior component is connectivity-equivalent to its STAR (member ->
cluster_id edges), so the batch's new components are the connected
components of (stars of the prior components its edges touch ∪ its
edges).  ``update_labels`` computes them on one of two paths:

* **driver** (the normal case): one bounded ``limit(cap + 1)`` collect
  fetches the batch's edges, a second fetches the ``(clip_id,
  cluster_id)`` rows of every prior component those edges touch (one
  query over ``current_labels``), ``union_find_labels`` labels the
  mini-graph in Python, and pyarrow writes the delta.  A micro-batch's
  mini-graph is a few hundred edges, so an iterative Spark job would be
  all per-job overhead: the path runs one job in a batch with no prior
  labels and a handful in later ones.
* **distributed**: when either fetch returns more than ``cap`` rows (a
  hot batch, or one that merges giant components), the batch goes
  through ``operators/components.incremental_components`` — iterative
  hash-min over the same mini-graph as Spark jobs — and a Spark write.
  No row set larger than ``cap`` ever reaches the driver.

``cap`` defaults to ``ledger._ISIN_PUSHDOWN_CAP``, the most rows a sink
brings to the driver.  Both paths yield the same labels (cluster_id = the
component's minimum member id); each batch's metrics row names the path
it took (``labels_update``).

Replay safety: re-applying an already-applied edge set reproduces the
identical delta (adding present edges changes no component), and the
batch-id-keyed dir is rewritten.  The driver path writes its one file
under a hidden temporary name (Spark's file listing skips names starting
with ``.``), removes the dir's earlier files, and only then renames the
file into place: a crash at any point leaves either the earlier attempt's
delta, or none, and the replay writes it again.

Every read passes a fixed schema (``labels_schema``), so none launches a
footer-inference job, and the first batch's empty prior-label view is an
``emptyRDD`` frame that starts no Python task."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.components import incremental_components, union_find_labels
from ..session import empty_frame
from .ledger import _ISIN_PUSHDOWN_CAP, store_exists


def labels_schema(id_type: str = "string") -> str:
    """DDL of the label store read at its root: the delta rows plus the
    ``batch_id`` partition column."""
    return f"clip_id {id_type}, cluster_id {id_type}, batch_id int"


def update_labels(
    spark: SparkSession,
    pairs_path: str,
    labels_path: str,
    batch_id: int,
    id_type: str = "string",
    cap: int | None = None,
) -> tuple[str, int]:
    """Read batch ``batch_id``'s verified pairs and write the label delta.
    Returns the path taken (``"driver"`` or ``"distributed"``) and the
    batch's pair count."""
    cap = _ISIN_PUSHDOWN_CAP if cap is None else cap
    bid = int(batch_id)
    delta_dir = os.path.join(labels_path, f"batch_id={bid}")
    new_pairs = spark.read.schema(f"id1 {id_type}, id2 {id_type}").parquet(
        os.path.join(pairs_path, f"batch_id={bid}")
    )
    # coalesce(1): the bounded fetch is one task, so one job
    edges = [
        (r[0], r[1]) for r in new_pairs.select("id1", "id2")
        .coalesce(1).limit(cap + 1).collect()
    ]
    members = []
    if len(edges) <= cap and edges:
        members = _touched_members(
            spark, labels_path, id_type, {v for e in edges for v in e}, cap
        )
    if len(edges) > cap or len(members) > cap:
        delta = incremental_components(
            current_labels(spark, labels_path, id_type), new_pairs,
            affected_only=True,
        )
        delta.write.mode("overwrite").parquet(delta_dir)
        return "distributed", new_pairs.count()
    labels = union_find_labels(
        [(m, c) for m, c in members if m != c] + edges
    )
    _write_delta(delta_dir, labels, id_type)
    return "driver", len(edges)


def _touched_members(
    spark: SparkSession, labels_path: str, id_type: str, vids: set, cap: int
) -> list[tuple]:
    """Up to ``cap + 1`` current ``(clip_id, cluster_id)`` rows of every
    prior component one of ``vids`` belongs to: one query over
    ``current_labels`` (none before the first delta)."""
    if not store_exists(labels_path):
        return []
    touched = F.max(F.col("clip_id").isin(*vids)).over(
        Window.partitionBy("cluster_id")
    )
    return [
        (r[0], r[1])
        for r in current_labels(spark, labels_path, id_type)
        .withColumn("_touched", touched)
        .filter("_touched")
        .coalesce(1)
        .limit(cap + 1)
        .collect()
    ]


def _write_delta(delta_dir: str, labels: dict, id_type: str) -> None:
    """Write ``labels`` as the one parquet file of ``delta_dir``, replacing
    whatever an earlier attempt of the batch left there."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_type = {"string": pa.string(), "bigint": pa.int64()}[id_type]
    schema = pa.schema([("clip_id", pa_type), ("cluster_id", pa_type)])
    os.makedirs(delta_dir, exist_ok=True)
    tmp = os.path.join(delta_dir, f".labels-{uuid.uuid4().hex}.tmp")
    pq.write_table(
        pa.Table.from_pydict(
            {"clip_id": list(labels), "cluster_id": list(labels.values())},
            schema=schema,
        ),
        tmp,
        store_schema=False,  # as in ledger.append_batch_metrics
    )
    for name in os.listdir(delta_dir):
        path = os.path.join(delta_dir, name)
        if os.path.isdir(path):  # a crashed Spark write's _temporary
            shutil.rmtree(path)
        elif path != tmp:
            os.remove(path)
    os.rename(tmp, os.path.join(delta_dir, "labels.parquet"))


def current_labels(
    spark: SparkSession, labels_path: str, id_type: str = "string"
) -> DataFrame:
    """Current (clip_id, cluster_id) view: per vertex, the delta row from
    the most recent batch that touched it."""
    if not store_exists(labels_path):
        return empty_frame(spark, f"clip_id {id_type}, cluster_id {id_type}")
    deltas = spark.read.schema(labels_schema(id_type)).parquet(labels_path)
    w = Window.partitionBy("clip_id").orderBy(F.col("batch_id").desc())
    return (
        deltas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("clip_id", "cluster_id")
    )
