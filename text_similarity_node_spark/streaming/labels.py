"""Incremental cluster-label maintenance shared by the streaming dedup
sinks (text, audio): compose each batch's verified pairs into cluster
labels with operators/components.incremental_components, writing only
the AFFECTED labels as a batch-keyed delta — a log-structured store with
a latest-batch-wins read view.  Per-batch label cost scales with the
mass of the components the batch touches, never with corpus size, the
same flat-cost contract as the sinks' band/marks stores.

Replay safety: re-applying an already-applied edge set reproduces the
identical delta (adding present edges changes no component), and the
batch-id-keyed dir is overwritten — same idempotence policy as the
pairs store.

Both reads pass a fixed schema (``labels_schema``), so neither launches a
footer-inference job, and the first batch's empty prior-label view is an
``emptyRDD`` frame that starts no Python task."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import empty_frame


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
) -> None:
    """Read batch ``batch_id``'s verified pairs and write the label delta."""
    from ..operators.components import incremental_components

    new_pairs = spark.read.schema(f"id1 {id_type}, id2 {id_type}").parquet(
        os.path.join(pairs_path, f"batch_id={int(batch_id)}")
    )
    delta = incremental_components(
        current_labels(spark, labels_path, id_type), new_pairs,
        affected_only=True,
    )
    delta.write.mode("overwrite").parquet(
        os.path.join(labels_path, f"batch_id={int(batch_id)}")
    )


def current_labels(
    spark: SparkSession, labels_path: str, id_type: str = "string"
) -> DataFrame:
    """Current (clip_id, cluster_id) view: per vertex, the delta row from
    the most recent batch that touched it."""
    exists = os.path.exists(labels_path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(labels_path) for f in fs
    )
    if not exists:
        return empty_frame(spark, f"clip_id {id_type}, cluster_id {id_type}")
    deltas = spark.read.schema(labels_schema(id_type)).parquet(labels_path)
    w = Window.partitionBy("clip_id").orderBy(F.col("batch_id").desc())
    return (
        deltas.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("clip_id", "cluster_id")
    )
