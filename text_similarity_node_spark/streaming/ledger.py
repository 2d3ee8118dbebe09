"""Per-batch metrics ledger for the streaming sinks.

The batch pipeline writes per-stage metrics + lineage rows to its catalog
(plans/pipeline.py); the streaming sinks get the same observability here:
one row per (micro-batch, sink) with rows-in / candidate / verified-pair
counts and wall time, written driver-side via pyarrow (a distributed write
would cost a job-submission round-trip per batch for a single row).  The
text sink also records how it fetched historical docs: the number of
distinct candidate ids (``n_cand_ids``) and the read path (``docs_read``:
``none``, ``isin`` or ``semi_join``); both are null for the other sinks.
The text and audio sinks record which path their cluster-label update
took (``labels_update``: ``driver`` or ``distributed``, see
streaming/labels.py); it is null for the sinks that keep no labels.

Idempotence matches the pair stores: the file name is keyed by batch_id,
so a replayed batch OVERWRITES its own metrics row instead of appending a
duplicate — the ledger stays one-row-per-batch under crash/replay.

The helpers every sink shares for its parquet stores live here too:
``store_exists`` and the candidate-id fetch's ``_ISIN_PUSHDOWN_CAP``.
"""

from __future__ import annotations

import os
import time

# above this many candidate ids, a sink fetches payloads through a
# left-semi join instead of a collected isin list: a huge IN list costs more
# to evaluate than it saves, and the id set never has to fit on the driver
_ISIN_PUSHDOWN_CAP = 100_000


def store_exists(path: str) -> bool:
    """Whether a store directory holds at least one parquet file."""
    return os.path.exists(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )


def append_batch_metrics(
    state_dir: str,
    sink: str,
    batch_id: int,
    rows_in: int,
    n_candidates: int,
    n_pairs: int,
    started_at: float,
    n_cand_ids: int | None = None,
    docs_read: str | None = None,
    labels_update: str | None = None,
) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(state_dir, "batch_metrics")
    os.makedirs(d, exist_ok=True)
    schema = pa.schema(
        [
            ("sink", pa.string()),
            ("batch_id", pa.int64()),
            ("rows_in", pa.int64()),
            ("n_candidates", pa.int64()),
            ("n_pairs", pa.int64()),
            ("elapsed_s", pa.float64()),
            ("n_cand_ids", pa.int64()),
            ("docs_read", pa.string()),
            ("labels_update", pa.string()),
        ]
    )
    tbl = pa.Table.from_pylist(
        [
            {
                "sink": sink,
                "batch_id": int(batch_id),
                "rows_in": int(rows_in),
                "n_candidates": int(n_candidates),
                "n_pairs": int(n_pairs),
                "elapsed_s": float(time.time() - started_at),
                "n_cand_ids": n_cand_ids,
                "docs_read": docs_read,
                "labels_update": labels_update,
            }
        ],
        schema=schema,
    )
    # store_schema=False: Spark reads the parquet schema, not the
    # serialized Arrow schema pyarrow would add to the footer (~0.4 KB)
    pq.write_table(
        tbl, os.path.join(d, f"metrics-{sink}-b{int(batch_id)}.parquet"),
        store_schema=False,
    )


# the pyarrow schema above as Spark DDL: the read is schema-pinned, so
# rows written before the last three columns existed read them as null
_METRICS_DDL = (
    "sink string, batch_id bigint, rows_in bigint, n_candidates bigint, "
    "n_pairs bigint, elapsed_s double, n_cand_ids bigint, docs_read string, "
    "labels_update string"
)


def read_batch_metrics(spark, state_dir: str):
    return spark.read.schema(_METRICS_DDL).parquet(
        os.path.join(state_dir, "batch_metrics")
    )
