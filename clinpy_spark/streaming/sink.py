"""Streaming sink into a ProjectCatalog table (exactly-once).

The parquet streaming sink + a checkpoint directory gives end-to-end
exactly-once for file-backed tables: the write-ahead log in the
checkpoint records committed batches, and the ``_spark_metadata``
manifest in the table directory makes batch readers see only committed
files — a half-written micro-batch is invisible, and restarting the
stream from the same checkpoint never duplicates rows. This is the
streaming twin of the ETL's batch ``ProjectCatalog.write`` append path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def stream_to_catalog(
    stream: DataFrame,
    catalog,
    name: str,
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
    trigger_interval: str | None = None,
) -> StreamingQuery:
    """Start an append-mode parquet stream into ``catalog``'s ``name``
    table. ``available_now=True`` drains the current source content and
    stops (batch-style backfill); give ``trigger_interval`` (e.g.
    "30 seconds") for a continuous micro-batch run instead. The
    checkpoint defaults to a sibling directory of the table; reuse it
    across restarts to keep the exactly-once guarantee.

    Stats note: micro-batch appends bypass the manifest's write-time
    stats, so the `_stats.json` entry goes stale as the stream grows —
    `hint_small` stays safe regardless (it re-checks live on-disk bytes
    at plan time); call `catalog.collect_stats(name)` after a drain if
    row counts matter."""
    path = os.path.join(catalog.project_dir, name)
    checkpoint = checkpoint or path.rstrip("/") + ".__checkpoint__"
    w = (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_interval:
        w = w.trigger(processingTime=trigger_interval)
    return w.start()


def stream_stats_to_catalog(
    stream: DataFrame,
    catalog,
    name: str,
    keys: list[str],
    value_cols: list[str],
    *,
    checkpoint: str | None = None,
    available_now: bool = True,
    trigger_interval: str | None = None,
) -> StreamingQuery:
    """Continuously-maintained per-key statistics: each micro-batch folds
    into the persisted mergeable partials with the fold
    ``operators.incremental.refresh_stats`` runs, driven by
    ``streaming.fold.stream_fold`` — the streaming face of incremental aggregate maintenance. Cost per
    batch is O(batch + keys) regardless of how much history the stream
    has accumulated; read the result through
    ``operators.incremental.finalize(catalog.table(name), value_cols)``.

    foreachBatch is at-least-once on retry; the fold is made
    effectively-once by the (run_id, batch_id) stamp the fold keeps on
    the state table — replays within one checkpoint lineage
    are skipped, and a restart under a FRESH checkpoint dir folds from
    its batch 0 instead of being misclassified as a replay (r11
    verdict #1)."""
    from clinpy_spark.operators.incremental import (
        merge_partials, partial_aggregate,
    )
    from clinpy_spark.streaming.fold import stream_fold

    return stream_fold(
        stream, catalog, name,
        lambda batch: partial_aggregate(batch, keys, value_cols),
        lambda state, part: merge_partials(state, part, keys, value_cols),
        "stats", checkpoint=checkpoint, available_now=available_now,
        trigger_interval=trigger_interval)
