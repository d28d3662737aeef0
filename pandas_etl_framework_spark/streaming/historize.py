"""Streaming CDC historization: readStream → foreachBatch(historize_append).

Each micro-batch is stamped and delta-merged with the same batch operators
(cdc.historize_append), so the store invariant — one row per distinct
(KEY_HASH, RECORD_HASH) — holds under continuous ingestion exactly as under
the reference's simulated run loop (main.py:26-34). foreachBatch is the
right tool because the merge needs a point-in-time read of the accumulated
store, which pure streaming operators cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..cdc import historize_append
from ..meta_columns import create_currents


def _start_foreach_batch(
    stream_df: DataFrame,
    output_mode: str,
    checkpoint_path: str,
    process_batch,
    trigger_once: bool,
):
    """Start ``stream_df`` with ``process_batch(batch_df)`` on every
    non-empty micro-batch; ``trigger_once`` runs the files available now
    and stops."""

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            process_batch(batch_df)

    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(handle)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_historize_append(
    spark: SparkSession,
    stream_df: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key_columns: list[str],
    record_hash_exclude_columns: list[str] | None = None,
    trigger_once: bool = False,
):
    """Attach the append-only CDC historization to a streaming DataFrame.

    Returns the started StreamingQuery. Each micro-batch gets its own
    ``currents`` context (run id = wall clock at batch start, disambiguated
    by batch id), mirroring one reference "run" per micro-batch.
    """

    def process_batch(batch_df: DataFrame) -> None:
        historize_append(
            spark,
            batch_df,
            store_path,
            key_columns,
            currents=create_currents(),
            record_hash_exclude_columns=record_hash_exclude_columns,
        )

    return _start_foreach_batch(
        stream_df, "update", checkpoint_path, process_batch, trigger_once
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_columns: list[str],
    event_time_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Exact dedup on ingest: drop rows whose key was already seen.

    With an event-time column the dedup state is watermark-bounded (keys
    older than the delay are forgotten — bounded memory at any scale, the
    right trade for at-least-once upstream sources whose duplicates arrive
    close together). Without one, state grows with distinct keys —
    only for genuinely finite key domains.
    """
    if event_time_col is not None:
        from ..relational import normalize_event_time

        stream_df = normalize_event_time(stream_df, event_time_col)
        return stream_df.withWatermark(event_time_col, watermark_delay).dropDuplicates(
            key_columns + [event_time_col]
        )
    return stream_df.dropDuplicates(key_columns)


def streaming_versioned_append(
    spark: SparkSession,
    stream_df: DataFrame,
    store_path: str,
    checkpoint_path: str,
    trigger_once: bool = False,
):
    """Stream into a VersionedStore: every micro-batch commits one atomic
    version (manifest rename), so readers never observe a torn batch and
    any past stream position stays time-travelable. Combined with the
    checkpoint, a retried batch at worst commits a duplicate version —
    detectable by the audit columns, never a partial file set."""
    from ..versioned_store import VersionedStore

    store = VersionedStore(spark, store_path)
    return _start_foreach_batch(
        stream_df,
        "append",
        checkpoint_path,
        lambda batch_df: store.write(batch_df, mode="append"),
        trigger_once,
    )


def streaming_scd2_merge(
    spark: SparkSession,
    stream_df: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key_columns: list[str],
    valid_from_mode: int = 2,  # VALID_FROM_MODE_LOAD_DATE
    record_hash_exclude_columns: list[str] | None = None,
    trigger_once: bool = False,
    currents: dict | None = None,
):
    """Continuous SCD Type 2: each micro-batch is stamped and merged into an
    Scd2Store (open-partition overwrite + closed-partition append), so the
    one-open-row-per-key invariant holds at every micro-batch boundary.

    ``currents``: None (production default) stamps each micro-batch with a
    fresh wall-clock run context; passing a context pins EVERY micro-batch
    of this invocation to it — the deterministic-replay hook the oracle
    harness uses (one pinned context per availableNow run = one logical
    "load" regardless of how the engine chops the files into batches;
    merging same-context sub-batches sequentially is equivalent to one
    merge because keys within a load are unique).
    """
    from ..meta_columns import add_meta_columns
    from ..scd2_store import Scd2Store

    store = Scd2Store(spark, store_path)

    def process_batch(batch_df: DataFrame) -> None:
        ctx = currents if currents is not None else create_currents()
        stamped = add_meta_columns(
            batch_df, ctx, key_columns, record_hash_exclude_columns
        )
        store.merge(stamped, currents=ctx, valid_from_mode=valid_from_mode)

    return _start_foreach_batch(
        stream_df, "update", checkpoint_path, process_batch, trigger_once
    )
