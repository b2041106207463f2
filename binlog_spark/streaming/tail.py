"""Structured Streaming tail: live binlog staging dir → lake table.

The streaming counterpart of the reference's dir tail
(/root/reference/dir_reader.go:54-107 sleep-polls 1 s for the `.next`
file); here the Spark file source polls the directory and each completed
binlog file becomes a micro-batch input row.  File-source contract: files
must appear atomically (write temp + rename — the reference's dump sink
gets the same effect from seek+overwrite-at-offset, dump.go:92-99); a
file is decoded once, partial trailing bytes of a still-growing file
would be silently lost, so only rotated-away files should be visible.

Both tails are thin ``foreachBatch`` loops around the batch drivers'
apply cores: ``stream_apply`` hands each micro-batch of file blobs to
cdc.replay.apply_batch (single table), ``stream_apply_multi`` to
cdc.multi.apply_generic_batch (one lake table per source table).  The
tail itself only discovers the batch's schema from its TABLE_MAPs and
names the batch; decode, reduction, staging and MERGE live in the cores.

Exactly-once is double-keyed: Spark's streaming checkpoint dedups batch
replays at the source, and the lake's batch-id idempotence dedups them at
the sink — either alone survives a crash between the two.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.multi import (apply_generic_batch, ensure_tables,
                         scan_table_registry_blobs)
from ..cdc.pipeline import scan_extra_columns_blobs
from ..cdc.replay import apply_batch, manifest_wide_order
from ..lake.table import LakeTable

# the layer functions a tail batch runs through inside apply_batch,
# importable here so per-layer tracing can name them under this module
from ..cdc.pipeline import (flatten_extras, reduce_changes,  # noqa: F401
                            reduce_changes_minimal)
from ..decoder.kernel import decode_changes, decode_keys  # noqa: F401

_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def stream_blobs(spark: SparkSession, dump_dir: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming DataFrame of raw binlog file blobs from a staging dir."""
    raw = (spark.readStream.format("binaryFile")
           .schema(_BINARY_FILE_SCHEMA)
           .option("pathGlobFilter", "binlog.*")
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .load(dump_dir)
           # the glob also matches the `.next` chain-pointer files; they
           # are not binlog bytes (and the span bounds check rightly
           # rejects their names)
           .filter(~F.col("path").endswith(".next")))
    return raw.select(
        F.element_at(F.split("path", "/"), -1).alias("log_file"),
        F.lit(0).cast("long").alias("chunk_off"),
        F.col("content").alias("data"))


def _start_tail(spark: SparkSession, dump_dir: str, checkpoint_dir: str,
                apply: Callable[[DataFrame, int], None], *,
                available_now: bool, processing_interval: str):
    """Start the micro-batch loop over a staging dir's binlog files.

    ``available_now=True`` drains everything currently visible and stops
    (replay); ``False`` keeps tailing with a processing-time trigger (the
    reference's blocking serverID!=0 mode, /root/reference/doc.go:23)."""
    trigger = ({"availableNow": True} if available_now
               else {"processingTime": processing_interval})
    return (stream_blobs(spark, dump_dir).writeStream
            .foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start())


def stream_apply(spark: SparkSession, dump_dir: str, table_root: str,
                 checkpoint_dir: str, *,
                 n_buckets: int = 32, salt_buckets: int = 0,
                 available_now: bool = True,
                 processing_interval: str = "5 seconds",
                 minimal_images: bool = False,
                 on_batch: Callable[[int, dict], None] | None = None):
    """Tail a staging dir into a lake table via foreachBatch MERGE.

    Each micro-batch runs cdc.replay.apply_batch with the winner sets
    broadcast and the order-key width from the dump manifest (same rule
    as batch replay).  ``minimal_images``: the source logs
    binlog_row_image=MINIMAL.  ``on_batch(batch_id, snapshot)`` runs
    after each commit.  Returns the StreamingQuery."""
    table = LakeTable(table_root, n_buckets=n_buckets)
    table.create()
    wide_order = manifest_wide_order(dump_dir)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # schema discovery via a cheap distributed TABLE_MAP scan of the
        # batch's blobs — a name-less flatten_extras would EXECUTE the
        # upsert pipeline once per micro-batch for a distinct-key probe
        snap = apply_batch(spark, table, batch_df,
                           f"stream-{checkpoint_dir}-{batch_id}",
                           extra_names=scan_extra_columns_blobs(batch_df),
                           minimal_images=minimal_images,
                           wide_order=wide_order,
                           salt_buckets=salt_buckets)
        if on_batch is not None:
            on_batch(batch_id, snap)

    return _start_tail(spark, dump_dir, checkpoint_dir, apply,
                       available_now=available_now,
                       processing_interval=processing_interval)


def stream_apply_multi(spark: SparkSession, dump_dir: str, lake_root: str,
                       checkpoint_dir: str, *,
                       n_buckets: int = 8,
                       available_now: bool = True,
                       processing_interval: str = "5 seconds",
                       on_batch: Callable[[int, dict], None] | None = None):
    """Tail a MULTI-TABLE staging dir: one stream demultiplexed into one
    lake table per source table (the streaming counterpart of
    cdc.multi.replay_generic — the reference leaves this demux to its
    caller, /root/reference/doc.go:47-56).

    Per micro-batch: registry discovery from the batch's TABLE_MAPs (a
    table first seen mid-stream gets its lake table created then), then
    cdc.multi.apply_generic_batch — the same decode, staging and per-table
    routed apply as batch replay.  Exactly-once is double-keyed per
    table: streaming checkpoint at the source, batch-id idempotence at
    each table's snapshot log.  Returns the StreamingQuery."""
    wide_order = manifest_wide_order(dump_dir)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        registry = scan_table_registry_blobs(batch_df)
        if not registry:
            return
        tables = ensure_tables(lake_root, registry, n_buckets=n_buckets)
        apply_generic_batch(
            spark, batch_df,
            os.path.join(lake_root, f".stream-batch-{batch_id}"),
            registry, tables, f"stream-{checkpoint_dir}-{batch_id}",
            wide_order=wide_order)
        if on_batch is not None:
            on_batch(batch_id, {t: tbl.current_snapshot_id()
                                for t, tbl in tables.items()})

    return _start_tail(spark, dump_dir, checkpoint_dir, apply,
                       available_now=available_now,
                       processing_interval=processing_interval)
