"""End-to-end replay: staged binlog chunks → lake table, exactly-once.

The distributed counterpart of the reference's caller loop
(Seek → NextEvent → NextRow → apply, /root/reference/doc.go:33-66), with
the dump/resume semantics of /root/reference/dump.go:14-125 lifted to
checkpointed, idempotent batch commits.

``apply_batch`` is the single-table apply core: one batch of binlog bytes
(chunk spans, or raw file blobs from the streaming tail) goes through
key-only and full decode → FULL or MINIMAL reduction → schema-evolution
flatten → optional per-file lineage → MERGE into the lake table.  Two
thin loops drive it:

  * ``replay``: deterministic chunk-range batches (so batch_ids are
    stable); a batch whose batch_id is already committed is skipped
    (exactly-once under retries/restarts, resume = skip and continue);
    each commit records the batch's resume offsets
  * ``streaming.tail.stream_apply``: one micro-batch of binlog files per
    ``foreachBatch`` call

The per-batch policies both loops share are decided here once:
``manifest_wide_order`` (the order-key width), ``span_offsets`` (the
resume position after a span batch) and ``batch_broadcast`` (the winner
broadcast rule for span batches; the tails broadcast always).
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..decoder.chunks import chunks_df, read_manifest, spans_df
from ..decoder.kernel import decode_changes, decode_keys
from ..lake.table import LakeTable
from .pipeline import (flatten_extras, reduce_changes,
                       reduce_changes_minimal, scan_extra_columns)


def _batch_id(dump_dir: str, idx: int, spans: list) -> str:
    h = hashlib.sha256(repr((os.path.abspath(dump_dir), idx, spans)).encode())
    return h.hexdigest()[:16]


def plan_batches(chunks: list[tuple], chunks_per_batch: int | None) -> list[list[tuple]]:
    if not chunks_per_batch or chunks_per_batch >= len(chunks):
        return [chunks] if chunks else []
    return [chunks[i:i + chunks_per_batch]
            for i in range(0, len(chunks), chunks_per_batch)]


def manifest_wide_order(dump_dir: str) -> bool:
    """Whether the dump needs the DECIMAL order key (no 32767 seq clamp):
    true when its manifest records a transaction of more than 32767
    rows.  A dump without a manifest keeps the narrow packed BIGINT;
    foreign dumps with such transactions must say so explicitly."""
    try:
        return read_manifest(dump_dir).get("max_tx_rows", 0) > 32767
    except (OSError, ValueError, KeyError):
        return False


def span_offsets(spans: list[tuple]) -> dict:
    """Resume position after a batch of chunk spans: the end of the last
    span of the batch's last file."""
    last_file = max(s[1] for s in spans)
    last_end = max(s[2] + s[3] for s in spans if s[1] == last_file)
    return {"log_file": last_file, "next_pos": int(last_end)}


def batch_broadcast(spans: list[tuple], override: bool | None) -> bool:
    """``broadcast_winners`` for one span batch: ``override`` when set,
    else broadcast only when the batch holds at least
    BROADCAST_WINNERS_MIN_BYTES of binlog input.  A small batch takes the
    shuffle plan, which runs as one job with no checkpoint
    materializations (measured ~30% faster at <=76 MB batches, identical
    fingerprints; the broadcast plan stays ~2x faster at 1.5 GB)."""
    from .pipeline import BROADCAST_WINNERS_MIN_BYTES
    if override is not None:
        return override
    return sum(int(sp[3]) for sp in spans) >= BROADCAST_WINNERS_MIN_BYTES


def write_lineage(events: DataFrame, table_root: str, batch_id: str) -> None:
    """Per-file lineage rows for one batch: events decoded, events
    quarantined (bad CRC) and the log position range of each file."""
    agg = (events.groupBy("log_file")
           .agg(F.count("*").alias("events_decoded"),
                F.sum(F.when(~F.col("crc_ok"), 1).otherwise(0)).alias("events_quarantined"),
                F.min("log_pos").alias("from_pos"),
                F.max("log_pos").alias("to_pos"))
           .withColumn("batch_id", F.lit(batch_id)))
    out = os.path.join(table_root, "lineage", batch_id)
    agg.write.mode("overwrite").parquet(out)


def apply_batch(spark: SparkSession, table: LakeTable, source: DataFrame,
                batch_id: str, *, extra_names: list[str],
                minimal_images: bool = False,
                broadcast_winners: bool = True,
                wide_order: bool = False, salt_buckets: int = 0,
                partitions: int | None = None,
                offsets: dict | None = None,
                lineage: bool = False) -> dict:
    """Apply one batch of binlog bytes to a single-table lake table;
    returns the MERGE's snapshot (``{"skipped": True}`` when the batch id
    is already committed).

    ``source`` is what the kernel decoder reads: chunk spans or raw file
    blobs.  ``extra_names`` are the schema-evolution columns the caller
    discovered from the batch's TABLE_MAPs (never by executing the
    pipeline).  ``minimal_images``: partial after-images are column
    PATCHES, reduced per column (reduce_changes_minimal) and coalesced
    with the existing rows by the MERGE."""
    events = decode_changes(source, partitions=partitions)
    # late materialization: the winner search (and the MINIMAL key-move
    # edge probe) runs on the cheap key-only decode, so payload bytes are
    # decoded once, inside the reduction
    keys = decode_keys(source, partitions=partitions)
    if minimal_images:
        upserts = reduce_changes_minimal(
            events, extra_names=extra_names,
            broadcast_winners=broadcast_winners, key_events=keys,
            wide_order=wide_order)
    else:
        upserts = reduce_changes(events, salt_buckets=salt_buckets,
                                 key_events=keys,
                                 broadcast_winners=broadcast_winners,
                                 wide_order=wide_order)
        upserts, _new_cols = flatten_extras(upserts, names=extra_names)
    if lineage:
        # lineage re-runs the decode (cheap, embarrassingly parallel)
        # rather than caching the event stream — a DataFrame cache build
        # costs more than a second decode pass at scale
        write_lineage(events, table.root, batch_id)
    return table.merge(spark, upserts, batch_id=batch_id, offsets=offsets)


def replay(spark: SparkSession, dump_dir: str, table_root: str, *,
           chunks_per_batch: int | None = None, salt_buckets: int = 0,
           n_buckets: int = 32,
           lineage: bool = True,
           compact_every: int | None = None,
           compact_tombstone_ratio: float | None = None,
           minimal_images: bool = False,
           broadcast_winners: bool | None = None,
           wide_order: bool | None = None) -> LakeTable:
    """Replay a dump dir into a lake table; safe to re-run (idempotent).

    ``compact_every`` / ``compact_tombstone_ratio``: retention policy —
    after each committed batch the table compacts when N commits have
    accumulated since the last compact, or when persisted tombstones
    exceed the given fraction of live rows (see LakeTable.maybe_compact).

    ``minimal_images``: the dump was written under
    binlog_row_image=MINIMAL (see ``apply_batch``).

    ``broadcast_winners``: None (default) auto-selects per batch by input
    bytes (``batch_broadcast``).

    ``wide_order``: DECIMAL order key with no 32767 seq clamp, for
    single transactions beyond 32k rows on one key (pack_ord wide).
    None (default) auto-enables from the dump manifest
    (``manifest_wide_order``); pass True explicitly for foreign dumps
    without a manifest.  Chunk spans are transaction-aligned, so a
    transaction never splits across batches and the lake MERGE's
    cross-batch winner search stays on the narrow packed BIGINT.
    """
    # looked up at call time: per-layer tracing wraps the module attribute
    from ..decoder.chunks import decode_parallelism

    if wide_order is None:
        wide_order = manifest_wide_order(dump_dir)
    table = LakeTable(table_root, n_buckets=n_buckets)
    table.create()
    all_chunks = [tuple(r) for r in
                  chunks_df(spark, dump_dir).collect()]
    committed = table.committed_batch_ids()

    for i, spans in enumerate(plan_batches(all_chunks, chunks_per_batch)):
        bid = _batch_id(dump_dir, i, [s[1:] for s in spans])
        if bid in committed:
            continue
        # schema evolution: extras observed in this batch become real
        # columns; the MERGE widens the table schema accordingly.  Names
        # come from a driver-side TABLE_MAP scan
        apply_batch(spark, table, spans_df(spark, spans), bid,
                    extra_names=scan_extra_columns(spans),
                    minimal_images=minimal_images,
                    broadcast_winners=batch_broadcast(spans,
                                                      broadcast_winners),
                    wide_order=wide_order, salt_buckets=salt_buckets,
                    partitions=decode_parallelism(spark, spans),
                    offsets=span_offsets(spans), lineage=lineage)
        if compact_every or compact_tombstone_ratio:
            table.maybe_compact(spark, every_n_commits=compact_every,
                                tombstone_ratio=compact_tombstone_ratio)
    return table


def replay_throughput(spark: SparkSession, dump_dir: str, table_root: str,
                      **kw) -> dict:
    """Run replay and report events/sec (bench harness helper)."""
    t0 = time.time()
    table = replay(spark, dump_dir, table_root, **kw)
    wall = time.time() - t0
    n = read_manifest(dump_dir)["n_changes"]
    return {"wall_sec": wall, "changes": n,
            "changes_per_sec": n / wall if wall else float("inf"),
            "snapshot": table.current_snapshot_id()}
