"""The three CDC workloads, each driven through the program's public
drivers with their default arguments.

Every workload has the same life cycle, called by ``run.py``:

  prepare()  build or reuse the seeded dump (outside every timed region)
  warmup()   the fixed warm-up; its first cold apply is reported
  measure()  the timed region: a fixed number of calls, or the tail's
             ``seconds``-long schedule; every call is checked against
             the generator's golden before the next
  finish()   read the lake's bytes
  stop()     stop what the workload started (also on failure)

Samples land in ``self.samples``; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback

from bench_extra import tree_cpu_sec

from . import fixtures
from .measure import Tally, backlog_max, dir_bytes, source_log_batches


class Samples:
    """Raw measurements of one timed region."""

    def __init__(self) -> None:
        #: (changes, wall seconds) per apply call, or per stream window
        self.applies: list[tuple[int, float]] = []
        self.cpu_s = 0.0
        self.cpu_changes = 0
        self.batch_latency: list[float] = []
        self.freshness: list[float] = []
        #: (start, end, traced) of every timed iteration or micro-batch
        self.windows: list[tuple[float, float, bool]] = []
        self.batches = 0
        self.extra: dict = {}


class Workload:
    name = ""
    #: expected seconds of one warm apply call; sets the call count
    NOMINAL_S = 1.0

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tally: Tally) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tally = tally
        self.tracer = None
        self.samples = Samples()
        self.first_apply_s = 0.0
        self.lake_bytes = 0
        self.binlog_bytes = 0
        self.descriptors: dict = {}
        self.scratch = os.path.join(work, f"run-{os.getpid()}")
        #: the lake whose bytes are reported
        self.last_lake = ""

    def lake(self, tag: str) -> str:
        path = os.path.join(self.scratch, f"lake-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def attach(self, tracer) -> None:
        """Trace from the next timed iteration on."""
        self.tracer = tracer

    def traced(self, i: int) -> bool:
        """Traced runs alternate: odd iterations carry the wrappers, even
        ones run bare, so their difference is the tracing overhead."""
        return self.tracer is not None and i % 2 == 1

    def closed_loop(self, apply_once) -> None:
        """Call ``apply_once(i)`` back to back, ``seconds / NOMINAL_S``
        times.  The count is fixed by ``--seconds`` rather than by the
        clock, so two commits time the same calls, at the same point of
        the JVM's warm-up curve.  A traced run makes at least one bare
        and one traced call."""
        calls = max(2 if self.tracer else 1,
                    round(self.seconds / self.NOMINAL_S))
        for i in range(calls):
            if not apply_once(i):
                break

    def finish(self) -> None:
        """Read the lake's bytes once the timed region is over."""
        self.lake_bytes = dir_bytes(self.last_lake)

    def stop(self) -> None:
        """Stop whatever the workload started; safe to call twice."""


def _failed(tally: Tally, kind: str) -> bool:
    tally.record(kind, False, traceback.format_exc(limit=3))
    return False


# -- correctness -----------------------------------------------------------

def repo_state_matches(spark, table, dump: str) -> tuple[bool, str]:
    """Lake state vs ``golden_state.parquet``.  The golden stores
    ``content_sha256``, so the lake side is hashed the same way."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    golden = pq.read_table(os.path.join(dump, "golden_state.parquet"))
    want = sorted(zip(*(golden.column(c).to_pylist() for c in
                        ("repo", "path", "commit", "lang",
                         "content_sha256"))))
    df = table.read(spark).select(
        "repo", "path", "commit", "lang",
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
    got = sorted(tuple(r) for r in df.collect())
    if got == want:
        return True, ""
    return False, (f"{len(got)} lake rows vs {len(want)} golden rows, "
                   f"{len(set(got) ^ set(want))} differ")


def multi_state_matches(spark, tables: dict, dump: str) -> tuple[bool, str]:
    """Rendered lake tables vs ``golden_multi.parquet``, rendered the way
    the contract query renders them."""
    import pyarrow.parquet as pq

    from binlog_spark.ops.binlog_demo import _render_tables

    golden = pq.read_table(os.path.join(dump, "golden_multi.parquet"))
    cols = ("table_schema", "table_name", "pk_json", "row_json")
    want = sorted(zip(*(golden.column(c).to_pylist() for c in cols)))
    got = sorted(tuple(r) for r in
                 _render_tables(spark, tables).select(*cols).collect())
    if got == want:
        return True, ""
    return False, (f"{len(got)} lake rows vs {len(want)} golden rows, "
                   f"{len(set(got) ^ set(want))} differ")


# -- repo_bulk_replay ------------------------------------------------------

class BulkReplay(Workload):
    """``cdc.replay.replay`` of one FULL-image dump as one batch into an
    empty lake, lineage on: per-change cost dominates."""

    name = "repo_bulk_replay"
    N_CHANGES = 20_000
    WARM_CHANGES = 2_000
    NOMINAL_S = 6.0

    def prepare(self) -> None:
        self.dump = fixtures.repo_dump(self.work, self.seed, self.N_CHANGES)
        self.warm = fixtures.repo_dump(self.work, self.seed,
                                       self.WARM_CHANGES)
        self.descriptors = fixtures.load_descriptors(self.dump)
        self.descriptors["batches"] = 1
        self.binlog_bytes = self.descriptors["binlog_bytes"]

    def _apply(self, dump: str, lake: str):
        from binlog_spark.cdc.replay import replay
        return replay(self.spark, dump, lake)

    def warmup(self) -> None:
        lake = self.lake("warm")
        t = time.time()
        try:
            table = self._apply(self.warm, lake)
        except Exception:
            _failed(self.tally, "warm-up apply")
            raise
        self.first_apply_s = time.time() - t
        self.tally.record("warm-up apply",
                          *repo_state_matches(self.spark, table, self.warm))

    def measure(self) -> None:
        s = self.samples
        n = self.descriptors["changes"]
        files = self.descriptors["files"]

        def once(i: int) -> bool:
            lake = self.lake("bulk")
            traced = self.traced(i)
            if self.tracer:
                self.tracer.enable(traced)
            c0 = tree_cpu_sec()
            t0 = time.time()
            try:
                table = self._apply(self.dump, lake)
            except Exception:
                return _failed(self.tally, "apply")
            t1 = time.time()
            s.cpu_s += tree_cpu_sec() - c0
            if self.tracer:
                self.tracer.enable(False)
            s.cpu_changes += n
            s.windows.append((t0, t1, traced))
            s.applies.append((n, t1 - t0))
            commits = [sn["committed_at"] for sn in table.snapshots()
                       if sn.get("batch_id")]
            s.batches += len(commits)
            s.batch_latency += [c - t0 for c in commits]
            # one batch holds the whole dump: every file becomes visible
            # at its commit
            s.freshness += [max(commits) - t0] * files
            ok, why = repo_state_matches(self.spark, table, self.dump)
            self.last_lake = lake
            return self.tally.record("apply", ok and len(commits) == 1,
                                     why or f"{len(commits)} commits")
        self.closed_loop(once)


# -- multi_minimal_catchup -------------------------------------------------

class MultiCatchup(Workload):
    """``cdc.multi.replay_generic`` of a three-table MINIMAL-image dump in
    several batches into tables that keep growing."""

    name = "multi_minimal_catchup"
    N_CHANGES = 9_000
    #: three spans, so the warm-up applies in three batches
    WARM_CHANGES = 700
    BATCHES = 3
    NOMINAL_S = 20.0

    def prepare(self) -> None:
        from binlog_spark.decoder.chunks import read_manifest

        self.dump = fixtures.multi_dump(self.work, self.seed, self.N_CHANGES)
        self.warm = fixtures.multi_dump(self.work, self.seed,
                                        self.WARM_CHANGES)
        self.descriptors = fixtures.load_descriptors(self.dump)
        chunks = read_manifest(self.dump)["chunks"]
        self.cpb = -(-len(chunks) // self.BATCHES)
        self.descriptors["batches"] = -(-len(chunks) // self.cpb)
        self.descriptors["chunks_per_batch"] = self.cpb
        self.binlog_bytes = self.descriptors["binlog_bytes"]
        # the batch index that makes each file fully visible
        last: dict[str, int] = {}
        for i, (f, _off, _len) in enumerate(chunks):
            last[f] = i // self.cpb
        self.file_batch = last

    def warmup(self) -> None:
        """One span per batch, so the warm-up takes the timed calls' path:
        the first batch creates the tables and the rest merge into them.
        A one-batch warm-up leaves those merges cold, and the first timed
        call then pays for their JIT compilation."""
        from binlog_spark.cdc.multi import replay_generic
        lake = self.lake("warm")
        t = time.time()
        try:
            tables = replay_generic(self.spark, self.warm, lake,
                                    chunks_per_batch=1)
        except Exception:
            _failed(self.tally, "warm-up apply")
            raise
        self.first_apply_s = time.time() - t
        self.tally.record("warm-up apply",
                          *multi_state_matches(self.spark, tables, self.warm))

    def measure(self) -> None:
        from binlog_spark.cdc.multi import replay_generic
        s = self.samples
        n = self.descriptors["changes"]
        want_batches = self.descriptors["batches"]

        def once(i: int) -> bool:
            lake = self.lake("multi")
            traced = self.traced(i)
            if self.tracer:
                self.tracer.enable(traced)
            c0 = tree_cpu_sec()
            t0 = time.time()
            try:
                tables = replay_generic(self.spark, self.dump, lake,
                                        chunks_per_batch=self.cpb)
            except Exception:
                return _failed(self.tally, "apply")
            t1 = time.time()
            s.cpu_s += tree_cpu_sec() - c0
            if self.tracer:
                self.tracer.enable(False)
            s.cpu_changes += n
            s.windows.append((t0, t1, traced))
            s.applies.append((n, t1 - t0))
            # a batch is committed once every table holds its snapshot
            commit: dict[str, float] = {}
            for t in tables.values():
                for sn in t.snapshots():
                    bid = sn.get("batch_id")
                    if bid:
                        commit[bid] = max(commit.get(bid, 0.0),
                                          sn["committed_at"])
            ordered = sorted(commit.values())
            for b, c in enumerate(ordered):
                s.batch_latency.append(c - (ordered[b - 1] if b else t0))
                self.tally.record("batch", True)
            s.batches += len(ordered)
            if len(ordered) == want_batches:
                s.freshness += [ordered[b] - t0
                                for b in self.file_batch.values()]
            ok, why = multi_state_matches(self.spark, tables, self.dump)
            self.last_lake = lake
            return self.tally.record(
                "apply", ok and len(ordered) == want_batches,
                why or f"{len(ordered)} of {want_batches} batches committed")
        self.closed_loop(once)


# -- repo_stream_tail ------------------------------------------------------

class StreamTail(Workload):
    """``streaming.tail.stream_apply`` tailing a directory that one
    publisher thread fills on a fixed schedule (open loop).

    One 4 MB file arrives every ``INTERVAL_S`` seconds.  A micro-batch
    takes less than that, so each file becomes exactly one micro-batch
    whatever the host's speed.  With small files arriving faster, the
    files of a run fell into a number of micro-batches that depended on
    how fast the batches ran, and the freshness, batch latency and write
    amplification of a run jumped with that count."""

    name = "repo_stream_tail"
    FILE_BYTES = 4 << 20
    #: seconds between two published files
    INTERVAL_S = 8.0
    #: changes per full file at FILE_BYTES under GenConfig defaults
    CHANGES_PER_FILE = 1460
    #: warm-up files, one micro-batch each: the first creates the table,
    #: the second takes the incremental-merge path
    WARM_FILES = 2
    #: longest wait for the last file's commit after the schedule ends
    DRAIN_S = 60.0

    def timed_files(self) -> int:
        """Files due within ``--seconds``: at 0, INTERVAL_S, ..."""
        return max(2, int(self.seconds // self.INTERVAL_S) + 1)

    def prepare(self) -> None:
        n_files = self.WARM_FILES + self.timed_files()
        # half a file short of n_files full ones: the generator rotates by
        # bytes, and this leaves the file count the same for every seed
        self.dump = fixtures.repo_dump(
            self.work, self.seed,
            round((n_files - 0.5) * self.CHANGES_PER_FILE),
            max_file_bytes=self.FILE_BYTES)
        self.descriptors = fixtures.load_descriptors(self.dump)
        if self.descriptors["files"] != n_files:
            raise RuntimeError(f"fixture has {self.descriptors['files']} "
                               f"binlog files, not {n_files}")
        self.binlog_bytes = self.descriptors["binlog_bytes"]
        self.files = fixtures.binlog_files(self.dump)
        self.watch = os.path.join(self.scratch, "watch")
        self.ckpt = os.path.join(self.scratch, "checkpoint")
        self.table_root = self.last_lake = self.lake("stream")
        os.makedirs(self.watch, exist_ok=True)
        self.commits: dict[int, tuple[float, dict]] = {}
        self.published: dict[str, tuple[float, float]] = {}

    def attach(self, tracer) -> None:
        # the first timed micro-batch is a traced one
        super().attach(tracer)
        tracer.enable(True)

    def traced(self, i: int) -> bool:
        # micro-batch ids count the warm-up batches too
        return self.tracer is not None and (i - self.WARM_FILES) % 2 == 0

    def _on_batch(self, batch_id: int, snap: dict) -> None:
        self.commits[batch_id] = (time.time(), snap)
        if self.tracer:
            # alternate traced and bare micro-batches
            self.tracer.enable(self.traced(batch_id + 1))

    def _stage(self, name: str) -> str:
        """Copy a file in under a hidden name, which the stream skips."""
        tmp = os.path.join(self.watch, f".{name}.tmp")
        shutil.copyfile(os.path.join(self.dump, name), tmp)
        return tmp

    def _publish(self, name: str, tmp: str) -> None:
        os.rename(tmp, os.path.join(self.watch, name))

    def _wait(self, names: list[str], timeout: float) -> bool:
        """Until every named file sits in a committed micro-batch."""
        end = time.time() + timeout
        while time.time() < end:
            if self.query.exception() is not None:
                return False
            where = source_log_batches(self.ckpt)
            if all(n in where and all(b in self.commits for b in where[n])
                   for n in names):
                return True
            time.sleep(0.05)
        return False

    def warmup(self) -> None:
        from binlog_spark.streaming.tail import stream_apply
        self.query = stream_apply(
            self.spark, self.watch, self.table_root, self.ckpt,
            available_now=False, processing_interval="0 seconds",
            on_batch=self._on_batch)
        for name in self.files[:self.WARM_FILES]:
            t = time.time()
            self._publish(name, self._stage(name))
            ok = self._wait([name], 180.0)
            self.first_apply_s = self.first_apply_s or time.time() - t
            if not self.tally.record("warm-up file", ok, "never committed"):
                raise RuntimeError("warm-up micro-batch never committed")

    def measure(self) -> None:
        s = self.samples
        timed = self.files[self.WARM_FILES:]
        start = time.time() + 1.0

        def publisher() -> None:
            for k, name in enumerate(timed):
                due = start + k * self.INTERVAL_S
                # the copy ahead of time; at the due time only the rename
                tmp = self._stage(name)
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._publish(name, tmp)
                self.published[name] = (due, time.time())

        c0 = tree_cpu_sec()
        pub = threading.Thread(target=publisher, name="publisher")
        pub.start()
        pub.join()
        drained = self._wait(timed, self.DRAIN_S)
        s.cpu_s = tree_cpu_sec() - c0
        if drained:
            self._wait_progress(timed, 10.0)
        if self.tracer:
            self.tracer.enable(False)
        self.query.stop()
        self._account(timed, drained)

    def _progress(self) -> dict[int, dict]:
        """Progress reports of the micro-batches that read files."""
        return {p["batchId"]: p for p in self.query.recentProgress
                if p.get("numInputRows")}

    def _wait_progress(self, names: list[str], timeout: float) -> None:
        """Until the micro-batches holding ``names`` have reported their
        progress: a batch commits in ``on_batch`` before its progress
        report is posted, and stopping the query in between loses the
        report, and with it the batch's start time."""
        end = time.time() + timeout
        while time.time() < end:
            where = source_log_batches(self.ckpt)
            if {where[n][0] for n in names if n in where} <= set(
                    self._progress()):
                return
            time.sleep(0.05)

    def _account(self, timed: list[str], drained: bool) -> None:
        s = self.samples
        per_file = self.descriptors["changes_per_file"]
        where = source_log_batches(self.ckpt)
        progress = self._progress()
        first = {n: where[n][0] for n in timed if n in where}
        timed_batches = sorted(set(first.values()))
        for name in timed:
            ids = where.get(name, [])
            ok = len(ids) == 1 and ids[0] in self.commits
            self.tally.record("published file", ok,
                              f"{name} in batches {ids}")
            if ok:
                s.freshness.append(self.commits[ids[0]][0]
                                   - self.published[name][0])
        busy = 0.0
        for b in timed_batches:
            if not self.tally.record(
                    "micro-batch", b in self.commits and b in progress,
                    f"batch {b} " + ("has no progress report"
                                     if b in self.commits
                                     else "never committed")):
                continue
            commit, snap = self.commits[b]
            start = _iso_epoch(progress[b]["timestamp"])
            s.batch_latency.append(commit - start)
            s.windows.append((start, commit, self.traced(b)))
            busy += commit - start
        s.batches = len(timed_batches)
        changes = sum(per_file.get(n, 0) for n in timed)
        s.cpu_changes = changes
        if busy:
            s.applies.append((changes, busy))
        lateness = [a - d for d, a in self.published.values()]
        s.extra = {
            "drained": drained,
            "interval_s": self.INTERVAL_S,
            "files_published": len(timed),
            "generator_lateness_max_s": round(max(lateness), 4),
            "open_loop_ok": max(lateness) < self.INTERVAL_S,
            "backlog_max_files": backlog_max(
                [self.published[n][0] for n in timed],
                [self.commits[first[n]][0] for n in timed
                 if n in first and first[n] in self.commits]),
            "files_per_batch": (round(len(first) / len(timed_batches), 3)
                                if timed_batches else 0),
            "progress": [progress[b] for b in timed_batches
                         if b in progress],
        }
        # exactly-once: no micro-batch id committed twice in the lake
        from binlog_spark.lake.table import LakeTable
        table = LakeTable(self.table_root)
        bids = [sn["batch_id"] for sn in table.snapshots()
                if sn.get("batch_id")]
        self.tally.record("snapshot log", len(bids) == len(set(bids)),
                          "a batch id repeats")
        self.tally.record("final state", *repo_state_matches(
            self.spark, table, self.dump))

    def stop(self) -> None:
        query, self.query = getattr(self, "query", None), None
        if query is not None and query.isActive:
            query.stop()


def _iso_epoch(stamp: str) -> float:
    """``2026-01-02T03:04:05.678Z`` (a progress timestamp) -> epoch s."""
    from datetime import datetime, timezone
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


WORKLOADS = {w.name: w for w in (BulkReplay, MultiCatchup, StreamTail)}
