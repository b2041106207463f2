"""The traced run: per-layer numbers measured from outside the program.

Only in a traced run, the benchmark replaces the layers' public
functions with wrappers from this file.  A wrapper records a span (name,
start, end, parent, counters) and sets a Spark job group, so the Spark
event log (switched on from ``run.py``'s launcher) attributes executor
work to the layer that ran it.  Iterations (micro-batches on the tail)
alternate between traced and bare; the difference of their medians is
the tracing overhead.

Decode and reduce are lazy: their executor work runs inside the first
action that consumes them (the lake merge, the staging write).  Their
own cost therefore comes from isolated probes that run the same public
functions on one batch's input into Spark's ``noop`` sink.

Every per-layer number is per batch: traced sums are divided by the
traced batches, and each probe runs on one batch's input.  A layer the
workload bypasses reports 0.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

from bench_extra import tree_cpu_sec

#: phases of the event-log fold, in report order
PHASES = ("decode", "decode_generic", "reduce", "lineage", "stage",
          "table_apply", "merge", "other")
GROUP = "cdcbench."
PROBE = "cdcbench.probe."
JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._anchor: list[dict] = []
        self._patched: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def enable(self, on: bool) -> None:
        """Trace calls from now on; the calling thread drives the batch,
        so pool threads without an open span hang under its top span."""
        self.enabled = on
        if on:
            self._anchor = self._stack()

    # -- wrappers ------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, phase: str,
             around=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            return tracer._call(orig, args, kwargs, name, phase, around)
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _call(self, orig, args, kwargs, name, phase, around):
        stack = self._stack()
        if stack:
            parent = stack[-1]["id"]
        else:
            parent = self._anchor[-1]["id"] if self._anchor else None
        span = {"id": next(self._ids), "name": name, "phase": phase,
                "parent": parent, "top": not stack and not self._anchor,
                "start": time.time()}
        prev = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, GROUP + phase)
        stack.append(span)
        try:
            if around is None:
                return orig(*args, **kwargs)
            result, counters = around(args, kwargs,
                                      lambda: orig(*args, **kwargs))
            span.update(counters)
            return result
        except Exception as e:
            if type(e).__name__ == "CommitConflict":
                span["conflict"] = 1
            raise
        finally:
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev)
            span["end"] = time.time()
            with self._lock:
                self.spans.append(span)

    def install(self) -> None:
        """Wrap every public layer function the drivers call, at the
        name the driver looks it up under."""
        from binlog_spark.cdc import multi, replay
        from binlog_spark.decoder import chunks
        from binlog_spark.lake import table
        from binlog_spark.streaming import tail

        w = self.wrap
        for mod in (replay, multi):
            w(mod, "chunks_df", "chunks.list", "other")
            w(mod, "spans_df", "chunks.spans_df", "other")
        w(chunks, "decode_parallelism", "chunks.parallelism", "other")
        for mod in (replay, tail):
            w(mod, "decode_changes", "decode.plan", "decode")
            w(mod, "decode_keys", "decode_keys.plan", "decode")
            w(mod, "reduce_changes", "reduce.plan", "reduce")
            w(mod, "reduce_changes_minimal", "reduce.plan", "reduce")
            w(mod, "flatten_extras", "reduce.flatten", "reduce")
        w(replay, "scan_extra_columns", "scan_extra", "other")
        w(tail, "scan_extra_columns_blobs", "scan_extra", "other")
        w(replay, "write_lineage", "lineage", "lineage")
        w(multi, "decode_changes_vals", "decode_generic.plan",
          "decode_generic")
        w(multi, "scan_table_registry_spans", "registry.scan", "other")
        w(multi, "ensure_tables", "table_apply.ensure", "table_apply")
        w(multi, "stage_events", "stage", "stage", around=_stage_bytes)
        w(multi, "apply_staged_batch", "table_apply", "table_apply")
        w(multi, "table_upserts", "table_apply.upserts", "table_apply")
        w(multi, "table_upserts_minimal", "table_apply.upserts",
          "table_apply")
        w(table.LakeTable, "merge", "merge", "merge",
          around=_merge_counters)


def _stage_bytes(args, kwargs, call):
    result = call()
    from .measure import dir_bytes
    staging = kwargs.get("staging", args[1] if len(args) > 1 else "")
    return result, {"bytes": dir_bytes(staging)}


def _merge_counters(args, kwargs, call):
    """Counters of one LakeTable.merge, read from the snapshot it returns
    against the one it started from."""
    table = args[0]
    old = table.snapshot() or {}
    new = call()
    if new.get("skipped"):
        return new, {}
    before = old.get("buckets", {})
    rows = new.get("bucket_rows", {})
    touched = [b for b, files in new["buckets"].items()
               if files != before.get(b)]
    st = new["stats"]
    return new, {"files_written": st["data_files_written"],
                 "touched_buckets": st["touched_buckets"],
                 "upserts": st["upserts"],
                 "rows_rewritten": sum(rows.get(b, 0) for b in touched)}


# -- isolated probes ---------------------------------------------------------

class Probes:
    """Public layer functions run on one batch's input into ``noop``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.out: dict[str, dict] = {}

    def run(self, key: str, phase: str, build) -> dict:
        """Time ``build()`` (a DataFrame) written to the noop sink; the
        row count comes from an Observation on the same pass."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        sc.setLocalProperty(JOB_GROUP, PROBE + phase)
        try:
            c0 = tree_cpu_sec()
            t0 = time.time()
            obs = Observation(f"probe-{key}")
            (build().observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            wall = time.time() - t0
            cpu = tree_cpu_sec() - c0
            rows = int(obs.get["n"] or 0)
        finally:
            sc.setLocalProperty(JOB_GROUP, None)
        self.out[key] = {"wall_s": wall, "cpu_s": cpu, "rows": rows}
        return self.out[key]

    def chunks(self, dump: str) -> dict:
        from binlog_spark.decoder.chunks import chunks_df
        t0 = time.time()
        spans = chunks_df(self.spark, dump).collect()
        self.out["chunks"] = {"wall_s": time.time() - t0,
                              "spans": len(spans),
                              "bytes": sum(int(s[3]) for s in spans)}
        return self.out["chunks"]

    def kernel(self, spans: list[tuple], *, parts: int | None,
               broadcast_winners: bool | None) -> None:
        """decode, decode_keys and decode+reduce, as replay and the tail
        compose them.  ``parts`` and ``broadcast_winners`` are what the
        driver passes; None where it passes nothing."""
        from binlog_spark.cdc.pipeline import (flatten_extras,
                                               reduce_changes,
                                               scan_extra_columns)
        from binlog_spark.decoder.chunks import spans_df
        from binlog_spark.decoder.kernel import decode_changes, decode_keys

        def cdf():
            return spans_df(self.spark, spans)
        self.run("decode", "decode",
                 lambda: decode_changes(cdf(), partitions=parts))
        self.run("decode_keys", "decode",
                 lambda: decode_keys(cdf(), partitions=parts))
        kw = ({} if broadcast_winners is None
              else {"broadcast_winners": broadcast_winners})

        def reduced():
            c = cdf()
            up = reduce_changes(decode_changes(c, partitions=parts),
                                key_events=decode_keys(c, partitions=parts),
                                **kw)
            return flatten_extras(up, names=scan_extra_columns(spans))[0]
        self.run("reduce", "reduce", reduced)

    def generic(self, spans: list[tuple]) -> None:
        from binlog_spark.decoder.chunks import (GENERIC_SPAN_TARGET,
                                                 decode_parallelism, spans_df)
        from binlog_spark.decoder.generic import decode_changes_vals

        parts = decode_parallelism(self.spark, spans,
                                   target=GENERIC_SPAN_TARGET)
        self.run("decode_generic", "decode_generic",
                 lambda: decode_changes_vals(spans_df(self.spark, spans),
                                             partitions=parts))


# -- Spark event log -----------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application that logged into ``log_dir``: a
    single file, or a rolling ``eventlog_v2_*`` directory of
    ``events_<n>_*`` parts."""
    apps = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(apps)}")
    parts = [apps[0]]
    if os.path.isdir(apps[0]):
        parts = sorted(glob.glob(os.path.join(apps[0], "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for part in parts:
        with open(part) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def fold_event_log(events: list[dict],
                   windows: list[tuple[float, float]]) -> dict:
    """Per-phase task metrics.  A job counts when it carries a benchmark
    job group (its phase) or was submitted inside a traced window
    (phase ``other``).  Returns {"window": {phase: totals}, "probe":
    {phase: totals}, "window_jobs": n}."""
    def zero():
        return {"executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "tasks": 0}
    out = {"window": {p: zero() for p in PHASES},
           "probe": {p: zero() for p in PHASES}, "window_jobs": 0}
    stage_of: dict[int, tuple[str, str]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
        t = ev.get("Submission Time", 0) / 1000.0
        inside = any(a <= t <= b for a, b in windows)
        if group.startswith(PROBE):
            where, phase = "probe", group[len(PROBE):]
        elif group.startswith(GROUP) and inside:
            where, phase = "window", group[len(GROUP):]
        elif inside:
            where, phase = "window", "other"
        else:
            continue
        if where == "window":
            out["window_jobs"] += 1
        phase = phase if phase in PHASES else "other"
        for sid in ev.get("Stage IDs", []):
            stage_of.setdefault(sid, (where, phase))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        hit = stage_of.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if hit is None or not m:
            continue
        acc = out[hit[0]][hit[1]]
        acc["tasks"] += 1
        acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    return out


# -- per-layer metrics -----------------------------------------------------------

UNITS = {"_s": "s", ".s": "s", "_bytes": "bytes", "bytes": "bytes", "tasks": "count",
         "changes_per_s": "changes/s", "per_change": "ratio",
         "per_upsert": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def layer_metrics(*, session: dict, spans: list[dict],
                  windows: list[tuple[float, float, bool]],
                  batches_per_window: int, probes: dict, kernel: bool,
                  generic: bool, changes_per_batch: float,
                  folded: dict, stream: dict) -> dict:
    """Every per-layer metric, per batch; 0 for a bypassed layer."""
    traced = [(a, b) for a, b, t in windows if t]
    bare = [(a, b) for a, b, t in windows if not t]
    n_batches = max(1, len(traced) * batches_per_window)

    def inside(s):
        return any(a - 1e-3 <= s["start"] and s["end"] <= b + 1e-3
                   for a, b in traced)
    live = [s for s in spans if inside(s)]

    def total(name, key=None):
        return sum((s.get(key, 0) if key else s["end"] - s["start"])
                   for s in live if s["name"] == name)

    top = sum(s["end"] - s["start"] for s in live if s["top"])
    window_wall = sum(b - a for a, b in traced)
    upserts = total("merge", "upserts")
    m = dict(session)

    chunks = probes.get("chunks", {})
    m["chunks.list_s"] = chunks.get("wall_s", 0.0)
    m["chunks.spans"] = chunks.get("spans", 0)
    m["chunks.binlog_bytes"] = chunks.get("bytes", 0)

    def probe(key, field):
        return probes.get(key, {}).get(field, 0.0)
    dec, keys, red = (probe("decode", "wall_s"), probe("decode_keys", "wall_s"),
                      probe("reduce", "wall_s"))
    m["decode.wall_s"] = dec if kernel else 0.0
    m["decode.cpu_s"] = probe("decode", "cpu_s") if kernel else 0.0
    m["decode.changes_per_s"] = (changes_per_batch / dec
                                 if kernel and dec else 0.0)
    m["decode_keys.wall_s"] = keys if kernel else 0.0
    gen = probe("decode_generic", "wall_s")
    m["decode_generic.wall_s"] = gen if generic else 0.0
    m["decode_generic.cpu_s"] = (probe("decode_generic", "cpu_s")
                                 if generic else 0.0)
    m["decode_generic.changes_per_s"] = (changes_per_batch / gen
                                         if generic and gen else 0.0)
    m["reduce.self_s"] = red - dec - keys if kernel else 0.0
    m["reduce.cpu_s"] = (probe("reduce", "cpu_s") - probe("decode", "cpu_s")
                         - probe("decode_keys", "cpu_s")) if kernel else 0.0
    m["reduce.upserts_per_change"] = (probe("reduce", "rows")
                                      / changes_per_batch
                                      if kernel and changes_per_batch else 0.0)
    m["scan_extra.s"] = total("scan_extra") / n_batches
    m["registry.scan_s"] = total("registry.scan") / n_batches
    m["stage.wall_s"] = total("stage") / n_batches
    m["stage.bytes"] = total("stage", "bytes") / n_batches
    m["table_apply.wall_s"] = total("table_apply") / n_batches
    merge = total("merge") / n_batches
    m["merge.wall_s"] = merge
    # the merge executes its lazy input; on the kernel workloads the
    # decode+reduce probe isolates that input on one batch
    m["merge.self_s"] = merge - red if kernel else merge
    m["merge.files_written"] = total("merge", "files_written") / n_batches
    m["merge.touched_buckets"] = total("merge", "touched_buckets") / n_batches
    m["merge.rows_rewritten_per_upsert"] = (
        total("merge", "rows_rewritten") / upserts if upserts else 0.0)
    m["commit.conflicts"] = total("merge", "conflict")
    m["lineage.wall_s"] = total("lineage") / n_batches
    for key in ("stream.batches", "stream.files_per_batch",
                "stream.add_batch_s", "stream.trigger_overhead_s",
                "stream.backlog_max_files", "generator.lateness_s"):
        m[key] = stream.get(key, 0)
    m["driver.gap_s"] = (window_wall - top) / n_batches
    m["jobs_per_batch"] = folded["window_jobs"] / n_batches
    for phase in PHASES:
        for k in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
                  "tasks"):
            m[f"{phase}.{k}"] = (folded["window"][phase][k] / n_batches
                                 + folded["probe"][phase][k])

    def med(ws):
        return statistics.median(b - a for a, b in ws) if ws else 0.0
    m["trace.overhead_s"] = (med(traced) - med(bare)) / batches_per_window
    m["trace.batches"] = n_batches
    return m
