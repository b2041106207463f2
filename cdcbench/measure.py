"""Measurement helpers shared by every workload: percentiles, error
accounting, process-tree samplers and the streaming checkpoint reader.

Nothing here imports Spark, so the self-tests run without a session.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it (nearest-rank).  With ``n`` samples that is the value of
    rank ``n - 10``, i.e. percentile ``100 * (n - 10) / n``.  Below 20
    samples that percentile would sit under the median, so the maximum
    is reported instead and ``rule_met`` is false: a reader sees the
    tail rests on too few samples."""
    n = len(values)
    if n == 0:
        return {"value": 0.0, "percentile": None, "n": 0, "beyond": 0,
                "rule_met": False}
    s = sorted(values)
    if n < 2 * TAIL_BEYOND:
        return {"value": float(s[-1]), "percentile": 100.0, "n": n,
                "beyond": 0, "rule_met": False}
    rank = n - TAIL_BEYOND
    return {"value": float(s[rank - 1]),
            "percentile": round(100.0 * rank / n, 2), "n": n,
            "beyond": n - rank, "rule_met": True}


class Tally:
    """Operations attempted and failed.  An operation is an apply call,
    a batch or a published file; it fails when it raised, was never
    committed, or its final state mismatched the golden."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, kind: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{kind}: {why}" if why else kind)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# -- process tree ----------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, resident pages) for every readable process."""
    out = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            continue
        head, rest = raw.rsplit(")", 1)
        fields = rest.split()
        out[int(head.split(" ", 1)[0])] = (int(fields[1]), int(fields[21]))
    return out


def _tree(procs: dict[int, tuple[int, int]], root: int) -> set[int]:
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def descendants() -> set[int]:
    """Every process this one started, directly or not."""
    return _tree(_proc_table(), os.getpid()) - {os.getpid()}


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` runs; returns those still running."""
    end = time.time() + timeout
    alive = set(pids)
    while alive and time.time() < end:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)}
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def tree_rss_bytes() -> int:
    """Resident bytes of this process and all its descendants: the JVM
    and every Python worker."""
    procs = _proc_table()
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(procs[p][1] for p in _tree(procs, os.getpid())
               if p in procs) * page


class RssSampler:
    """One thread sampling the process tree's resident memory; ``peak``
    holds the largest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


# -- streaming checkpoint --------------------------------------------------

def source_log_batches(checkpoint_dir: str, source: int = 0
                       ) -> dict[str, list[int]]:
    """File name -> the micro-batch ids that read it, from the file
    source's metadata log (``<checkpoint>/sources/<n>/``).  Each log file
    is a ``v1`` header line followed by one JSON entry per input file;
    ``<id>.compact`` files repeat the entries of every batch up to
    ``<id>``, so an entry is kept once per (file, batch)."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    seen: set[tuple[str, int]] = set()
    out: dict[str, list[int]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # temp/crc files of an in-flight write
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            fname = entry["path"].rsplit("/", 1)[-1]
            key = (fname, int(entry["batchId"]))
            if key not in seen:
                seen.add(key)
                out.setdefault(fname, []).append(key[1])
    for ids in out.values():
        ids.sort()
    return out


def backlog_max(publish: list[float], visible: list[float]) -> int:
    """Most files published but not yet visible at any instant."""
    events = [(t, 1) for t in publish] + [(t, -1) for t in visible]
    depth = peak = 0
    # at equal times a commit lands before the next publish counts
    for _t, d in sorted(events, key=lambda e: (e[0], e[1])):
        depth += d
        peak = max(peak, depth)
    return peak
