"""Seeded benchmark inputs, cached per (workload, seed, size).

Every dump comes from the repository's own generators
(``mysql.gen.generate`` and ``mysql.gen_multi.generate_multi``), which
also write the goldens the correctness gate reads.  The program under
test only ever sees the dump directory.

Input descriptors are measured from the generated dump with the
reference decoder (``mysql.oracle``), not assumed from the generator's
settings, so a later change can name the input property a gain depends
on and its share in each workload.
"""

from __future__ import annotations

import json
import os
import shutil

DESCRIPTORS = "descriptors.json"


def cache_dir(work: str, kind: str, seed: int, size: str) -> str:
    return os.path.join(work, "cache", f"{kind}-seed{seed}-{size}")


def _build(path: str, make) -> str:
    """Generate into a temp dir and rename into place; a dump whose
    descriptors file exists is complete and reused as is."""
    if os.path.exists(os.path.join(path, DESCRIPTORS)):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    kind = make(tmp)
    with open(os.path.join(tmp, DESCRIPTORS), "w") as f:
        json.dump(describe(tmp, kind), f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def repo_dump(work: str, seed: int, n_changes: int,
              max_file_bytes: int | None = None) -> str:
    """Single-table ``repo_files`` FULL-image dump (GenConfig defaults
    apart from the seed, the size and, for the tail, the rotation
    size)."""
    from binlog_spark.mysql import gen

    kw = {} if max_file_bytes is None else {"max_file_bytes": max_file_bytes}
    size = f"n{n_changes}" + (f"-f{max_file_bytes}" if kw else "")

    def make(tmp: str) -> str:
        gen.generate(tmp, gen.GenConfig(n_changes=n_changes, seed=seed,
                                        **kw))
        return "repo"
    return _build(cache_dir(work, "repo", seed, size), make)


def multi_dump(work: str, seed: int, n_changes: int) -> str:
    """Three-table ``inventory`` MINIMAL-image dump."""
    from binlog_spark.mysql.gen_multi import generate_multi

    def make(tmp: str) -> str:
        generate_multi(tmp, n_changes=n_changes, seed=seed,
                       minimal_images=True)
        return "multi"
    return _build(cache_dir(work, "multi", seed, f"n{n_changes}"), make)


def binlog_files(dump: str) -> list[str]:
    """Binlog file names in ``.next``-chain order."""
    from binlog_spark.mysql.oracle import list_files
    return list_files(dump)


def load_descriptors(dump: str) -> dict:
    with open(os.path.join(dump, DESCRIPTORS)) as f:
        return json.load(f)


def _pk_names(kind: str, table: str) -> tuple[str, ...]:
    if kind == "repo":
        return ("repo", "path")
    from binlog_spark.mysql.gen_multi import TABLES
    cols, pk = TABLES[table]
    return tuple(cols[i].name for i in pk)


def describe(dump: str, kind: str) -> dict:
    """Input properties measured from the dump itself."""
    from binlog_spark import constants as C
    from binlog_spark.decoder.chunks import read_manifest
    from binlog_spark.mysql.decode import iter_frames
    from binlog_spark.mysql.oracle import REPO_COLS, iter_change_records

    rows_types = {C.WRITE_ROWS_EVENTv1, C.UPDATE_ROWS_EVENTv1,
                  C.DELETE_ROWS_EVENTv1, C.WRITE_ROWS_EVENTv2,
                  C.UPDATE_ROWS_EVENTv2, C.DELETE_ROWS_EVENTv2}
    files = binlog_files(dump)
    frames = rows_bytes = binlog_bytes = 0
    for name in files:
        with open(os.path.join(dump, name), "rb") as f:
            data = f.read()
        binlog_bytes += len(data)
        for frame, _fde in iter_frames(data, has_magic=True):
            frames += 1
            if frame.event_type in rows_types:
                rows_bytes += frame.event_size

    changes = moves = partial = 0
    ops = {"I": 0, "U": 0, "D": 0}
    tables: set[tuple[str, str]] = set()
    per_file: dict[str, int] = {n: 0 for n in files}
    for r in iter_change_records(dump):
        changes += 1
        ops[r.op] += 1
        partial += bool(r.partial)
        per_file[r.log_file] = per_file.get(r.log_file, 0) + 1
        tables.add((r.table_schema, r.table_name))
        if r.op == "U" and r.before is not None:
            pk = _pk_names(kind, r.table_name)
            after = dict(zip(r.columns or REPO_COLS, r.after))
            before = dict(zip(r.before_columns or r.columns or REPO_COLS,
                              r.before))
            # a MINIMAL after-image omits an unchanged key
            if any(k in after and after[k] != before.get(k) for k in pk):
                moves += 1
    man = read_manifest(dump)
    if man["n_changes"] != changes:
        raise RuntimeError(f"{dump}: manifest says {man['n_changes']} "
                           f"changes, the reference decoder found "
                           f"{changes}")
    return {
        "kind": kind,
        "changes": changes,
        "transactions": man["n_transactions"],
        "frames": frames,
        "binlog_bytes": binlog_bytes,
        "files": len(files),
        "spans": len(man["chunks"]),
        "tables": len(tables),
        "mean_row_bytes": round(rows_bytes / changes, 1) if changes else 0,
        "key_move_share": round(moves / changes, 4) if changes else 0,
        "partial_image_share": round(partial / changes, 4) if changes else 0,
        "op_mix": ops,
        "changes_per_file": per_file,
    }
