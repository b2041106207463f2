"""Unit-level adversarial checks of the packed-pk MINIMAL adapter
(cdc.multi.table_upserts_minimal) over hand-built staged rows — no binlog
bytes, so the cases can be exactly what the fixtures can't reach:

  * pk strings full of JSON metacharacters (quotes, commas, braces,
    backslashes, unicode, the JSON-array separator itself) — the packed
    composite key must stay injective and round-trip;
  * "present and NULL" vs "absent from the image" disambiguation — a
    partial update that explicitly sets a column to NULL must null it,
    while an absent column must be inherited;
  * key-move inheritance through the packed key.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binlog_spark.cdc.multi import table_upserts_minimal
from binlog_spark.decoder.generic import VALS_SCHEMA
from binlog_spark.lake.table import LakeTable

COLUMNS = ["k1", "k2", "a", "b"]
PK = ["k1", "k2"]


def _row(op, before=None, after=None, bp=None, ap=None, pos=0):
    return {
        "op": op, "table_schema": "s", "table_name": "t",
        "before_vals": before, "after_vals": after,
        "before_present": bp, "after_present": ap,
        "gtid": f"g:{pos}", "seq_in_tx": 0,
        "log_file": "binlog.000001", "log_pos": pos, "ts_sec": 1,
        "crc_ok": True,
    }


def _reduce(spark, rows):
    df = spark.createDataFrame(rows, VALS_SCHEMA)
    up = table_upserts_minimal(df, COLUMNS, PK)
    return {(r.k1, r.k2): r.asDict() for r in up.collect()}


NASTY_KEYS = [
    ('a,"b', '{\\}'),                      # quote + comma + braces + backslash
    ('["x","y"]', ''),                     # looks like a packed array itself
    ('x","y', 'z'),                        # would collide with the above if
                                           # packing were naive concat
    ('null', 'true'),                      # JSON literals as strings
    ('émoji 🚀 ', '\x1f\x1e\ttab'),   # unicode + control chars
]


def test_packed_key_injective_roundtrip(spark):
    rows = [
        _row("I", after=[k1, k2, f"a{i}", f"b{i}"], pos=100 + i)
        for i, (k1, k2) in enumerate(NASTY_KEYS)
    ]
    out = _reduce(spark, rows)
    assert len(out) == len(NASTY_KEYS)
    for i, (k1, k2) in enumerate(NASTY_KEYS):
        r = out[(k1, k2)]
        assert r["op"] == "I" and r["a"] == f"a{i}" and r["b"] == f"b{i}"


def test_null_vs_absent_disambiguation(spark):
    """Partial update sets a=NULL explicitly (present bit on, cell None)
    and leaves b absent.  With the INSERT in the same batch both columns
    resolve in-batch (full image = barrier): a to the explicit NULL, b
    to the inserted value — an absent column must NOT be confused with
    the explicit NULL."""
    rows = [
        _row("I", after=["k", "x", "a0", "b0"], pos=100),
        _row("U", before=["k", "x", None, None], bp="1100",
             after=[None, None, None, None], ap="0010", pos=200),
    ]
    out = _reduce(spark, rows)
    r = out[("k", "x")]
    assert r["present_cols"] is None      # fully resolved within batch
    assert r["a"] is None                 # explicit NULL wins
    assert r["b"] == "b0"                 # absent -> inherited in-batch


def test_solo_partial_patch_metadata(spark):
    """The same partial update alone in its batch must come out as a
    PATCH naming only column a (NULL included), leaving b unresolved."""
    rows = [
        _row("U", before=["k", "x", None, None], bp="1100",
             after=[None, None, None, None], ap="0010", pos=200),
    ]
    out = _reduce(spark, rows)
    r = out[("k", "x")]
    assert r["present_cols"] is not None
    assert set(r["present_cols"].split(",")) == {"a"}
    assert r["a"] is None and r["b"] is None


def test_patch_merge_inherits_from_lake(spark, tmp_path):
    """A later batch holding only a partial update must coalesce the
    untouched column from the lake row — including an explicit NULL
    overwrite of the other column."""
    t = LakeTable(str(tmp_path / "t"), n_buckets=2, key_cols=tuple(PK))
    t.create(schema_cols=COLUMNS)
    b1 = [_row("I", after=["k", "x", "a0", "b0"], pos=100)]
    df1 = spark.createDataFrame(b1, VALS_SCHEMA)
    up1 = table_upserts_minimal(df1, COLUMNS, PK)
    t.merge(spark, up1, batch_id="b1")
    b2 = [_row("U", before=["k", "x", None, None], bp="1100",
               after=[None, None, None, None], ap="0010", pos=200)]
    df2 = spark.createDataFrame(b2, VALS_SCHEMA)
    up2 = table_upserts_minimal(df2, COLUMNS, PK)
    t.merge(spark, up2, batch_id="b2")
    rows = {(r.k1, r.k2): r for r in t.read(spark).collect()}
    r = rows[("k", "x")]
    assert r.a is None          # explicitly nulled by the patch
    assert r.b == "b0"          # inherited from the lake row


def test_key_move_inherits_via_packed_base(spark, tmp_path):
    """MINIMAL key move with NASTY pk strings: the move-in's unresolved
    payload must ride from the origin row through base_{pk} lineage."""
    (ok1, ok2), (nk1, nk2) = NASTY_KEYS[0], NASTY_KEYS[2]
    t = LakeTable(str(tmp_path / "t2"), n_buckets=2, key_cols=tuple(PK))
    t.create(schema_cols=COLUMNS)
    b1 = [_row("I", after=[ok1, ok2, "av", "bv"], pos=100)]
    df1 = spark.createDataFrame(b1, VALS_SCHEMA)
    up1 = table_upserts_minimal(df1, COLUMNS, PK)
    t.merge(spark, up1, batch_id="b1")
    # pure key move: after image carries only the new pk cells
    b2 = [_row("U", before=[ok1, ok2, None, None], bp="1100",
               after=[nk1, nk2, None, None], ap="1100", pos=200)]
    df2 = spark.createDataFrame(b2, VALS_SCHEMA)
    up2 = table_upserts_minimal(df2, COLUMNS, PK)
    t.merge(spark, up2, batch_id="b2")
    rows = {(r.k1, r.k2): r for r in t.read(spark).collect()}
    assert (ok1, ok2) not in rows
    r = rows[(nk1, nk2)]
    assert r.a == "av" and r.b == "bv"
