"""Wide DECIMAL order key: transactions beyond the 32767 seq clamp.

The packed-BIGINT order key clamps seq_in_tx at 32767 (15 bits), so a
single transaction with >32k updates to ONE key would tie-break
arbitrarily among the clamped rows.  The reference streams rows lazily
and has no such limit (/root/reference/rbr.go:308-350); pack_ord
``wide=True`` (DECIMAL(38,0), no clamp) restores exact order, and
replay auto-enables it from the dump manifest's ``max_tx_rows``.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark.cdc.pipeline import state_fingerprint
from binlog_spark.cdc.replay import replay
from binlog_spark.decoder.chunks import read_manifest
from binlog_spark.lake.table import LakeTable
from binlog_spark.mysql import gen, oracle
from binlog_spark.mysql.gen import Change, StaticScript
from binlog_spark.streaming.tail import stream_apply


def _drain(spark, dump_dir, root, ckpt):
    q = stream_apply(spark, dump_dir, root, ckpt, n_buckets=4,
                     available_now=True)
    q.awaitTermination(300)
    return LakeTable(root)


@pytest.mark.parametrize("driver", ["replay", "stream_apply"])
def test_mega_tx_replays_to_oracle_parity(spark, tmp_path, driver):
    """33k sequential updates to one key inside ONE transaction: the
    last write must win exactly (auto-widened order), matching the
    sequential oracle — through batch replay and the streaming tail."""
    n = 33_000
    changes = [Change("I", "org/w", "big.py", "c0", "py", "v0")]
    changes += [Change("U", "org/w", "big.py", f"c{i}", "py", f"v{i}")
                for i in range(1, n)]
    d = str(tmp_path / "widedump")
    cfg = gen.GenConfig(n_changes=n, rows_per_event=256, events_per_tx=200,
                        stmt_events=False, content_min=2, content_max=8)
    gen.generate(d, cfg, chunk_target=1 << 20, script=StaticScript(changes))
    m = read_manifest(d)
    assert m["max_tx_rows"] > 32767  # the auto-enable trigger

    want = oracle.state_digest(oracle.final_state(d))
    root = str(tmp_path / "widelake")
    if driver == "replay":
        table = replay(spark, d, root, n_buckets=4, lineage=False)
    else:
        table = _drain(spark, d, root, str(tmp_path / "wideckpt"))
    state = table.read(spark)
    assert state_fingerprint(state) == want
    rows = state.collect()
    assert len(rows) == 1
    assert rows[0].commit == f"c{n - 1}"
    assert rows[0].content == f"v{n - 1}"


def test_mega_tx_minimal_images_replays_to_oracle_parity(spark, tmp_path):
    """The same >32k-row single-key transaction under
    binlog_row_image=MINIMAL: the per-column reduction's wide path
    ((_pos, _ord) decimal pair, two-stage lexicographic winner search —
    _minimal_core wide_order) must pick the exact last write per column,
    matching the sequential oracle.  Updates alternate which columns
    they touch so the winners genuinely differ per column."""
    n = 33_000
    changes = [Change("I", "org/w", "big.py", "c0", "py", "v0")]
    content = "v0"
    for i in range(1, n):
        # even updates change content; odd repeat the previous value, so
        # the generator's MINIMAL bitmap (present iff value changed)
        # omits content there — the column winners land on different
        # events (commit at i=n-1, content at the last even i)
        if i % 2 == 0:
            content = f"v{i}"
        changes.append(Change("U", "org/w", "big.py", f"c{i}", "py",
                              content))
    d = str(tmp_path / "wmindump")
    # alternating present-bitmaps flush one event per row, so the tx cap
    # must exceed n for the whole run to stay in ONE transaction
    cfg = gen.GenConfig(n_changes=n, rows_per_event=256,
                        events_per_tx=n + 10,
                        stmt_events=False, content_min=2, content_max=8,
                        minimal_images=True)
    gen.generate(d, cfg, chunk_target=1 << 20, script=StaticScript(changes))
    m = read_manifest(d)
    assert m["max_tx_rows"] > 32767

    want = oracle.state_digest(oracle.final_state(d))
    root = str(tmp_path / "wminlake")
    table = replay(spark, d, root, n_buckets=4, lineage=False,
                   minimal_images=True)
    state = table.read(spark)
    assert state_fingerprint(state) == want
    rows = state.collect()
    assert len(rows) == 1
    assert rows[0].commit == f"c{n - 1}"
    # last even index wins content
    last_even = n - 1 if (n - 1) % 2 == 0 else n - 2
    assert rows[0].content == f"v{last_even}"


def test_wide_pack_orders_beyond_clamp(spark):
    """Narrow pack ties all seq >= 32767; wide pack keeps exact order."""
    from pyspark.sql import functions as F

    from binlog_spark.cdc.pipeline import pack_ord
    df = spark.createDataFrame(
        [("binlog.000001", 1000, 32767), ("binlog.000001", 1000, 40000)],
        "log_file string, log_pos long, seq_in_tx int")
    narrow = [r._ord for r in df.select(pack_ord()).collect()]
    assert narrow[0] == narrow[1]  # the clamp tie
    wide = [r._ord for r in df.select(pack_ord(wide=True)).collect()]
    assert wide[0] < wide[1]
    # non-strict wide: invalid offsets pack to decimal 0, never null
    bad = spark.createDataFrame(
        [("nonnumeric", -5, 1)],
        "log_file string, log_pos long, seq_in_tx int")
    v = bad.select(pack_ord(strict=False, wide=True)).first()._ord
    assert int(v) == 0
    # the narrow non-strict path must also tolerate "" log_file (pre-CDC
    # lake rows) under ANSI mode instead of raising a cast error
    empty = spark.createDataFrame(
        [("", 0, 0)], "log_file string, log_pos long, seq_in_tx int")
    assert empty.select(pack_ord(strict=False)).first()._ord == 0
