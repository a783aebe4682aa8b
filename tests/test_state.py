"""Bloom + HWM exactly-once state."""

import numpy as np
import pytest

from etl_bitcoin_spark.state import ExactlyOnceFilter, LsnBloom


def test_bloom_membership_and_fpr():
    b = LsnBloom(n_bits=1 << 16, n_hashes=5)
    added = np.arange(0, 5000, dtype=np.int64)
    b.add_many(added)
    assert b.might_contain_many(added).all(), "no false negatives ever"
    probe = np.arange(100_000, 200_000, dtype=np.int64)
    fpr = b.might_contain_many(probe).mean()
    assert fpr < 0.05, f"false-positive rate too high: {fpr}"


def test_bloom_save_load_rebuild(tmp_path):
    b = LsnBloom(n_bits=1 << 12, n_hashes=3)
    b.add_many(np.array([1, 2, 3, 100], dtype=np.int64))
    p = str(tmp_path / "bloom.state")
    b.save(p)
    b2 = LsnBloom.load(p)
    assert (b2.bits == b.bits).all()
    b3 = LsnBloom.rebuild_from_ranges([[1, 3], [100, 100]], n_bits=1 << 12, n_hashes=3)
    assert (b3.bits == b.bits).all(), "rebuild from lineage is bit-identical"


def test_bloom_windowed_rebuild_is_bounded():
    """Rebuild from a 10^9-lsn history must be O(window), not O(hwm):
    fast, fixed memory, and still a correct filter (no false negatives
    in-window, 'maybe' below the window)."""
    import time

    t0 = time.monotonic()
    b = LsnBloom.rebuild_from_ranges([[0, 10**9]])
    dt = time.monotonic() - t0
    # ~60ms solo; generous bound for noisy shared-host runs — the O(hwm)
    # pathology this guards against took minutes and 80GB
    assert dt < 5.0, f"windowed rebuild took {dt:.2f}s"
    hwm = 10**9
    assert b.covered_lo == hwm - (1 << 20) + 1
    recent = np.arange(hwm - 1000, hwm + 1, dtype=np.int64)
    assert b.might_contain_many(recent).all(), "in-window: no false negatives"
    ancient = np.array([0, 5, 12345], dtype=np.int64)
    assert b.might_contain_many(ancient).all(), "below window: maybe (exact layer decides)"
    future = np.arange(hwm + 10_000, hwm + 11_000, dtype=np.int64)
    assert b.might_contain_many(future).mean() < 0.05


def test_exactly_once_filter_kills_ancient_duplicates(spark):
    """True duplicates BELOW the Bloom's covered window still die (the
    exact range layer is authoritative); gap lsns still survive."""
    from etl_bitcoin_spark.operators.merge import BINLOG_DDL, reconcile_schema

    hwm = 2 * 10**9 + 10
    lineage = {"hwm": hwm, "applied_ranges": [[0, 10**9], [2 * 10**9, hwm]]}
    bloom = LsnBloom.rebuild_from_ranges(lineage["applied_ranges"])
    ev = reconcile_schema(
        spark.createDataFrame(
            [(int(x), "U", "c", 0) for x in [5, 10**9 + 7, hwm - 1, hwm + 3]],
            "lsn long, op string, conv_id string, turn_idx int",
        ),
        BINLOG_DDL,
    )
    kept = sorted(
        r.lsn for r in ExactlyOnceFilter(lineage, bloom)(ev).select("lsn").collect()
    )
    assert kept == [10**9 + 7, hwm + 3], (
        "5 (ancient dup) and hwm-1 (recent dup) die; the gap lsn and the "
        "fresh lsn survive"
    )


def test_exactly_once_filter_drops_applied_keeps_new(spark):
    from etl_bitcoin_spark.operators.merge import BINLOG_DDL, reconcile_schema

    ev = reconcile_schema(
        spark.createDataFrame(
            [(int(i), "U", "c", 0) for i in [5, 10, 15, 20, 25]],
            "lsn long, op string, conv_id string, turn_idx int",
        ),
        BINLOG_DDL,
    )
    lineage = {"hwm": 22, "applied_ranges": [[0, 12], [18, 22]]}
    bloom = LsnBloom.rebuild_from_ranges(lineage["applied_ranges"], n_bits=1 << 14)
    out = ExactlyOnceFilter(lineage, bloom)(ev)
    kept = sorted(r.lsn for r in out.select("lsn").collect())
    assert kept == [15, 25], "15 is in a gap (new), 25 is above hwm (new)"


def test_exactly_once_filter_without_bloom(spark):
    from etl_bitcoin_spark.operators.merge import BINLOG_DDL, reconcile_schema

    ev = reconcile_schema(
        spark.createDataFrame(
            [(5, "U", "c", 0), (15, "U", "c", 1)],
            "lsn long, op string, conv_id string, turn_idx int",
        ),
        BINLOG_DDL,
    )
    out = ExactlyOnceFilter({"hwm": 12, "applied_ranges": [[0, 12]]}, None)(ev)
    assert [r.lsn for r in out.select("lsn").collect()] == [15]


def test_late_batch_is_applied_not_dropped(spark, tmp_path):
    """A batch whose lsns sit below the hwm but in a gap (segment
    delivered late / out of order) must be applied, not mistaken for a
    duplicate — regression for the mtime-collapsed file-order bug."""
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import (
        BINLOG_DDL, KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4)

    def ev(rows):
        return spark.createDataFrame(
            [(l, "U", c, t, "user", x, None, datetime(2024, 1, 1, 0, 0, s))
             for (l, c, t, x, s) in rows],
            BINLOG_DDL,
        )

    # segment 2 (lsn 200..201) arrives FIRST
    guard = ExactlyOnceFilter(lake.lineage(), None)
    apply_batch(lake, ev([(200, "c1", 0, "late-loser", 10), (201, "c2", 0, "w2", 11)]),
                "b-seg2", already_applied_filter=guard)
    assert lake.hwm == 201
    # segment 1 (lsn 100..101) arrives late; 101 updates the same key
    # with an EARLIER ts -> stored row must win; 100 is a brand-new key
    guard = ExactlyOnceFilter(lake.lineage(), None)
    r = apply_batch(lake, ev([(100, "c3", 0, "new-key", 5), (101, "c1", 0, "older", 5)]),
                    "b-seg1", already_applied_filter=guard)
    assert r["events"] == 2, "late non-duplicate lsns must survive the guard"
    got = {(x.conv_id, x.text) for x in lake.read(user_cols=True).collect()}
    assert got == {("c1", "late-loser"), ("c2", "w2"), ("c3", "new-key")}
    # redeliver segment 1 verbatim -> exact guard drops both
    guard = ExactlyOnceFilter(lake.lineage(), None)
    r2 = apply_batch(lake, ev([(100, "c3", 0, "new-key", 5), (101, "c1", 0, "older", 5)]),
                     "b-seg1-again", already_applied_filter=guard)
    assert r2["events"] == 0


def test_sparse_late_batch_does_not_swallow_gap_lsns(spark, tmp_path):
    """A late batch with SPARSE lsns {6,7,12} against applied [[0,5],[8,10]]
    must record exactly [6,7] and [12,12] — not the span [6,12] — so the
    later delivery of lsn 11 is applied, not dropped (lost update)."""
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import (
        BINLOG_DDL, KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4)

    def ev(rows):
        return spark.createDataFrame(
            [(l, "U", c, t, "user", x, None, datetime(2024, 1, 1, 0, 0, s))
             for (l, c, t, x, s) in rows],
            BINLOG_DDL,
        )

    def apply(rows, bid):
        guard = ExactlyOnceFilter(lake.lineage(), None)
        return apply_batch(lake, ev(rows), bid, already_applied_filter=guard)

    apply([(i, f"k{i}", 0, f"t{i}", 1) for i in range(6)], "b0")       # [0,5]
    apply([(i, f"k{i}", 0, f"t{i}", 2) for i in (8, 9, 10)], "b1")     # [8,10]
    r = apply([(6, "k6", 0, "t6", 3), (7, "k7", 0, "t7", 3),
               (12, "k12", 0, "t12", 3)], "b-sparse")
    assert r["events"] == 3
    assert lake.lineage()["applied_ranges"] == [[0, 10], [12, 12]], (
        "gap lsn 11 must not be marked applied"
    )
    r11 = apply([(11, "k11", 0, "eleven", 4)], "b-gap")
    assert r11["events"] == 1, "lsn 11 was never applied before — must survive"
    got = {x.conv_id for x in lake.read(user_cols=True).collect()}
    assert "k11" in got
    assert lake.lineage()["applied_ranges"] == [[0, 12]]


def test_stale_bloom_file_is_rebuilt_not_trusted(spark, tmp_path):
    """A crash loses the newest async Bloom save and leaves the previous
    file. On sparse history that file's covered window reaches lsns it
    never set, so trusting it re-applies a redelivered segment. The
    saved lineage mark no longer matches the manifest, so a new tailer
    rebuilds the filter instead and the redelivery applies nothing."""
    import os
    import shutil

    from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, write_segments
    from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
    from etl_bitcoin_spark.streaming import PollTailer
    from etl_bitcoin_spark.tableformat import LakeTable

    pdf = generate_binlog(
        BinlogSpec(seed=17, n_convs=40, n_events=1200, n_segments=6)
    )
    segs = write_segments(pdf, str(tmp_path / "src"))
    wal = tmp_path / "wal"
    wal.mkdir()
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    ckpt = str(tmp_path / "ckpt")
    bloom = os.path.join(ckpt, "lsn_bloom.state")
    stale = str(tmp_path / "bloom.copy")

    def publish(i, name=None):
        shutil.copy(segs[i], wal / (name or os.path.basename(segs[i])))

    def tail():
        return PollTailer(
            spark, str(wal), lake, ckpt, max_files_per_trigger=1,
            merge_on_read=True, delta_plan="raw", compact_max_deltas=None,
        ).run_available()

    for i in (0, 1, 3):  # segment 2 held back: history has a gap
        publish(i)
    tail()
    assert len(lake.lineage()["applied_ranges"]) > 1
    shutil.copy(bloom, stale)
    publish(4)
    assert tail()[-1]["events"] > 0
    shutil.copy(stale, bloom)  # the save after segment 4 was lost
    publish(4, name="seg-00009.parquet")  # redelivery
    r = tail()[-1]
    assert r["applied"] and r["events"] == 0, r


@pytest.mark.parametrize("tear", ["empty", "half"])
def test_torn_bloom_file_is_rebuilt(spark, tmp_path, tear):
    """A crash mid-save leaves an empty or half-written Bloom file. A
    tailer restarted on the checkpoint treats a file it cannot read as
    stale: it rebuilds the filter from lineage, applies each new
    segment once and converges to the oracle."""
    import os
    import shutil

    import pandas as pd

    from etl_bitcoin_spark.gen import (
        BinlogSpec,
        generate_binlog,
        oracle_replay,
        write_segments,
    )
    from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
    from etl_bitcoin_spark.state import lineage_mark
    from etl_bitcoin_spark.streaming import PollTailer
    from etl_bitcoin_spark.tableformat import LakeTable

    pdf = generate_binlog(BinlogSpec(
        seed=23, n_convs=40, n_events=1200, n_segments=6, dup_rate=0.0,
    ))
    segs = write_segments(pdf, str(tmp_path / "src"))
    wal = tmp_path / "wal"
    wal.mkdir()
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    ckpt = str(tmp_path / "ckpt")
    bloom = os.path.join(ckpt, "lsn_bloom.state")

    def publish(i, name=None):
        shutil.copy(segs[i], wal / (name or os.path.basename(segs[i])))

    def tail():
        return PollTailer(
            spark, str(wal), lake, ckpt, max_files_per_trigger=1,
            merge_on_read=True, delta_plan="raw", compact_max_deltas=None,
        ).run_available()

    for i in range(3):
        publish(i)
    tail()
    with open(bloom, "rb") as f:
        data = f.read()
    with open(bloom, "wb") as f:
        f.write(b"" if tear == "empty" else data[: len(data) // 2])
    for i in range(3, 6):
        publish(i)
    got = [r["events"] for r in tail()]
    assert got == [len(pd.read_parquet(segs[i])) for i in range(3, 6)]
    lin = lake.lineage()
    rebuilt = LsnBloom.load(bloom)
    assert rebuilt.covers == lineage_mark(lin["hwm"], lin["applied_ranges"])
    publish(3, name="seg-00009.parquet")  # redelivery: applies nothing
    r = tail()[-1]
    assert r["applied"] and r["events"] == 0, r
    want = oracle_replay(pdf)[["conv_id", "turn_idx", "text"]]
    have = (
        lake.read(user_cols=True).select("conv_id", "turn_idx", "text")
        .toPandas().sort_values(["conv_id", "turn_idx"])
    )
    have["turn_idx"] = have["turn_idx"].astype("int64")
    want = want.sort_values(["conv_id", "turn_idx"]).astype(
        {"turn_idx": "int64"}
    )
    pd.testing.assert_frame_equal(
        have.reset_index(drop=True), want.reset_index(drop=True)
    )
