"""CDC merge core vs the deterministic oracle replay.

The analog of the reference's golden-file tests
(database/csv/neo4j_csv/neo4j_csv_test.go:86-196): the engine's
converged table must equal the single-threaded oracle exactly —
per-turn text equality under stable (conv_id, turn_idx) ordering
(BASELINE.json input_hint) plus full-row equality for good measure.
"""

from datetime import datetime

import pandas as pd
import pytest

from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, oracle_replay
from etl_bitcoin_spark.operators.merge import (
    BINLOG_DDL,
    KEY_COLS,
    TRANSCRIPTS_DDL,
    apply_batch,
    reconcile_schema,
    replay,
)
from etl_bitcoin_spark.tableformat import LakeTable


def _ev(spark, rows):
    rows = [
        (lsn, op, c, t, role, text, tool, datetime.fromisoformat(ts))
        for (lsn, op, c, t, role, text, tool, ts) in rows
    ]
    return spark.createDataFrame(rows, BINLOG_DDL)


def _final(lake):
    return (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def _norm(df):
    df = df.copy()
    df["turn_idx"] = df["turn_idx"].astype("int64")
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    for c in ("role", "text", "tool"):
        df[c] = df[c].astype(object).where(df[c].notna(), None)
    return df.reset_index(drop=True)


def _assert_matches_oracle(lake, events_pdf):
    got = _norm(_final(lake))
    want = _norm(oracle_replay(events_pdf))
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "text"]],
        want[["conv_id", "turn_idx", "text"]],
    )
    pd.testing.assert_frame_equal(got, want)


# ---------------------------------------------------------------- unit: LWW
def _apply_one(spark, root, rows):
    """Apply ``rows`` as ONE batch to a fresh lake; return the stored
    per-key state as sorted (text, __lsn, __deleted) tuples — winners
    and retained tombstones both."""
    lake = LakeTable.create(spark, root, TRANSCRIPTS_DDL, KEY_COLS, 2)
    assert apply_batch(lake, _ev(spark, rows), "b0")["applied"]
    return sorted(
        ((r["text"], r["__lsn"], r["__deleted"]) for r in lake.read().collect()),
        key=lambda t: t[1],
    )


def test_lww_summary_picks_max_ts_then_lsn(spark, tmp_lake_dir):
    got = _apply_one(
        spark,
        tmp_lake_dir,
        [
            (1, "I", "c1", 0, "user", "a", None, "2024-01-01 00:00:05"),
            (2, "U", "c1", 0, "user", "b", None, "2024-01-01 00:00:03"),  # older ts
            (3, "U", "c1", 0, "user", "c", None, "2024-01-01 00:00:05"),  # tie -> lsn
        ],
    )
    assert got == [("c", 3, False)]


def test_lww_summary_delete_then_reinsert(spark, tmp_lake_dir):
    got = _apply_one(
        spark,
        tmp_lake_dir,
        [
            (1, "I", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
            (2, "D", "c1", 0, None, None, None, "2024-01-01 00:00:02"),
            (3, "I", "c1", 0, "user", "back", None, "2024-01-01 00:00:00"),
        ],
    )
    # the reinsert wins despite its older ts; the tombstone is retained
    assert got == [(None, 2, True), ("back", 3, False)]


def test_lww_summary_delete_wins_when_last(spark, tmp_lake_dir):
    got = _apply_one(
        spark,
        tmp_lake_dir,
        [
            # high-ts insert, then delete with later lsn: D kills it even
            # though its ts is older (replay is lsn-ordered)
            (1, "I", "c1", 0, "user", "a", None, "2024-01-01 00:10:00"),
            (2, "D", "c1", 0, None, None, None, "2024-01-01 00:00:00"),
        ],
    )
    assert got == [(None, 2, True)]


def test_schema_reconcile_backfills_and_orders(spark):
    df = spark.createDataFrame(
        [(1, "I", "c1", 0, datetime(2024, 1, 1))],
        "lsn long, op string, conv_id string, turn_idx int, ts timestamp",
    )
    out = reconcile_schema(df, BINLOG_DDL)
    assert [f.name for f in out.schema] == [
        "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    r = out.collect()[0]
    assert r.tool is None and r.role is None and r.lsn == 1


# ------------------------------------------------------- end-to-end replay
@pytest.fixture(scope="module")
def small_binlog():
    spec = BinlogSpec(seed=7, n_convs=30, n_events=800, n_segments=6)
    return generate_binlog(spec)


def test_single_batch_replay_matches_oracle(spark, tmp_lake_dir, small_binlog):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 8)
    ev = spark.createDataFrame(
        small_binlog.drop(columns=["seg", "evolved"]), BINLOG_DDL
    )
    res = replay(lake, ev, batch_lsn_width=None)
    assert res[0]["applied"]
    _assert_matches_oracle(lake, small_binlog)


def test_multi_batch_replay_matches_oracle(spark, tmp_lake_dir, small_binlog):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 8)
    ev = spark.createDataFrame(
        small_binlog.drop(columns=["seg", "evolved"]), BINLOG_DDL
    )
    results = replay(lake, ev, batch_lsn_width=150)
    assert all(r["applied"] for r in results)
    _assert_matches_oracle(lake, small_binlog)
    # lineage covers the full range with no gaps
    assert lake.lineage()["applied_ranges"] == [[0, int(small_binlog["lsn"].max())]]


def test_replay_idempotence_apply_twice(spark, tmp_lake_dir, small_binlog):
    """Applying the same batches twice converges to the same state —
    the analog of the reference's Committed() semantics."""
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 8)
    ev = spark.createDataFrame(
        small_binlog.drop(columns=["seg", "evolved"]), BINLOG_DDL
    )
    replay(lake, ev, batch_lsn_width=200)
    before = _final(lake)
    res2 = replay(lake, ev, batch_lsn_width=200)  # same batch ids -> no-ops
    assert not any(r["applied"] for r in res2)
    pd.testing.assert_frame_equal(before, _final(lake))
    # different batch ids but same (already-applied) lsns -> HWM filters all
    res3 = replay(lake, ev, batch_lsn_width=200, batch_id_prefix="again")
    assert all(r.get("events", 0) == 0 for r in res3)
    pd.testing.assert_frame_equal(before, _final(lake))


def test_duplicate_lsn_within_and_across_batches(spark, tmp_lake_dir):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    b1 = _ev(
        spark,
        [
            (1, "I", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),
            (1, "I", "c1", 0, "user", "a", None, "2024-01-01 00:00:01"),  # in-batch dup
            (2, "U", "c1", 0, "user", "b", None, "2024-01-01 00:00:02"),
        ],
    )
    apply_batch(lake, b1, "b1")
    b2 = _ev(
        spark,
        [
            (2, "U", "c1", 0, "user", "b", None, "2024-01-01 00:00:02"),  # cross-batch dup
            (3, "U", "c2", 0, "user", "x", None, "2024-01-01 00:00:03"),
        ],
    )
    r = apply_batch(lake, b2, "b2")
    assert r["events"] == 1  # the dup was filtered by HWM
    got = _final(lake)
    assert list(got["text"]) == ["b", "x"]


def test_schema_evolution_mixed_batches(spark, tmp_lake_dir):
    """v1 events (no tool column) then v2 events: reconciliation backfills
    null; final state matches an oracle over the union."""
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    v1 = spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", datetime(2024, 1, 1, 0, 0, 1))],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, ts timestamp",
    )
    apply_batch(lake, v1, "b1")
    v2 = _ev(
        spark,
        [(2, "U", "c1", 1, "assistant", "hi", "search", "2024-01-01 00:00:02")],
    )
    apply_batch(lake, v2, "b2")
    got = _final(lake)
    assert list(got["tool"]) == [None, "search"]
    assert list(got["text"]) == ["hello", "hi"]


def test_hot_key_skew_correctness(spark, tmp_lake_dir):
    """80% of events on one conv_id — correctness is unaffected (the
    full key partitions every shuffle)."""
    spec = BinlogSpec(seed=11, n_convs=20, n_events=600, hot_share=0.8, n_hot=1)
    pdf = generate_binlog(spec)
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 8)
    ev = spark.createDataFrame(pdf.drop(columns=["seg", "evolved"]), BINLOG_DDL)
    replay(lake, ev, batch_lsn_width=100)
    _assert_matches_oracle(lake, pdf)


def test_tombstone_blocks_late_resurrection(spark, tmp_lake_dir):
    """Delete applied in batch 1; a LATE update (lower lsn, any ts)
    arriving in batch 2 must NOT resurrect the key — the persisted
    tombstone wins. Then a genuinely newer insert (lsn > tombstone)
    does re-create it."""
    from etl_bitcoin_spark.state import ExactlyOnceFilter

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    b1 = _ev(
        spark,
        [
            (10, "I", "c1", 0, "user", "v1", None, "2024-01-01 00:00:10"),
            (20, "D", "c1", 0, None, None, None, "2024-01-01 00:00:20"),
        ],
    )
    apply_batch(lake, b1, "b1")
    assert lake.read(user_cols=True).count() == 0
    # late event, lsn 15 < tombstone 20, huge ts -> must stay dead
    late = _ev(
        spark, [(15, "U", "c1", 0, "user", "zombie", None, "2024-01-02 00:00:00")]
    )
    apply_batch(lake, late, "b2",
                already_applied_filter=ExactlyOnceFilter(lake.lineage(), None))
    assert lake.read(user_cols=True).count() == 0, "tombstone must block lsn<d"
    # newer insert, lsn 25 > tombstone -> resurrects
    fresh = _ev(
        spark, [(25, "I", "c1", 0, "user", "alive", None, "2024-01-01 00:00:25")]
    )
    apply_batch(lake, fresh, "b3")
    got = lake.read(user_cols=True).collect()
    assert len(got) == 1 and got[0].text == "alive"


def test_bootstrap_then_incremental(spark, tmp_lake_dir):
    """Initial-snapshot load then incremental tail: pre-snapshot events
    are duplicates by construction and must not alter state."""
    from etl_bitcoin_spark.operators.merge import bootstrap

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    base = spark.createDataFrame(
        [
            ("c1", 0, "user", "base-a", None, datetime(2024, 1, 1, 0, 0, 0)),
            ("c2", 0, "user", "base-b", "search", datetime(2024, 1, 1, 0, 0, 1)),
        ],
        TRANSCRIPTS_DDL,
    )
    r = bootstrap(lake, base, base_lsn=100)
    assert r["applied"] and lake.hwm == 100
    assert lake.read(user_cols=True).count() == 2
    # re-bootstrap is a no-op
    assert not bootstrap(lake, base, base_lsn=100)["applied"]
    # stale event (lsn <= base) dropped; fresh ones apply
    ev = _ev(
        spark,
        [
            (90, "U", "c1", 0, "user", "stale", None, "2024-01-02 00:00:00"),
            (101, "U", "c1", 0, "user", "fresh", None, "2024-01-01 00:05:00"),
            (102, "I", "c3", 0, "user", "new", None, "2024-01-01 00:06:00"),
        ],
    )
    apply_batch(lake, ev, "inc-1")
    got = {r.conv_id: r.text for r in lake.read(user_cols=True).collect()}
    assert got == {"c1": "fresh", "c2": "base-b", "c3": "new"}


def test_sparse_islands_distributed_no_global_window(spark):
    """Island detection for sparse late batches must distribute: no
    global Window (single-partition stage) anywhere in the plan, and a
    10^7-row out-of-order backfill coalesces correctly across range
    partitions with boundary islands merged driver-side."""
    from pyspark.sql import functions as F

    from etl_bitcoin_spark.operators.merge import sparse_lsn_islands

    # small case vs brute force
    lsns = [1, 2, 3, 7, 8, 20, 22, 23, 24, 40]
    small = spark.createDataFrame([(x,) for x in lsns], "lsn long")
    assert sparse_lsn_islands(small) == [
        [1, 3], [7, 8], [20, 20], [22, 24], [40, 40]
    ]

    # 10^7 rows, gap after every 1000th lsn -> 10^4 islands of 1000
    big = spark.range(0, 10_000_000, 1, 16).select(
        (F.col("id") + (F.col("id") / 1000).cast("long")).alias("lsn")
    )
    # plan shape: range partitioning + mapInPandas, never a Window
    plan = big.repartitionByRange(8, "lsn")._jdf.queryExecution
    islands = sparse_lsn_islands(big)
    assert len(islands) == 10_000
    assert islands[0] == [0, 999]
    assert islands[-1][1] == 9_999_999 + 9_999
    assert all(hi - lo + 1 == 1000 for lo, hi in islands)
    # the helper's plan is window-free by construction — assert the
    # source stays multi-partition end to end
    import etl_bitcoin_spark.operators.merge as m

    d = big.repartitionByRange(
        max(2, spark.sparkContext.defaultParallelism), "lsn"
    )
    assert d.rdd.getNumPartitions() > 1
    assert "Window" not in d._jdf.queryExecution().executedPlan().toString()


def test_hot_key_storm_matches_oracle(spark, tmp_path):
    """A hot key with high per-batch multiplicity, deletes and ts
    collisions, replayed in four hinted batches, converges to the
    golden sequential replay."""
    from pyspark.sql import functions as F

    spec = BinlogSpec(
        seed=31, n_convs=12, max_turns=8, n_events=2500,
        delete_rate=0.15, hot_share=0.5, n_hot=1, ts_collision_rate=0.3,
    )
    pdf = generate_binlog(spec)
    ev_all = spark.createDataFrame(pdf.drop(columns=["seg", "evolved"]), BINLOG_DDL)
    lake = LakeTable.create(
        spark, str(tmp_path / "w"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    for i in range(4):
        lo, hi = i * 625, i * 625 + 624
        chunk = ev_all.filter((F.col("lsn") >= lo) & (F.col("lsn") <= hi))
        apply_batch(lake, chunk, f"storm-{i}", lsn_range_hint=(lo, hi))
    _assert_matches_oracle(lake, pdf)
