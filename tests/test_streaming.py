"""Structured Streaming tailer: drain, restart-resume, reconverge.

The analogs of the reference's end-to-end pipeline test
(loader/loader_test.go:274-304) and its resume-from-watermark behavior
(LastBlockNumber, neo4j_csv.go:62-79): kill mid-stream, restart,
reconverge to the oracle state.
"""

import os
import shutil

import pandas as pd
import pytest

from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, oracle_replay, write_segments
from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
from etl_bitcoin_spark.streaming import BinlogTailer
from etl_bitcoin_spark.tableformat import LakeTable


@pytest.fixture(scope="module")
def binlog_pdf():
    return generate_binlog(BinlogSpec(seed=21, n_convs=25, n_events=600, n_segments=6))


def _final(lake):
    return (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .reset_index(drop=True)
    )


def _oracle(pdf):
    return oracle_replay(pdf)[["conv_id", "turn_idx", "text"]].reset_index(drop=True)


def _check(lake, pdf):
    got = _final(lake)
    want = _oracle(pdf)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_stream_drain_matches_oracle(spark, tmp_path, binlog_pdf):
    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8)
    tailer = BinlogTailer(spark, wal, lake, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    results = tailer.run_available()
    assert sum(r.get("events", 0) for r in results) == 600
    _check(lake, binlog_pdf)


def test_stream_restart_resumes_and_reconverges(spark, tmp_path, binlog_pdf):
    """Feed half the segments, drain, then the rest, drain with a NEW
    tailer (fresh process analog) on the same checkpoint."""
    wal = str(tmp_path / "wal")
    all_paths = write_segments(binlog_pdf, str(tmp_path / "all"))
    import os

    os.makedirs(wal)
    for p in all_paths[:3]:
        shutil.copy2(p, wal)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8)
    ckpt = str(tmp_path / "ckpt")
    BinlogTailer(spark, wal, lake, ckpt).run_available()
    assert lake.hwm < 599
    for p in all_paths[3:]:
        shutil.copy2(p, wal)
    lake2 = LakeTable(spark, str(tmp_path / "lake"))  # cold reopen
    BinlogTailer(spark, wal, lake2, ckpt).run_available()
    assert lake2.hwm == 599
    _check(lake2, binlog_pdf)


def test_stream_lost_checkpoint_still_exactly_once(spark, tmp_path, binlog_pdf):
    """Destroy the Spark checkpoint after a full drain and re-tail from
    scratch: every event is redelivered, but the HWM/range guards make
    the second pass a no-op — state unchanged, still oracle-equal."""
    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8)
    BinlogTailer(spark, wal, lake, str(tmp_path / "ckpt1")).run_available()
    v1 = lake.snapshot()["version"]
    results = BinlogTailer(spark, wal, lake, str(tmp_path / "ckpt2")).run_available()
    assert sum(r.get("events", 0) for r in results) == 0
    _check(lake, binlog_pdf)
    # rows_total counts physical rows incl. tombstones; the user-facing
    # live count must equal the oracle
    assert lake.read(user_cols=True).count() == len(_oracle(binlog_pdf))
    assert lake.snapshot()["version"] > v1  # no-op commits still recorded


def test_stateful_conversation_progress(spark, tmp_path, binlog_pdf):
    """applyInPandasWithState operator: per-conversation progress rows
    accumulate across micro-batches and survive in the state store."""
    from etl_bitcoin_spark.operators.merge import BINLOG_DDL
    from etl_bitcoin_spark.streaming.stateful import conversation_progress

    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    stream = (
        spark.readStream.schema(BINLOG_DDL)
        .option("maxFilesPerTrigger", 2)
        .parquet(wal)
    )
    q = (
        conversation_progress(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("progress")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per conversation must equal the batch ground truth
    got = (
        spark.sql(
            "SELECT conv_id, max(events) AS events, max(max_turn) AS max_turn,"
            " max(deletes) AS deletes FROM progress GROUP BY conv_id"
        )
        .toPandas()
        .set_index("conv_id")
    )
    want = (
        binlog_pdf.groupby("conv_id")
        .agg(events=("lsn", "size"), max_turn=("turn_idx", "max"))
    )
    want["deletes"] = binlog_pdf[binlog_pdf["op"] == "D"].groupby("conv_id").size()
    want["deletes"] = want["deletes"].fillna(0).astype(int)
    assert set(got.index) == set(want.index)
    for conv in want.index:
        assert got.loc[conv, "events"] == want.loc[conv, "events"]
        assert got.loc[conv, "max_turn"] == want.loc[conv, "max_turn"]
        assert got.loc[conv, "deletes"] == want.loc[conv, "deletes"]


def test_chaos_segment_arrival_order_reconverges(spark, tmp_path, binlog_pdf):
    """Segments delivered in ARBITRARY order (mtimes shuffled, so the
    file source builds micro-batches out of LSN order) plus a duplicated
    segment must still converge to the oracle: tombstone-retaining LWW
    absorbs reordering, the exact guard kills the duplicate delivery."""
    import os
    import random
    import shutil

    wal = str(tmp_path / "wal")
    paths = write_segments(binlog_pdf, wal)
    # shuffle arrival order deterministically (seeded), worst-case-ish:
    # ensure at least one delete-bearing segment arrives before its
    # predecessors
    order = list(range(len(paths)))
    random.Random(1234).shuffle(order)
    for arrival, idx in enumerate(order):
        t = 1_800_000_000 + arrival
        os.utime(paths[idx], (t, t))
    # duplicate delivery: re-add the first-arriving segment at the end
    dup = os.path.join(wal, "seg-redelivered.parquet")
    shutil.copy(paths[order[0]], dup)
    t = 1_800_000_000 + len(paths) + 1
    os.utime(dup, (t, t))

    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    tailer = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    results = tailer.run_available()
    # the duplicated segment contributes 0 net events
    assert sum(r.get("events", 0) for r in results) == 600
    _check(lake, binlog_pdf)


def test_windowed_agg_with_watermark_matches_batch(spark, tmp_path, binlog_pdf):
    """Event-time windowed counts under a watermark: every window the
    stream FINALIZES (append mode emits a window exactly once, when the
    watermark passes it) must equal the batch computation of the same
    window over the full data."""
    from pyspark.sql import functions as F

    from etl_bitcoin_spark.operators.merge import BINLOG_DDL
    from etl_bitcoin_spark.streaming.stateful import windowed_op_counts

    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    stream = (
        spark.readStream.schema(BINLOG_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(wal)
    )
    q = (
        windowed_op_counts(stream, "1 minute", "2 minutes")
        .writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.win_start, r.op): r.n
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert got, "watermark must have closed at least one window"
    batch = spark.read.schema(BINLOG_DDL).parquet(wal)
    want_all = {
        (r.win_start, r.op): r.n
        for r in (
            batch.groupBy(F.window("ts", "1 minute").alias("w"), "op")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("win_start"), "op", "n")
            .collect()
        )
    }
    for key, n in got.items():
        assert want_all[key] == n, f"window {key}: stream {n} != batch {want_all[key]}"
    # append mode: no window may be emitted twice
    rows = spark.sql("SELECT win_start, op, count(*) c FROM winagg "
                     "GROUP BY win_start, op HAVING count(*) > 1").collect()
    assert rows == []


def test_stream_merge_on_read_converges_and_bounds_deltas(
    spark, tmp_path, binlog_pdf
):
    """Merge-on-read tail: per-batch delta appends converge to the same
    oracle state as merge-on-write, auto-compaction keeps every bucket's
    delta count bounded by the policy, and a restart on the same
    checkpoint resumes exactly-once."""
    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    ckpt = str(tmp_path / "ckpt")
    tailer = BinlogTailer(
        spark, wal, lake, ckpt, max_files_per_trigger=1,
        merge_on_read=True, compact_max_deltas=3,
    )
    results = tailer.run_available()
    assert sum(r.get("events", 0) for r in results) == 600
    assert any("compacted_buckets" in r for r in results)
    # read amplification bounded: compaction fires when a bucket crosses
    # the policy, so no bucket ever ends a drain far beyond it
    max_deltas = max(
        len(e["deltas"]) for e in lake.bucket_entries().values()
    )
    assert max_deltas <= 3
    _check(lake, binlog_pdf)
    # replay the whole WAL on a fresh checkpoint: every event redelivered,
    # all rejected (exactly-once also in delta mode)
    r2 = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt2"), merge_on_read=True,
    ).run_available()
    assert sum(r.get("events", 0) for r in r2) == 0
    _check(lake, binlog_pdf)


def test_rescale_mid_stream_reconverges(spark, tmp_path, binlog_pdf):
    """A bucket rescale landing BETWEEN micro-batches (the online
    layout-evolution story): the tailer picks up the new layout on its
    next snapshot read and the stream converges to the oracle on the
    rescaled table."""
    wal = str(tmp_path / "wal")
    segs = write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    ckpt = str(tmp_path / "ckpt")
    # drain the first half, rescale, then drain the rest over the SAME
    # checkpoint — exactly a live tailer interrupted by maintenance
    half = str(tmp_path / "wal_half")
    import os
    import shutil as _sh

    os.makedirs(half)
    names = sorted(os.listdir(wal))
    for n in names[: len(names) // 2]:
        _sh.copy(os.path.join(wal, n), os.path.join(half, n))
    BinlogTailer(spark, half, lake, ckpt).run_available()

    assert lake.rescale_buckets(16, "mid-stream-rescale")["applied"]
    assert lake.snapshot()["n_buckets"] == 16

    for n in names[len(names) // 2:]:
        _sh.copy(os.path.join(wal, n), os.path.join(half, n))
    results = BinlogTailer(spark, half, lake, ckpt).run_available()
    assert all(r["applied"] for r in results)
    _check(lake, binlog_pdf)
    # merges landed on the NEW layout
    from pyspark.sql import functions as F

    from etl_bitcoin_spark.tableformat.lake import BUCKET_COL

    assert lake.read().filter(
        F.col(BUCKET_COL) != lake.bucket_expr(16, KEY_COLS)
    ).count() == 0


def test_tailer_retries_commit_conflict_from_maintenance(
    spark, tmp_path, binlog_pdf, monkeypatch
):
    """A maintenance commit racing a micro-batch surfaces as
    CommitConflict inside foreachBatch; the tailer must recompute from
    the fresh snapshot instead of failing the stream."""
    from etl_bitcoin_spark.streaming import tailer as tailer_mod
    from etl_bitcoin_spark.tableformat.lake import CommitConflict

    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    real = tailer_mod.apply_batch
    fails = {"left": 2}

    def flaky(*a, **kw):
        if fails["left"] > 0:
            fails["left"] -= 1
            raise CommitConflict("injected maintenance race")
        return real(*a, **kw)

    monkeypatch.setattr(tailer_mod, "apply_batch", flaky)
    t = BinlogTailer(spark, wal, lake, str(tmp_path / "ckpt"),
                     max_files_per_trigger=2)
    results = t.run_available()
    assert all(r["applied"] for r in results)
    assert fails["left"] == 0
    _check(lake, binlog_pdf)


def test_bulk_storm_reports_multiplicity_and_matches_oracle(spark, tmp_path):
    """Fused bulk path under a hot-key update storm: the multiplicity
    telemetry rides the single merge job and shows the storm, and the
    state equals the oracle."""
    from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, write_segments

    pdf = generate_binlog(
        BinlogSpec(seed=61, n_convs=10, max_turns=5, n_events=2000,
                   n_segments=4, hot_share=0.95, n_hot=1,
                   delete_rate=0.05)
    )
    wal = str(tmp_path / "wal")
    write_segments(pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    t = BinlogTailer(spark, wal, lake, str(tmp_path / "ckpt"),
                     max_files_per_trigger=1, assume_all_buckets=True)
    results = t.run_available()
    mults = [r["multiplicity"] for r in results]
    assert mults and all(m > 4 for m in mults), mults  # storm visible
    _check(lake, pdf)


def test_stream_merge_on_read_async_compaction(spark, tmp_path, binlog_pdf):
    """compact_policy="async": the policy compaction runs off the hot
    trigger (background thread racing the stream's own commits through
    the CAS), the stream still converges exactly to the oracle, and the
    final synchronous pass at stream stop restores the read-amp bound."""
    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    ckpt = str(tmp_path / "ckpt")
    tailer = BinlogTailer(
        spark, wal, lake, ckpt, max_files_per_trigger=1,
        merge_on_read=True, compact_max_deltas=3,
        compact_policy="async",
    )
    results = tailer.run_available()
    assert sum(r.get("events", 0) for r in results) == 600
    assert any(r.get("compaction") == "scheduled" for r in results)
    # the stop-time pass restored the policy bound
    max_deltas = max(
        len(e["deltas"]) for e in lake.bucket_entries().values()
    )
    assert max_deltas <= 3
    _check(lake, binlog_pdf)
    # redelivery on a fresh checkpoint: exactly-once holds under the
    # async compactor too
    r2 = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt2"), merge_on_read=True,
        compact_policy="async",
    ).run_available()
    assert sum(r.get("events", 0) for r in r2) == 0
    _check(lake, binlog_pdf)


def test_stream_with_live_view_relay(spark, tmp_path, binlog_pdf):
    """views=[(table, spec)] on the tailer: maintained rollups tick
    after every applied micro-batch, and at drain end each equals a
    from-scratch recompute of the converged lake — the full
    CDC-to-materialized-view pipeline in one streaming run."""
    from etl_bitcoin_spark.operators.views import (
        ViewSpec, create_view_table, full_compute,
    )

    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    spec = ViewSpec(
        "live_roles",
        "role string",
        {
            "n_turns": ("count", "long"),
            "n_convs": ("approx_distinct", "conv_id", "long"),
            "total_chars": ("sum", "length(coalesce(text, ''))", "long"),
        },
    )
    down = create_view_table(spark, str(tmp_path / "roles"), spec, 2)
    tailer = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, views=[(down, spec)],
    )
    results = tailer.run_available()
    assert sum(r.get("events", 0) for r in results) == 600
    assert all(
        v["applied"] for r in results for v in r.get("views", [])
    ), results
    _check(lake, binlog_pdf)
    got = down.read(user_cols=True).select(
        "role", "n_turns", "n_convs", "total_chars"
    )
    want = full_compute(spec, lake.read(user_cols=True)).select(
        "role", "n_turns", "n_convs", "total_chars"
    )
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()


def test_stop_time_compaction_enforced_on_second_run(spark, tmp_path, binlog_pdf):
    """Async-policy stop-time compaction must not be absorbed as a
    replay on a SECOND run of the same stream (restart / daily drain):
    the final pass uses the version-derived batch id, so each run's
    drain re-establishes the read-amp policy bound at stream stop."""
    wal = str(tmp_path / "wal")
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    ckpt = str(tmp_path / "ckpt")
    # first half of the WAL (by segment, the unit of delivery)
    write_segments(binlog_pdf[binlog_pdf.seg < 3], wal)
    t1 = BinlogTailer(
        spark, wal, lake, ckpt, max_files_per_trigger=1,
        merge_on_read=True, compact_max_deltas=0,
        compact_policy="async", compact_max_buckets=1,
    )
    t1.run_available()

    def max_deltas():
        return max(
            (len(e["deltas"]) for e in lake.bucket_entries().values()),
            default=0,
        )

    assert max_deltas() == 0, "policy bound must hold at stream stop"
    # second run, same checkpoint: more segments arrive
    write_segments(binlog_pdf[binlog_pdf.seg >= 3], wal)
    t2 = BinlogTailer(
        spark, wal, lake, ckpt, max_files_per_trigger=1,
        merge_on_read=True, compact_max_deltas=0,
        compact_policy="async", compact_max_buckets=1,
    )
    t2.run_available()
    assert max_deltas() == 0, (
        "second run's final pass was absorbed as a replay"
    )
    _check(lake, binlog_pdf)


def test_raw_delta_plan_converges_and_flips_on_storm(spark, tmp_path):
    """delta_plan="auto" engages the no-exchange/no-sort RAW delta plan
    while multiplicity stays ~1 event/key; resolved state equals the
    oracle exactly (read-time resolution speaks the same LWW algebra
    over raw rows as over summaries); an update storm flips the next
    batch back to the summary plan."""
    from pyspark.sql import functions as F

    pdf = generate_binlog(
        BinlogSpec(seed=31, n_convs=40, n_events=800, n_segments=4,
                   dup_rate=0.0)
    )
    wal = str(tmp_path / "wal")
    write_segments(pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    tailer = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, merge_on_read=True,
        compact_max_deltas=64, delta_plan="auto",
    )
    results = tailer.run_available()
    assert sum(r.get("events", 0) for r in results) == 800
    # ~1 event/key per segment at 40 convs x 200 events... multiplicity
    # is > 1 here, so just assert the FIRST batch ran raw and the plan
    # then followed the measured signal
    assert results[0].get("delta_plan") == "raw", results[0]
    _check(lake, pdf)

    # storm continuation: many events, few keys -> the batch after the
    # storm must run the summary plan
    import pandas as pd

    storm = pd.DataFrame({
        "lsn": range(1000, 1500),
        "op": ["U"] * 500,
        "conv_id": ["conv_storm"] * 500,
        "turn_idx": pd.array([0] * 500, dtype="int32"),
        "role": ["user"] * 500,
        "text": [f"s{i}" for i in range(500)],
        "tool": [None] * 500,
        "ts": pd.to_datetime(range(1000, 1500), unit="s").astype("datetime64[us]"),
        "seg": [4] * 500,
        "evolved": [True] * 500,
    })
    tail = pd.DataFrame({
        "lsn": [1500], "op": ["I"], "conv_id": ["conv_after"],
        "turn_idx": pd.array([0], dtype="int32"),
        "role": ["user"], "text": ["after"],
        "tool": [None],
        "ts": pd.to_datetime([1500], unit="s").astype("datetime64[us]"),
        "seg": [5], "evolved": [True],
    })
    write_segments(pd.concat([storm, tail]), wal)
    t2 = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, merge_on_read=True,
        compact_max_deltas=64, delta_plan="auto",
    )
    r2 = t2.run_available()
    assert sum(r.get("events", 0) for r in r2) == 501
    by_plan = [r.get("delta_plan", "summary") for r in r2]
    # storm batch itself may run raw (signal is sticky/lagged), but the
    # batch AFTER it must have flipped to summary
    assert by_plan[-1] == "summary", (by_plan, r2)
    st = lake.read(user_cols=True).filter(
        F.col("conv_id").isin("conv_storm", "conv_after")
    ).collect()
    vals = {r.conv_id: r.text for r in st}
    assert vals == {"conv_storm": "s499", "conv_after": "after"}


def test_raw_delta_plan_sparse_batch_records_exact_islands(spark, tmp_path):
    """A sparse (gapped) batch under the raw plan must record its exact
    lsn islands — a later delivery of a gap lsn still applies."""
    from etl_bitcoin_spark.operators.merge import apply_batch
    from etl_bitcoin_spark.state import ExactlyOnceFilter

    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    from datetime import datetime

    def ev(rows):
        return spark.createDataFrame(
            [(l, "I", c, 0, "user", t, None, datetime(2024, 1, 1, 0, 0, l))
             for (l, c, t) in rows],
            "lsn long, op string, conv_id string, turn_idx int,"
            " role string, text string, tool string, ts timestamp",
        )

    guard = ExactlyOnceFilter(lake.lineage(), None)
    r = apply_batch(
        lake, ev([(1, "a", "x"), (2, "b", "y"), (5, "c", "z")]),
        "raw-sparse", already_applied_filter=guard,
        merge_mode="read", delta_plan="raw",
    )
    assert r["applied"] and r["events"] == 3
    assert lake.lineage()["applied_ranges"] == [[1, 2], [5, 5]]
    # the gap lsns 3,4 arrive later and must still apply
    guard = ExactlyOnceFilter(lake.lineage(), None)
    r2 = apply_batch(
        lake, ev([(3, "d", "late3"), (4, "e", "late4")]),
        "raw-gap", already_applied_filter=guard,
        merge_mode="read", delta_plan="raw",
    )
    assert r2["applied"] and r2["events"] == 2
    assert lake.lineage()["applied_ranges"] == [[1, 5]]
    assert lake.read(user_cols=True).count() == 5


def test_raw_delta_plan_stays_engaged_at_moderate_multiplicity(
    spark, tmp_path
):
    """A live CDC tail routinely carries 1.3-1.5 events/key per batch
    (in-batch updates). That is NOT a storm: the raw plan must stay
    engaged across such batches (threshold RAW_MULT_MAX=2, not a
    uniqueness test — regression pin for the 1.1 threshold that
    silently demoted every realistic tail to the summary plan)."""
    import pandas as pd

    from pyspark.sql import functions as F

    n_seg, per_seg, keys_per_seg = 3, 300, 200  # mult = 1.5 per batch
    frames = []
    for s in range(n_seg):
        base = s * per_seg
        convs = [f"c{s}_{i % keys_per_seg}" for i in range(per_seg)]
        frames.append(pd.DataFrame({
            "lsn": range(base, base + per_seg),
            "op": ["I" if i < keys_per_seg else "U"
                   for i in range(per_seg)],
            "conv_id": convs,
            "turn_idx": pd.array([0] * per_seg, dtype="int32"),
            "role": ["user"] * per_seg,
            "text": [f"t{base + i}" for i in range(per_seg)],
            "tool": [None] * per_seg,
            "ts": pd.to_datetime(
                range(base, base + per_seg), unit="s"
            ).astype("datetime64[us]"),
            "seg": [s] * per_seg,
            "evolved": [True] * per_seg,
        }))
    wal = str(tmp_path / "wal")
    write_segments(pd.concat(frames), wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    tailer = BinlogTailer(
        spark, wal, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, merge_on_read=True,
        compact_max_deltas=64, delta_plan="auto",
    )
    results = tailer.run_available()
    assert sum(r.get("events", 0) for r in results) == n_seg * per_seg
    plans = [r.get("delta_plan", "summary") for r in results
             if r.get("events")]
    assert plans and all(p == "raw" for p in plans), plans
    mults = [round(r.get("multiplicity", 0), 2) for r in results
             if r.get("events")]
    assert all(1.2 < m <= 2.0 for m in mults), mults
    # LWW winner per key is the LAST update; spot-check one
    got = lake.read(user_cols=True).filter(
        F.col("conv_id") == "c0_0"
    ).collect()
    assert len(got) == 1 and got[0].text == f"t{keys_per_seg}"


def test_poll_tailer_drain_matches_oracle(spark, tmp_path, binlog_pdf):
    """PollTailer (the reference's poll shape, no Spark trigger
    machinery) drains the WAL to exactly the oracle state through the
    same guard/merge/compaction body as the streaming tailer."""
    from etl_bitcoin_spark.streaming import PollTailer

    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    t = PollTailer(
        spark, wal, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=2, merge_on_read=True,
        compact_max_deltas=4,
    )
    results = t.run_available()
    assert sum(r.get("events", 0) for r in results) == len(
        binlog_pdf.drop_duplicates("lsn")
    )
    _check(lake, binlog_pdf)
    # read-amp policy bound holds at stop (flush runs the final pass)
    assert all(
        len(e["deltas"]) <= 4 for e in lake.bucket_entries().values()
    )
    # idle poll is a no-op
    assert t.poll_once() is None


def test_poll_tailer_restart_and_lost_cursor_exactly_once(
    spark, tmp_path, binlog_pdf
):
    """Poll-tailer crash/restart semantics, all three layers:

    1. restart mid-drain (fresh instance, same checkpoint) resumes
       from the cursor and converges;
    2. a crash BETWEEN the lake commit and the cursor write replays
       the same segment batch — absorbed by the batch ledger;
    3. losing the cursor file entirely replays the WHOLE WAL — the
       lsn guards absorb every event, state unchanged."""
    from etl_bitcoin_spark.streaming import PollTailer

    wal = str(tmp_path / "wal")
    write_segments(binlog_pdf, wal)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    ckpt = str(tmp_path / "ckpt")

    # drain the first 2 batches, then "crash"
    t1 = PollTailer(spark, wal, lake, ckpt, max_files_per_trigger=2,
                    merge_on_read=True)
    assert t1.poll_once() is not None
    # simulate crash AFTER commit, BEFORE cursor write: apply a batch
    # manually without advancing the cursor
    segs = t1._pending()
    take = segs[:2]
    df = spark.read.schema(
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp"
    ).parquet(*[f"{wal}/{n}" for n in take])
    t1._apply_df(df, f"poll-{t1.ns}-{take[0]}-{take[-1]}")
    applied_mid = lake.snapshot()["version"]

    # fresh instance (restart): re-polls the SAME two segments (cursor
    # never advanced) -> identical commit id -> ledger no-op; then
    # drains the rest and converges
    t2 = PollTailer(spark, wal, lake, ckpt, max_files_per_trigger=2,
                    merge_on_read=True)
    r = t2.poll_once()
    assert r is not None and r.get("events", 0) == 0  # replay absorbed
    assert not r.get("applied", True)  # duplicate batch_id no-op
    t2.run_available()
    _check(lake, binlog_pdf)
    assert applied_mid <= lake.snapshot()["version"]

    # lose the cursor entirely: a full re-drain (different batching,
    # max_files=3 -> different commit ids) applies ZERO events — the
    # exact lsn guards absorb everything
    os.remove(os.path.join(ckpt, "poll_cursor.json"))
    t3 = PollTailer(spark, wal, lake, ckpt, max_files_per_trigger=3,
                    merge_on_read=True)
    results = t3.run_available()
    assert sum(r.get("events", 0) for r in results) == 0
    _check(lake, binlog_pdf)
