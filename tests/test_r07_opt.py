"""Round-7 optimization internals: pinned behaviors.

Covers the operator-internal changes of the optimization round:
  * delta_plan="raw-scan" (exchange-free bulk raw append, shard_mod=1
    generation registration);
  * merge-on-write over UNRESOLVED stored reads (pending deltas fold
    inside the merge's own resolution);
  * replay(batch_plan="raw") == replay(batch_plan="write") final state;
  * compact_deltas full-table fold (key-column partitioning);
and the ADVICE correctness fixes (NULL-predicate delete_where,
int-keyed read(keys=...) fallback, patch-provenance hiding).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, oracle_replay
from etl_bitcoin_spark.operators.merge import (
    KEY_COLS,
    TRANSCRIPTS_DDL,
    apply_batch,
    replay,
)
from etl_bitcoin_spark.tableformat import LakeTable
from etl_bitcoin_spark.tableformat.lake import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
)


def _binlog(spark, n_events=2400, seed=77):
    pdf = generate_binlog(
        BinlogSpec(seed=seed, n_events=n_events, n_segments=4)
    )
    cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ev = spark.createDataFrame(pdf[cols]).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    return pdf, ev


def _state(lake):
    return (
        lake.read()
        .orderBy("conv_id", "turn_idx", LSN_COL)
        .select("conv_id", "turn_idx", "text", LSN_COL, DELETED_COL)
        .toPandas()
        .reset_index(drop=True)
    )


def test_raw_scan_plan_state_and_generation(spark, tmp_path):
    """raw-scan appends register a shard_mod=1 generation (no exchange,
    one file per scan task), resolve to the oracle, and a redelivered
    batch no-ops."""
    pdf, ev = _binlog(spark)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    r = apply_batch(
        lake, ev, "rs-0", merge_mode="read", delta_plan="raw-scan"
    )
    assert r["applied"] and r["delta_plan"] == "raw-scan"
    snap = lake.snapshot()
    gens = snap.get("shard_deltas", [])
    assert len(gens) == 1 and gens[0]["k"] == 1, gens
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .reset_index(drop=True)
    )
    want = oracle_replay(pdf)[["conv_id", "turn_idx", "text"]].reset_index(
        drop=True
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)
    # redelivery under a new batch_id dies at the guard
    r2 = apply_batch(
        lake, ev, "rs-0b", merge_mode="read", delta_plan="raw-scan"
    )
    assert r2.get("events", 0) == 0, r2


def test_mow_folds_pending_deltas_unresolved(spark, tmp_path):
    """A merge-on-write batch over a table carrying raw-scan AND summary
    deltas folds them in its own resolution: final state == oracle,
    no pending deltas remain."""
    pdf, ev = _binlog(spark, n_events=3000, seed=78)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    third = 1000
    b0 = ev.filter(F.col("lsn") <= third)
    b1 = ev.filter((F.col("lsn") > third) & (F.col("lsn") <= 2 * third))
    b2 = ev.filter(F.col("lsn") > 2 * third)
    apply_batch(lake, b0, "m-0", merge_mode="read", delta_plan="raw-scan")
    apply_batch(lake, b1, "m-1", merge_mode="read", delta_plan="summary")
    r = apply_batch(lake, b2, "m-2", assume_all_buckets=True)
    assert r["applied"]
    snap = lake.snapshot()
    assert not snap.get("shard_deltas"), "generations must be folded"
    entries = lake.bucket_entries()
    assert all(not e["deltas"] for e in entries.values()), "deltas remain"
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .reset_index(drop=True)
    )
    want = oracle_replay(pdf)[["conv_id", "turn_idx", "text"]].reset_index(
        drop=True
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_replay_raw_equals_write_plan(spark, tmp_path):
    """replay(batch_plan='raw') and replay(batch_plan='write') converge
    to identical physical state — winners AND retained tombstones."""
    pdf, ev = _binlog(spark, n_events=2600, seed=79)
    lraw = LakeTable.create(
        spark, str(tmp_path / "raw"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    lwr = LakeTable.create(
        spark, str(tmp_path / "wr"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    replay(lraw, ev, batch_lsn_width=700, batch_plan="raw")
    replay(lwr, ev, batch_lsn_width=700, batch_plan="write")
    pd.testing.assert_frame_equal(_state(lraw), _state(lwr))
    assert lraw.hwm == lwr.hwm
    assert not lraw.snapshot().get("shard_deltas")


def test_full_fold_one_file_per_bucket(spark, tmp_path):
    """compact_deltas full-table fold (key-column partitioning) writes
    exactly one file per non-empty bucket, rows exact."""
    pdf, ev = _binlog(spark, n_events=2000, seed=80)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    apply_batch(lake, ev, "f-0", merge_mode="read", delta_plan="raw-scan")
    before = _state(lake)
    r = lake.compact_deltas(max_deltas_per_bucket=0, batch_id="fold-1")
    assert r["applied"] and r["buckets_compacted"] == 8
    entries = lake.bucket_entries()
    for b, e in entries.items():
        assert not e["deltas"], f"bucket {b} still has deltas"
        assert len(e["files"]) <= 1, (b, e["files"])
    pd.testing.assert_frame_equal(_state(lake), before)


def test_delete_where_null_predicate_keeps_null_rows(spark, tmp_path):
    """ADVICE high: a NULL-evaluating predicate must neither count nor
    erase the row (SQL DELETE three-valued logic)."""
    pdf, ev = _binlog(spark, n_events=1500, seed=81)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    apply_batch(lake, ev, "d-0", assume_all_buckets=True)
    st0 = lake.read(user_cols=True).toPandas()
    vals = st0["tool"].dropna()
    assert len(vals) and st0["tool"].isna().sum() > 0, "fixture needs nulls"
    target = vals.iloc[0]
    n_match = int((st0["tool"] == target).sum())
    n_null = int(st0["tool"].isna().sum())
    r = lake.delete_where(f"tool = '{target}'", "dw-null-1")
    assert r["rows_deleted"] == n_match
    st1 = lake.read(user_cols=True).toPandas()
    assert int(st1["tool"].isna().sum()) == n_null
    assert len(st1) == len(st0) - n_match


def test_read_keys_int_key_falls_back_unpruned(spark, tmp_path):
    """ADVICE medium: an int-keyed single-key table must return exact
    rows from read(keys=...) (no string-hash bucket derivation)."""
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), "ik int, v string", ["ik"], 8
    )
    rows = spark.range(0, 300).select(
        F.col("id").cast("int").alias("ik"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    content = (
        rows.withColumn(LSN_COL, F.lit(1).cast("long"))
        .withColumn(DELETED_COL, F.lit(False))
        .withColumn(BUCKET_COL, lake.bucket_expr(8, ["ik"]))
    )
    lake.commit(content, list(range(8)), "b1", lsn_range=(1, 1))
    got = sorted(
        r["ik"] for r in lake.read(keys=[3, 42, 250]).select("ik").collect()
    )
    assert got == [3, 42, 250], got


def test_user_cols_hides_patch_provenance(spark, tmp_path):
    """ADVICE low: user_cols=True must hide __pts_*/__plsn_* provenance
    columns on patch-column tables."""
    pdf, ev = _binlog(spark, n_events=800, seed=82)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 4,
        patch_cols=["role", "tool"],
    )
    apply_batch(lake, ev, "p-0", merge_mode="read", delta_plan="summary")
    cols = lake.read(user_cols=True).columns
    assert not any(
        c.startswith("__pts_") or c.startswith("__plsn_") for c in cols
    ), cols


# ---------------------------------------------------------------- session 2


def test_replay_resume_skips_covered_islands(spark, tmp_path):
    """Crash-resume: windows applied by a (crashed) concurrent run —
    including a covered window ABOVE an uncovered one — are skipped by
    lineage coverage, never by batch-id collision; the resumed replay
    applies exactly the missing windows and converges to the oracle.
    (Pre-r7, resume renumbered windows from the resume point, so an
    already-applied batch id could absorb a never-applied window.)"""
    pdf, ev = _binlog(spark, n_events=2000, seed=83)
    lo = int(pdf["lsn"].min())
    width = 500
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    # simulate a crashed concurrent run: windows 0 and 2 landed (their
    # true grid ids and spans), 1 and 3 did not
    for i in (0, 2):
        s, e = lo + i * width, lo + (i + 1) * width - 1
        apply_batch(
            lake,
            ev.filter((F.col("lsn") >= s) & (F.col("lsn") <= e)),
            f"rz-{i:06d}",
            already_applied_filter=lambda df: df,
            lsn_range_hint=(s, e),
            merge_mode="read", delta_plan="raw-scan",
        )
    assert len(lake.lineage()["applied_ranges"]) == 2  # island above gap
    results = replay(lake, ev, batch_lsn_width=width, batch_id_prefix="rz")
    applied = [r for r in results if r.get("applied")]
    assert len(applied) == 2, results
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .toPandas()["text"]
    )
    exp = oracle_replay(pdf)["text"]
    assert list(got) == list(exp)
    # full-grid rerun: everything covered, nothing re-applies
    assert replay(lake, ev, batch_lsn_width=width, batch_id_prefix="rz") == []


def test_replay_concurrent_staging_ordered_results(spark, tmp_path):
    """Bulk raw replay stages its windows concurrently but reports them
    in window order with per-window dense lsn ranges."""
    pdf, ev = _binlog(spark, n_events=2000, seed=84)
    lo = int(pdf["lsn"].min())
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    results = replay(lake, ev, batch_lsn_width=500, batch_id_prefix="rc")
    assert len(results) == 4
    for i, r in enumerate(results[:-1]):
        assert r["delta_plan"] == "raw-scan", r
        assert r["lsn_range"] == [lo + i * 500, lo + (i + 1) * 500 - 1], r
    assert "delta_plan" not in results[-1]  # final merge-on-write
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .toPandas()["text"]
    )
    assert list(got) == list(oracle_replay(pdf)["text"])


def test_dense_tail_bloom_stays_vacuous_then_reengages(spark, tmp_path):
    """Ordered drains skip the per-batch Bloom inserts entirely (bits
    stay zero, covered_lo sits above the HWM); the first gapped batch
    re-engages inserts; duplicates die in both regimes."""
    import numpy as np

    from etl_bitcoin_spark.streaming import BinlogTailer
    from etl_bitcoin_spark.gen import write_segments

    pdf = generate_binlog(BinlogSpec(seed=85, n_events=1600, n_segments=8))
    segs = write_segments(pdf, str(tmp_path / "wal"))
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    t = BinlogTailer(
        spark, str(tmp_path / "wal"), lake, str(tmp_path / "ck"),
        max_files_per_trigger=2, assume_all_buckets=True,
    )
    for i in (0, 1, 2, 3):  # ordered, contiguous
        t._apply_df(spark.read.parquet(segs[i]), f"s-{i}")
    bloom = t._load_bloom()
    assert bloom is not None
    assert int(np.count_nonzero(bloom.bits)) == 0, "dense tail inserted bits"
    assert bloom.covered_lo == lake.hwm + 1
    # duplicate in the dense regime dies at the hwm fast path
    t._apply_df(spark.read.parquet(segs[1]), "re-1")
    assert t.batch_results[-1].get("events", -1) == 0
    # gap: deliver segment 5 before 4 -> sparse history, inserts resume
    t._apply_df(spark.read.parquet(segs[5]), "s-5")
    assert len(lake.lineage()["applied_ranges"]) > 1
    assert int(np.count_nonzero(bloom.bits)) > 0, "sparse batch must insert"
    # late gap fill + redeliveries: exactly-once end to end
    t._apply_df(spark.read.parquet(segs[4]), "s-4")
    for i in (4, 5):
        t._apply_df(spark.read.parquet(segs[i]), f"re2-{i}")
        assert t.batch_results[-1].get("events", -1) == 0
    for i in (6, 7):
        t._apply_df(spark.read.parquet(segs[i]), f"s-{i}")
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .toPandas()["text"]
    )
    assert list(got) == list(oracle_replay(pdf)["text"])


def test_full_bucket_read_skips_membership_filter(spark, tmp_path):
    """read(buckets=<every bucket>) must not plan the per-row derived-
    bucket membership filter (it keeps every row by construction); a
    proper subset still filters, and both return exact rows."""
    pdf, ev = _binlog(spark, n_events=1200, seed=86)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    apply_batch(lake, ev, "b-0")
    # exactly ONE pmod in the full read (the BUCKET_COL projection read
    # always emits) — the membership Filter's pmod must be gone; the
    # subset read keeps both
    full = lake.read(buckets=list(range(8)))
    assert full._jdf.queryExecution().analyzed().toString().count("pmod") == 1
    sub = lake.read(buckets=[0, 1, 2])
    assert sub._jdf.queryExecution().analyzed().toString().count("pmod") == 2
    a = lake.read().orderBy("conv_id", "turn_idx", LSN_COL).toPandas()
    b = full.orderBy("conv_id", "turn_idx", LSN_COL).toPandas()
    pd.testing.assert_frame_equal(a, b)
    got_sub = set(
        r[BUCKET_COL] for r in sub.select(BUCKET_COL).distinct().collect()
    )
    assert got_sub <= {0, 1, 2}


def test_minhash_docsets_single_upstream_exchange(spark):
    """The doc_id repartition satisfies both the shingle distinct and
    the per-doc signature aggregation: exactly ONE exchange upstream of
    the docsets aggregate."""
    from etl_bitcoin_spark.plans.pipeline_queries import (
        _minhash_docsets,
        _shingled,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
        "doc_id long, text string",
    ).repartition("doc_id")
    plan = (
        _minhash_docsets(_shingled(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_commit_claim_detects_concurrent_version(spark, tmp_path):
    """Lost-commit race regression (r7 third pass, caught by the
    bench's final_rows): writer B reads snapshot v1, writer A commits
    v2, then B publishes. The old claim computed max(global_latest,
    cur)+1 = 3 and claimed v3 with parent v1 SUCCESSFULLY — silently
    orphaning A's generation from the chain (no head CAS exists on an
    un-branched table). The claim must collide at cur+1 and REBASE so
    both commits' content survives."""
    pdf, ev = _binlog(spark, n_events=2000, seed=91)
    lake = LakeTable.create(
        spark, str(tmp_path / "l"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    w0 = ev.filter(F.col("lsn") < 1000)
    w1 = ev.filter(F.col("lsn") >= 1000)

    # writer A commits window 0 normally -> v2
    apply_batch(
        lake, w0, "w0", already_applied_filter=lambda df: df,
        lsn_range_hint=(0, 999), merge_mode="read",
        delta_plan="raw-scan",
    )
    v_a = lake.snapshot()["version"]

    # writer B: a second handle whose snapshot reads are STALE (pre-A)
    # until its first version-claim attempt completes — the exact
    # interleaving of the caught race, deterministic.
    lake_b = LakeTable(spark, str(tmp_path / "l"))
    stale = lake_b.snapshot(version=1)
    real_snapshot = lake_b.snapshot
    real_claim = lake_b._claim_version
    staling = [True]

    def snap_patched(version=None, ref=None):
        if version is None and staling[0]:
            return stale
        return real_snapshot(version=version, ref=ref)

    def claim_patched(manifest):
        try:
            return real_claim(manifest)
        finally:
            staling[0] = False  # first attempt done -> reads go live

    lake_b.snapshot = snap_patched
    lake_b._claim_version = claim_patched
    res = apply_batch(
        lake_b, w1, "w1", already_applied_filter=lambda df: df,
        lsn_range_hint=(1000, 1999), merge_mode="read",
        delta_plan="raw-scan",
    )
    assert res["applied"] is True

    # BOTH generations must be on the chain, and the chain contiguous
    final = lake.snapshot()
    gens = final.get("shard_deltas", [])
    assert len(gens) == 2, gens
    assert final["parent"] == v_a
    # and the resolved state equals the full two-window oracle
    got = (
        lake.read()
        .orderBy("conv_id", "turn_idx", LSN_COL)
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    want = oracle_replay(pdf)
    assert len(got) >= len(want)  # read() keeps tombstone rows too
    live = lake.read(user_cols=True).orderBy("conv_id", "turn_idx").toPandas()
    assert list(live["text"]) == list(want["text"])
