"""Merge-on-read delta mode: per-batch summaries append as delta files,
reads resolve base-vs-delta with the merge algebra (state identical to
merge-on-write), compaction bounds read amplification.
"""

import pandas as pd
import pytest

from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, oracle_replay
from etl_bitcoin_spark.operators.merge import (
    BINLOG_DDL,
    KEY_COLS,
    TRANSCRIPTS_DDL,
    apply_batch,
)
from etl_bitcoin_spark.tableformat import LakeTable


def _spark_binlog(spark, pdf):
    return spark.createDataFrame(
        pdf.drop(columns=["seg", "evolved"]), BINLOG_DDL
    )


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


@pytest.fixture(scope="module")
def binlog_pdf():
    # deletes + ts collisions + duplicates: the full LWW algebra
    return generate_binlog(
        BinlogSpec(seed=7, n_convs=40, max_turns=12, n_events=3000,
                   delete_rate=0.12, dup_rate=0.03)
    )


def _replay_in_batches(spark, lake, pdf, merge_mode, n_batches=6):
    n = int(pdf["lsn"].max()) + 1
    width = (n + n_batches - 1) // n_batches
    for i in range(n_batches):
        lo, hi = i * width, min((i + 1) * width - 1, n - 1)
        chunk = pdf[(pdf["lsn"] >= lo) & (pdf["lsn"] <= hi)]
        if chunk.empty:
            continue
        apply_batch(
            lake, _spark_binlog(spark, chunk), f"{merge_mode}-{i}",
            lsn_range_hint=(lo, hi), merge_mode=merge_mode,
        )


def test_merge_on_read_equals_merge_on_write_and_oracle(
    spark, tmp_path, binlog_pdf
):
    """Same binlog, both modes, identical visible state — and both equal
    the golden sequential replay."""
    mow = LakeTable.create(
        spark, str(tmp_path / "mow"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    _replay_in_batches(spark, mow, binlog_pdf, "write")
    _replay_in_batches(spark, mor, binlog_pdf, "read")
    # merge-on-read appended deltas, never rewrote a base file
    entries = mor.bucket_entries()
    assert all(len(e["files"]) == 0 for e in entries.values())
    assert any(len(e["deltas"]) > 0 for e in entries.values())
    want = _norm(oracle_replay(binlog_pdf))
    got_w = _norm(_final(mow))
    got_r = _norm(_final(mor))
    pd.testing.assert_frame_equal(got_w, want)
    pd.testing.assert_frame_equal(got_r, want)
    # lineage identical (exactly-once bookkeeping mode-independent)
    assert mor.lineage()["hwm"] == mow.lineage()["hwm"]
    assert mor.lineage()["applied_ranges"] == mow.lineage()["applied_ranges"]


def test_compaction_bounds_read_amplification(spark, tmp_path, binlog_pdf):
    """compact_deltas folds deltas into the base when a bucket exceeds
    the policy; visible state unchanged; per-bucket delta count bounded;
    idempotent on batch_id."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    _replay_in_batches(spark, lake, binlog_pdf, "read", n_batches=10)
    before = _norm(_final(lake))
    max_deltas = max(
        len(e["deltas"]) for e in lake.bucket_entries().values()
    )
    assert max_deltas >= 10  # every batch touched every bucket
    res = lake.compact_deltas(max_deltas_per_bucket=3)
    assert res["applied"] and res["buckets_compacted"] == 4
    entries = lake.bucket_entries()
    assert all(len(e["deltas"]) == 0 for e in entries.values())
    assert all(len(e["files"]) >= 1 for e in entries.values())
    pd.testing.assert_frame_equal(_norm(_final(lake)), before)
    # below-threshold: no-op
    res2 = lake.compact_deltas(max_deltas_per_bucket=3)
    assert not res2["applied"] and res2["buckets_compacted"] == 0
    # more deltas on top of the compacted base still resolve correctly
    pdf2 = binlog_pdf.copy()
    n = int(pdf2["lsn"].max()) + 1
    tail = generate_binlog(
        BinlogSpec(seed=8, n_convs=40, max_turns=12, n_events=500,
                   delete_rate=0.12)
    )
    tail = tail.assign(lsn=tail["lsn"] + n)
    apply_batch(
        lake, _spark_binlog(spark, tail), "tail",
        lsn_range_hint=(n, n + 499), merge_mode="read",
    )
    combined = pd.concat([binlog_pdf, tail], ignore_index=True)
    pd.testing.assert_frame_equal(
        _norm(_final(lake)), _norm(oracle_replay(combined))
    )


def test_delta_mode_exactly_once_replay(spark, tmp_path, binlog_pdf):
    """Replaying a delta batch (same batch_id) is a metadata no-op —
    no double-appended delta files."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    chunk = binlog_pdf[binlog_pdf["lsn"] < 500]
    ev = _spark_binlog(spark, chunk)
    r1 = apply_batch(lake, ev, "d0", lsn_range_hint=(0, 499),
                     merge_mode="read")
    assert r1["applied"]
    n_deltas = sum(len(e["deltas"]) for e in lake.bucket_entries().values())
    r2 = apply_batch(lake, ev, "d0", lsn_range_hint=(0, 499),
                     merge_mode="read")
    assert not r2["applied"]
    assert sum(
        len(e["deltas"]) for e in lake.bucket_entries().values()
    ) == n_deltas


def test_delta_apply_is_one_spark_job(spark, tmp_path, binlog_pdf):
    """Mechanism assert for the latency path: a merge-on-read micro-batch
    runs exactly ONE Spark job (the summary-window + delta write; lsn
    stats ride it as an Observation) — no stats aggregation job, no
    cache materialization, no bucket-discovery job."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    chunk = binlog_pdf[binlog_pdf["lsn"] < 500]
    ev = _spark_binlog(spark, chunk)
    sc = spark.sparkContext
    # AQE splits ONE action into per-stage jobs; disable it so the probe
    # counts actions (what the mechanism claim is about), not stages.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("delta-one-job", "mechanism probe")
    try:
        r = apply_batch(lake, ev, "jb0", merge_mode="read")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert r["applied"] and r["events"] > 0
    jobs = sc.statusTracker().getJobIdsForGroup("delta-one-job")
    assert len(jobs) == 1, f"expected 1 job, saw {len(jobs)}: {jobs}"


def test_bulk_stream_write_apply_is_one_spark_job(spark, tmp_path, binlog_pdf):
    """Same mechanism assert for the bulk streaming merge-on-write path
    (assume_all_buckets): the merge/write job is the only job."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    chunk = binlog_pdf[binlog_pdf["lsn"] < 500]
    ev = _spark_binlog(spark, chunk)
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("bulk-one-job", "mechanism probe")
    try:
        r = apply_batch(lake, ev, "jb1", assume_all_buckets=True)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert r["applied"] and r["events"] > 0
    jobs = sc.statusTracker().getJobIdsForGroup("bulk-one-job")
    assert len(jobs) == 1, f"expected 1 job, saw {len(jobs)}: {jobs}"


def test_compact_deltas_nibble_mode(spark, tmp_path):
    """max_buckets bounds each compaction pass to the worst-K victim
    buckets; repeated passes converge every bucket under the policy,
    and state is unchanged throughout."""
    from etl_bitcoin_spark.operators.merge import (
        KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )
    from datetime import datetime

    def ev(lsn, conv):
        return spark.createDataFrame(
            [(lsn, "I", conv, 0, "user", f"t{lsn}", None,
              datetime(2024, 1, 1))],
            "lsn long, op string, conv_id string, turn_idx int,"
            " role string, text string, tool string, ts timestamp",
        )

    # 3 delta commits per key -> every touched bucket carries 3 deltas
    for i in range(12):
        apply_batch(lake, ev(i, f"c{i % 4}"), f"d{i}", merge_mode="read")
    before = sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in lake.read(user_cols=True).collect()
    )
    over = [
        int(b) for b, e in lake.bucket_entries().items()
        if len(e["deltas"]) > 1
    ]
    assert len(over) >= 2  # multiple victims to nibble through
    r1 = lake.compact_deltas(max_deltas_per_bucket=1, batch_id="n1",
                             max_buckets=1)
    assert r1["applied"] and r1["buckets_compacted"] == 1
    # still-over buckets remain for the next pass
    still = [
        int(b) for b, e in lake.bucket_entries().items()
        if len(e["deltas"]) > 1
    ]
    assert len(still) == len(over) - 1
    passes = 1
    while still:
        r = lake.compact_deltas(max_deltas_per_bucket=1,
                                batch_id=f"n{passes + 1}", max_buckets=1)
        assert r["applied"] and r["buckets_compacted"] == 1
        passes += 1
        still = [
            int(b) for b, e in lake.bucket_entries().items()
            if len(e["deltas"]) > 1
        ]
    after = sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in lake.read(user_cols=True).collect()
    )
    assert after == before


def test_raw_group_deltas_share_files_and_bucket_reads_stay_exact(
    spark, tmp_path
):
    """Delta files shared by a GROUP of buckets (commit shard_mod=K: one
    shard generation whose file s holds every bucket b with b % K == s):
    each member bucket sees its shard's file, read() dedupes it and
    filters rows to the requested buckets, and a partial compaction
    folds one member's rows out without breaking its siblings' reads."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from etl_bitcoin_spark.operators.merge import (
        KEY_COLS, TRANSCRIPTS_DDL, events_as_rows,
    )
    from etl_bitcoin_spark.tableformat import LakeTable
    from etl_bitcoin_spark.tableformat.lake import BUCKET_COL

    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 128
    )
    ev = spark.createDataFrame(
        [(i, "I", f"c{i}", 0, "user", f"t{i}", None,
          datetime(2024, 1, 1)) for i in range(200)],
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp",
    ).coalesce(1)
    content = events_as_rows(ev).withColumn(
        BUCKET_COL, lake.bucket_expr(128, KEY_COLS)
    )
    ok = lake.commit(
        content, [], "b0", mode="delta", lsn_range=(0, 199), shard_mod=2,
    )
    assert ok
    gens = lake.snapshot()["shard_deltas"]
    assert len(gens) == 1 and gens[0]["k"] == 2
    ent = lake.bucket_entries()
    all_files = {f for e in ent.values() for f in e["deltas"]}
    # 2 shards of 64 buckets each -> 2 shared files from the single
    # input partition, one per member bucket's delta view
    assert len(all_files) == 2, all_files
    assert all(len(e["deltas"]) == 1 for e in ent.values())

    # bucket-pruned read returns ONLY that bucket's rows despite the
    # shared file holding 64 buckets' rows
    full = lake.read(user_cols=True)
    assert full.count() == 200

    def _by_bucket():
        return {
            int(r_.bkt): set(r_.cs)
            for r_ in lake.read(user_cols=True)
            .withColumn("bkt", lake.bucket_expr(128, KEY_COLS))
            .groupBy("bkt").agg(F.collect_set("conv_id").alias("cs"))
            .collect()
        }

    before = _by_bucket()
    # pick a bucket that actually holds rows (most of the 128 member
    # buckets of a shared file hold none at 200 convs)
    some = max(before, key=lambda b_: len(before[b_]))
    got = {
        r_.conv_id
        for r_ in lake.read(buckets=[some], user_cols=True).collect()
    }
    assert got == before[some] and 0 < len(got) < 200

    # partial compaction folds ONE member bucket; the shared files stay
    # live for the others, and every bucket's rows are unchanged
    c = lake.compact_deltas(0, max_buckets=1)
    assert c["applied"] and c["buckets_compacted"] == 1
    folded = [
        int(b) for b, e in lake.bucket_entries().items() if not e["deltas"]
    ]
    assert len(folded) == 1
    assert len(lake.snapshot()["shard_deltas"]) == 1
    assert _by_bucket() == before
    for b in {folded[0], some}:
        got = {
            r_.conv_id
            for r_ in lake.read(buckets=[b], user_cols=True).collect()
        }
        assert got == before.get(b, set()), b

    # compaction folds every over-policy bucket; state unchanged
    c = lake.compact_deltas(0)
    assert c["applied"]
    assert lake.read(user_cols=True).count() == 200
    assert all(
        len(e["deltas"]) == 0 for e in lake.bucket_entries().values()
    )
    assert lake.snapshot()["shard_deltas"] == []


def test_raw_plan_inbatch_dup_lsn_never_masks_a_gap(spark, tmp_path):
    """The adversarial lineage case for any count-based density check:
    a batch with lsns [1,2,2,4] has row count == span, but lsn 3 was
    never delivered. The raw plan's staged-file islands observe the
    gap directly — lsn 3 must still apply later."""
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import (
        KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.state import ExactlyOnceFilter
    from etl_bitcoin_spark.tableformat import LakeTable

    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 4
    )

    def ev(rows):
        return spark.createDataFrame(
            [(l, "I", c, 0, "user", t, None, datetime(2024, 1, 1, 0, 0, l))
             for (l, c, t) in rows],
            "lsn long, op string, conv_id string, turn_idx int,"
            " role string, text string, tool string, ts timestamp",
        )

    guard = ExactlyOnceFilter(lake.lineage(), None)
    r = apply_batch(
        lake, ev([(1, "a", "x"), (2, "b", "y"), (2, "b", "y"),
                  (4, "c", "z")]),
        "dup-gap", already_applied_filter=guard,
        merge_mode="read", delta_plan="raw",
    )
    assert r["applied"] and r["events"] == 3, r
    assert lake.lineage()["applied_ranges"] == [[1, 2], [4, 4]]
    guard = ExactlyOnceFilter(lake.lineage(), None)
    r2 = apply_batch(
        lake, ev([(3, "d", "late")]), "gap-fill",
        already_applied_filter=guard, merge_mode="read",
        delta_plan="raw",
    )
    assert r2["applied"] and r2["events"] == 1
    assert lake.lineage()["applied_ranges"] == [[1, 4]]
    assert lake.read(user_cols=True).count() == 4


def test_raw_mod_shard_files_register_members_and_stay_exact(
    spark, tmp_path
):
    """The raw plan's mod-shard write (commit shard_mod=K): one file
    per shard s holding buckets {b : b % K == s}, registered in every
    member bucket. Each partition holds EXACTLY one shard (K divides
    n_buckets, key-hash partitioning), bucket-pruned reads stay exact
    through the shared files, and compaction folds them away."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from etl_bitcoin_spark.operators.merge import (
        KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.state import ExactlyOnceFilter
    from etl_bitcoin_spark.tableformat import LakeTable

    nb = 64
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, nb
    )
    ev = spark.createDataFrame(
        [(i, "I", f"c{i % 300}", i // 300, "user", f"t{i}", None,
          datetime(2024, 1, 1)) for i in range(900)],
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp",
    ).coalesce(1)
    r = apply_batch(lake, ev, "b0", merge_mode="read", delta_plan="raw")
    assert r["applied"] and r["events"] == 900

    width = spark.sparkContext.defaultParallelism
    cap = min(width, nb)
    k = next(d for d in range(cap, 0, -1) if nb % d == 0)
    ent = lake.bucket_entries()
    all_files = {f for e in ent.values() for f in e["deltas"]}
    # one file per shard; every bucket references exactly its shard's
    assert len(all_files) <= k, (len(all_files), k)
    for b, e in ent.items():
        assert len(e["deltas"]) == 1, (b, e["deltas"])
    # buckets of the same residue class share a file; different
    # residues never do
    by_file: dict[str, set[int]] = {}
    for b, e in ent.items():
        by_file.setdefault(e["deltas"][0], set()).add(int(b) % k)
    assert all(len(res) == 1 for res in by_file.values()), by_file

    # bucket-pruned read: only that bucket's rows despite sharing
    full = lake.read(user_cols=True)
    assert full.count() == 900
    some = (
        full.withColumn("bkt", lake.bucket_expr(nb, KEY_COLS))
        .groupBy("bkt").count().orderBy(F.desc("count")).first()
    )
    one = lake.read(buckets=[int(some.bkt)], user_cols=True)
    assert (
        one.withColumn("bkt", lake.bucket_expr(nb, KEY_COLS))
        .filter(F.col("bkt") != int(some.bkt)).count() == 0
    )
    assert 0 < one.count() < 900

    # redelivery through the exact guard: nothing applied, no new files
    r2 = apply_batch(
        lake, ev, "b0-again", merge_mode="read", delta_plan="raw",
        already_applied_filter=ExactlyOnceFilter(lake.lineage(), None),
    )
    assert r2.get("events", 0) == 0
    assert {f for e in lake.bucket_entries().values()
            for f in e["deltas"]} == all_files

    # compaction folds the shared shard files; state unchanged
    c = lake.compact_deltas(0)
    assert c["applied"]
    assert lake.read(user_cols=True).count() == 900
    assert all(
        len(e["deltas"]) == 0 for e in lake.bucket_entries().values()
    )


def test_shard_generation_registration_is_o_k(spark, tmp_path):
    """Raw mod-shard commits register O(K) metadata, not O(n_buckets):
    the K shard files land as ONE snapshot-level generation — zero new
    bucket/group manifests — while bucket_entries still presents the
    exact per-bucket logical view (residue file, floor-gated), reads
    stay exact, partial compaction advances only the victims' floors,
    and a fully-folded generation prunes from the snapshot."""
    import os
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import (
        KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    nb = 256
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, nb
    )
    bm_dir = os.path.join(lake.manifest_dir, "bm")
    gm_dir = os.path.join(lake.manifest_dir, "gm")

    def _counts():
        return (
            len(os.listdir(bm_dir)) if os.path.isdir(bm_dir) else 0,
            len(os.listdir(gm_dir)) if os.path.isdir(gm_dir) else 0,
        )

    def _ev(lo, n, op="I"):
        return spark.createDataFrame(
            [(lo + i, op, f"c{(lo + i) % 500}", (lo + i) // 500, "user",
              f"t{lo + i}", None, datetime(2024, 1, 1)) for i in range(n)],
            "lsn long, op string, conv_id string, turn_idx int,"
            " role string, text string, tool string, ts timestamp",
        ).coalesce(1)

    before = _counts()
    r = apply_batch(lake, _ev(0, 2000), "b0", merge_mode="read",
                    delta_plan="raw")
    assert r["applied"] and r["events"] == 2000
    after = _counts()
    assert after == before, (before, after)  # ZERO bm/gm writes

    m = lake.snapshot()
    assert len(m["shard_deltas"]) == 1
    gen = m["shard_deltas"][0]
    assert gen["v"] == m["version"] and gen["rows"] == 2000
    assert 1 <= len(gen["files"]) <= gen["k"]

    # logical per-bucket view: exactly the residue file, floor-gated
    ent = lake.bucket_entries()
    assert len(ent) == nb
    for b, e in ent.items():
        assert len(e["deltas"]) == 1, (b, e["deltas"])
        assert f"__dshard={int(b) % gen['k']}/" in e["deltas"][0]
    assert lake.read(user_cols=True).count() == 2000

    # second generation + redelivery guard
    r = apply_batch(lake, _ev(2000, 1000), "b1", merge_mode="read",
                    delta_plan="raw")
    assert r["applied"] and len(lake.snapshot()["shard_deltas"]) == 2
    from etl_bitcoin_spark.state import ExactlyOnceFilter

    r2 = apply_batch(
        lake, _ev(0, 2000), "b0-again", merge_mode="read",
        delta_plan="raw",
        already_applied_filter=ExactlyOnceFilter(lake.lineage(), None),
    )
    assert r2.get("events", 0) == 0
    assert len(lake.snapshot()["shard_deltas"]) == 2  # no phantom gen

    # PARTIAL compaction: only the victims' floors advance; the
    # generations stay live for everyone else; state stays exact
    want = {
        (r.conv_id, r.turn_idx): r.text
        for r in lake.read(user_cols=True).collect()
    }
    c = lake.compact_deltas(0, max_buckets=10)
    assert c["applied"] and c["buckets_compacted"] == 10
    m2 = lake.snapshot()
    assert len(m2["shard_deltas"]) == 2  # not globally folded yet
    floors = {
        b: e.get("floor", -1) for b, e in
        lake.bucket_entries(include_shard=False).items()
    }
    assert sum(1 for f in floors.values() if f >= 0) == 10
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in lake.read(user_cols=True).collect()
    }
    assert got == want
    # folded victims see no live gens in the logical view
    folded = [b for b, f in floors.items() if f >= 0][0]
    assert lake.bucket_entries(buckets=[int(folded)])[folded][
        "deltas"
    ] == []

    # FULL compaction folds everything -> generations prune away
    c = lake.compact_deltas(0)
    assert c["applied"]
    assert lake.snapshot()["shard_deltas"] == []
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in lake.read(user_cols=True).collect()
    }
    assert got == want


def test_shard_generation_floor_blocks_resurrection(spark, tmp_path):
    """The floor row-exclusion is a CORRECTNESS device, not an
    optimization: after a victim bucket folds its generations and a
    tombstone compaction drops the delete marker, the folded
    generations' old insert rows must NOT re-enter resolution and
    resurrect the deleted key."""
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import (
        KEY_COLS, TRANSCRIPTS_DDL, apply_batch,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    nb = 16
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, nb
    )
    ddl = ("lsn long, op string, conv_id string, turn_idx int,"
           " role string, text string, tool string, ts timestamp")
    ins = spark.createDataFrame(
        [(i, "I", f"c{i}", 0, "user", f"t{i}", None,
          datetime(2024, 1, 1)) for i in range(40)], ddl,
    ).coalesce(1)
    r = apply_batch(lake, ins, "b0", merge_mode="read", delta_plan="raw")
    assert r["applied"]
    dels = spark.createDataFrame(
        [(100, "D", "c7", 0, None, None, None, datetime(2024, 1, 2))],
        ddl,
    ).coalesce(1)
    r = apply_batch(lake, dels, "b1", merge_mode="read",
                    delta_plan="raw", lsn_range_hint=(100, 100))
    assert r["applied"]
    assert lake.read(user_cols=True).filter("conv_id = 'c7'").count() == 0

    # drop the tombstone under the producer's low-watermark contract
    # while BOTH generations are still live: the rewrite advances only
    # the victim bucket's floor, so gen rows stay live for every other
    # bucket but the folded insert of c7 must not re-enter resolution
    res = lake.compact_bucket_tombstones(horizon_lsn=100)
    assert res["applied"]
    assert len(lake.snapshot()["shard_deltas"]) == 2  # others unfolded
    got = lake.read(user_cols=True)
    assert got.filter("conv_id = 'c7'").count() == 0  # stays deleted
    assert got.count() == 39

    # and the same holds after everything folds + prunes
    assert lake.compact_deltas(0)["applied"]
    assert lake.snapshot()["shard_deltas"] == []
    got = lake.read(user_cols=True)
    assert got.filter("conv_id = 'c7'").count() == 0
    assert got.count() == 39
