"""LakeTable: atomic snapshot commits, idempotence, time travel, lineage.

Mirrors the reference's sink tests (database/csv/neo4j_csv/neo4j_csv_test.go):
commit produces exactly the expected table state; re-commit is a no-op.
"""

from pyspark.sql import functions as F

from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
from etl_bitcoin_spark.tableformat import LakeTable
from etl_bitcoin_spark.tableformat.lake import BUCKET_COL, LSN_COL


def _mk(spark, rows, ddl=TRANSCRIPTS_DDL, ts_pos=5):
    from datetime import datetime

    rows = [
        tuple(
            datetime.fromisoformat(v) if i == ts_pos and isinstance(v, str) else v
            for i, v in enumerate(r)
        )
        for r in rows
    ]
    return spark.createDataFrame(rows, f"{ddl}, {LSN_COL} long")


def _with_bucket(lake, df):
    m = lake.snapshot()
    return df.withColumn(BUCKET_COL, lake.bucket_expr(m["n_buckets"], m["key_cols"]))


def test_create_and_empty_read(spark, tmp_lake_dir):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    assert lake.read().count() == 0
    assert lake.hwm == -1
    assert LakeTable.exists(tmp_lake_dir)


def test_commit_read_roundtrip_and_lineage(spark, tmp_lake_dir):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    rows = [
        ("c1", 0, "user", "hi", None, "2024-01-01 00:00:00", 1),
        ("c1", 1, "assistant", "hello", "search", "2024-01-01 00:00:01", 2),
        ("c2", 0, "user", "yo", None, "2024-01-01 00:00:02", 3),
    ]
    df = _with_bucket(lake, _mk(spark, rows))
    affected = [r[BUCKET_COL] for r in df.select(BUCKET_COL).distinct().collect()]
    assert lake.commit(df, affected, "b1", (1, 3), {"events": 3})
    got = lake.read(user_cols=True).orderBy("conv_id", "turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in got] == [
        ("c1", 0, "hi"),
        ("c1", 1, "hello"),
        ("c2", 0, "yo"),
    ]
    assert lake.hwm == 3
    assert lake.lineage()["applied_ranges"] == [[1, 3]]
    assert lake.lineage()["rows_total"] == 3


def test_idempotent_recommit(spark, tmp_lake_dir):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    df = _with_bucket(
        lake, _mk(spark, [("c1", 0, "user", "hi", None, "2024-01-01 00:00:00", 1)])
    )
    assert lake.commit(df, [0, 1, 2, 3], "b1", (1, 1))
    assert not lake.commit(df, [0, 1, 2, 3], "b1", (1, 1))  # replay -> no-op
    assert lake.read().count() == 1
    assert lake.snapshot()["version"] == 2


def test_bucket_replacement_only_touches_affected(spark, tmp_lake_dir):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    df = _with_bucket(
        lake,
        _mk(
            spark,
            [
                ("c1", 0, "user", "a", None, "2024-01-01 00:00:00", 1),
                ("c2", 0, "user", "b", None, "2024-01-01 00:00:01", 2),
                ("c3", 0, "user", "c", None, "2024-01-01 00:00:02", 3),
                ("c4", 0, "user", "d", None, "2024-01-01 00:00:03", 4),
            ],
        ),
    )
    lake.commit(df, [0, 1, 2, 3], "b1", (1, 4))
    m1 = lake.snapshot()
    # replace only the bucket containing c1
    b_c1 = df.filter(F.col("conv_id") == "c1").select(BUCKET_COL).collect()[0][0]
    upd = _with_bucket(
        lake, _mk(spark, [("c1", 0, "user", "a2", None, "2024-01-01 00:01:00", 5)])
    )
    lake.commit(upd, [b_c1], "b2", (5, 5))
    m2 = lake.snapshot()
    e1 = lake.bucket_entries(version=m1["version"])
    e2 = lake.bucket_entries(version=m2["version"])
    for b, info in e2.items():
        if int(b) != b_c1:
            assert info == e1[b], "untouched bucket files must carry over"
    texts = {
        r.text for r in lake.read(user_cols=True).select("text").collect()
    }
    assert texts == {"a2", "b", "c", "d"}


def test_time_travel(spark, tmp_lake_dir):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    d1 = _with_bucket(
        lake, _mk(spark, [("c1", 0, "user", "v1", None, "2024-01-01 00:00:00", 1)])
    )
    lake.commit(d1, [0, 1], "b1", (1, 1))
    v_after_b1 = lake.snapshot()["version"]
    d2 = _with_bucket(
        lake, _mk(spark, [("c1", 0, "user", "v2", None, "2024-01-01 00:01:00", 2)])
    )
    lake.commit(d2, [0, 1], "b2", (2, 2))
    assert lake.read(user_cols=True).collect()[0].text == "v2"
    assert lake.read(version=v_after_b1, user_cols=True).collect()[0].text == "v1"


def test_schema_evolution_read_backfills_null(spark, tmp_lake_dir):
    narrow_ddl = "conv_id string, turn_idx int, role string, text string, ts timestamp"
    lake = LakeTable.create(spark, tmp_lake_dir, narrow_ddl, KEY_COLS, 2)
    df = _mk(
        spark,
        [("c1", 0, "user", "old", "2024-01-01 00:00:00", 1)],
        ddl=narrow_ddl,
        ts_pos=4,
    )
    df = _with_bucket(lake, df)
    lake.commit(df, [0, 1], "b1", (1, 1))
    assert lake.evolve_schema(TRANSCRIPTS_DDL, "evolve-1")
    assert not lake.evolve_schema(TRANSCRIPTS_DDL, "evolve-1")
    row = lake.read(user_cols=True).collect()[0]
    assert row.tool is None and row.text == "old"


def test_expire_snapshots_gc(spark, tmp_lake_dir):
    import os

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    for i in range(6):
        df = _with_bucket(
            lake,
            _mk(spark, [("c1", 0, "user", f"v{i}", None,
                         f"2024-01-01 00:0{i}:00", i + 1)]),
        )
        lake.commit(df, [0, 1], f"b{i}", (i + 1, i + 1))
    assert len(lake.versions()) == 7
    before = lake.read(user_cols=True).collect()
    res = lake.expire_snapshots(keep_last=2)
    assert res["snapshots_removed"] == 5 and res["files_removed"] > 0
    assert len(lake.versions()) == 2
    after = lake.read(user_cols=True).collect()
    assert [r.text for r in after] == [r.text for r in before] == ["v5"]
    # time travel to retained version still works
    assert lake.read(version=lake.versions()[0]).count() >= 0
    # expiry is idempotent
    assert lake.expire_snapshots(keep_last=2)["snapshots_removed"] == 0


def test_read_changes_feed(spark, tmp_lake_dir):
    """Change feed between snapshots classifies insert/update/delete."""
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import BINLOG_DDL, apply_batch

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)

    def ev(rows):
        return spark.createDataFrame(
            [(l, op, c, t, None if op == "D" else "user",
              None if op == "D" else x, None, datetime(2024, 1, 1, 0, 0, s))
             for (l, op, c, t, x, s) in rows],
            BINLOG_DDL,
        )

    apply_batch(lake, ev([(1, "I", "a", 0, "one", 1),
                          (2, "I", "b", 0, "two", 2),
                          (3, "I", "c", 0, "three", 3)]), "b1")
    v1 = lake.snapshot()["version"]
    apply_batch(lake, ev([(4, "U", "a", 0, "one-v2", 4),
                          (5, "D", "b", 0, None, 5),
                          (6, "I", "d", 0, "four", 6)]), "b2")
    changes = {
        (r.conv_id, r._change_type): r.text
        for r in lake.read_changes(v1).collect()
    }
    assert changes == {
        ("a", "update_postimage"): "one-v2",
        ("b", "delete"): None,
        ("d", "insert"): "four",
    }
    # no-change window -> empty feed
    assert lake.read_changes(lake.snapshot()["version"]).count() == 0

    # delete-then-reinsert leaves TWO stored rows for the key (retained
    # tombstone + live winner). A later unrelated commit must not make
    # the feed emit phantom delete/insert pairs for the resurrected key.
    apply_batch(lake, ev([(7, "I", "b", 0, "two-v2", 7)]), "b3")
    v3 = lake.snapshot()["version"]
    apply_batch(lake, ev([(8, "U", "a", 0, "one-v3", 8)]), "b4")
    changes = {
        (r.conv_id, r._change_type): r.text
        for r in lake.read_changes(v3).collect()
    }
    assert changes == {("a", "update_postimage"): "one-v3"}
    # and the resurrect window itself reads as a plain insert
    v2 = lake.snapshot(v3)["parent"]
    res = {
        (r.conv_id, r._change_type): r.text
        for r in lake.read_changes(v2, v3).collect()
    }
    assert res == {("b", "insert"): "two-v2"}


def test_applied_batch_ids_bounded(spark, tmp_lake_dir):
    """The manifest keeps only the most recent batch ids (the lsn
    applied_ranges carry older-duplicate defense)."""
    from etl_bitcoin_spark.tableformat.lake import MAX_APPLIED_BATCH_IDS

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    rows = [("c1", 0, "user", "hi", None, "2024-01-01 00:00:00", 1)]
    df = _with_bucket(lake, _mk(spark, rows))
    for i in range(5):
        assert lake.commit(df, [0, 1], f"b{i}", (i, i))
    ids = lake.snapshot()["applied_batch_ids"]
    assert ids == [f"b{i}" for i in range(5)]
    # simulate a long tail via metadata-only commits: list stays bounded,
    # keeping the newest ids (recent crash-replays still caught).
    ddl = lake.snapshot()["schema_ddl"]
    for i in range(MAX_APPLIED_BATCH_IDS + 10):
        lake.evolve_schema(ddl, f"evo{i}")
    ids = lake.snapshot()["applied_batch_ids"]
    assert len(ids) == MAX_APPLIED_BATCH_IDS
    assert ids[-1] == f"evo{MAX_APPLIED_BATCH_IDS + 9}"
    assert "b0" not in ids


def test_commit_metadata_scales_with_bucket_count(spark, tmp_path, monkeypatch):
    """Commit metadata harvest must not become a driver-side crawl at
    high bucket counts: above the Observation cap, footer stats are read
    by a DISTRIBUTED job — the driver-side pyarrow reader must never be
    invoked (mechanism assertion; wall-clock ratios are too noisy on a
    shared host). A loose absolute bound guards against gross
    regressions."""
    import time

    from pyspark.sql import functions as F

    import etl_bitcoin_spark.tableformat.lake as lake_mod

    times = {}
    for n_buckets in (64, 1024):
        lake = LakeTable.create(
            spark, str(tmp_path / f"lake{n_buckets}"), TRANSCRIPTS_DDL,
            KEY_COLS, n_buckets,
        )
        df = (
            spark.range(0, 200_000, 1, 8)
            .select(
                F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
                (F.col("id") % 50).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.lit("t").alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
                F.col("id").alias(LSN_COL),
            )
            .withColumn("__deleted", F.lit(False))
            .withColumn(BUCKET_COL, lake.bucket_expr(n_buckets, KEY_COLS))
            # co-partition with the bucket layout exactly like the merge
            # path (_resolve_union): each task writes ONE bucket file —
            # without this, every task opens a file per bucket and the
            # write itself (not the metadata) dominates
            .repartition(n_buckets, *KEY_COLS)
        )
        if n_buckets > 128:
            # >Observation-cap commits must not touch parquet footers on
            # the driver (the executors import pyarrow independently)
            def _forbidden(*a, **kw):
                raise AssertionError(
                    "driver-side footer read on the scale path"
                )

            monkeypatch.setattr(
                lake_mod.pq, "read_metadata", _forbidden
            )
        t0 = time.monotonic()
        assert lake.commit(df, list(range(n_buckets)), "b1", (0, 199_999))
        times[n_buckets] = time.monotonic() - t0
        monkeypatch.undo()
        assert lake.lineage()["rows_total"] == 200_000
        n_files = sum(
            len(b["files"]) for b in lake.bucket_entries().values()
        )
        assert n_files >= n_buckets // 2  # real per-bucket layout
    # gross-regression guard only (~15-30s solo; generous for suite
    # contention on a shared host — the mechanism assert above is the
    # real gate)
    assert times[1024] < 150.0, times


def test_tombstone_compaction_below_horizon(spark, tmp_lake_dir):
    """Compaction drops ONLY tombstones at/below the producer horizon;
    late duplicate replays below the horizon are still rejected by the
    exact applied-range guard, and fresher tombstones keep protecting
    against late lower-lsn events."""
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import BINLOG_DDL, apply_batch
    from etl_bitcoin_spark.state import ExactlyOnceFilter

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)

    def ev(rows):
        return spark.createDataFrame(
            [(l, op, c, t, None if op == "D" else "user",
              None if op == "D" else x, None, datetime(2024, 1, 1, 0, 0, s))
             for (l, op, c, t, x, s) in rows],
            BINLOG_DDL,
        )

    apply_batch(lake, ev([
        (1, "I", "a", 0, "one", 1),
        (2, "I", "b", 0, "two", 2),
        (3, "D", "a", 0, None, 3),   # old tombstone (below horizon)
        (4, "I", "c", 0, "three", 4),
    ]), "b1")
    apply_batch(lake, ev([(10, "D", "c", 0, None, 10)]), "b2")  # fresh tombstone

    stored = lake.read()
    assert stored.filter(F.col("__deleted")).count() == 2

    res = lake.compact_bucket_tombstones(horizon_lsn=5)
    assert res["applied"] and res["buckets_rewritten"] >= 1
    stored = lake.read()
    tombs = {
        (r.conv_id, r.turn_idx)
        for r in stored.filter(F.col("__deleted")).collect()
    }
    assert tombs == {("c", 0)}, "only the below-horizon tombstone dropped"
    live = {r.conv_id for r in lake.read(user_cols=True).collect()}
    assert live == {"b"}

    # replayed late DUPLICATE below the horizon -> exact guard kills it
    guard = ExactlyOnceFilter(lake.lineage(), None)
    r = apply_batch(lake, ev([(1, "I", "a", 0, "one", 1)]), "b1-replay",
                    already_applied_filter=guard)
    assert r["events"] == 0
    assert lake.read(user_cols=True).count() == 1

    # fresh tombstone still defeats a late lower-lsn event for key c
    guard = ExactlyOnceFilter(lake.lineage(), None)
    apply_batch(lake, ev([(7, "I", "c", 0, "resurrect?", 7)]), "b-late",
                already_applied_filter=guard)
    assert {r.conv_id for r in lake.read(user_cols=True).collect()} == {"b"}

    # compaction is idempotent on batch_id
    again = lake.compact_bucket_tombstones(horizon_lsn=5)
    assert not again["applied"]


def _one_key_content(spark, lake, conv, text, lsn):
    df = _mk(spark, [(conv, 0, "user", text, None, "2024-01-01 00:00:00", lsn)])
    return _with_bucket(lake, df)


def _bucket_of(lake, conv, n_buckets=4):
    df = _one_key_content(lake.spark, lake, conv, "x", 0)
    return df.select(BUCKET_COL).collect()[0][0]


def test_multiwriter_disjoint_buckets_rebase(spark, tmp_lake_dir):
    """Iceberg-style optimistic commits: a writer that loses the version
    race but touches DISJOINT buckets rebases onto the winner's snapshot
    and succeeds; both commits land, nothing lost."""
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    # find two convs in different buckets
    convs = {}
    i = 0
    while len(convs) < 2 and i < 50:
        b = _bucket_of(lake, f"c{i}")
        convs.setdefault(b, f"c{i}")
        i += 1
    (b1, c1), (b2, c2) = list(convs.items())[:2]

    v0 = lake.snapshot()["version"]
    # writer 1 commits normally
    assert lake.commit(
        _one_key_content(spark, lake, c1, "w1", 1), [b1], "w1", (1, 1),
        base_version=v0,
    )
    # writer 2 computed against v0 (stale) but touches a different
    # bucket -> must REBASE and succeed, not conflict
    assert lake.commit(
        _one_key_content(spark, lake, c2, "w2", 2), [b2], "w2", (2, 2),
        base_version=v0,
    )
    got = {r.conv_id: r.text for r in lake.read(user_cols=True).collect()}
    assert got == {c1: "w1", c2: "w2"}
    assert lake.lineage()["applied_ranges"] == [[1, 2]]
    assert lake.snapshot()["version"] == v0 + 2


def test_multiwriter_overlapping_bucket_conflicts(spark, tmp_lake_dir):
    """A stale writer touching a bucket the winner changed must get
    CommitConflict (its merge content is invalid), never silently
    clobber the winner."""
    import pytest as _pytest

    from etl_bitcoin_spark.tableformat.lake import CommitConflict

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    b1 = _bucket_of(lake, "k")
    v0 = lake.snapshot()["version"]
    assert lake.commit(
        _one_key_content(spark, lake, "k", "winner", 1), [b1], "w1", (1, 1),
        base_version=v0,
    )
    with _pytest.raises(CommitConflict, match="changed concurrently"):
        lake.commit(
            _one_key_content(spark, lake, "k", "loser", 2), [b1], "w2", (2, 2),
            base_version=v0,
        )
    got = {r.conv_id: r.text for r in lake.read(user_cols=True).collect()}
    assert got == {"k": "winner"}


def test_multiwriter_threaded_disjoint_apply(spark, tmp_path):
    """Two threads running full apply_batch merges against disjoint key
    sets: both must land whatever the interleaving (CAS + rebase), and
    the final state equals the serial result."""
    import threading
    from datetime import datetime

    from etl_bitcoin_spark.operators.merge import BINLOG_DDL, apply_batch

    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )

    def ev(rows):
        return spark.createDataFrame(
            [(l, "I", c, t, "user", x, None, datetime(2024, 1, 1))
             for (l, c, t, x) in rows],
            BINLOG_DDL,
        )

    # two disjoint conv sets; selective (non-bulk) path prunes buckets
    ev_a = ev([(i, f"a{i}", 0, f"ta{i}") for i in range(0, 20)])
    ev_b = ev([(i, f"b{i}", 0, f"tb{i}") for i in range(100, 120)])
    errs = []

    def run(events, bid):
        # Concurrent writers own interleaved lsn ranges, so the ordered-
        # replay HWM fast path (lsn > hwm) would misclassify the slower
        # writer's lower lsns as duplicates — multi-writer REQUIRES the
        # exact applied-range guard.
        from etl_bitcoin_spark.state import ExactlyOnceFilter

        try:
            guard = ExactlyOnceFilter(lake.lineage(), None)
            apply_batch(lake, events, bid, already_applied_filter=guard)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=run, args=(ev_a, "wa"))
    t2 = threading.Thread(target=run, args=(ev_b, "wb"))
    t1.start(); t2.start(); t1.join(); t2.join()
    # disjoint KEY sets can still hash-share a bucket: a genuine overlap
    # surfaces as CommitConflict for one writer — retry it serially,
    # which is exactly the caller contract.
    for e in errs:
        from etl_bitcoin_spark.tableformat.lake import CommitConflict

        assert isinstance(e, CommitConflict), e
    if errs:
        # re-apply whichever failed (batch ids make this idempotent-safe)
        from etl_bitcoin_spark.state import ExactlyOnceFilter

        snap = lake.snapshot()
        if "wa" not in snap["applied_batch_ids"]:
            apply_batch(lake, ev_a, "wa",
                        already_applied_filter=ExactlyOnceFilter(lake.lineage(), None))
        if "wb" not in snap["applied_batch_ids"]:
            apply_batch(lake, ev_b, "wb",
                        already_applied_filter=ExactlyOnceFilter(lake.lineage(), None))
    got = {r.conv_id for r in lake.read(user_cols=True).collect()}
    assert got == {f"a{i}" for i in range(20)} | {f"b{i}" for i in range(100, 120)}
    assert lake.lineage()["rows_total"] == 40


def test_compact_files_bin_packs_append_buckets(spark, tmp_lake_dir):
    """compact_files (the OPTIMIZE analog for append tables): buckets
    past the file-count policy pack to ONE file each, rows preserved
    exactly, buckets under the policy untouched, idempotent replay a
    no-op, delta-carrying buckets left to compact_deltas."""
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    # 6 append commits, one row per bucket each -> 6 files per bucket
    for i in range(6):
        rows = [
            (f"c{b}", b, "user", f"t{i}-{b}", None,
             "2024-01-01 00:00:00", i * 10 + b)
            for b in range(8)
        ]
        df = _with_bucket(lake, _mk(spark, rows))
        assert lake.commit(df, [], f"app-{i}", None, mode="append")
    before = sorted(
        tuple(r) for r in lake.read(user_cols=True).collect()
    )
    ent = lake.bucket_entries()
    grown = [b for b, e in ent.items() if len(e["files"]) > 4]
    assert grown, "append commits should have grown file counts"

    res = lake.compact_files(max_files_per_bucket=4)
    assert res["applied"] and res["buckets_compacted"] == len(grown)
    ent2 = lake.bucket_entries()
    for b in grown:
        assert len(ent2[b]["files"]) == 1, (b, ent2[b]["files"])
        assert ent2[b]["rows"] == ent[b]["rows"]
    after = sorted(
        tuple(r) for r in lake.read(user_cols=True).collect()
    )
    assert after == before
    assert lake.lineage()["rows_total"] == len(before)

    # under-policy buckets: nothing to do
    res2 = lake.compact_files(max_files_per_bucket=4)
    assert res2 == {"buckets_compacted": 0, "applied": False}

    # idempotent replay of the same compaction batch id is a no-op
    for i in range(6, 12):
        rows = [
            (f"c{b}", b, "user", f"t{i}-{b}", None,
             "2024-01-01 00:00:00", i * 10 + b)
            for b in range(8)
        ]
        df = _with_bucket(lake, _mk(spark, rows))
        assert lake.commit(df, [], f"app-{i}", None, mode="append")
    v = lake.snapshot()["version"]
    assert lake.compact_files(4, batch_id="cf-x")["applied"]
    again = lake.compact_files(4, batch_id="cf-x")
    assert not again["applied"]

    # delta-carrying buckets are skipped (compact_deltas owns them)
    from etl_bitcoin_spark.tableformat.lake import DELETED_COL

    d = _with_bucket(
        lake,
        _mk(spark, [(f"c{b}", b, "user", f"d-{b}", None,
                     "2024-01-02 00:00:00", 500 + b) for b in range(8)]),
    ).withColumn(DELETED_COL, F.lit(False))
    assert lake.commit(d, [], "delta-1", None, mode="delta")
    for i in range(12, 18):
        rows = [
            (f"c{b}", b, "user", f"t{i}-{b}", None,
             "2024-01-01 00:00:00", i * 10 + b)
            for b in range(8)
        ]
        df = _with_bucket(lake, _mk(spark, rows))
        assert lake.commit(df, [], f"app-{i}", None, mode="append")
    res3 = lake.compact_files(max_files_per_bucket=4)
    assert not res3["applied"], res3


def test_compaction_clusters_files_by_key(spark, tmp_lake_dir):
    """Compacted files are key-clustered (in-task sort before the
    write): parquet row-group conv_id min/max come out ordered, so
    key-predicate scans can skip row groups — and delta compaction
    packs each victim bucket to ONE file."""
    import os

    import pyarrow.parquet as pq

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    for i in range(6):
        rows = [
            (f"c{k:03d}", 0, "user", f"t{i}", None,
             "2024-01-01 00:00:00", i * 100 + k)
            for k in range(40)
        ]
        df = _with_bucket(lake, _mk(spark, rows))
        assert lake.commit(df, [], f"a-{i}", None, mode="append")
    assert lake.compact_files(max_files_per_bucket=2)["applied"]
    ent = lake.bucket_entries()
    for b, e in ent.items():
        assert len(e["files"]) == 1
        md = pq.read_metadata(os.path.join(tmp_lake_dir, e["files"][0]))
        pf = pq.ParquetFile(os.path.join(tmp_lake_dir, e["files"][0]))
        col = [f.name for f in pf.schema_arrow].index("conv_id")
        rows = pf.read().to_pydict()["conv_id"]
        assert rows == sorted(rows), f"bucket {b} not key-clustered"

    # delta compaction: same packing guarantee
    lake2 = LakeTable.create(
        spark, tmp_lake_dir + "2", TRANSCRIPTS_DDL, KEY_COLS, 2
    )
    from etl_bitcoin_spark.tableformat.lake import DELETED_COL

    for i in range(4):
        rows = [
            (f"c{k:03d}", 1, "user", f"d{i}", None,
             "2024-01-01 00:00:01", 1000 + i * 100 + k)
            for k in range(40)
        ]
        df = _with_bucket(lake2, _mk(spark, rows)).withColumn(
            DELETED_COL, F.lit(False)
        )
        assert lake2.commit(df, [], f"d-{i}", None, mode="delta")
    assert lake2.compact_deltas(max_deltas_per_bucket=1)["applied"]
    for b, e in lake2.bucket_entries().items():
        assert len(e["files"]) == 1 and not e["deltas"]
        pf = pq.ParquetFile(os.path.join(tmp_lake_dir + "2", e["files"][0]))
        rows = pf.read().to_pydict()["conv_id"]
        assert rows == sorted(rows), f"bucket {b} not key-clustered"


def test_batch_marker_ledger_retention(spark, tmp_lake_dir):
    """Ledger pruning: markers older than the retention go, recent
    markers stay and keep absorbing replays; expired-batch replays are
    no longer absorbed (the documented transactional-id-expiry
    contract)."""
    import os
    import time

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    rows = [("c1", 0, "user", "hi", None, "2024-01-01 00:00:00", 1)]
    df = _with_bucket(lake, _mk(spark, rows))
    assert lake.commit(df, [], "old-batch", None, mode="append")
    df2 = _with_bucket(
        lake, _mk(spark, [("c2", 0, "user", "yo", None,
                           "2024-01-01 00:00:01", 2)])
    )
    assert lake.commit(df2, [], "new-batch", None, mode="append")
    # an mtime rewrite alone (backup/restore, copies) must NOT age a
    # marker: ageing keys on the creation stamp INSIDE the file
    old_marker = lake._batch_marker("old-batch")
    past = time.time() - 3600
    os.utime(old_marker, (past, past))
    res = lake.expire_snapshots(keep_last=100,
                                batch_marker_retention_sec=600)
    assert res["batch_markers_removed"] == 0
    assert os.path.exists(old_marker)
    # age the first marker past retention via its recorded stamp
    with open(old_marker, "w") as f:
        f.write(repr(past))

    res = lake.expire_snapshots(keep_last=100,
                                batch_marker_retention_sec=600)
    assert res["batch_markers_removed"] == 1
    assert not os.path.exists(old_marker)
    assert os.path.exists(lake._batch_marker("new-batch"))
    # recent batch still absorbed; inline list still covers "old-batch"
    assert not lake.commit(df2, [], "new-batch", None, mode="append")
    assert not lake.commit(df, [], "old-batch", None, mode="append")


def test_group_pointer_carries_max_files(spark, tmp_lake_dir):
    """Group pointers aggregate a max_files ceiling so compact_files
    victim discovery can skip whole under-policy groups without loading
    their gm nodes."""
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    for i in range(3):
        rows = [(f"c{b}", b, "user", f"t{i}", None,
                 "2024-01-01 00:00:00", i * 10 + b) for b in range(6)]
        assert lake.commit(_with_bucket(lake, _mk(spark, rows)), [],
                           f"a-{i}", None, mode="append")
    m = lake.snapshot()
    for gid, g in m["groups"].items():
        want = max(p["n_files"] for p in lake._load_gm(m, gid).values())
        assert g["max_files"] == want
    # under-policy: no victims, and (with max_files present) no gm loads
    assert not lake.compact_files(max_files_per_bucket=8)["applied"]


def test_marker_prune_tolerates_missing_ledger_dir(spark, tmp_lake_dir):
    """expire_snapshots(batch_marker_retention_sec=...) on a table whose
    batches ledger dir is absent (older layout / restore that dropped
    empty dirs) must treat it as an empty ledger, not crash."""
    import shutil

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    shutil.rmtree(f"{tmp_lake_dir}/_manifests/batches")
    res = lake.expire_snapshots(keep_last=5, batch_marker_retention_sec=1)
    assert res["batch_markers_removed"] == 0


def test_key_range_file_skipping(spark, tmp_lake_dir):
    """Key-range data skipping: commits record per-file [min,max] of the
    first key column; a clustered compaction with max_records_per_file
    splits each bucket into key-DISJOINT files; read(key_range=...) then
    opens only covering files — and still returns exactly the rows a
    plain filter would, including through merge-on-read deltas."""
    from etl_bitcoin_spark.operators.merge import apply_batch

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    # three append commits x 40 convs each -> 3 files/bucket, then pack
    for c in range(3):
        rows = [
            (f"conv_{40 * c + i:03d}", 0, "user", f"t{40 * c + i}", None,
             "2024-01-01 00:00:00", 40 * c + i)
            for i in range(40)
        ]
        assert lake.commit(
            _with_bucket(lake, _mk(spark, rows)), [], f"a{c}", None,
            mode="append",
        )
    r = lake.compact_files(max_files_per_bucket=1, max_records_per_file=15)
    assert r["applied"] and r["buckets_compacted"] == 2
    ent = lake.bucket_entries()
    n_files = sum(len(e["files"]) for e in ent.values())
    assert n_files >= 6  # split into multiple key-ordered files/bucket
    # every packed file carries key stats
    for e in ent.values():
        assert set(e["files"]) == set(e.get("key_stats", {})), e

    full = lake.read(user_cols=True)
    pruned = lake.read(user_cols=True, key_range=("conv_010", "conv_025"))
    want = sorted(
        r.conv_id for r in full.collect()
        if "conv_010" <= r.conv_id <= "conv_025"
    )
    got = sorted(r.conv_id for r in pruned.collect())
    assert got == want and len(got) == 16
    assert len(pruned.inputFiles()) < len(full.inputFiles()), (
        pruned.inputFiles(), full.inputFiles(),
    )

    # point lookup: a single conv opens only its covering file(s)
    one = lake.read(user_cols=True, key_range=("conv_050", "conv_050"))
    assert [r.conv_id for r in one.collect()] == ["conv_050"]
    assert len(one.inputFiles()) <= 2

    # composes with merge-on-read: a delta update to an in-range key
    # resolves through the pruned read
    ev = spark.createDataFrame(
        [(1000, "U", "conv_051", 0, "user", "updated", None,
          __import__("datetime").datetime(2025, 1, 1))],
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp",
    )
    apply_batch(lake, ev, "d1", merge_mode="read")
    got = lake.read(user_cols=True, key_range=("conv_050", "conv_052"))
    vals = {r.conv_id: r.text for r in got.collect()}
    assert vals == {
        "conv_050": "t50", "conv_051": "updated", "conv_052": "t52",
    }


def test_drop_column_and_history(spark, tmp_lake_dir):
    """Non-additive evolution: drop_column removes the column from the
    read projection metadata-only (old file bytes untouched), time
    travel still shows it, key columns and name resurrection are
    rejected, and history() exposes the commit chain as a DataFrame."""
    import pytest

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    rows = [
        ("c1", 0, "user", "hi", "search", "2024-01-01 00:00:00", 1),
        ("c2", 0, "user", "yo", None, "2024-01-01 00:00:01", 2),
    ]
    lake.commit(_with_bucket(lake, _mk(spark, rows)), [0, 1], "b1", (1, 2))
    v_before = lake.snapshot()["version"]

    assert lake.drop_column("tool", "drop-tool")
    assert not lake.drop_column("tool", "drop-tool")  # idempotent replay
    cols = lake.read(user_cols=True).columns
    assert "tool" not in cols and "text" in cols
    # data unaffected; time travel shows the dropped column
    assert lake.read(user_cols=True).count() == 2
    old = lake.read(version=v_before, user_cols=True)
    assert "tool" in old.columns
    assert {r.tool for r in old.collect()} == {"search", None}

    with pytest.raises(ValueError, match="key column"):
        lake.drop_column("conv_id", "drop-key")
    with pytest.raises(ValueError, match="no such column"):
        lake.drop_column("nope", "drop-nope")
    # resurrection is tombstoned: the old files still carry tool bytes
    with pytest.raises(ValueError, match="tombstoned"):
        lake.evolve_schema(TRANSCRIPTS_DDL, "re-add-tool")

    h = {r.version: r.batch_id for r in lake.history().collect()}
    assert h[lake.snapshot()["version"]] == "drop-tool"
    assert len(h) == len(lake.versions())
    # newest-first cap for tables without an expiry policy
    h2 = sorted(r.version for r in lake.history(limit=2).collect())
    assert h2 == sorted(lake.versions())[-2:]


def test_snapshot_tags_pin_through_expiry(spark, tmp_lake_dir):
    """Tags are durable time-travel anchors: a tagged version survives
    expire_snapshots regardless of keep_last; read(tag=...) resolves
    it; untagging releases the pin on the next expiry."""
    import pytest

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    for i in range(6):
        df = _with_bucket(
            lake,
            _mk(spark, [("c1", 0, "user", f"v{i}", None,
                         f"2024-01-01 00:0{i}:00", i + 1)]),
        )
        lake.commit(df, [0, 1], f"b{i}", (i + 1, i + 1))
        if i == 1:
            tagged_v = lake.tag("training-cut")
    assert lake.tags() == {"training-cut": tagged_v}
    with pytest.raises(ValueError, match="invalid tag name"):
        lake.tag("../escape")
    with pytest.raises(ValueError, match="no snapshot version"):
        lake.tag("nope", version=999)

    res = lake.expire_snapshots(keep_last=2)
    assert res["snapshots_removed"] > 0
    assert tagged_v in lake.versions()  # pinned by the tag
    assert lake.read(tag="training-cut", user_cols=True).collect()[0].text == "v1"
    with pytest.raises(ValueError, match="unknown tag"):
        lake.read(tag="ghost")
    with pytest.raises(ValueError, match="not both"):
        lake.read(version=tagged_v, tag="training-cut")

    assert lake.untag("training-cut")
    assert not lake.untag("training-cut")
    lake.expire_snapshots(keep_last=2)
    assert tagged_v not in lake.versions()  # pin released


def test_tag_detects_concurrent_expiry_race(spark, tmp_lake_dir):
    """TOCTOU guard: if the tagged version is expired between the tag's
    validation and its write (a racing expire_snapshots read tags()
    before this tag landed), tag() detects the dangling anchor, removes
    it, and raises — never leaving a tag that points at a GC'd
    snapshot."""
    import pytest

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    for i in range(4):
        df = _with_bucket(
            lake,
            _mk(spark, [("c1", 0, "user", f"v{i}", None,
                         "2024-01-01 00:00:00", i + 1)]),
        )
        lake.commit(df, [0, 1], f"b{i}", (i + 1, i + 1))
    victim = lake.versions()[1]
    orig_validate = lake.versions

    class _RaceOnce:
        # simulate the interleaving: expiry lands AFTER tag() validated
        # the version but BEFORE its post-write re-check
        fired = False

        def __call__(self):
            vs = orig_validate()
            if not _RaceOnce.fired:
                _RaceOnce.fired = True
                import os as _os

                _os.remove(
                    _os.path.join(
                        lake.manifest_dir, lake._vname(victim)
                    )
                )
                return vs  # stale listing: victim still present
            return vs

    lake.versions = _RaceOnce()
    with pytest.raises(ValueError, match="expired while tagging"):
        lake.tag("raced", version=victim)
    lake.versions = orig_validate
    assert "raced" not in lake.tags()  # no dangling anchor left behind


def test_secondary_range_file_skipping(spark, tmp_path):
    """2-D data skipping: a declared stats_col gets per-file [min,max]
    at commit; compaction sorts by (key, stats_col) and splits files;
    read(secondary_range=...) prunes files AND returns exactly what a
    plain filter over the resolved state would — including through
    merge-on-read deltas, where base files of delta-carrying buckets
    are never pruned (a pruned base row could be the LWW winner)."""
    ddl = "ev_id string, ts long, val string"
    lake = LakeTable.create(
        spark, str(tmp_path / "lk"), ddl, ["ev_id"], 2, stats_col="ts"
    )
    for c in range(3):
        rows = [
            (f"e{40 * c + i:04d}", 40 * c + i, f"v{40 * c + i}",
             40 * c + i)
            for i in range(40)
        ]
        content = (
            spark.createDataFrame(rows, f"{ddl}, {LSN_COL} long")
            .withColumn("__deleted", F.lit(False))
        )
        content = content.withColumn(
            BUCKET_COL, lake.bucket_expr(2, ["ev_id"])
        )
        assert lake.commit(content, [], f"a{c}", None, mode="append")
    r = lake.compact_files(max_files_per_bucket=1, max_records_per_file=15)
    assert r["applied"] and r["buckets_compacted"] == 2
    ent = lake.bucket_entries()
    for e in ent.values():
        assert set(e["files"]) == set(e.get("val_stats", {})), e

    full = lake.read(user_cols=True)
    pruned = lake.read(user_cols=True, secondary_range=(10, 25))
    want = sorted(
        r.ev_id for r in full.collect() if 10 <= r.ts <= 25
    )
    got = sorted(r.ev_id for r in pruned.collect())
    assert got == want and len(got) == 16
    assert len(pruned.inputFiles()) < len(full.inputFiles()), (
        pruned.inputFiles(), full.inputFiles(),
    )

    # open-ended sides
    hi = lake.read(user_cols=True, secondary_range=(100, None))
    assert hi.count() == 20
    assert len(hi.inputFiles()) < len(full.inputFiles())

    # merge-on-read composition: delta-update e0050's ts OUT of a
    # queried range — the resolved read must drop the key (the winner
    # is out of range), never resurrect the stale base row
    delta = (
        spark.createDataFrame(
            [("e0050", 5000, "moved", 1000)], f"{ddl}, {LSN_COL} long"
        )
        .withColumn("__deleted", F.lit(False))
        .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
    )
    assert lake.commit(delta, [], "d1", None, mode="delta")
    got = lake.read(user_cols=True, secondary_range=(45, 55))
    ids = sorted(r.ev_id for r in got.collect())
    assert "e0050" not in ids and len(ids) == 10
    # and the moved row surfaces where its NEW ts lives
    got2 = lake.read(user_cols=True, secondary_range=(4000, None))
    assert [(r.ev_id, r.val) for r in got2.collect()] == [
        ("e0050", "moved")
    ]

    # declaring a key column as stats_col is rejected
    import pytest

    with pytest.raises(ValueError, match="stats_col"):
        LakeTable.create(
            spark, str(tmp_path / "bad"), ddl, ["ev_id"], 2,
            stats_col="ev_id",
        )


def test_secondary_range_float_stats_widen_not_truncate(spark, tmp_path):
    """A float/double stats_col records [floor(min), ceil(max)] — int()
    truncation toward zero would NARROW the range (max 2.7 -> 2,
    min -1.5 -> -1) and let secondary_range wrongly prune a file that
    holds in-range rows (silent data loss). Pinned on both tails."""
    import pytest

    ddl = "ev_id string, score double, val string"
    lake = LakeTable.create(
        spark, str(tmp_path / "lk"), ddl, ["ev_id"], 2, stats_col="score"
    )
    rows = [("a", -1.5, "lo", 1), ("b", 2.7, "hi", 2)]
    content = (
        spark.createDataFrame(rows, f"{ddl}, {LSN_COL} long")
        .withColumn("__deleted", F.lit(False))
        .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
    )
    assert lake.commit(content, [], "c0", None, mode="append")
    ent = lake.bucket_entries()
    vstats = {
        f: st for e in ent.values() for f, st in e["val_stats"].items()
    }
    assert vstats, ent
    # per-file ranges widen outward (floor/ceil), never cut toward zero
    assert min(lo for lo, _ in vstats.values()) == -2, vstats
    assert max(hi for _, hi in vstats.values()) == 3, vstats

    # the truncation bug pruned these reads to zero rows
    got = lake.read(user_cols=True, secondary_range=(2.5, 3.0))
    assert [r.ev_id for r in got.collect()] == ["b"]
    got = lake.read(user_cols=True, secondary_range=(-2.0, -1.4))
    assert [r.ev_id for r in got.collect()] == ["a"]

    # non-numeric stats_col rejected at create()
    with pytest.raises(ValueError, match="numeric"):
        LakeTable.create(
            spark, str(tmp_path / "bad2"), ddl, ["ev_id"], 2,
            stats_col="val",
        )
    with pytest.raises(ValueError, match="not a schema column"):
        LakeTable.create(
            spark, str(tmp_path / "bad3"), ddl, ["ev_id"], 2,
            stats_col="nope",
        )


def test_secondary_range_bucket_prunes_whole_with_delta_stats(
    spark, tmp_path
):
    """Delta-side val_stats extend 2-D skipping into delta-carrying
    buckets: when the base file AND every delta file of a bucket miss
    the queried range, the bucket prunes ENTIRELY even under
    resolution (no candidate row of it can be the in-range winner);
    any in-range file keeps the whole bucket."""
    ddl = "ev_id string, ts long, val string"
    lake = LakeTable.create(
        spark, str(tmp_path / "lk"), ddl, ["ev_id"], 2, stats_col="ts"
    )

    def _rows(rows, batch, mode, replaced=()):
        content = (
            spark.createDataFrame(rows, f"{ddl}, {LSN_COL} long")
            .withColumn("__deleted", F.lit(False))
            .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
        )
        assert lake.commit(content, list(replaced), batch, None, mode=mode)

    # base rows, one key per bucket; per-bucket delta files on top
    _rows([("a", 10, "a0", 1), ("b", 500, "b0", 2)], "base", "append")
    _rows([("a", 20, "a1", 3)], "d-a", "delta")
    _rows([("b", 600, "b1", 4)], "d-b", "delta")

    full = lake.read(user_cols=True)
    assert full.count() == 2
    # range hits only b's files: a's bucket (base 10, delta 20) prunes
    got = lake.read(user_cols=True, secondary_range=(400, 700))
    assert [(r.ev_id, r.val) for r in got.collect()] == [("b", "b1")]
    assert len(got.inputFiles()) < len(full.inputFiles()), (
        got.inputFiles()
    )
    a_files = [f for f in full.inputFiles() if f not in got.inputFiles()]
    assert len(a_files) >= 2  # a's base AND delta files both skipped

    # a range touching a's DELTA keeps the whole bucket (base too) and
    # resolves exactly: winner a1 at ts=20
    got2 = lake.read(user_cols=True, secondary_range=(15, 30))
    assert [(r.ev_id, r.val) for r in got2.collect()] == [("a", "a1")]


def test_secondary_range_sound_with_stale_shared_delta_rows(
    spark, tmp_path
):
    """A shared delta file (a shard generation's file) keeps a compacted
    member bucket's STALE rows on disk for its siblings. If that bucket
    is later rewritten delta-free with an out-of-range winner,
    base-file pruning keyed on the bucket's own (empty) delta list
    would let the stale in-range shared row win — wrong results.
    Resolution-time val pruning must disable itself when shared delta
    files are in the selected set."""
    ddl = "ev_id string, ts long, val string"
    lake = LakeTable.create(
        spark, str(tmp_path / "lk"), ddl, ["ev_id"], 2, stats_col="ts"
    )
    # one shared delta file carrying keys of BOTH buckets (a shard_mod=1
    # generation), in-range ts
    rows = [(f"e{i}", 100 + i, f"v{i}", i + 1) for i in range(8)]
    content = (
        spark.createDataFrame(rows, f"{ddl}, {LSN_COL} long")
        .withColumn("__deleted", F.lit(False))
        .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
        .coalesce(1)
    )
    assert lake.commit(
        content, [], "g0", None, mode="delta", shard_mod=1
    )
    ent = lake.bucket_entries()
    assert all(len(e["deltas"]) == 1 for e in ent.values())
    shared = {f for e in ent.values() for f in e["deltas"]}
    assert len(shared) == 1  # genuinely shared across both buckets

    # compact ONE member bucket: its floor passes the generation, the
    # sibling's does not, the immutable shared file still holds its
    # stale rows
    c = lake.compact_deltas(0, max_buckets=1)
    assert c["applied"] and c["buckets_compacted"] == 1
    ent = lake.bucket_entries()
    folded = [b for b, e in ent.items() if not e["deltas"]]
    assert len(folded) == 1
    fb = int(folded[0])

    # rewrite the folded bucket delta-free with its keys' winners moved
    # OUT of the in-range window (higher lsn)
    fb_keys = [
        (r.ev_id, i)
        for i, r in enumerate(
            lake.read(user_cols=True, buckets=[fb]).collect()
        )
    ]
    assert fb_keys
    repl = [(k, 9000 + i, "moved", 100 + i) for k, i in fb_keys]
    content = (
        spark.createDataFrame(repl, f"{ddl}, {LSN_COL} long")
        .withColumn("__deleted", F.lit(False))
        .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
    )
    assert lake.commit(content, [fb], "repl", None, mode="replace")

    # rewrite the sibling bucket too, one row per file, WITHOUT folding
    # the generation (a raw replace keeps its floor): the generation's
    # stale in-range rows stay live candidates against base winners
    # that left the window, except one key kept in range
    sb = 1 - fb
    sb_keys = sorted(
        r.ev_id for r in lake.read(user_cols=True, buckets=[sb]).collect()
    )
    assert len(sb_keys) > 1
    repl = [(k, 9000 + i, "moved", 200 + i) for i, k in enumerate(sb_keys)]
    repl[0] = (sb_keys[0], 150, "kept", 200)
    content = (
        spark.createDataFrame(repl, f"{ddl}, {LSN_COL} long")
        .withColumn("__deleted", F.lit(False))
        .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
    )
    assert lake.commit(
        content, [sb], "repl-sb", None, mode="replace",
        max_records_per_file=1,
    )
    assert len(lake.snapshot()["shard_deltas"]) == 1  # live for sb

    # the in-range query must NOT resurrect the stale shared rows of
    # either rewritten bucket — their true winners moved out of range
    got = lake.read(user_cols=True, secondary_range=(50, 200))
    got_ids = {r.ev_id for r in got.collect()}
    assert got_ids == {sb_keys[0]}, got_ids
    # and equals a plain post-resolution filter over the full read
    want = {
        r.ev_id for r in lake.read(user_cols=True).collect()
        if 50 <= r.ts <= 200
    }
    assert got_ids == want


def _tag_lake(spark, tmp_lake_dir, n=6):
    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    for i in range(n):
        df = _with_bucket(
            lake,
            _mk(spark, [("c1", 0, "user", f"v{i}", None,
                         f"2024-01-01 00:0{i}:00", i + 1)]),
        )
        lake.commit(df, [0, 1], f"b{i}", (i + 1, i + 1))
    return lake


def test_expire_restores_tag_landed_in_claim_window(spark, tmp_lake_dir):
    """Expiry side of the tag/expiry protocol: a tag written AFTER
    expiry's up-front tags() read but visible at the post-claim
    re-read restores the claimed victim — the tagged snapshot survives
    and stays readable; untagged victims still expire."""
    import json as _json
    import os

    lake = _tag_lake(spark, tmp_lake_dir)
    victim = lake.versions()[1]
    tag_dir = os.path.join(lake.manifest_dir, "tags")
    os.makedirs(tag_dir, exist_ok=True)

    calls = {"n": 0}
    orig_tags = LakeTable.tags

    def racy_tags(self):
        calls["n"] += 1
        if calls["n"] == 3:
            # the post-claim re-read: a concurrent tag() landed its
            # file in the window (its own existence check passed just
            # before the rename)
            with open(os.path.join(tag_dir, "late"), "w") as f:
                f.write(_json.dumps({"version": victim}))
        return orig_tags(self)

    lake.tags = racy_tags.__get__(lake)
    res = lake.expire_snapshots(keep_last=2)
    lake.tags = orig_tags.__get__(lake)

    assert calls["n"] >= 3
    assert victim in lake.versions()  # restored, not deleted
    assert lake.tags()["late"] == victim
    assert lake.read(tag="late").count() >= 0  # fully readable
    # the other victims expired normally
    assert res["snapshots_removed"] > 0
    assert len(lake.versions()) == 3  # keep_last=2 + the restored tag


def test_expire_recovers_crashed_expiry_leftovers(spark, tmp_lake_dir):
    """A crash between claiming victims (*.expiring rename) and
    deletion leaves renamed roots: the next expiry restores TAGGED
    leftovers (tag must not dangle) and sweeps untagged ones once past
    the orphan grace period."""
    import os
    import time

    lake = _tag_lake(spark, tmp_lake_dir)
    vs = lake.versions()
    tagged_victim, untagged_victim = vs[1], vs[2]
    lake.tag("anchor", version=tagged_victim)
    # simulate the crashed expiry: claim both, then die
    for v in (tagged_victim, untagged_victim):
        p = os.path.join(lake.manifest_dir, lake._vname(v))
        os.rename(p, p + ".expiring")
    assert tagged_victim not in lake.versions()

    res = lake.expire_snapshots(keep_last=2, orphan_grace_sec=3600)
    # tagged leftover restored and retained; untagged stays invisible
    # but is NOT yet swept (younger than grace)
    assert tagged_victim in lake.versions()
    assert lake.tags()["anchor"] == tagged_victim
    assert lake.read(tag="anchor").count() >= 0
    leftover = os.path.join(
        lake.manifest_dir, lake._vname(untagged_victim) + ".expiring"
    )
    assert os.path.exists(leftover)

    # age it past grace -> swept as an orphan
    old = time.time() - 7200
    os.utime(leftover, (old, old))
    res = lake.expire_snapshots(keep_last=2, orphan_grace_sec=3600)
    assert not os.path.exists(leftover)
    assert res["orphans_removed"] >= 1


def test_zorder_clustering_prunes_uncorrelated_dims(spark, tmp_path):
    """compact_files(cluster='zorder') interleaves (key, stats_col)
    bits so packed files cover rectangles of the plane: on a dataset
    where key order and stats_col are UNCORRELATED, a secondary_range
    read prunes strictly more files than the hierarchical (key, then
    stats_col) sort at equal file count — and both layouts return
    exactly the same rows."""
    import random

    ddl = "ev_id string, ts long, val string"
    rnd = random.Random(11)
    n = 4000
    # ts is a random permutation -> zero correlation with key order
    ts_perm = list(range(n))
    rnd.shuffle(ts_perm)
    rows = [
        (f"e{i:05d}", ts_perm[i], f"v{i}", i + 1) for i in range(n)
    ]

    def _build(root, cluster):
        lake = LakeTable.create(
            spark, root, ddl, ["ev_id"], 2, stats_col="ts"
        )
        content = (
            spark.createDataFrame(rows, f"{ddl}, {LSN_COL} long")
            .withColumn("__deleted", F.lit(False))
            .withColumn(BUCKET_COL, lake.bucket_expr(2, ["ev_id"]))
        )
        assert lake.commit(content, [], "c0", None, mode="append")
        r = lake.compact_files(
            max_files_per_bucket=0, max_records_per_file=125,
            cluster=cluster,
        )
        assert r["applied"] and r["buckets_compacted"] == 2
        return lake

    hier = _build(str(tmp_path / "hier"), "hierarchical")
    zord = _build(str(tmp_path / "zord"), "zorder")
    n_files_h = len(hier.read().inputFiles())
    n_files_z = len(zord.read().inputFiles())
    assert abs(n_files_h - n_files_z) <= 2, (n_files_h, n_files_z)

    want = sorted(r[0] for r in rows if 1000 <= r[1] <= 1250)
    got_h = hier.read(user_cols=True, secondary_range=(1000, 1250))
    got_z = zord.read(user_cols=True, secondary_range=(1000, 1250))
    assert sorted(r.ev_id for r in got_h.collect()) == want
    assert sorted(r.ev_id for r in got_z.collect()) == want
    pruned_h = n_files_h - len(got_h.inputFiles())
    pruned_z = n_files_z - len(got_z.inputFiles())
    assert pruned_z > pruned_h, (
        f"zorder pruned {pruned_z}/{n_files_z},"
        f" hierarchical {pruned_h}/{n_files_h}"
    )

    # key-range skipping still works on the z-ordered layout
    kr = zord.read(user_cols=True, key_range=("e01000", "e01100"))
    assert kr.count() == 101
    assert len(kr.inputFiles()) < n_files_z

    import pytest

    with pytest.raises(ValueError, match="cluster"):
        hier.compact_files(cluster="hilbert")


def test_bloom_roundtrip_and_shipped_source():
    """Pure-python contract of the point-lookup Bloom: no false
    negatives ever, useful rejection for absent keys, and the source
    string the distributed footer job exec's on executors (the
    ship-by-value anti-drift mechanism) produces bit-identical blooms
    to the module function the driver and read path use."""
    import inspect

    from etl_bitcoin_spark.tableformat.lake import _bloom_build, _bloom_miss

    present = [f"conv_{i:05d}" for i in range(500)]
    bl = _bloom_build(present + present)  # duplicates collapse
    assert bl is not None
    # no false negatives: every inserted key MUST probe as maybe-present
    assert all(not _bloom_miss(bl, k) for k in present)
    # useful rejection: the overwhelming majority of absent keys miss
    absent = [f"other_{i:05d}" for i in range(500)]
    assert sum(_bloom_miss(bl, k) for k in absent) >= 450
    # executor-side builder == driver-side builder, bit for bit
    ns: dict = {}
    exec(inspect.getsource(_bloom_build), ns)
    assert ns["_bloom_build"](present) == _bloom_build(present)
    # cap: a file with too many distinct keys records no bloom (FPP ~1
    # would be manifest dead weight, and absent blooms prune nothing)
    assert _bloom_build([f"k{i}" for i in range(40000)]) is None


def test_point_lookup_keys_bloom_skipping(spark, tmp_lake_dir):
    """read(keys=[...]) — the batched point lookup (reference
    rpcclient.go:31-101 shape). Three append commits with INTERLEAVED
    key populations make every file's [min,max] key range span the
    whole key space (range skipping keeps everything); per-file Blooms
    recorded by commit(key_bloom=True) still prune to the file(s)
    actually holding the key — and the answer stays exact, including
    through a merge-on-read delta."""
    from etl_bitcoin_spark.operators.merge import apply_batch

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    # commit c holds convs {i : i % 3 == c}: each file's key range is
    # ~[conv_00c, conv_(117+c)] — total overlap, ranges prune nothing
    for c in range(3):
        rows = [
            (f"conv_{i:03d}", 0, "user", f"t{i}", None,
             "2024-01-01 00:00:00", 1000 * c + i)
            for i in range(c, 120, 3)
        ]
        assert lake.commit(
            _with_bucket(lake, _mk(spark, rows)).coalesce(1), [],
            f"a{c}", None, mode="append", key_bloom=True,
        )
    ent = lake.bucket_entries()
    n_files = sum(len(e["files"]) for e in ent.values())
    assert n_files == 6  # 3 commits x 2 buckets
    # every file carries [lo, hi, bloom] and the ranges genuinely
    # overlap the probe key (so any pruning below is the Bloom's work)
    for e in ent.values():
        for f in e["files"]:
            st = e["key_stats"][f]
            assert len(st) == 3 and st[2], st
            assert st[0] <= "conv_010" <= st[1]

    full = lake.read(user_cols=True)
    one = lake.read(user_cols=True, keys=["conv_010"])
    assert [(r.conv_id, r.text) for r in one.collect()] == [
        ("conv_010", "t10")
    ]
    # conv_010 lives in exactly one commit's file of one bucket; Bloom
    # misses skip the other five (allow one false positive)
    assert len(one.inputFiles()) <= 2 < len(full.inputFiles())

    # batched: keys from different commits/buckets, still exact
    got = lake.read(user_cols=True, keys=["conv_010", "conv_011", "nope"])
    assert sorted(r.conv_id for r in got.collect()) == [
        "conv_010", "conv_011"
    ]

    # composes with merge-on-read: a delta update resolves through the
    # pruned point lookup (delta files carry no bloom -> never skipped)
    ev = spark.createDataFrame(
        [(9000, "U", "conv_010", 0, "user", "updated", None,
          __import__("datetime").datetime(2025, 1, 1))],
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp",
    )
    apply_batch(lake, ev, "d1", merge_mode="read")
    got = lake.read(user_cols=True, keys=["conv_010"]).collect()
    assert [(r.conv_id, r.text) for r in got] == [("conv_010", "updated")]

    import pytest

    with pytest.raises(ValueError, match="keys OR key_range"):
        lake.read(keys=["x"], key_range=("a", "z"))
    with pytest.raises(ValueError, match="non-empty"):
        lake.read(keys=[])


def test_point_lookup_bucket_derivation_single_key_col(spark, tmp_path):
    """Single-key-column tables derive the touched buckets FROM the
    requested keys (same hash Spark's bucket_expr uses): a point lookup
    on a 16-bucket table opens only the key's own bucket — at 100 TB
    the difference between one manifest group and the whole table."""
    root = str(tmp_path / "kv")
    lake = LakeTable.create(
        spark, root, "k string, v string", ["k"], 16
    )
    rows = [(f"k{i:03d}", f"v{i}", i) for i in range(64)]
    df = spark.createDataFrame(rows, f"k string, v string, {LSN_COL} long")
    df = df.withColumn(BUCKET_COL, lake.bucket_expr(16, ["k"]))
    affected = [
        r[BUCKET_COL] for r in df.select(BUCKET_COL).distinct().collect()
    ]
    assert lake.commit(df, affected, "b1", (0, 63))
    one = lake.read(user_cols=True, keys=["k007"])
    assert [(r.k, r.v) for r in one.collect()] == [("k007", "v7")]
    # only the derived bucket's file is opened
    want_b = df.filter(F.col("k") == "k007").select(BUCKET_COL).first()[0]
    files = one.inputFiles()
    assert files and all(f"{BUCKET_COL}={want_b}/" in f for f in files)
    # multi-byte UTF-8 keys (2/3/4-byte sequences) derive their buckets
    # on the driver exactly as Spark's hash does
    wide = [("ключ-7", "v64", 64), ("鍵07", "v65", 65), ("🔑07", "v66", 66)]
    df2 = spark.createDataFrame(wide, f"k string, v string, {LSN_COL} long")
    df2 = df2.withColumn(BUCKET_COL, lake.bucket_expr(16, ["k"]))
    assert lake.commit(df2, [], "b2", (64, 66), mode="append")
    for k, v, _lsn in wide:
        got = lake.read(user_cols=True, keys=[k])
        assert [(r.k, r.v) for r in got.collect()] == [(k, v)]
        want_b = df2.filter(F.col("k") == k).select(BUCKET_COL).first()[0]
        assert all(f"{BUCKET_COL}={want_b}/" in f for f in got.inputFiles())
    # an int key column stays unpruned (the string bucket derivation
    # would hash the wrong bytes) and exact
    ints = LakeTable.create(
        spark, str(tmp_path / "kv_int"), "k int, v string", ["k"], 16
    )
    idf = spark.createDataFrame(
        [(i, f"v{i}", i) for i in range(64)],
        f"k int, v string, {LSN_COL} long",
    ).withColumn(BUCKET_COL, ints.bucket_expr(16, ["k"]))
    assert ints.commit(
        idf, [r[0] for r in idf.select(BUCKET_COL).distinct().collect()],
        "b1", (0, 63),
    )
    got = ints.read(user_cols=True, keys=[7, 40])
    assert sorted((r.k, r.v) for r in got.collect()) == [(7, "v7"), (40, "v40")]
    opened = {f.split(f"{BUCKET_COL}=")[1].split("/")[0] for f in got.inputFiles()}
    assert len(opened) > 2


def test_point_lookup_through_cdc_replay_with_blooms(spark, tmp_lake_dir):
    """apply_batch(key_bloom=True) records Blooms on merge commits in
    BOTH modes; the conversation-serving query (read(keys=[conv])) then
    prunes delta files too and stays exact through LWW resolution."""
    import datetime

    from etl_bitcoin_spark.operators.merge import apply_batch

    lake = LakeTable.create(spark, tmp_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 2)
    ddl = (
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp"
    )

    def ev(lsn, op, conv, turn, text):
        return (lsn, op, conv, turn, "user", text, None,
                datetime.datetime(2024, 1, 1, 0, 0, lsn % 60))

    # merge-on-write batch, then a merge-on-read delta batch (summary
    # plan -> per-bucket delta files, blooms recorded on those too)
    b1 = [ev(i, "I", f"c{i % 8}", i // 8, f"t{i}") for i in range(32)]
    r = apply_batch(
        lake, spark.createDataFrame(b1, ddl), "b1", key_bloom=True
    )
    assert r["applied"]
    b2 = [ev(100, "U", "c3", 0, "patched"), ev(101, "I", "c9", 0, "new")]
    r = apply_batch(
        lake, spark.createDataFrame(b2, ddl), "b2",
        merge_mode="read", key_bloom=True,
    )
    assert r["applied"]
    ent = lake.bucket_entries()
    # every base AND delta file carries a bloomed key_stats entry
    for e in ent.values():
        for f in e["files"] + e["deltas"]:
            st = e["key_stats"][f]
            assert len(st) == 3 and st[2], (f, st)

    got = lake.read(user_cols=True, keys=["c3"]).collect()
    assert sorted((r.turn_idx, r.text) for r in got) == [
        (0, "patched"), (1, "t11"), (2, "t19"), (3, "t27"),
    ]
    # the c9-only delta bucket's files prune out of a c-absent lookup
    miss = lake.read(user_cols=True, keys=["zzz_absent"])
    assert miss.count() == 0 and len(miss.inputFiles()) == 0

    # compaction keeps the table lookup-optimized: folded base files
    # carry fresh blooms when asked to, and the lookup stays exact
    r = lake.compact_deltas(max_deltas_per_bucket=0, key_bloom=True)
    assert r["applied"]
    ent = lake.bucket_entries()
    assert all(not e["deltas"] for e in ent.values())
    for e in ent.values():
        for f in e["files"]:
            assert len(e["key_stats"][f]) == 3, e["key_stats"][f]
    got = lake.read(user_cols=True, keys=["c3"]).collect()
    assert sorted((r.turn_idx, r.text) for r in got) == [
        (0, "patched"), (1, "t11"), (2, "t19"), (3, "t27"),
    ]
