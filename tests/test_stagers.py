"""Raw-delta stagers: the Arrow (driver) stager against the Spark one.

A raw merge-on-read batch whose plan-size estimate is at most
``spark.sql.autoBroadcastJoinThreshold`` is collected once and staged by
pyarrow; larger batches, batches of unknown size and ``key_bloom``
batches keep Spark's partitioned writer. Both must leave files that
read, skip and compact alike, and report the same lineage.
"""

import os
import shutil
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, oracle_replay, write_segments
from etl_bitcoin_spark.operators.merge import (
    BINLOG_DDL,
    KEY_COLS,
    TRANSCRIPTS_DDL,
    apply_batch,
)
from etl_bitcoin_spark.state import ExactlyOnceFilter
from etl_bitcoin_spark.streaming import BinlogTailer, PollTailer
from etl_bitcoin_spark.streaming import tailer as tailer_mod
from etl_bitcoin_spark.tableformat import LakeTable
from etl_bitcoin_spark.tableformat.lake import (
    LSN_COL,
    _footer_key_stats,
    _footer_lsn_stats,
    _footer_val_stats,
)

BOUND = "spark.sql.autoBroadcastJoinThreshold"
# the bound that sends every test batch to the named stager
BOUND_FOR = {"arrow": str(64 << 20), "spark": "1"}


@contextmanager
def _bound(spark, value: str):
    old = spark.conf.get(BOUND)
    spark.conf.set(BOUND, value)
    try:
        yield
    finally:
        spark.conf.set(BOUND, old)


def _apply(spark, lake, path, batch_id, stage, **kw):
    with _bound(spark, BOUND_FOR[stage]):
        r = apply_batch(
            lake, spark.read.schema(BINLOG_DDL).parquet(path), batch_id,
            already_applied_filter=ExactlyOnceFilter(lake.lineage(), None),
            merge_mode="read", delta_plan="raw", **kw,
        )
    assert r["applied"] and r["stage"] == stage, r
    return r


def _generation(lake):
    """{shard: table-relative file path} of the newest shard generation."""
    gen = lake.snapshot()["shard_deltas"][-1]
    out = {}
    for f in gen["files"]:
        shard = int(f.split("__dshard=")[1].split("/")[0])
        assert shard not in out, gen["files"]  # one file per shard
        out[shard] = f
    return gen["k"], out


def _physical(md):
    s = md.schema
    return [
        (s.column(i).name, s.column(i).physical_type,
         str(s.column(i).logical_type), s.column(i).max_definition_level,
         s.column(i).max_repetition_level)
        for i in range(len(s))
    ]


@pytest.fixture(scope="module")
def wal(tmp_path_factory):
    d = tmp_path_factory.mktemp("stagers")
    pdf = generate_binlog(
        BinlogSpec(seed=77, n_convs=120, n_events=3000, n_segments=3)
    )
    return pdf, write_segments(pdf, str(d / "wal"))


def test_stagers_write_identical_parquet(spark, tmp_path, wal):
    """Same events through both stagers: same physical schema (ts INT96,
    turn_idx INT32, every field optional, same order), ZSTD, the same
    ``__dshard=<s>/`` layout bucket_entries selects by, and the same
    footer lsn/key/value stats per shard file. The WAL's tz-naive ts
    comes back as the same UTC instant on both paths."""
    pdf, segs = wal
    lakes = {}
    for stage in ("arrow", "spark"):
        lake = LakeTable.create(
            spark, str(tmp_path / stage), TRANSCRIPTS_DDL, KEY_COLS, 16
        )
        _apply(spark, lake, segs[0], "b0", stage)
        lakes[stage] = lake

    (k_a, files_a), (k_s, files_s) = (
        _generation(lakes["arrow"]), _generation(lakes["spark"])
    )
    assert k_a == k_s and sorted(files_a) == sorted(files_s)
    for shard in files_a:
        path_a = os.path.join(lakes["arrow"].root, files_a[shard])
        path_s = os.path.join(lakes["spark"].root, files_s[shard])
        md_a, md_s = pq.read_metadata(path_a), pq.read_metadata(path_s)
        phys = _physical(md_a)
        assert phys == _physical(md_s)
        types = {name: t for name, t, *_ in phys}
        assert types["ts"] == "INT96" and types["turn_idx"] == "INT32"
        assert all(dl == 1 and rl == 0 for *_, dl, rl in phys)  # optional
        assert [n for n, *_ in phys] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            LSN_COL, "__deleted",
        ]
        for md in (md_a, md_s):
            assert {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            } == {"ZSTD"}
        assert _footer_lsn_stats(md_a) == _footer_lsn_stats(md_s)
        assert _footer_key_stats(md_a, "conv_id") == _footer_key_stats(
            md_s, "conv_id"
        )
        for col in ("turn_idx", LSN_COL):
            assert _footer_val_stats(md_a, col) == _footer_val_stats(
                md_s, col
            )
        assert md_a.num_rows == md_s.num_rows

        # rows, ts included: identical, and the WAL's naive wall time
        def _rows(p):
            return (
                pq.read_table(p).to_pandas()
                .sort_values(LSN_COL).reset_index(drop=True)
            )

        ra, rs = _rows(path_a), _rows(path_s)
        pd.testing.assert_frame_equal(ra, rs)
        want_ts = (
            pdf.drop_duplicates("lsn").set_index("lsn")["ts"]
            .loc[ra[LSN_COL]].to_numpy()
        )
        assert (ra["ts"].to_numpy() == want_ts).all()

    # bucket_entries picks each bucket's residue file on both tables
    for stage, files in (("arrow", files_a), ("spark", files_s)):
        for b, e in lakes[stage].bucket_entries().items():
            shard = int(b) % k_a
            assert e["deltas"] == ([files[shard]] if shard in files else [])

    # Spark reads the Arrow files back as the same UTC instants
    got = {
        stage: lakes[stage].read(user_cols=True)
        .orderBy("conv_id", "turn_idx").toPandas()
        for stage in lakes
    }
    pd.testing.assert_frame_equal(got["arrow"], got["spark"])
    want = oracle_replay(pdf[pdf.seg == pdf.seg.min()])
    assert list(got["arrow"]["ts"]) == list(want["ts"])


def test_stagers_report_same_lineage_for_same_batch(spark, tmp_path):
    """A sparse batch with in-batch duplicate lsns: both stagers report
    the same events and lsn_range, record the same exact islands, and
    the same multiplicity (Arrow's exact, Spark's HLL within its
    error)."""
    lsns = [1, 2, 2, 3, 7, 8, 8, 12, 20, 21]
    tbl = pa.table({
        "lsn": pa.array(lsns, pa.int64()),
        "op": ["I"] * len(lsns),
        "conv_id": [f"c{x % 4}" for x in lsns],
        "turn_idx": pa.array([x % 3 for x in lsns], pa.int32()),
        "role": ["user"] * len(lsns),
        "text": [f"t{x}" for x in lsns],
        "tool": pa.array([None] * len(lsns), pa.string()),
        "ts": pa.array(
            pd.to_datetime(lsns, unit="s").astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
    })
    path = str(tmp_path / "batch.parquet")
    pq.write_table(tbl, path)
    res, lakes = {}, {}
    for stage in ("arrow", "spark"):
        lakes[stage] = LakeTable.create(
            spark, str(tmp_path / stage), TRANSCRIPTS_DDL, KEY_COLS, 4
        )
        res[stage] = _apply(spark, lakes[stage], path, "b0", stage)
    a, s = res["arrow"], res["spark"]
    assert a["events"] == s["events"] == 8
    assert a["lsn_range"] == s["lsn_range"] == [1, 21]
    n_keys = len({(x % 4, x % 3) for x in lsns})
    assert a["multiplicity"] == pytest.approx(8 / n_keys)
    assert s["multiplicity"] == pytest.approx(a["multiplicity"], rel=0.1)
    for lake in lakes.values():
        assert lake.lineage()["applied_ranges"] == [
            [1, 3], [7, 8], [12, 12], [20, 21]
        ]
    got = [
        lake.read(user_cols=True).orderBy("conv_id", "turn_idx").collect()
        for lake in lakes.values()
    ]
    assert got[0] == got[1]


def test_stager_falls_back_to_spark(spark, tmp_path, wal):
    """Over the bound, a disabled bound (-1), an unknown-size frame,
    key_bloom and the raw-scan plan all stage through Spark."""
    from datetime import datetime

    _pdf, segs = wal
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    r = _apply(spark, lake, segs[0], "over", "spark")
    assert r["events"] > 0
    assert lake.last_commit_stats["stage"] == "spark"
    with _bound(spark, "-1"):
        r = apply_batch(
            lake, spark.read.schema(BINLOG_DDL).parquet(segs[1]), "off",
            already_applied_filter=ExactlyOnceFilter(lake.lineage(), None),
            merge_mode="read", delta_plan="raw",
        )
    assert r["stage"] == "spark" and r["events"] > 0
    with _bound(spark, BOUND_FOR["arrow"]):
        r = apply_batch(
            lake, spark.read.schema(BINLOG_DDL).parquet(segs[2]), "bloom",
            already_applied_filter=ExactlyOnceFilter(lake.lineage(), None),
            merge_mode="read", delta_plan="raw", key_bloom=True,
        )
        assert r["stage"] == "spark" and r["events"] > 0
        # an RDD-backed frame has no size estimate
        rows = spark.createDataFrame(
            [(10_000, "I", "cx", 0, "user", "t", None,
              datetime(2024, 1, 1))],
            BINLOG_DDL,
        )
        r = apply_batch(
            lake, rows, "unknown", merge_mode="read", delta_plan="raw",
        )
        assert r["stage"] == "spark" and r["events"] == 1
        r = apply_batch(
            lake, spark.read.schema(BINLOG_DDL).parquet(segs[0]), "scan",
            already_applied_filter=lambda df: df, lsn_range_hint=(0, 0),
            merge_mode="read", delta_plan="raw-scan",
        )
        assert r["stage"] == "spark"
        # the same bound lets a file batch through the Arrow stager,
        # which refuses what it cannot write
        r = _apply(spark, lake, segs[0], "arrow-redelivery", "arrow")
        assert r["events"] == 0
    with pytest.raises(ValueError):
        lake.commit(pa.table({"bucket": [0]}), [], "x", mode="delta",
                    key_bloom=True)


def _mixed_wal(wal_dir: str):
    """Six generated segments, then a LATE segment holding every third
    lsn of segment 2 (so segment 2's batch is sparse), then a verbatim
    redelivery of segment 1."""
    pdf = generate_binlog(
        BinlogSpec(seed=91, n_convs=80, max_turns=6, n_events=1500,
                   n_segments=6)
    )
    late = (pdf.seg == 2) & (pdf.lsn % 3 == 0)
    pdf.loc[late, "seg"] = 6
    paths = write_segments(pdf, wal_dir)
    dup = os.path.join(wal_dir, "seg-00007.parquet")
    shutil.copy(paths[1], dup)
    os.utime(dup, (1_700_000_007, 1_700_000_007))
    # late lsns whose duplicate copy arrived on time apply with that copy
    on_time = set(pdf[pdf.seg < 6].lsn)
    return pdf, len(set(pdf[late].lsn) - on_time)


def _schedule(monkeypatch, spark, stages):
    """Run the tailer's i-th apply_batch under the bound that picks
    ``stages[i]``; returns the stages used, in call order."""
    used = []
    orig = tailer_mod.apply_batch

    def apply_under_bound(*args, **kwargs):
        stage = stages[len(used)]
        used.append(stage)
        with _bound(spark, BOUND_FOR[stage]):
            return orig(*args, **kwargs)

    monkeypatch.setattr(tailer_mod, "apply_batch", apply_under_bound)
    return used


def _check_mixed(lake, pdf, results, stages, n_late):
    assert [r["stage"] for r in results] == stages
    assert all(r["applied"] and r["delta_plan"] == "raw" for r in results)
    # the late segment applied in full: segment 2's sparse batch
    # recorded its exact islands, not its span
    assert results[6]["events"] == n_late
    # the redelivery staged nothing: a metadata-only commit
    assert results[7]["events"] == 0 and "lsn_range" not in results[7]
    assert sum(r["events"] for r in results) == pdf.lsn.nunique()
    assert lake.lineage()["applied_ranges"] == [
        [int(pdf.lsn.min()), int(pdf.lsn.max())]
    ]
    assert any(r.get("compacted_buckets") for r in results)  # mid-stream
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = (
        lake.read(user_cols=True).select(*cols)
        .orderBy("conv_id", "turn_idx").toPandas()
    )
    want = oracle_replay(pdf)[cols]
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_mixed_stager_stream_matches_oracle(spark, tmp_path, monkeypatch):
    """BinlogTailer with batches alternating between stagers, a late
    sparse segment, a fully-duplicate redelivery staged as an empty
    Arrow table, and inline compaction mid-stream: state == oracle,
    lineage exact."""
    pdf, n_late = _mixed_wal(str(tmp_path / "wal"))
    stages = ["arrow", "spark", "arrow", "spark", "arrow", "spark",
              "spark", "arrow"]
    used = _schedule(monkeypatch, spark, stages)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    results = BinlogTailer(
        spark, str(tmp_path / "wal"), lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, merge_on_read=True,
        compact_max_deltas=2, delta_plan="raw",
    ).run_available()
    assert used == stages
    _check_mixed(lake, pdf, results, stages, n_late)


def test_mixed_stager_poll_patch_table_matches_oracle(
    spark, tmp_path, monkeypatch
):
    """PollTailer into a patch_cols table, stagers alternating the other
    way round: the late segment lands through Arrow, the redelivery
    through Spark. The generator writes full images, so cell-level LWW
    equals the row oracle."""
    pdf, n_late = _mixed_wal(str(tmp_path / "wal"))
    stages = ["spark", "arrow", "spark", "arrow", "spark", "arrow",
              "arrow", "spark"]
    used = _schedule(monkeypatch, spark, stages)
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8,
        patch_cols=["text"],
    )
    results = PollTailer(
        spark, str(tmp_path / "wal"), lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, merge_on_read=True,
        compact_max_deltas=2, delta_plan="raw",
    ).run_available()
    assert used == stages
    _check_mixed(lake, pdf, results, stages, n_late)
