"""The raw delta plan's driver stage: its pieces against their Spark twins.

A driver-sized raw batch never runs a Spark job: pyarrow reads its WAL
files, ``ExactlyOnceFilter.mask`` guards it in numpy and
``LakeTable.bucket_array`` (a numpy port of Spark's Murmur3 ``hash``)
buckets it. Each piece must agree with the Spark expression it replaces
bit for bit, and a streaming trigger must find exactly the files Spark
planned for it in the checkpoint's file-source log.
"""

import os
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, oracle_replay, write_segments
from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
from etl_bitcoin_spark.state import ExactlyOnceFilter, LsnBloom
from etl_bitcoin_spark.streaming import BinlogTailer
from etl_bitcoin_spark.tableformat import LakeTable
from etl_bitcoin_spark.tableformat.lake import _merge_ranges

INT32 = (-(2**31), 2**31 - 1)
# every UTF-8 width: 1-byte ASCII, 2-byte Latin/Greek, 3-byte CJK, 4-byte
# emoji/musical symbols; NUL and a high-bit byte make tails signed
CHARS = st.sampled_from(
    ["a", "Z", "0", " ", "\x00", "\x7f", "é", "ß", "Ω", "中", "文", "€",
     "😀", "𝄞", "🚀"]
) | st.characters(exclude_categories=("Cs",))
EDGE_KEYS = [
    ("", 0), ("a", 1), ("ab", -1), ("abc", INT32[0]), ("abcd", INT32[1]),
    ("é", 7), ("中", 8), ("😀", 9), ("a😀", 10), ("\x80", 11), (None, 12),
    ("conv_000123", None), (None, None),
]
# (string, int32, int64) rows; the int64 spans both 32-bit halves
EDGE_ROWS = [(s, i, None if i is None else i * 2**32 + 5)
             for s, i in EDGE_KEYS]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.tuples(
            st.none() | st.text(CHARS, min_size=0, max_size=40),
            st.none() | st.sampled_from(INT32) | st.integers(*INT32),
            st.none() | st.integers(-(2**63), 2**63 - 1),
        ),
        max_size=60,
    ),
    n_buckets=st.sampled_from([1, 7, 64, 4096]),
)
@example(keys=[], n_buckets=64)
def test_bucket_array_matches_bucket_expr(spark, keys, n_buckets):
    """pmod(hash(keys), n) computed in numpy equals Spark's, for string
    keys of every tail length and UTF-8 width, int32 extremes, 64-bit
    ints and null cells, in any key order."""
    rows = EDGE_ROWS + keys
    tbl = pa.table({
        "s": pa.array([r[0] for r in rows], pa.string()),
        "i": pa.array([r[1] for r in rows], pa.int32()),
        "l": pa.array([r[2] for r in rows], pa.int64()),
    })
    df = spark.createDataFrame(rows, "s string, i int, l long")
    for cols in (["s", "i"], ["i", "s"], ["l", "s"]):
        want = [
            r[0] for r in
            df.select(LakeTable.bucket_expr(n_buckets, cols)).collect()
        ]
        got = LakeTable.bucket_array(tbl, n_buckets, cols)
        assert got.dtype == np.int32
        assert got.tolist() == want, cols


@st.composite
def guard_cases(draw):
    """An applied history (empty, one run, or gapped), a Bloom state
    (none, or covered_lo below / inside / above the batch, built from
    all of the history or — a stale filter — part of it) and a batch
    mixing fresh, duplicate and gap lsns."""
    shape = draw(st.sampled_from(["empty", "run", "gapped"]))
    ranges: list[list[int]] = []
    if shape == "run":
        lo = draw(st.integers(0, 20))
        ranges = [[lo, lo + draw(st.integers(0, 40))]]
    elif shape == "gapped":
        at = draw(st.integers(0, 5))
        for _ in range(draw(st.integers(2, 4))):
            width = draw(st.integers(0, 12))
            ranges.append([at, at + width])
            at += width + draw(st.integers(2, 9))
    hwm = ranges[-1][1] if ranges else -1
    top = max(hwm, 0) + 15
    batch = draw(st.lists(st.integers(0, top), min_size=0, max_size=50))
    batch += draw(st.lists(st.sampled_from(batch or [0]), max_size=5))
    bloom = None
    where = draw(st.sampled_from(["none", "below", "inside", "above"]))
    if where != "none" and ranges:
        part = draw(st.sampled_from(["all", "stale"]))
        src = ranges if part == "all" else ranges[: max(1, len(ranges) - 1)]
        bloom = LsnBloom.rebuild_from_ranges(src, n_bits=1 << 12, n_hashes=3)
        lo_b, hi_b = (min(batch), max(batch)) if batch else (0, top)
        bloom.covered_lo = {
            "below": max(0, lo_b - 3), "inside": (lo_b + hi_b) // 2,
            "above": hi_b + 1,
        }[where]
    return {"hwm": hwm, "applied_ranges": ranges}, bloom, batch


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=guard_cases())
def test_guard_mask_matches_spark_guard(spark, case):
    """ExactlyOnceFilter.mask keeps exactly the lsns its Spark
    ``__call__`` keeps — duplicates included, for any history shape and
    any Bloom coverage, a stale Bloom too."""
    lineage, bloom, batch = case
    guard = ExactlyOnceFilter(lineage, bloom)
    df = spark.createDataFrame(
        [(int(x), i) for i, x in enumerate(batch)], "lsn long, i int"
    )
    want = sorted(r.i for r in guard(df).select("i").collect())
    keep = guard.mask(np.array(batch, dtype=np.int64))
    assert keep.dtype == bool and len(keep) == len(batch)
    assert sorted(np.flatnonzero(keep).tolist()) == want
    if bloom is None or bloom.covered_lo > max(batch, default=-1):
        # an exact guard: kept == not yet applied
        applied = _merge_ranges(lineage["applied_ranges"])
        for x, k in zip(batch, keep):
            assert k == (not any(lo <= x <= hi for lo, hi in applied))


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path)


def _state(lake):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = (
        lake.read(user_cols=True).select(*cols)
        .orderBy("conv_id", "turn_idx").toPandas()
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    return got


def test_stream_batch_files_follow_source_log(spark, tmp_path, monkeypatch):
    """12 one-file triggers, so the file-source log compacts into
    ``9.compact``: every trigger's resolved files equal the files Spark
    planned; a query restarted after a crash resolves the replayed batch
    identically; an unreadable log entry sends its trigger to the Spark
    stager; the plain log files Spark may delete after compaction are
    not needed; the lake ends equal to the oracle."""
    pdf = generate_binlog(
        BinlogSpec(seed=303, n_convs=60, n_events=1800, n_segments=12)
    )
    wal, ckpt = str(tmp_path / "wal"), str(tmp_path / "ckpt")
    write_segments(pdf, wal)
    log_dir = os.path.join(ckpt, "sources", "0")
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), TRANSCRIPTS_DDL, KEY_COLS, 8
    )
    planned: dict[int, list[str]] = {}
    resolved: list[tuple[int, list[str] | None]] = []
    crash = {"at": 10}
    corrupt_at = 4
    orig = BinlogTailer._apply

    def spy(self, batch_df, batch_id):
        planned[batch_id] = sorted(
            _local(r[0]) for r in
            batch_df.select(F.input_file_name()).distinct().collect()
        )
        resolved.append((batch_id, self._batch_files(batch_id)))
        if batch_id == crash["at"]:
            crash["at"] = None
            raise RuntimeError("injected crash before the commit")
        if batch_id != corrupt_at:
            return orig(self, batch_df, batch_id)
        entry = os.path.join(log_dir, str(batch_id))
        with open(entry, "rb") as f:
            good = f.read()
        with open(entry, "w") as f:
            f.write("v1\n{not json")
        try:
            return orig(self, batch_df, batch_id)
        finally:
            with open(entry, "wb") as f:
                f.write(good)

    monkeypatch.setattr(BinlogTailer, "_apply", spy)

    def tailer():
        return BinlogTailer(
            spark, wal, lake, ckpt, max_files_per_trigger=1,
            merge_on_read=True, compact_max_deltas=4, delta_plan="raw",
        )

    first = tailer()
    # StreamingQueryException wraps the crash
    with pytest.raises(Exception, match="injected crash"):
        first.run_available()
    second = tailer()
    second.run_available()
    results = first.batch_results + second.batch_results

    assert sorted(planned) == list(range(12))
    assert os.path.exists(os.path.join(log_dir, "9.compact"))
    assert not os.path.exists(os.path.join(log_dir, "9"))
    for b, files in resolved:
        assert sorted(files) == planned[b], b
        assert len(files) == 1
    assert [b for b, _ in resolved].count(10) == 2  # the replay
    stages = [r["stage"] for r in results]
    assert stages == ["spark" if i == corrupt_at else "arrow"
                      for i in range(12)]
    assert sum(r["events"] for r in results) == pdf.lsn.nunique()

    # Spark may delete the plain entries a compaction folded in
    for n in range(9):
        os.remove(os.path.join(log_dir, str(n)))
    for b in range(12):
        assert sorted(second._batch_files(b)) == planned[b]

    want = oracle_replay(pdf)
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(_state(lake), want, check_dtype=False)
