"""Property-based merge correctness: random adversarial event streams
must converge to the sequential oracle under every batching.

Hypothesis generates small event sets with colliding keys, duplicate
lsns, ts ties, and delete/reinsert interleavings; the engine applies
them (a) in one batch and (b) split into ordered chunks, and both must
equal the oracle replay. Spark round-trips are expensive, so examples
are capped — breadth comes from the generator's adversarial shape, not
example count.
"""

from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_bitcoin_spark.gen import oracle_replay
from etl_bitcoin_spark.operators.merge import (
    BINLOG_DDL,
    KEY_COLS,
    TRANSCRIPTS_DDL,
    replay,
)
from etl_bitcoin_spark.tableformat import LakeTable

BASE = datetime(2024, 1, 1)


@st.composite
def event_streams(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    for lsn in range(n):
        conv = draw(st.integers(0, 2))          # few keys -> many collisions
        turn = draw(st.integers(0, 1))
        op = draw(st.sampled_from(["I", "U", "U", "D"]))
        ts_s = draw(st.integers(0, 5))          # tiny ts domain -> ties
        events.append(
            {
                "lsn": lsn,
                "op": op,
                "conv_id": f"c{conv}",
                "turn_idx": turn,
                "role": None if op == "D" else "user",
                "text": None if op == "D" else f"t{lsn}",
                "tool": None,
                "ts": BASE + timedelta(seconds=ts_s),
            }
        )
    # duplicate deliveries of a random subset (same lsn, verbatim)
    n_dup = draw(st.integers(0, min(3, n)))
    for _ in range(n_dup):
        events.append(dict(events[draw(st.integers(0, n - 1))]))
    return events


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(stream=event_streams(), width=st.sampled_from([7, 15, 1000]))
def test_random_streams_converge_to_oracle(spark, tmp_path_factory, stream, width):
    pdf = pd.DataFrame(stream)
    lake_dir = str(tmp_path_factory.mktemp("prop_lake"))
    lake = LakeTable.create(spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    ev = spark.createDataFrame(
        [tuple(r[c] for c in
               ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"])
         for r in stream],
        BINLOG_DDL,
    )
    replay(lake, ev, batch_lsn_width=width)
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas().reset_index(drop=True)
    )
    want = oracle_replay(pdf)[["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    stream=event_streams(),
    width=st.sampled_from([9, 1000]),
    new_n=st.sampled_from([1, 3, 16]),
    mid=st.booleans(),
)
def test_random_streams_survive_rescale(
    spark, tmp_path_factory, stream, width, new_n, mid
):
    """Rescale invariance under adversarial streams: rescaling mid-
    replay (between chunks) or post-replay to any bucket count must
    leave the converged state equal to the oracle — tombstone carriage
    and the layout fence included."""
    pdf = pd.DataFrame(stream)
    lake_dir = str(tmp_path_factory.mktemp("prop_rs"))
    lake = LakeTable.create(spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4)
    ev = spark.createDataFrame(
        [tuple(r[c] for c in
               ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"])
         for r in stream],
        BINLOG_DDL,
    )
    if mid:
        cut = max(r["lsn"] for r in stream) // 2
        from pyspark.sql import functions as F

        replay(lake, ev.filter(F.col("lsn") <= cut), batch_lsn_width=width)
        lake.rescale_buckets(new_n, "prop-rs")
        replay(lake, ev.filter(F.col("lsn") > cut), batch_lsn_width=width,
               batch_id_prefix="replay2")
    else:
        replay(lake, ev, batch_lsn_width=width)
        lake.rescale_buckets(new_n, "prop-rs")
    assert lake.snapshot()["n_buckets"] == new_n
    got = (
        lake.read(user_cols=True)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas().reset_index(drop=True)
    )
    want = oracle_replay(pdf)[["conv_id", "turn_idx", "text"]].reset_index(
        drop=True
    )
    want["turn_idx"] = want["turn_idx"].astype(got["turn_idx"].dtype)
    pd.testing.assert_frame_equal(got, want)
