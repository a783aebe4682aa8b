"""Cell-level LWW (partial-image patch upserts) vs a pure-python oracle.

Semantics under test (operators/merge._resolve_union patch_cols):
an op='U' event with a NULL patch column leaves that cell unchanged
(Debezium partial images); an op='I' full image writes every cell,
explicit nulls included; per cell the (ts, lsn)-max explicit write at
or after the key's last delete wins. The fold is an associative
per-cell max, so raw deltas, batch-folded summary deltas, compacted
base, bootstrap snapshots, and late/interleaved batches must all
converge to the full-history answer.
"""

from datetime import datetime

import pytest

from etl_bitcoin_spark.operators.merge import (
    BINLOG_DDL,
    KEY_COLS,
    TRANSCRIPTS_DDL,
    apply_batch,
    bootstrap,
)
from etl_bitcoin_spark.tableformat import LakeTable

PATCH_COLS = ["role", "text", "tool"]


def _ev(spark, rows):
    rows = [
        (lsn, op, c, t, role, text, tool, datetime.fromisoformat(ts))
        for (lsn, op, c, t, role, text, tool, ts) in rows
    ]
    return spark.createDataFrame(rows, BINLOG_DDL)


def _mk(spark, tmp_path, name, n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPTS_DDL, KEY_COLS,
        n_buckets=n_buckets, patch_cols=PATCH_COLS,
    )


def cell_oracle(rows):
    """Full-history cell-LWW fold in plain python. ``rows`` are binlog
    tuples (lsn, op, conv, turn, role, text, tool, ts_iso). Returns
    {key: (role, text, tool, ts_iso, lsn)} for live keys."""
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r[2], r[3]), []).append(r)
    out = {}
    for k, evs in by_key.items():
        d = max((e[0] for e in evs if e[1] == "D"), default=-1)
        live = [e for e in evs if e[1] != "D" and e[0] > d]
        if not live:
            continue
        win = max(live, key=lambda e: (e[7], e[0]))
        vals = []
        for i, _c in enumerate(PATCH_COLS):
            writes = [
                e for e in live if e[1] == "I" or e[4 + i] is not None
            ]
            vals.append(
                max(writes, key=lambda e: (e[7], e[0]))[4 + i]
                if writes else None
            )
        out[k] = (*vals, win[7], win[0])
    return out


def _state(lake):
    rows = lake.read(user_cols=True).collect()
    return {
        (r["conv_id"], r["turn_idx"]): (
            r["role"], r["text"], r["tool"],
            r["ts"].isoformat(sep="T"), None,
        )
        for r in rows
    }


def _check(lake, rows):
    got = lake.read(user_cols=True).collect()
    want = cell_oracle(rows)
    got_m = {}
    for r in got:
        ts = r["ts"].isoformat(sep=" ")
        got_m[(r["conv_id"], r["turn_idx"])] = (
            r["role"], r["text"], r["tool"], ts,
        )
    want_m = {k: (v[0], v[1], v[2], v[3]) for k, v in want.items()}
    assert got_m == want_m


HISTORY = [
    # k1: I full image, then partial Us each touching ONE cell
    (1, "I", "c1", 0, "user", "hello", None, "2024-01-01 00:00:01"),
    (2, "U", "c1", 0, None, "hello v2", None, "2024-01-01 00:00:02"),
    (3, "U", "c1", 0, "assistant", None, None, "2024-01-01 00:00:03"),
    (4, "U", "c1", 0, None, None, "search", "2024-01-01 00:00:04"),
    # k2: delete boundary — cells before the D must NOT resurrect
    (5, "I", "c2", 1, "user", "old text", "bash", "2024-01-01 00:00:05"),
    (6, "D", "c2", 1, None, None, None, "2024-01-01 00:00:06"),
    (7, "I", "c2", 1, "system", None, None, "2024-01-01 00:00:07"),
    (8, "U", "c2", 1, None, "fresh", None, "2024-01-01 00:00:08"),
    # k3: explicit null via a second full image clears a cell
    (9, "I", "c3", 2, "user", "t3", "grep", "2024-01-01 00:00:09"),
    (10, "I", "c3", 2, "user", "t3b", None, "2024-01-01 00:00:10"),
    # k4: LATE partial image (older ts, higher lsn) loses per-cell
    (11, "U", "c1", 0, None, "stale text", None, "2024-01-01 00:00:00"),
]


def test_patch_oracle_is_what_we_think():
    want = cell_oracle(HISTORY)
    assert want[("c1", 0)][:3] == ("assistant", "hello v2", "search")
    # k2: role from the post-delete I, text from the U, tool NEVER
    # resurrects from lsn 5 (it died with the delete)
    assert want[("c2", 1)][:3] == ("system", "fresh", None)
    # k3: the second full image explicitly nulled tool
    assert want[("c3", 2)][:3] == ("user", "t3b", None)


def test_patch_single_batch_mow(spark, tmp_path):
    lake = _mk(spark, tmp_path, "mow")
    apply_batch(lake, _ev(spark, HISTORY), "b0", assume_all_buckets=True)
    _check(lake, HISTORY)


def test_patch_mor_mixed_plans_equal_full_history(spark, tmp_path):
    """Raw deltas, summary deltas, a mid-stream compaction, and a late
    out-of-ts-order batch all fold to the full-history answer — the
    associativity claim end to end."""
    lake = _mk(spark, tmp_path, "mor")
    batches = [HISTORY[0:4], HISTORY[4:8], HISTORY[8:]]
    plans = ["raw", "summary", "raw"]
    for i, (rows, plan) in enumerate(zip(batches, plans)):
        r = apply_batch(
            lake, _ev(spark, rows), f"b{i}",
            lsn_range_hint=(rows[0][0], rows[-1][0]),
            merge_mode="read", delta_plan=plan,
        )
        assert r["applied"]
        # only the raw path tags its plan in the result
        assert r.get("delta_plan", "summary") == plan
        if i == 1:
            lake.compact_deltas(max_deltas_per_bucket=0, batch_id="c1")
    _check(lake, HISTORY)
    # compaction bounds read amp and must preserve cell provenance:
    # fold everything, then land one more partial update
    lake.compact_deltas(max_deltas_per_bucket=0, batch_id="c2")
    extra = (12, "U", "c3", 2, None, None, "late tool",
             "2024-01-01 00:00:12")
    apply_batch(lake, _ev(spark, [extra]), "b3", merge_mode="read")
    _check(lake, HISTORY + [extra])


def test_patch_mow_vs_mor_bitwise_equal(spark, tmp_path):
    a = _mk(spark, tmp_path, "a")
    apply_batch(a, _ev(spark, HISTORY), "b0", assume_all_buckets=True)
    b = _mk(spark, tmp_path, "b")
    for i, rows in enumerate([HISTORY[0:6], HISTORY[6:]]):
        apply_batch(
            b, _ev(spark, rows), f"b{i}",
            lsn_range_hint=(rows[0][0], rows[-1][0]),
            merge_mode="read", delta_plan="raw",
        )
    assert _state(a) == _state(b)


def test_patch_interleaved_multi_writer_lsns(spark, tmp_path):
    """Two writers with interleaved lsn ranges (odd/even events) under
    the exact guard: cell state must still equal the full-history fold
    — commutativity, not just associativity."""
    from etl_bitcoin_spark.state import ExactlyOnceFilter

    lake = _mk(spark, tmp_path, "mw")
    odd = [e for e in HISTORY if e[0] % 2 == 1]
    even = [e for e in HISTORY if e[0] % 2 == 0]
    for i, rows in enumerate([odd, even]):
        apply_batch(
            lake, _ev(spark, rows), f"w{i}",
            already_applied_filter=ExactlyOnceFilter(lake.lineage(), None),
            merge_mode="read", delta_plan="summary",
        )
    _check(lake, HISTORY)


def test_patch_bootstrap_full_image_beats_older_late_patch(spark, tmp_path):
    """Snapshot rows are full images: a late partial update with an
    OLDER ts than the snapshot row cannot override its cells."""
    lake = _mk(spark, tmp_path, "boot")
    base = spark.createDataFrame(
        [("c9", 0, "user", "snap text", "snap tool",
          datetime.fromisoformat("2024-01-01 00:00:10"))],
        TRANSCRIPTS_DDL,
    )
    bootstrap(lake, base, base_lsn=100, batch_id="boot")
    late = (101, "U", "c9", 0, None, "older", None, "2024-01-01 00:00:05")
    newer = (102, "U", "c9", 0, None, None, "new tool",
             "2024-01-01 00:00:20")
    apply_batch(lake, _ev(spark, [late, newer]), "b1", merge_mode="read")
    st = {r["conv_id"]: r for r in lake.read(user_cols=True).collect()}
    r = st["c9"]
    # text keeps the snapshot value (late patch has older ts);
    # tool takes the newer patch; role untouched
    assert (r["role"], r["text"], r["tool"]) == (
        "user", "snap text", "new tool"
    )


def test_patch_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="not a schema column"):
        LakeTable.create(
            spark, str(tmp_path / "v1"), TRANSCRIPTS_DDL, KEY_COLS,
            patch_cols=["nope"],
        )
    with pytest.raises(ValueError, match="key column"):
        LakeTable.create(
            spark, str(tmp_path / "v2"), TRANSCRIPTS_DDL, KEY_COLS,
            patch_cols=["conv_id"],
        )
    with pytest.raises(ValueError, match="ordering column"):
        LakeTable.create(
            spark, str(tmp_path / "v3"), TRANSCRIPTS_DDL, KEY_COLS,
            patch_cols=["ts"],
        )


def test_patch_plan_shape_no_extra_shuffle(spark, tmp_path):
    """The cell fold must ride the resolution window's exchange: the
    resolved-read plan of a patched table carries exactly as many
    Exchange nodes as an unpatched one."""
    plain = LakeTable.create(
        spark, str(tmp_path / "plain"), TRANSCRIPTS_DDL, KEY_COLS,
        n_buckets=4,
    )
    patched = _mk(spark, tmp_path, "shape")
    for lake in (plain, patched):
        for i, rows in enumerate([HISTORY[0:6], HISTORY[6:]]):
            apply_batch(
                lake, _ev(spark, rows), f"b{i}",
                lsn_range_hint=(rows[0][0], rows[-1][0]),
                merge_mode="read", delta_plan="summary",
            )

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    assert n_exchanges(patched.read()) == n_exchanges(plain.read())


# --------------------------------------------------------------- property
from datetime import timedelta  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_BASE = datetime(2024, 1, 1)


@st.composite
def patch_streams(draw):
    """Adversarial partial-image streams: few keys (collisions), tiny ts
    domain (ties), every column independently present/absent per event,
    full images with EXPLICIT nulls, deletes, reinserts, and an
    in-batch verbatim duplicate."""
    n = draw(st.integers(min_value=1, max_value=32))
    events = []
    for lsn in range(1, n + 1):
        conv = draw(st.integers(0, 1))
        turn = draw(st.integers(0, 1))
        op = draw(st.sampled_from(["I", "U", "U", "D"]))
        ts = (_BASE + timedelta(seconds=draw(st.integers(0, 4))))
        role = text = tool = None
        if op != "D":
            role = draw(st.sampled_from([None, "user", "asst"]))
            text = draw(st.sampled_from([None, f"t{lsn}", "x"]))
            tool = draw(st.sampled_from([None, "grep"]))
        events.append((lsn, op, f"c{conv}", turn, role, text, tool,
                       ts.isoformat(sep=" ")))
    if draw(st.booleans()) and n > 1:
        events.append(events[draw(st.integers(0, n - 1))])
    return events


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    stream=patch_streams(),
    width=st.sampled_from([5, 11, 1000]),
    mode=st.sampled_from(["write", "raw", "summary", "mixed"]),
)
def test_patch_random_streams_match_cell_oracle(
    spark, tmp_path_factory, stream, width, mode
):
    """Engine cell-LWW state == the python cell oracle for every
    random stream, batching width, and physical plan (merge-on-write,
    raw deltas, summary deltas, and a mix)."""
    lake_dir = str(tmp_path_factory.mktemp("prop_patch"))
    lake = LakeTable.create(
        spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 4,
        patch_cols=PATCH_COLS,
    )
    lo, hi = stream[0][0], max(e[0] for e in stream)
    i = 0
    for s in range(lo, hi + 1, width):
        e = min(s + width - 1, hi)
        chunk = [r for r in stream if s <= r[0] <= e]
        if not chunk:
            continue
        m = mode if mode != "mixed" else ["write", "raw", "summary"][i % 3]
        kw = (
            {"merge_mode": "read", "delta_plan": m}
            if m in ("raw", "summary") else {"assume_all_buckets": True}
        )
        apply_batch(lake, _ev(spark, chunk), f"pb{i}",
                    lsn_range_hint=(s, e), **kw)
        i += 1
    _check(lake, stream)
