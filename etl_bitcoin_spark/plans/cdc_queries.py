"""CDC queries over a binlog deterministically derived from the driver's
``events`` table — the oracle-checkable face of the merge engine.

``events`` (event_id, ts, user_id, event_type, value, props) maps onto a
change stream over transcripts: event_id ≙ lsn, a deterministic op/key/
payload derivation shared verbatim between the Spark plan and the DuckDB
oracle SQL. Timestamps are surfaced as formatted strings
(date_format 'yyyy-MM-dd HH:mm:ss.SSSSSS' == strftime '%Y-%m-%d
%H:%M:%S.%f') — TIMESTAMP_NTZ-safe and independent of either engine's
session timezone.

At scale: the binlog derivation is a pure projection (no shuffle); every
CDC query below shuffles only on the full primary key (conv_id,
turn_idx), so hot conversations spread across partitions by turn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

KEY_COLS_Q = ["conv_id", "turn_idx"]

# Shared derivation --------------------------------------------------------
_BINLOG_SQL = """
  SELECT event_id AS lsn,
         CASE WHEN event_type = 'error'  THEN 'D'
              WHEN event_type = 'signup' THEN 'I'
              ELSE 'U' END AS op,
         'conv_' || CAST(user_id % 100 AS VARCHAR) AS conv_id,
         CAST(event_id % 25 AS INT) AS turn_idx,
         event_type AS role,
         props AS text,
         CASE WHEN event_id % 3 = 0 THEN event_type ELSE NULL END AS tool,
         ts
  FROM events
"""


def derived_binlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        F.concat(F.lit("conv_"), (F.col("user_id") % 100).cast("string")).alias(
            "conv_id"
        ),
        (F.col("event_id") % 25).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_id") % 3 == 0, F.col("event_type")).alias("tool"),
        F.col("ts"),
    )


def _last_deletes(binlog: DataFrame) -> DataFrame:
    """Per-key last-tombstone lsn — the tiny side of the two-phase LWW
    aggregate (only keys that saw a D appear)."""
    return (
        binlog.filter(F.col("op") == "D")
        .groupBy("conv_id", "turn_idx")
        .agg(F.max("lsn").alias("d_lsn"))
    )


def _winners(binlog: DataFrame) -> DataFrame:
    """Converged final state — the TWO-PHASE HASH-AGGREGATE form of the
    LWW fold (optimization round 7, guide §2.3 "aggregate before you
    shuffle"): tombstone maxima aggregate first (map-side combine, only
    D rows), join back (AQE broadcasts the aggregated D side when small)
    and the winner per key is one ``max_by(payload, (ts, lsn))`` hash
    aggregate with map-side partial combine. Identical algebra to the
    engine's window formulation (``operators.merge._resolve_union``):
    the (ts, lsn) struct comparison IS the window's (ts desc, lsn desc)
    ranking (lsn unique; null ts sorts lowest in both), and D-filtered
    rows with lsn > last-delete are exactly the window's ``live`` class.
    Vs the window form this removes the full-width sort and, at the
    derived binlog's ~40 events/key, collapses the shuffle to ~one row
    per key per task — oracle-gated hash-exact (cdc_lww_apply)."""
    d = _last_deletes(binlog)
    live = (
        binlog.filter(F.col("op") != "D")
        .join(d, KEY_COLS_Q, "left")
        .filter(F.col("lsn") > F.coalesce(F.col("d_lsn"), F.lit(-1)))
    )
    payload = F.struct("role", "text", "tool", "ts", "lsn")
    order = F.struct("ts", "lsn")
    w = live.groupBy(*KEY_COLS_Q).agg(F.max_by(payload, order).alias("w"))
    return w.select(
        "conv_id",
        "turn_idx",
        F.col("w.role").alias("role"),
        F.col("w.text").alias("text"),
        F.col("w.tool").alias("tool"),
        F.date_format(F.col("w.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col("w.lsn").alias("win_lsn"),
    )


def _win_sql(lsn_pred: str = "TRUE", cols: tuple[str, ...] = ()) -> str:
    """THE winner-per-key resolution, as a parenthesized SQL subquery:
    sequential-replay LWW (tombstones, then ts-desc/lsn-desc tie-break)
    over the binlog prefix where ``lsn_pred`` holds. Every oracle that
    needs winner state composes THIS — the tie-break lives in exactly
    one place. ``cols`` appends extra winner columns to the key +
    win_lsn projection."""
    extra = "".join(f", {c}" for c in cols)
    return f"""(
  SELECT conv_id, turn_idx, lsn AS win_lsn{extra} FROM (
    SELECT b.*, row_number() OVER (
      PARTITION BY b.conv_id, b.turn_idx
      ORDER BY b.ts DESC, b.lsn DESC) AS rn
    FROM binlog b
    LEFT JOIN (
      SELECT conv_id, turn_idx, max(lsn) AS d_lsn
      FROM binlog WHERE op = 'D' AND {lsn_pred}
      GROUP BY conv_id, turn_idx
    ) d ON b.conv_id = d.conv_id AND b.turn_idx = d.turn_idx
    WHERE b.op <> 'D' AND {lsn_pred}
      AND (d.d_lsn IS NULL OR b.lsn > d.d_lsn)
  ) WHERE rn = 1
)"""


def _lww_state_sql(lsn_pred: str = "TRUE") -> str:
    """Converged-state oracle over the prefix where ``lsn_pred`` holds —
    ``TRUE`` gives the full replay; an ``lsn <= cut`` predicate gives
    the state a mid-replay snapshot must expose."""
    return f"""
WITH binlog AS ({_BINLOG_SQL}),
w AS {_win_sql(lsn_pred, ("role", "text", "tool", "ts"))}
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, win_lsn
FROM w
"""


_LWW_SQL = _lww_state_sql()

# The lsn boundary covered by the first TWO of the four equal-width
# replay micro-batches (shared arithmetic: _replay_lake_mow computes the
# identical value with Python ints, the oracles with DuckDB int division).
_CUT_SQL = "(SELECT min(lsn) + 2 * ((max(lsn) - min(lsn) + 4) // 4) - 1 FROM binlog)"


def _change_feed_sql(with_images: bool) -> str:
    """Prefix-vs-full state-diff oracle for read_changes, composed from
    _win_sql (one resolution definition). ``with_images`` adds the
    Delta-CDF row shape: update pre+post pairs and deletes carrying the
    vanished row's text."""
    head = f"""
WITH binlog AS ({_BINLOG_SQL}),
old_win AS {_win_sql(f"lsn <= {_CUT_SQL}", ("text",))},
new_win AS {_win_sql("TRUE", ("text",))},
pairs AS (
  SELECT coalesce(n.conv_id, o.conv_id) AS conv_id,
         coalesce(n.turn_idx, o.turn_idx) AS turn_idx,
         n.win_lsn AS n_l, n.text AS n_x,
         o.win_lsn AS o_l, o.text AS o_x
  FROM new_win n FULL OUTER JOIN old_win o
    ON n.conv_id = o.conv_id AND n.turn_idx = o.turn_idx
)"""
    if not with_images:
        return head + """
SELECT conv_id, turn_idx, _change_type FROM (
  SELECT conv_id, turn_idx,
         CASE WHEN o_l IS NULL THEN 'insert'
              WHEN n_l IS NULL THEN 'delete'
              WHEN n_l <> o_l THEN 'update_postimage'
         END AS _change_type
  FROM pairs
) WHERE _change_type IS NOT NULL
"""
    return head + """
SELECT conv_id, turn_idx, 'insert' AS _change_type, n_x AS text
FROM pairs WHERE o_l IS NULL AND n_l IS NOT NULL
UNION ALL
SELECT conv_id, turn_idx, 'update_preimage', o_x
FROM pairs WHERE o_l IS NOT NULL AND n_l IS NOT NULL AND n_l <> o_l
UNION ALL
SELECT conv_id, turn_idx, 'update_postimage', n_x
FROM pairs WHERE o_l IS NOT NULL AND n_l IS NOT NULL AND n_l <> o_l
UNION ALL
SELECT conv_id, turn_idx, 'delete', o_x
FROM pairs WHERE n_l IS NULL AND o_l IS NOT NULL
"""


# Queries -------------------------------------------------------------------
def q_cdc_binlog_derive(spark, sf_dir):
    """S4 analog (typed ingestion/derivation): the change stream itself."""
    b = derived_binlog(spark, sf_dir)
    return b.select(
        "lsn", "op", "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


def q_cdc_lww_apply(spark, sf_dir):
    """Flagship: full-replay converged state (MERGE + LWW + tombstones)."""
    return _winners(derived_binlog(spark, sf_dir))


def q_cdc_lww_tiebreak(spark, sf_dir):
    """Equal-ts conflicts (ts truncated to hour) resolved by higher lsn."""
    b = derived_binlog(spark, sf_dir).withColumn(
        "ts", F.date_trunc("hour", F.col("ts"))
    )
    return _winners(b).select("conv_id", "turn_idx", "win_lsn", "ts_str")


def q_cdc_dedup_lsn(spark, sf_dir):
    """T8 analog: duplicate deliveries (stream unioned with itself)
    collapse to exactly-once counts per op."""
    b = derived_binlog(spark, sf_dir)
    dup = b.unionByName(b)
    # project to (lsn, op) BEFORE the dedup (r7, guide §2.3): duplicate
    # deliveries are exact row copies, so op is functionally dependent
    # on lsn and distinct (lsn, op) == dropDuplicates(["lsn"]) on the
    # columns this query returns — but it compiles to a two-phase HASH
    # aggregate with map-side combine (the old dropDuplicates carried
    # first(<6 payload cols>) through a SortAggregate: two full sorts
    # and 8-column shuffle rows for a 2-column answer).
    return (
        dup.select("lsn", "op").distinct()
        .groupBy("op")
        .agg(F.count("*").alias("n"), F.min("lsn").alias("min_lsn"),
             F.max("lsn").alias("max_lsn"))
    )


def q_cdc_hwm_filter(spark, sf_dir):
    """Composite watermark gate (registry budget: one slot covers both
    S7 faces). Resume-from-watermark filtering — only events above the
    stored HWM apply — with the O(1) watermark read-back itself
    (max lsn, event count, first/last event ts) broadcast onto every
    row, so the hash check pins both the filter and the watermark."""
    b = derived_binlog(spark, sf_dir)
    wm = b.agg(
        F.max("lsn").alias("hwm"),
        F.count("*").alias("n_events"),
        F.min(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).alias(
            "first_ts_str"
        ),
        F.max(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).alias(
            "last_ts_str"
        ),
    )
    per_op = b.filter(F.col("lsn") > 5000).groupBy("op").agg(
        F.count("*").alias("n"), F.min("lsn").alias("min_lsn")
    )
    return per_op.crossJoin(F.broadcast(wm))


def q_cdc_schema_evolution(spark, sf_dir):
    """Additive evolution: pre-evolution events lose their tool column
    (schema v1), the union backfills null; per-phase null accounting."""
    b = derived_binlog(spark, sf_dir)
    v1 = b.filter(F.col("lsn") < 5000).drop("tool")
    v2 = b.filter(F.col("lsn") >= 5000)
    merged = v1.unionByName(v2, allowMissingColumns=True)
    return merged.groupBy(
        (F.col("lsn") >= 5000).alias("evolved")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("tool").isNull(), 1).otherwise(0)).alias("n_tool_null"),
    )


def q_cdc_lineage_metrics(spark, sf_dir):
    """Per-logical-partition lineage: applied lsn range + row/key counts
    (the manifest metrics, expressed as a query)."""
    b = derived_binlog(spark, sf_dir)
    return (
        b.withColumn("bucket", (F.col("lsn") % 16).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
            F.countDistinct(
                F.concat(F.col("conv_id"), F.lit("#"),
                         F.col("turn_idx").cast("string"))
            ).alias("n_keys"),
        )
    )


def patched_binlog(spark, sf_dir):
    """The derived binlog reinterpreted as PARTIAL images (Debezium-
    style): U events drop ``role`` when lsn%2==0 and ``tool`` when
    lsn%3==0 (null = column absent from the image); I events stay full
    images (their nulls are explicit writes); ``text``/``ts`` always
    ship. Deterministic, mirrored verbatim in the DuckDB oracle."""
    b = derived_binlog(spark, sf_dir)
    u = F.col("op") == F.lit("U")
    return b.withColumn(
        "role",
        F.when(u & (F.col("lsn") % 2 == 0), F.lit(None).cast("string"))
        .otherwise(F.col("role")),
    ).withColumn(
        "tool",
        F.when(u & (F.col("lsn") % 3 == 0), F.lit(None).cast("string"))
        .otherwise(F.col("tool")),
    )


def q_cdc_delete_reinsert(spark, sf_dir):
    """COMPOSITE gate (SURVEY §8): row-level delete/reinsert interplay
    PLUS cell-level LWW (partial-image patch upserts) — tagged union.

    (a) 'resurrect': keys deleted then re-inserted (win_lsn above the
    key's last delete) — the original slot.
    (b) 'patch_state': the binlog reinterpreted as partial images
    (``patched_binlog``) replays through a REAL LakeTable created with
    ``patch_cols=['role','text','tool']`` as 4 mixed merge-on-read
    batches (0-1 raw mod-shard deltas, 2-3 summary deltas) with a
    mid-stream partial compaction; the resolved read's cells must equal
    the oracle's per-column most-recent-explicit-write fold, which never
    reaches back across a delete. Exercises the associativity claim end
    to end: raw rows, batch-folded summaries, and compacted base all
    carry cell provenance and must fold to the full-history answer."""
    b = derived_binlog(spark, sf_dir)
    # same two-phase hash-aggregate shape as _winners, with an INNER
    # join on the tombstone side: resurrect keys are exactly those with
    # a delete AND a surviving post-delete winner
    d = _last_deletes(b)
    live = (
        b.filter(F.col("op") != "D")
        .join(d, KEY_COLS_Q, "inner")
        .filter(F.col("lsn") > F.col("d_lsn"))
    )
    s = live.groupBy(*KEY_COLS_Q, "d_lsn").agg(
        F.max_by(F.col("lsn"), F.struct("ts", "lsn")).alias("win_lsn")
    )
    resurrect = s.select(
        F.lit("resurrect").alias("tag"),
        "conv_id",
        "turn_idx",
        "win_lsn",
        "d_lsn",
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("string").alias("ts_str"),
    )

    from ..tableformat.lake import DELETED_COL, LSN_COL

    def _mid_compact(i, lake):
        if i == 1:
            lake.compact_deltas(max_deltas_per_bucket=1, batch_id="p-c1")

    lake, _, results = _replay_lake_mow(
        spark, sf_dir, "gate_patch_", merge_mode="read",
        on_batch=_mid_compact, n_buckets=64,
        delta_plan_fn=lambda i: "raw" if i < 2 else "summary",
        binlog=patched_binlog(spark, sf_dir),
        create_kwargs={"patch_cols": ["role", "text", "tool"]},
    )
    assert [r.get("delta_plan") for r in results[:2]] == ["raw", "raw"], (
        results
    )
    st = lake.read()
    patch_state = st.filter(~F.col(DELETED_COL)).select(
        F.lit("patch_state").alias("tag"),
        "conv_id",
        "turn_idx",
        F.col(LSN_COL).alias("win_lsn"),
        F.lit(None).cast("long").alias("d_lsn"),
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )
    return resurrect.unionByName(patch_state)


def q_cdc_salted_distribution(spark, sf_dir):
    """Hot-key salting: spread each conv_id over 8 deterministic salt
    lanes; per-lane counts stay bounded (the skew story, verifiable)."""
    b = derived_binlog(spark, sf_dir)
    return (
        b.withColumn("salt", (F.col("lsn") % 8).cast("int"))
        .groupBy("conv_id", "salt")
        .agg(F.count("*").alias("n"))
    )


def q_cdc_fanout_summary(spark, sf_dir):
    """One-pass multi-table fan-out (reference neo4j_csv.go:122-155,
    AddBlockHeader/AddTransaction fanning one record into N tables):
    the same pure transforms the catalog pipeline commits atomically
    (operators/fanout.fanout_frames), summarized per output table so the
    whole dataflow sits under the oracle gate."""
    from ..operators.fanout import fanout_frames

    b = derived_binlog(spark, sf_dir)
    fr = fanout_frames(b, "gate")
    turns = fr["turns"].agg(
        F.lit("turns").alias("tbl"),
        F.count("*").alias("n_rows"),
        F.sum("lsn").alias("metric"),
    )
    convs = fr["convs"].agg(
        F.lit("convs").alias("tbl"),
        F.count("*").alias("n_rows"),
        F.sum("n_events").alias("metric"),
    )
    edges = fr["edges"].agg(
        F.lit("edges").alias("tbl"),
        F.count("*").alias("n_rows"),
        F.sum("lsn").alias("metric"),
    )
    lineage = fr["lineage"].select(
        F.lit("lineage").alias("tbl"),
        F.lit(1).cast("long").alias("n_rows"),
        (F.col("n_insert") + F.col("n_update") + F.col("n_delete")).alias(
            "metric"
        ),
    )
    return turns.unionByName(convs).unionByName(edges).unionByName(lineage)


def q_cdc_lww_apply_mor(spark, sf_dir):
    """Flagship equality through the MERGE-ON-READ lake path: the derived
    binlog replays into a real LakeTable as delta appends (4 ordered
    micro-batches), deltas partially compacted mid-stream, and the
    RESOLVED read must equal the same sequential-replay SQL oracle as
    ``cdc_lww_apply`` — proving base-vs-delta resolution is exact end to
    end, not just in pytest. The replay is MIXED-SHAPE on the engine's
    default hot path: batches 0-1 append RAW deltas (the no-sort
    mod-shard plan that carries the latency headline and the endurance
    replay — 64 buckets here so the shard files are genuinely SHARED
    across member buckets), batches 2-3 append per-key SUMMARY deltas,
    so the final read resolves compacted base + raw rows + summary rows
    through one LWW algebra under the DuckDB oracle. (The gate lake
    lives in a tmp dir that must outlive this call — the driver
    collects the returned frame lazily.)"""
    from ..tableformat.lake import DELETED_COL, LSN_COL

    def _mid_compact(i, lake):
        if i == 1:
            # compact mid-replay so the final read resolves a MIX of
            # compacted base + later deltas (the hard case)
            lake.compact_deltas(max_deltas_per_bucket=1, batch_id="mor-c1")

    lake, _, results = _replay_lake_mow(
        spark, sf_dir, "gate_mor_", merge_mode="read",
        on_batch=_mid_compact, n_buckets=64,
        delta_plan_fn=lambda i: "raw" if i < 2 else "summary",
    )
    # the hot path must actually have run: the first two batches
    # committed raw deltas (not silently demoted to summaries)
    assert [r.get("delta_plan") for r in results[:2]] == ["raw", "raw"], (
        results
    )
    st = lake.read()
    return st.filter(~F.col(DELETED_COL)).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col(LSN_COL).alias("win_lsn"),
    )


def _gate_tmpdir(prefix):
    import os
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def _replay_lake_mow(spark, sf_dir, tmp_prefix, merge_mode="write",
                     on_batch=None, n_buckets=8, delta_plan_fn=None,
                     binlog=None, create_kwargs=None):
    """Replay the derived binlog into a fresh LakeTable as 4 ordered
    equal-width micro-batches — THE replay every lake gate shares, so
    its width arithmetic stays bit-identical to ``_CUT_SQL``. Returns
    ``(lake, v_mid[, results])`` where ``v_mid`` is the committed
    snapshot version after the 2nd batch (captured BEFORE any
    ``on_batch`` side effects); the per-batch apply results are the
    third element when ``delta_plan_fn`` is given (so a gate can
    assert WHICH physical delta plan actually committed).
    ``on_batch(i, lake)`` runs after each applied batch — mid-replay
    compaction, relay ticks, etc. ``delta_plan_fn(i)`` picks the
    merge-on-read delta shape per batch (mixed raw/summary replays)."""
    from ..operators.merge import KEY_COLS, TRANSCRIPTS_DDL, apply_batch
    from ..tableformat.lake import LakeTable

    b = binlog if binlog is not None else derived_binlog(spark, sf_dir)
    lo, hi = b.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    root = _gate_tmpdir(tmp_prefix)
    lake = LakeTable.create(
        spark, root, TRANSCRIPTS_DDL, KEY_COLS, n_buckets,
        **(create_kwargs or {}),
    )
    width = (int(hi) - int(lo) + 4) // 4
    v_mid = None
    results = []
    for i in range(4):
        s = int(lo) + i * width
        e = min(s + width - 1, int(hi))
        if s > int(hi):
            break
        results.append(apply_batch(
            lake,
            b.filter((F.col("lsn") >= s) & (F.col("lsn") <= e)),
            f"replay-{i}",
            lsn_range_hint=(s, e),
            merge_mode=merge_mode,
            delta_plan=(
                delta_plan_fn(i) if delta_plan_fn is not None else "summary"
            ),
        ))
        if i == 1:
            v_mid = lake.snapshot()["version"]
        if on_batch is not None:
            on_batch(i, lake)
    if delta_plan_fn is not None:
        return lake, v_mid, results
    return lake, v_mid


def q_cdc_time_travel(spark, sf_dir):
    """Snapshot time travel under the oracle gate: replay merge-on-write
    into a real LakeTable, then read back AT the mid-replay version —
    ``read(version=v_mid)`` must equal a sequential replay of exactly
    the lsn prefix that snapshot covers. Proves snapshots are immutable
    and version-addressable (the manifest chain is a state index over
    the replay log), not just that the latest state converges. (The
    gate lake lives in a tmp dir that must outlive this call — the
    driver collects the returned frame lazily.)"""
    from ..tableformat.lake import DELETED_COL, LSN_COL

    lake, v_mid = _replay_lake_mow(spark, sf_dir, "gate_tt_")
    st = lake.read(version=v_mid)
    return st.filter(~F.col(DELETED_COL)).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col(LSN_COL).alias("win_lsn"),
    )


def q_cdc_change_feed(spark, sf_dir):
    """The downstream-consumable CDC output (read_changes — Delta's
    table_changes analog) under the oracle gate: replay merge-on-write,
    then diff the mid-replay snapshot against the final one. Each key
    must carry the exact change class {insert, update_postimage,
    delete} that a sequential replay of the suffix implies. (tmp-dir
    lifetime note as in q_cdc_time_travel.)"""
    lake, v_mid = _replay_lake_mow(spark, sf_dir, "gate_cf_")
    ch = lake.read_changes(from_version=v_mid)
    return ch.select("conv_id", "turn_idx", "_change_type")


def q_cdc_change_feed_pre(spark, sf_dir):
    """Change feed in PREIMAGE mode (the full Delta-CDF consumer
    shape): updates emit pre+post rows, deletes carry the vanished
    row's values — each arm's payload checked against the prefix/full
    LWW oracles (text column stands in for the payload)."""
    lake, v_mid = _replay_lake_mow(spark, sf_dir, "gate_cfp_")
    ch = lake.read_changes(from_version=v_mid, include_preimages=True)
    return ch.select("conv_id", "turn_idx", "_change_type", "text")


def q_cdc_incremental_projection(spark, sf_dir):
    """Incremental materialized-view maintenance under the oracle gate,
    BOTH relay modes in one registry slot (gate budget, round-4): two
    downstream tables ride the same upstream replay — one ticked in
    ``mode="recompute"`` (changed-conversations-only rebuild via the
    change feed), one in ``mode="algebraic"`` (delta arithmetic over
    the preimage feed; upstream touched only for max-regression
    fallbacks) — and BOTH must equal a from-scratch rollup of the full
    sequential replay, tagged by a ``mode`` column. (tmp-dir lifetime
    note as in q_cdc_time_travel.)"""
    from ..operators.incremental import (
        create_conv_summary_table,
        refresh_conv_summaries,
    )

    down_rc = create_conv_summary_table(
        spark, _gate_tmpdir("gate_ipd_"), n_buckets=8
    )
    down_alg = create_conv_summary_table(
        spark, _gate_tmpdir("gate_ipad_"), n_buckets=8
    )

    def _tick(i, lake):
        r = refresh_conv_summaries(lake, down_rc, mode="recompute")
        assert r["applied"], r
        r = refresh_conv_summaries(lake, down_alg, mode="algebraic")
        assert r["applied"], r

    _replay_lake_mow(spark, sf_dir, "gate_ip_", on_batch=_tick)

    def _out(down, mode):
        return down.read(user_cols=True).select(
            F.lit(mode).alias("mode"),
            "conv_id",
            "n_turns",
            "n_tool_turns",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_ts_str"
            ),
            "total_chars",
        )

    return _out(down_rc, "recompute").unionByName(
        _out(down_alg, "algebraic")
    )


def q_cdc_incremental_view_roles(spark, sf_dir):
    """The DECLARATIVE view engine (operators/views) under an oracle
    gate, on a view whose key (role) is a MUTABLE column — updates move
    rows between groups. Algebraic per-batch ticks must equal the
    from-scratch rollup of the full replay."""
    from ..operators.views import ViewSpec, create_view_table, refresh_view

    spec = ViewSpec(
        "role_stats",
        "role string",
        {
            "n_turns": ("count", "long"),
            "total_chars": ("sum", "length(coalesce(text, ''))", "long"),
            "last_ts": ("max", "ts", "timestamp"),
        },
    )
    down = create_view_table(
        spark, _gate_tmpdir("gate_ivr_"), spec, n_buckets=4
    )

    def _tick(i, lake):
        r = refresh_view(lake, down, spec, mode="algebraic")
        assert r["applied"], r

    _replay_lake_mow(spark, sf_dir, "gate_ivrl_", on_batch=_tick)
    return down.read(user_cols=True).select(
        "role",
        "n_turns",
        "total_chars",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_ts_str"
        ),
    )


def q_cdc_incremental_view_minavg(spark, sf_dir):
    """The round-4 ViewSpec aggregate vocabulary (min + avg) under an
    oracle gate, on the same mutable-key scaffold as
    ``cdc_incremental_view_roles``: min maintains with the removal-side
    regression fallback (max's mirror), avg maintains invertibly via
    hidden sum/cnt companions with SQL null semantics. Algebraic
    per-batch ticks must equal the from-scratch rollup of the full
    replay."""
    from ..operators.views import ViewSpec, create_view_table, refresh_view

    spec = ViewSpec(
        "role_minavg",
        "role string",
        {
            "n_turns": ("count", "long"),
            "first_ts": ("min", "ts", "timestamp"),
            "avg_chars": ("avg", "length(text)", "double"),
        },
    )
    down = create_view_table(
        spark, _gate_tmpdir("gate_ivma_"), spec, n_buckets=4
    )

    def _tick(i, lake):
        r = refresh_view(lake, down, spec, mode="algebraic")
        assert r["applied"], r

    _replay_lake_mow(spark, sf_dir, "gate_ivmal_", on_batch=_tick)
    return down.read(user_cols=True).select(
        "role",
        "n_turns",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "first_ts_str"
        ),
        F.round("avg_chars", 6).alias("avg_chars"),
    )


def q_cdc_windowed_op_counts(spark, sf_dir):
    """The streaming windowed-agg OPERATOR (streaming/stateful.py:
    windowed_op_counts — tumbling event-time windows + watermark) under
    an oracle gate: in batch mode the watermark is a no-op and the
    tumbling window is exactly date_trunc('minute'), so the SAME
    operator function is checkable against plain SQL."""
    from ..streaming.stateful import windowed_op_counts

    b = derived_binlog(spark, sf_dir)
    w = windowed_op_counts(b, "1 minute", "2 minutes")
    return w.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias(
            "win_start_str"
        ),
        "op",
        F.col("n").cast("long").alias("n"),
    )


QUERIES = {
    "cdc_binlog_derive": q_cdc_binlog_derive,
    "cdc_lww_apply_mor": q_cdc_lww_apply_mor,
    "cdc_time_travel": q_cdc_time_travel,
    "cdc_change_feed": q_cdc_change_feed,
    "cdc_change_feed_pre": q_cdc_change_feed_pre,
    "cdc_incremental_projection": q_cdc_incremental_projection,
    "cdc_incremental_view_roles": q_cdc_incremental_view_roles,
    "cdc_incremental_view_minavg": q_cdc_incremental_view_minavg,
    "cdc_windowed_op_counts": q_cdc_windowed_op_counts,
    "cdc_fanout_summary": q_cdc_fanout_summary,
    "cdc_lww_apply": q_cdc_lww_apply,
    "cdc_lww_tiebreak": q_cdc_lww_tiebreak,
    "cdc_dedup_lsn": q_cdc_dedup_lsn,
    "cdc_hwm_filter": q_cdc_hwm_filter,
    "cdc_schema_evolution": q_cdc_schema_evolution,
    "cdc_lineage_metrics": q_cdc_lineage_metrics,
    "cdc_delete_reinsert": q_cdc_delete_reinsert,
    "cdc_salted_distribution": q_cdc_salted_distribution,
}

ORACLES = {
    "cdc_binlog_derive": f"""
SELECT lsn, op, conv_id, turn_idx, role, text, tool, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM ({_BINLOG_SQL})
""",
    "cdc_fanout_summary": f"""
WITH binlog AS ({_BINLOG_SQL}),
turns AS (
  SELECT 'turns' AS tbl, count(*) AS n_rows,
         CAST(sum(lsn) AS BIGINT) AS metric
  FROM binlog
),
convs AS (
  SELECT 'convs' AS tbl, count(*) AS n_rows,
         CAST(sum(cnt) AS BIGINT) AS metric
  FROM (SELECT conv_id, count(*) AS cnt FROM binlog GROUP BY conv_id)
),
edges AS (
  SELECT 'edges' AS tbl, count(*) AS n_rows,
         CAST(sum(lsn_min) AS BIGINT) AS metric
  FROM (SELECT conv_id, turn_idx, min(lsn) AS lsn_min
        FROM binlog GROUP BY conv_id, turn_idx)
),
lin AS (
  SELECT 'lineage' AS tbl, CAST(1 AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN op IN ('I','U','D') THEN 1 ELSE 0 END)
              AS BIGINT) AS metric
  FROM binlog
)
SELECT * FROM turns UNION ALL SELECT * FROM convs
UNION ALL SELECT * FROM edges UNION ALL SELECT * FROM lin
""",
    "cdc_lww_apply": _LWW_SQL,
    # the merge-on-read lake replay must converge to the SAME final
    # state the sequential-replay SQL describes
    "cdc_lww_apply_mor": _LWW_SQL,
    # a mid-replay snapshot must expose exactly the lsn-prefix state
    "cdc_time_travel": _lww_state_sql(f"lsn <= {_CUT_SQL}"),
    # incremental view maintenance == full recompute over the converged
    # winners (the relay applied one tick per upstream micro-batch)
    "cdc_incremental_projection": f"""
WITH winners AS ({_LWW_SQL}),
roll AS (
  SELECT conv_id,
         CAST(count(*) AS INT) AS n_turns,
         CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_tool_turns,
         max(ts_str) AS last_ts_str,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars
  FROM winners GROUP BY conv_id
)
SELECT 'recompute' AS mode, * FROM roll
UNION ALL
SELECT 'algebraic' AS mode, * FROM roll
""",
    "cdc_change_feed": _change_feed_sql(with_images=False),
    "cdc_change_feed_pre": _change_feed_sql(with_images=True),
    "cdc_windowed_op_counts": f"""
WITH binlog AS ({_BINLOG_SQL})
SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
         AS win_start_str,
       op,
       CAST(count(*) AS BIGINT) AS n
FROM binlog GROUP BY 1, 2
""",
    "cdc_lww_tiebreak": f"""
WITH binlog AS (
  SELECT lsn, op, conv_id, turn_idx, date_trunc('hour', ts) AS ts
  FROM ({_BINLOG_SQL})
),
last_d AS (
  SELECT conv_id, turn_idx, max(lsn) AS d_lsn
  FROM binlog WHERE op = 'D' GROUP BY conv_id, turn_idx
),
live AS (
  SELECT b.* FROM binlog b
  LEFT JOIN last_d d ON b.conv_id = d.conv_id AND b.turn_idx = d.turn_idx
  WHERE b.op <> 'D' AND (d.d_lsn IS NULL OR b.lsn > d.d_lsn)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
  FROM live
)
SELECT conv_id, turn_idx, lsn AS win_lsn, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM ranked WHERE rn = 1
""",
    "cdc_dedup_lsn": f"""
WITH binlog AS ({_BINLOG_SQL}),
dup AS (SELECT * FROM binlog UNION ALL SELECT * FROM binlog),
uniq AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY lsn ORDER BY lsn) AS rn FROM dup
  ) WHERE rn = 1
)
SELECT op, count(*) AS n, min(lsn) AS min_lsn, max(lsn) AS max_lsn
FROM uniq GROUP BY op
""",
    "cdc_hwm_filter": f"""
WITH binlog AS ({_BINLOG_SQL}),
wm AS (
  SELECT max(lsn) AS hwm, count(*) AS n_events,
         min(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS first_ts_str,
         max(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS last_ts_str
  FROM binlog
)
SELECT op, count(*) AS n, min(lsn) AS min_lsn,
       any_value(wm.hwm) AS hwm, any_value(wm.n_events) AS n_events,
       any_value(wm.first_ts_str) AS first_ts_str,
       any_value(wm.last_ts_str) AS last_ts_str
FROM binlog CROSS JOIN wm WHERE lsn > 5000 GROUP BY op
""",
    "cdc_schema_evolution": f"""
WITH binlog AS ({_BINLOG_SQL}),
v1 AS (SELECT lsn, op, conv_id, turn_idx, role, text,
              CAST(NULL AS VARCHAR) AS tool, ts
       FROM binlog WHERE lsn < 5000),
v2 AS (SELECT * FROM binlog WHERE lsn >= 5000),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT (lsn >= 5000) AS evolved, count(*) AS n,
       CAST(sum(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_null
FROM merged GROUP BY 1
""",
    # composite: 'resurrect' rows (row-level delete/reinsert) + cell-
    # level LWW 'patch_state' rows. The patch fold per column: among
    # rows where the cell was EXPLICITLY written (full image op='I', or
    # a partial image that carries the column non-null) and that land
    # after the key's last delete, take the (ts, lsn)-max write — its
    # value may be an explicit null (an I wrote null). first_value
    # ordered by (written DESC, ts DESC, lsn DESC) is exactly that, and
    # yields null when no explicit write survives the delete.
    "cdc_delete_reinsert": f"""
WITH binlog AS ({_BINLOG_SQL}),
last_d AS (
  SELECT conv_id, turn_idx, max(lsn) AS d_lsn
  FROM binlog WHERE op = 'D' GROUP BY conv_id, turn_idx
),
live AS (
  SELECT b.*, d.d_lsn FROM binlog b
  JOIN last_d d ON b.conv_id = d.conv_id AND b.turn_idx = d.turn_idx
  WHERE b.op <> 'D' AND b.lsn > d.d_lsn
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
  FROM live
),
resurrect AS (
  SELECT 'resurrect' AS tag, conv_id, turn_idx, lsn AS win_lsn, d_lsn,
         CAST(NULL AS VARCHAR) AS role, CAST(NULL AS VARCHAR) AS text,
         CAST(NULL AS VARCHAR) AS tool, CAST(NULL AS VARCHAR) AS ts_str
  FROM ranked WHERE rn = 1
),
pb AS (
  SELECT lsn, op, conv_id, turn_idx,
         CASE WHEN op = 'U' AND lsn % 2 = 0 THEN NULL ELSE role END AS role,
         text,
         CASE WHEN op = 'U' AND lsn % 3 = 0 THEN NULL ELSE tool END AS tool,
         ts
  FROM binlog
),
pd AS (
  SELECT conv_id, turn_idx,
         coalesce(max(CASE WHEN op = 'D' THEN lsn END), -1) AS d
  FROM pb GROUP BY conv_id, turn_idx
),
plive AS (
  SELECT e.* FROM pb e
  JOIN pd ON e.conv_id = pd.conv_id AND e.turn_idx = pd.turn_idx
  WHERE e.op <> 'D' AND e.lsn > pd.d
),
cells AS (
  SELECT conv_id, turn_idx, lsn, ts,
    row_number() OVER (PARTITION BY conv_id, turn_idx
      ORDER BY ts DESC, lsn DESC) AS rn,
    first_value(role) OVER (PARTITION BY conv_id, turn_idx
      ORDER BY (CASE WHEN op = 'I' OR role IS NOT NULL THEN 1 ELSE 0 END)
        DESC, ts DESC, lsn DESC) AS role_f,
    first_value(text) OVER (PARTITION BY conv_id, turn_idx
      ORDER BY (CASE WHEN op = 'I' OR text IS NOT NULL THEN 1 ELSE 0 END)
        DESC, ts DESC, lsn DESC) AS text_f,
    first_value(tool) OVER (PARTITION BY conv_id, turn_idx
      ORDER BY (CASE WHEN op = 'I' OR tool IS NOT NULL THEN 1 ELSE 0 END)
        DESC, ts DESC, lsn DESC) AS tool_f
  FROM plive
),
patch_state AS (
  SELECT 'patch_state' AS tag, conv_id, turn_idx, lsn AS win_lsn,
         CAST(NULL AS BIGINT) AS d_lsn, role_f AS role, text_f AS text,
         tool_f AS tool,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
  FROM cells WHERE rn = 1
)
SELECT * FROM resurrect UNION ALL SELECT * FROM patch_state
""",
    "cdc_salted_distribution": f"""
SELECT conv_id, CAST(lsn % 8 AS INT) AS salt, count(*) AS n
FROM ({_BINLOG_SQL}) GROUP BY conv_id, salt
""",
    "cdc_lineage_metrics": f"""
SELECT CAST(lsn % 16 AS INT) AS bucket, count(*) AS n_events,
       min(lsn) AS lsn_min, max(lsn) AS lsn_max,
       count(DISTINCT conv_id || '#' || CAST(turn_idx AS VARCHAR)) AS n_keys
FROM ({_BINLOG_SQL}) GROUP BY bucket
""",
}

# the algebraic relay must satisfy the SAME oracle as the recompute one

ORACLES["cdc_incremental_view_roles"] = f"""
WITH winners AS ({_LWW_SQL})
SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
       max(ts_str) AS last_ts_str
FROM winners GROUP BY role
"""
ORACLES["cdc_incremental_view_minavg"] = f"""
WITH winners AS ({_LWW_SQL})
SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
       min(ts_str) AS first_ts_str,
       round(sum(length(text)) * 1.0
             / nullif(count(length(text)), 0), 6) AS avg_chars
FROM winners GROUP BY role
"""
