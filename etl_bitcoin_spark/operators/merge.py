"""CDC MERGE core: last-writer-wins keyed upsert with tombstones.

The oracle semantics (FIXTURES.md §3) are a sequential replay in ``lsn``
order: I/U upserts a key iff its ``(ts, lsn)`` >= the stored row's; D
always removes the key. Per key this folds to a closed form:

    final(key) = argmax_(ts, lsn) { e : e.op != 'D', e.lsn > last_d_lsn }

where ``last_d_lsn`` is the greatest lsn of any D for the key (-1 if
none). Proof sketch: after the last D the state is empty; among the
following I/U events the (ts,lsn)-max always satisfies the apply
condition when reached and nothing later can beat it.

This closed form composes incrementally across micro-batches **provided
batches are ordered, non-overlapping LSN ranges** (the tailer guarantees
this by consuming whole segments in order; out-of-order delivery within
a segment — the generator's ooo_window — is absorbed because the whole
segment lands in one batch). Under that invariant, merging the stored
winner with a batch summary is exact:

  - a D anywhere in the batch tombstones the stored row (its lsn exceeds
    every stored lsn);
  - the batch's own post-last-D winner then competes with any surviving
    stored row by (ts desc, lsn desc).

Everything below is pure DataFrame ops — one window over the union of
stored rows and batch events per batch, keyed on the primary key, never
on conv_id alone, so a hot conv_id cannot skew a partition (turn_idx
participates in every hash). Catalyst/AQE handle the physical plan.

Reference analogs: DBTx buffered apply (neo4j_csv.go:84-117), in-batch
dedup set (neo4j_csv.go:97), resume watermark (neo4j_csv.go:62-79).
"""

from __future__ import annotations

import os
from typing import Any
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tableformat.lake import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
    patch_meta,
)

KEY_COLS = ["conv_id", "turn_idx"]
TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
BINLOG_DDL = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)
VALUE_COLS = ["role", "text", "tool", "ts"]

# DDL string -> [(name, dataType)]: parsing a DDL through an empty
# createDataFrame costs ~90 ms of py4j per call, paid on every trigger
_DDL_FIELDS: dict[str, list] = {}


def _ddl_fields(spark, ddl: str) -> list:
    fields = _DDL_FIELDS.get(ddl)
    if fields is None:
        fields = _DDL_FIELDS[ddl] = [
            (f.name, f.dataType) for f in spark.createDataFrame([], ddl).schema
        ]
    return fields


def reconcile_schema(df: DataFrame, ddl: str) -> DataFrame:
    """Additive schema reconciliation: project ``df`` onto the columns of
    ``ddl``, backfilling missing columns as typed nulls (the late-added
    ``tool`` column). Extra columns are dropped. Equivalent to
    ``unionByName(allowMissingColumns=True)`` against an empty frame but
    without the union node in the plan. A frame already in ``ddl``'s
    (name, type) order — a stream read with that schema — comes back
    unchanged."""
    fields = _ddl_fields(df.sparkSession, ddl)
    have_fields = [(f.name, f.dataType) for f in df.schema]
    if have_fields == fields:
        return df
    target = dict(fields)
    have = dict(have_fields)
    cols = []
    for name, dtype in target.items():
        if name in have:
            c = F.col(name)
            if have[name] != dtype:
                c = c.cast(dtype)
            cols.append(c.alias(name))
        else:
            cols.append(F.lit(None).cast(dtype).alias(name))
    return df.select(*cols)


def _resolve_union(
    unioned: DataFrame,
    n_buckets: int | None,
    key_cols: list[str] | None = None,
    lsn_stats=None,
    patch_cols: list[str] | None = None,
) -> DataFrame:
    """Tombstone-aware LWW resolution over a union of candidate rows
    (stored winners, stored tombstones, change events, merge-on-read
    delta rows). Per key: last_d = max lsn among deleted rows; winner =
    LWW(ts, lsn) among non-deleted rows with lsn > last_d; emit winner +
    one tombstone row. One key-partitioned window pass — a single
    shuffle. ``key_cols`` defaults to the transcripts key; tables
    without a ``ts`` column fall back to lsn-only LWW ordering.

    ``patch_cols`` adds CELL-level LWW (partial-image upserts): each
    listed column resolves independently to the value of its most
    recent explicit write — ``max(struct(ts, lsn, value))`` over cells
    written after the key's last delete. The fold is an unordered
    whole-partition aggregate on the SAME window partitioning (no extra
    shuffle, no extra sort), and — unlike a first-non-null scan in
    fold order — it is associative and commutative, so folding a batch
    into a summary delta and folding summaries into the base gives the
    SAME state as one full-history fold, under ANY batch interleaving
    (late ts, interleaved multi-writer lsns included). Cells written at
    or before the key's last tombstone never resurrect (the delete
    boundary applies per cell exactly as it does per row). Rows lacking
    provenance columns (pre-patch files, bootstrap snapshots) fall back
    to row-level provenance: a non-null value counts as written at the
    row's own (ts, lsn); a null value is absent."""
    keys = key_cols or KEY_COLS
    if n_buckets is not None:
        # Co-partition with the bucket layout: Spark's hash partitioner
        # IS pmod(hash(keys), N) = bucket_expr, so the window below
        # reuses this exchange and the partitionBy-bucket write emits
        # exactly ONE file per bucket.
        unioned = unioned.repartition(n_buckets, *keys)
    # ONE sort for the whole resolution: the ranking window sorts by
    # (keys, deleted, ts desc, lsn desc); every other window is an
    # UNORDERED whole-partition aggregate whose required ordering
    # (partition keys) is a prefix of that sort, so Catalyst adds no
    # further Sort nodes. (The previous 3-window formulation with two
    # different orderings cost two extra full sorts of the unioned
    # frame per batch.) Winner/tombstone selection happens by comparing
    # each row's rank against the per-key min rank of its class —
    # unordered min, not a second ordering.
    w = Window.partitionBy(*keys)
    order = [F.col(DELETED_COL).asc()]
    if "ts" in unioned.columns:
        order.append(F.col("ts").desc())
    order.append(F.col(LSN_COL).desc())
    w_ord = w.orderBy(*order)
    # Window nesting forces exactly three projection levels (a window
    # function cannot take another window's result as input within one
    # level), so the plan is built as three selects instead of a
    # withColumn chain — identical logical plan, ~40% fewer py4j
    # round-trips on the per-micro-batch plan-construction path (r7;
    # profiled ~0.17 s/trigger of driver time building this frame).
    has_evt = "__evt" in unioned.columns
    t = F.max(F.when(F.col(DELETED_COL), F.col(LSN_COL))).over(w)
    df = unioned.select(
        "*",
        F.row_number().over(w_ord).alias("__rn"),
        t.alias("__t"),
    )
    if lsn_stats is not None:
        # Global batch-lsn stats RIDE the resolution job (an
        # Observation), so the caller needs no separate
        # min/max/countDistinct pass over the batch. Exact-distinct
        # trick: duplicate lsns are exact row duplicates (the same event
        # redelivered), an lsn belongs to exactly one key, and the
        # ranking sort makes identical rows ADJACENT — so lag(lsn) over
        # the same (already-required) window ordering flags every extra
        # copy; distinct = count - sum(flags). Stored rows (tagged
        # __evt=false when present) never share an lsn with a surviving
        # event (the guard killed those), so they can neither be flagged
        # nor split a duplicate run. No extra shuffle, no extra sort, no
        # second job.
        evt = F.col("__evt") if has_evt else F.lit(True)
        dup = (
            F.coalesce(
                F.col(LSN_COL) == F.lag(LSN_COL).over(w_ord), F.lit(False)
            )
            & evt
        )
        df = df.withColumn("__dupl", dup.cast("long")).observe(
            lsn_stats,
            F.min(F.when(evt, F.col(LSN_COL))).alias("lo"),
            F.max(F.when(evt, F.col(LSN_COL))).alias("hi"),
            F.sum(evt.cast("long")).alias("n_rows"),
            F.sum("__dupl").alias("n_dup"),
            # events-per-key multiplicity sketch rides the same job —
            # pure telemetry (apply_batch results / commit metrics; a
            # sticky strategy switch fed by it was spiked and measured
            # slower end-to-end, see streaming/tailer.py)
            F.approx_count_distinct(
                F.when(evt, F.concat_ws("\x1f", *keys))
            ).alias("nk"),
        ).drop("__dupl")
    live = ~F.col(DELETED_COL) & (
        F.col(LSN_COL) > F.coalesce(F.col("__t"), F.lit(-1))
    )
    cells: list[tuple[str, str, str, str]] = []
    cell_exprs = []
    for c in patch_cols or []:
        pts, plsn = patch_meta(c)
        # explicit cell provenance, else (pre-patch rows) the row's own
        # position when the value is present; D rows carry no cells
        row_ts = (
            F.col("ts") if "ts" in unioned.columns
            else F.lit(None).cast("timestamp")
        )
        eff_t = F.coalesce(
            F.col(pts), F.when(F.col(c).isNotNull(), row_ts)
        )
        eff_l = F.coalesce(
            F.col(plsn), F.when(F.col(c).isNotNull(), F.col(LSN_COL))
        )
        cell_live = ~F.col(DELETED_COL) & (
            eff_l > F.coalesce(F.col("__t"), F.lit(-1))
        )
        name = f"__cell_{c}"
        cell_exprs.append(
            F.max(F.when(cell_live, F.struct(
                eff_t.alias("t"), eff_l.alias("l"), F.col(c).alias("v")
            ))).over(w).alias(name)
        )
        cells.append((c, pts, plsn, name))
    # first live row in (ts desc, lsn desc) order == the LWW winner
    is_tomb = F.col(DELETED_COL) & (F.col(LSN_COL) == F.col("__t"))
    df = df.select(
        "*",
        F.min(F.when(live, F.col("__rn"))).over(w).alias("__rw"),
        F.min(F.when(is_tomb, F.col("__rn"))).over(w).alias("__rt"),
        *cell_exprs,
    )
    keep_winner = live & (F.col("__rn") == F.col("__rw"))
    keep_tomb = is_tomb & (F.col("__rn") == F.col("__rt"))
    out = df.filter(keep_winner | keep_tomb)
    # final projection: original columns in order (engine helpers and
    # the __evt tag dropped), with each patch cell replaced by its
    # per-column winner (value + provenance); tombstone rows carry no
    # cells
    cell_out = {}
    for c, pts, plsn, name in cells:
        alive = ~F.col(DELETED_COL)
        cell_out[c] = F.when(alive, F.col(name)["v"]).alias(c)
        cell_out[pts] = F.when(alive, F.col(name)["t"]).alias(pts)
        cell_out[plsn] = F.when(alive, F.col(name)["l"]).alias(plsn)
    final = [
        cell_out.get(c, F.col(c))
        for c in unioned.columns
        if c != "__evt"
    ]
    return out.select(*final)


def events_as_rows(
    events: DataFrame, patch_cols: list[str] | None = None
) -> DataFrame:
    """Project change events into stored-row form (key, values, __lsn,
    __deleted): D events become tombstone rows, I/U keep their values.

    ``patch_cols`` enables PARTIAL-IMAGE semantics (Debezium-style
    updates that carry only changed columns): an ``op='U'`` event with a
    NULL patch column writes NOTHING to that cell (null = absent), while
    an ``op='I'`` full image writes EVERY patch column — including
    explicit nulls. The distinction is materialized as per-cell
    provenance (``__pts_c``/``__plsn_c`` non-null == an explicit write
    at that (ts, lsn)); absent cells carry null provenance and are
    invisible to the cell-LWW fold in ``_resolve_union``."""
    cols = [
        *KEY_COLS,
        *VALUE_COLS,
        F.col("lsn").alias(LSN_COL),
        (F.col("op") == F.lit("D")).alias(DELETED_COL),
    ]
    for c in patch_cols or []:
        pts, plsn = patch_meta(c)
        written = (F.col("op") == F.lit("I")) | (
            (F.col("op") == F.lit("U")) & F.col(c).isNotNull()
        )
        cols.append(F.when(written, F.col("ts")).alias(pts))
        cols.append(F.when(written, F.col("lsn")).alias(plsn))
    return events.select(*cols)


def merge_batch_direct(
    stored: DataFrame,
    events: DataFrame,
    n_buckets: int | None = None,
    lsn_stats=None,
    patch_cols: list[str] | None = None,
) -> DataFrame:
    """Fused merge: stored rows participate directly as pseudo-events
    (tombstones as D, winners as U with their original lsn), so the
    batch summary and the merge into stored state are ONE window over
    one shuffle. With ``lsn_stats`` the batch's lsn stats ride the merge
    job (events tagged, stored rows excluded)."""
    prov = [p for c in patch_cols or [] for p in patch_meta(c)]
    st_rows = stored.select(
        *KEY_COLS, *VALUE_COLS, *prov, LSN_COL, DELETED_COL
    )
    ev_rows = events_as_rows(events, patch_cols)
    if lsn_stats is not None:
        st_rows = st_rows.withColumn("__evt", F.lit(False))
        ev_rows = ev_rows.withColumn("__evt", F.lit(True))
    return _resolve_union(
        st_rows.unionByName(ev_rows), n_buckets, lsn_stats=lsn_stats,
        patch_cols=patch_cols,
    )


def sparse_lsn_islands(distinct_lsns: DataFrame) -> list[list[int]]:
    """Coalesce a frame of DISTINCT lsns into sorted [lo, hi] islands —
    DISTRIBUTED: lsns range-partition, each partition finds its own
    islands with vectorized numpy diffs inside mapInPandas (batches
    arrive partition-ordered after sortWithinPartitions), and the
    driver merges only the O(#islands + #partitions) boundary ranges.
    No global single-partition Window anywhere: a 10^7-row late
    backfill delivered out of order coalesces across the cluster, not
    through one task."""
    import numpy as np
    import pandas as pd

    sc = distinct_lsns.sparkSession.sparkContext
    parts = max(2, int(sc.defaultParallelism))
    d = distinct_lsns.repartitionByRange(parts, "lsn").sortWithinPartitions(
        "lsn"
    )

    def _islands(batches):
        vals: list[np.ndarray] = []
        for pdf in batches:
            if len(pdf):
                vals.append(pdf["lsn"].to_numpy(dtype=np.int64))
        if not vals:
            yield pd.DataFrame({"lo": pd.Series([], dtype="int64"),
                                "hi": pd.Series([], dtype="int64")})
            return
        a = np.concatenate(vals)
        # partition-local gaps: island starts where the sorted sequence
        # jumps by more than 1
        brk = np.flatnonzero(np.diff(a) != 1)
        lo = np.concatenate(([a[0]], a[brk + 1]))
        hi = np.concatenate((a[brk], [a[-1]]))
        yield pd.DataFrame({"lo": lo, "hi": hi})

    rows = d.mapInPandas(_islands, "lo long, hi long").collect()
    from ..tableformat.lake import _merge_ranges

    return _merge_ranges([[int(r["lo"]), int(r["hi"])] for r in rows])


# raw-plan lineage: batches at or below this many rows compute their
# distinct-lsn islands on the DRIVER from the staged delta files (a few
# small column reads + numpy — microseconds, no Spark job); larger
# batches (bulk backfills through the raw plan) run the distributed
# islands job over the same files. 5M longs = 40 MB driver peak.
RAW_LINEAGE_DRIVER_MAX = 5_000_000


def _lsn_islands(lsns) -> list[list[int]]:
    """Sorted [lo, hi] islands of the DISTINCT values of an lsn array
    (numpy; duplicates collapse, gaps split)."""
    import numpy as np

    u = np.unique(np.asarray(lsns, dtype="int64"))
    if not len(u):
        return []
    brk = np.flatnonzero(np.diff(u) > 1)
    lo = np.concatenate(([u[0]], u[brk + 1]))
    hi = np.concatenate((u[brk], [u[-1]]))
    return [[int(a), int(b)] for a, b in zip(lo, hi)]


def _staged_lsn_islands(spark, staged_files: list[str], n_rows: int):
    """Exact distinct-lsn islands of a freshly-staged raw delta batch,
    read from the staged files themselves — duplicates and gaps are
    OBSERVED, never inferred from counts, so the raw plan needs no
    uniqueness contract from the producer."""
    import numpy as np

    if n_rows <= RAW_LINEAGE_DRIVER_MAX:
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def _lsns(p):
            return (
                pq.read_table(p, columns=[LSN_COL])[LSN_COL]
                .to_numpy(zero_copy_only=False)
            )

        # The GIL releases inside parquet decode, so threads cut the
        # per-file setup tax (~2-5 ms x n_files serial) to ~one file's.
        with ThreadPoolExecutor(
            max_workers=min(16, max(1, len(staged_files)))
        ) as ex:
            cols = list(ex.map(_lsns, staged_files))
        return _lsn_islands(
            np.concatenate(cols) if cols else np.array([], dtype="int64")
        )
    df = (
        spark.read.parquet(*staged_files)
        .select(F.col(LSN_COL).alias("lsn"))
        .distinct()
    )
    return sparse_lsn_islands(df)


# BINLOG_DDL as the Arrow types Spark's reader yields for it
_BINLOG_ARROW = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _wal_files(events) -> list[str] | None:
    """Local parquet paths behind ``events``: the list itself, or the
    ``inputFiles()`` of a frame whose optimized plan is a bare,
    unpartitioned parquet scan read with BINLOG_DDL's schema. None for
    anything else (a filtered or RDD-backed frame, a non-``file:``
    URI)."""
    if isinstance(events, list):
        return events
    try:
        plan = events._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if (
            rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"
            or len(rel.partitionSchema().fields()) != 0
        ):
            return None
        if [(f.name, f.dataType) for f in events.schema] != _ddl_fields(
            events.sparkSession, BINLOG_DDL
        ):
            return None
        uris = events.inputFiles()
    except (AttributeError, Py4JError):
        return None
    paths = []
    for uri in uris:
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        paths.append(unquote(u.path))
    return paths


def _read_wal(paths: list[str]) -> pa.Table:
    """The WAL files as one Arrow table in BINLOG_DDL's shape, as Spark's
    reader gives them: a missing column is null, a tz-naive ``ts`` is
    the same wall time in UTC. Raises on anything Spark might read
    differently (another type, a name differing only in case)."""
    from concurrent.futures import ThreadPoolExecutor

    def _one(path):
        t = pq.ParquetFile(path).read(use_threads=False)
        names = set(t.column_names)
        lower = {n.lower() for n in names}
        cols = []
        for f in _BINLOG_ARROW:
            if f.name not in names:
                if f.name in lower:
                    raise ValueError(f"{path}: column {f.name} differs in case")
                cols.append(pa.nulls(t.num_rows, f.type))
                continue
            c = t.column(f.name)
            typ = c.type
            if pa.types.is_large_string(typ):
                c = c.cast(pa.string())
            elif pa.types.is_timestamp(typ) and f.name == "ts":
                if typ.unit not in ("ms", "us"):
                    raise ValueError(f"{path}: ts unit {typ.unit}")
                c = c.cast(f.type)  # naive reads as UTC; aware keeps its instant
            elif typ != f.type:
                raise ValueError(f"{path}: {f.name} is {typ}")
            cols.append(c)
        return pa.Table.from_arrays(cols, schema=_BINLOG_ARROW)

    if not paths:
        return _BINLOG_ARROW.empty_table()
    with ThreadPoolExecutor(max_workers=min(8, len(paths))) as ex:
        return pa.concat_tables(list(ex.map(_one, paths)))


def _event_rows_arrow(t: pa.Table,
                      patch_cols: list[str] | None) -> pa.Table:
    """``events_as_rows`` over an Arrow table, with Spark's null
    semantics (a null ``op`` gives a null ``__deleted`` and no cell
    provenance)."""
    import pyarrow.compute as pc

    op = t.column("op")
    cols = {c: t.column(c) for c in (*KEY_COLS, *VALUE_COLS)}
    cols[LSN_COL] = t.column("lsn")
    cols[DELETED_COL] = pc.equal(op, "D")
    for c in patch_cols or []:
        pts, plsn = patch_meta(c)
        written = pc.or_kleene(
            pc.equal(op, "I"),
            pc.and_kleene(pc.equal(op, "U"), pc.is_valid(t.column(c))),
        )
        for name, src in ((pts, "ts"), (plsn, "lsn")):
            v = t.column(src)
            cols[name] = pc.if_else(written, v, pa.scalar(None, v.type))
    return pa.table(cols)


def _driver_rows(lake: LakeTable, events, guard, hwm: int, n_buckets: int,
                 patch_cols: list[str] | None) -> pa.Table | None:
    """The raw delta plan's Arrow stager input: the batch's WAL files,
    when their bytes are at most the table session's
    ``spark.sql.autoBroadcastJoinThreshold`` (the figure Spark's own
    file-scan estimate gives), read with pyarrow, guarded in numpy,
    projected to stored rows and bucketed by the Murmur3 port. None
    sends the batch to the Spark stager: no file list, over the bound,
    a guard without ``mask``, a null lsn, or a file or key the driver
    path does not read exactly as Spark would."""
    files = _wal_files(events)
    if files is None or not (guard is None or hasattr(guard, "mask")):
        return None
    try:
        limit = int(
            lake.spark._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
        if not 0 <= sum(os.path.getsize(p) for p in files) <= limit:
            return None
        t = _read_wal(files)
        lsn = t.column("lsn")
        if lsn.null_count:
            return None
        lsn = lsn.to_numpy()
        keep = lsn > hwm if guard is None else guard.mask(lsn)
        if not keep.all():
            t = t.filter(pa.array(keep))
        rows = _event_rows_arrow(t, patch_cols)
        bucket = lake.bucket_array(rows, n_buckets, KEY_COLS)
    except (OSError, ValueError, TypeError, pa.ArrowException, Py4JError):
        return None
    return rows.append_column(BUCKET_COL, pa.array(bucket, pa.int32()))


def _observed_lineage(obs, ev: DataFrame, out: dict[str, Any],
                      lsn_range_hint=None):
    """Deferred commit lineage for the plans whose batch-lsn stats ride
    the resolution job as an Observation (``_resolve_union``
    lsn_stats): once the write action ran, fill ``out`` with the
    batch's events/multiplicity/lsn_range and return the commit's
    ``(lsn_range, lsn_ranges)``."""

    def _lineage(_staged):
        got = obs.get
        n = int(got["n_rows"] or 0) - int(got["n_dup"] or 0)
        out["events"] = n
        nk = int(got["nk"] or 0)
        out["multiplicity"] = (n / nk) if nk else 1.0
        if n == 0:
            return None, None
        lo, hi = int(got["lo"]), int(got["hi"])
        out["lsn_range"] = [lo, hi]
        if lsn_range_hint is not None:
            return lsn_range_hint, None
        if n == hi - lo + 1:
            return (lo, hi), None
        # sparse late batch (rare path): exact islands, extra job
        return None, sparse_lsn_islands(ev.select("lsn").distinct())

    return _lineage


def apply_batch(
    lake: LakeTable,
    events: DataFrame | list[str],
    batch_id: str,
    already_applied_filter=None,
    assume_all_buckets: bool = False,
    lsn_range_hint: tuple[int, int] | None = None,
    merge_mode: str = "write",
    delta_plan: str = "summary",
    key_bloom: bool = False,
    ref: str = "main",
) -> dict[str, Any]:
    """Apply one micro-batch of change events to the lake table.

    Steps: exactly-once guards (batch_id replay -> no-op; HWM + exact
    range dedup on lsn; in-batch duplicate drop), batch LWW summary,
    bucket-pruned read of affected stored state, tombstone+LWW merge,
    atomic bucket-replacing commit carrying lineage.

    ``merge_mode="read"`` is the merge-on-read latency path: the batch
    collapses to per-key winner+tombstone summary rows (one shuffle)
    APPENDED as per-bucket delta files — no stored-state read, no bucket
    rewrite, no bucket-discovery job. ``lake.read`` resolves deltas with
    the identical LWW algebra, so the visible state matches
    merge-on-write exactly (see module docstring: one-shot resolution
    over base ∪ delta summaries equals sequential replay); pair with
    ``lake.compact_deltas`` to bound read amplification.

    ``key_bloom=True`` records per-file key Blooms on every commit
    this batch makes (base rewrites AND delta files) — the point-lookup
    serving path (``lake.read(keys=["conv_..."])`` — "fetch this
    conversation") then skips files the Bloom proves clean. Opt-in:
    building a Bloom reads the fresh file's key column once, a tax the
    sub-second raw-delta tail should not pay unless lookups matter.

    ``delta_plan`` (merge_mode="read" only): "summary" collapses the
    batch to per-key rows through the resolution window (one exchange +
    one sort, one delta file per touched BUCKET); "raw" appends the
    batch's rows AS the delta — the summary plan MINUS the sort and
    the resolution window: one sort-free exchange into one even WAVE
    of K tasks (K = cluster width capped by bucket count, K dividing
    n_buckets) writing K mod-shard files registered across their
    member buckets — a 4096-bucket table on 32 cores writes 32
    files/batch, not 4096. STATE is identical either way:
    read-time resolution applies the same LWW algebra to whatever
    candidate rows the deltas hold, so raw deltas resolve exactly like
    summaries (they just carry one row per EVENT instead of per key —
    the right trade at ~1 event/key, the CDC steady state; the
    streaming tailer flips back to "summary" when the ridden
    multiplicity signal reports a storm). LINEAGE under "raw" is EXACT
    with no producer contract: the per-batch distinct-lsn islands are
    computed from the staged rows themselves, so in-batch duplicates
    and gaps are both observed directly instead of inferred from
    counts.

    "raw" has two STAGERS; the result's ``"stage"`` names the one that
    ran. The Arrow stager runs no Spark job. It takes a batch given as
    WAL parquet files — ``events`` as a list of paths, or a frame that
    is a bare parquet scan (``inputFiles()``) — whose bytes total at
    most the table session's ``spark.sql.autoBroadcastJoinThreshold``
    (the size Spark's file-scan estimate gives; ~1.6 MB for a
    40k-event live-tail trigger). pyarrow reads the files on the driver
    in BINLOG_DDL's shape, the guard runs as a numpy mask
    (``ExactlyOnceFilter.mask``, or ``lsn > hwm`` without one),
    ``events_as_rows`` projects in Arrow and ``LakeTable.bucket_array``
    (a bit-exact port of Spark's Murmur3 ``hash``) buckets the rows;
    pyarrow then writes the K shard files (one thread each, the Spark
    writer's physical schema). Islands and the exact events-per-key
    multiplicity come from the driver's columns. The Spark stager keeps
    the exchange plus partitioned write described above, with islands
    read back from the staged files (driver numpy, a distributed job
    past RAW_LINEAGE_DRIVER_MAX rows) and an HLL multiplicity sketch
    riding the write. It takes batches over the bound, frames that are
    not bare scans (e.g. RDD-backed or filtered), a guard without
    ``mask``, anything the driver read cannot take exactly as Spark
    would (a non-``file:`` URI, a column type Spark might read
    differently, a null lsn, a key type the hash port lacks),
    ``key_bloom=True`` batches (pyarrow writes no parquet-native bloom)
    and every "raw-scan" batch. A path list bound for Spark is read
    with BINLOG_DDL's schema.

    Multi-writer note: concurrent writers with interleaved lsn ranges
    MUST pass an ``already_applied_filter`` (state.ExactlyOnceFilter) —
    the default ordered-replay fast path (``lsn > hwm``) assumes batches
    arrive in lsn order and would misclassify a slower writer's lower
    lsns as duplicates once a faster writer advances the HWM. The commit
    itself is CAS-protected: disjoint-bucket writers rebase, overlapping
    writers get CommitConflict and must recompute.
    """
    if delta_plan not in ("summary", "raw", "raw-scan"):
        raise ValueError(f"unknown delta_plan {delta_plan!r}")
    snap = lake.snapshot(ref=ref)
    if lake._batch_applied(snap, batch_id):
        return {"applied": False, "reason": "duplicate batch_id"}
    n_buckets = snap["n_buckets"]
    hwm = snap["lineage"]["hwm"]
    patch_cols = snap.get("patch_cols") or None

    # Arrow stager (see docstring): a driver-sized "raw" batch is read,
    # guarded and bucketed on the driver — no Spark job at all. Key
    # Blooms need the parquet-native bloom only Spark's writer embeds.
    tbl = (
        _driver_rows(lake, events, already_applied_filter, hwm, n_buckets,
                     patch_cols)
        if merge_mode == "read" and delta_plan == "raw" and not key_bloom
        else None
    )
    if tbl is None:
        if isinstance(events, list):
            events = (
                lake.spark.read.schema(BINLOG_DDL).parquet(*events)
                if events else lake.spark.createDataFrame([], BINLOG_DDL)
            )
        ev = reconcile_schema(events, BINLOG_DDL)
        if already_applied_filter is not None:
            # Exact guard (HWM fast-path + Bloom + applied-range
            # membership): late batches survive, true duplicates die.
            ev = already_applied_filter(ev)
        else:
            # Ordered-replay fast path: batches are guaranteed ordered
            # LSN ranges, so everything at or below the HWM is a
            # duplicate.
            ev = ev.filter(F.col("lsn") > F.lit(hwm))

    if merge_mode == "read" and delta_plan in ("raw", "raw-scan"):
        # Sub-second fast path: NO sort, NO resolution window — the
        # guarded batch appends AS the delta (see docstring). One
        # sort-free exchange into K = one even WAVE of tasks (cluster
        # width, capped by bucket count) keeps the parquet ENCODE
        # parallel while collapsing per-batch overhead to K files
        # (mod-shard registration — profiled: at 64 buckets / 8 cores /
        # 125k rows, 8 shard files write in 0.77 s where 64 per-bucket
        # files from 32 tasks took 1.14 s; task launches and parquet
        # writer setups were the floor, not the exchange). K must
        # divide n_buckets so task t holds exactly shard t; a
        # pathological bucket count (largest divisor 1) falls back to
        # per-bucket files at the configured shuffle width.
        # The multiplicity sketch (approx nk) rides the write so the
        # tailer's sticky signal flips a storm back to the summary
        # plan; exact lineage comes from the staged files themselves.
        # "raw-scan" (r7, guide §2.4 — remove shuffles outright): the
        # bulk-BACKFILL variant drops the exchange entirely; each SCAN
        # task writes its own file, registered as a shard_mod=1
        # generation (every bucket's rows may appear in every file —
        # row-level bucket derivation keeps reads exact, as with any
        # shared delta file). Right when the deltas are about to be
        # folded anyway (replay's final merge-on-write batch): zero
        # shuffles moved per append, file count = input splits. The
        # sharded "raw" layout stays the STREAMING default — its K-file
        # bound and residue membership serve read-amp and point
        # lookups between compactions, worth one sort-free exchange.
        if delta_plan == "raw-scan":
            shard_k = 1
        else:
            width = max(1, int(lake.spark.sparkContext.defaultParallelism))
            cap = min(width, n_buckets)
            shard_k = next(
                (d for d in range(cap, 0, -1) if n_buckets % d == 0), 1
            )
        stage = "spark" if tbl is None else "arrow"
        out: dict[str, Any] = {"delta_plan": delta_plan, "stage": stage}

        def _record(n_rows: int, distinct_keys, islands):
            """Fill ``out`` from the staged batch (row count, distinct-
            key and island thunks) and return the commit lineage."""
            if n_rows == 0:
                out["events"] = 0
                out["multiplicity"] = 1.0
                return None, None
            if lsn_range_hint is not None:
                # The caller OWNS the lsn window (replay's ordered
                # full-width batches) — same trust, and the same
                # dense-span events convention, as the hinted
                # merge-on-write path has always used (events =
                # hi-lo+1, so redelivered copies inside the window
                # never inflate throughput accounting). Skips the
                # island pass entirely (r7: at 16M-row backfill batches
                # that pass was a distributed distinct job per batch).
                lo_h, hi_h = int(lsn_range_hint[0]), int(lsn_range_hint[1])
                n = hi_h - lo_h + 1
                out["lsn_range"] = [lo_h, hi_h]
                lineage = lsn_range_hint, None
            else:
                isl = islands()
                n = sum(hi_ - lo_ + 1 for lo_, hi_ in isl)
                out["lsn_range"] = [isl[0][0], isl[-1][1]]
                lineage = (
                    (tuple(isl[0]), None) if len(isl) == 1 else (None, isl)
                )
            out["events"] = n
            nk = distinct_keys()
            out["multiplicity"] = (n / nk) if nk else 1.0
            return lineage

        if tbl is not None:
            # exact lineage and multiplicity from the driver's columns:
            # no staged-file re-read, no HLL sketch
            content = tbl

            def _lineage(_staged_files):
                return _record(
                    tbl.num_rows,
                    lambda: tbl.group_by(KEY_COLS).aggregate([]).num_rows,
                    lambda: _lsn_islands(tbl.column(LSN_COL).to_numpy()),
                )
        else:
            from pyspark.sql import Observation

            obs = Observation()
            content = events_as_rows(ev, patch_cols).withColumn(
                BUCKET_COL, lake.bucket_expr(n_buckets, KEY_COLS)
            ).observe(
                obs,
                F.count(F.lit(1)).alias("n_rows"),
                F.approx_count_distinct(
                    F.concat_ws("\x1f", *KEY_COLS)
                ).alias("nk"),
            )
            if delta_plan == "raw-scan":
                pass  # no exchange: scan partitions write as-is
            elif shard_k > 1:
                # K | n_buckets: partitions ARE the shards (see comment)
                content = content.repartition(shard_k, *KEY_COLS)
            else:
                p_conf = int(
                    lake.spark.conf.get("spark.sql.shuffle.partitions", "0")
                    or 0
                )
                content = content.repartition(
                    p_conf or n_buckets, *KEY_COLS
                )

            def _lineage(staged_files):
                if not staged_files:
                    # Fully-duplicate batch: nothing staged. Don't touch
                    # the Observation — a foreachBatch plan that
                    # collapses to an empty relation (AQE empty
                    # propagation) drops the CollectMetrics node, so
                    # obs.get would see an EMPTY metrics row and raise.
                    return _record(0, None, None)
                try:
                    got = obs.get
                    n_rows = int(got["n_rows"] or 0)
                    nk = int(got["nk"] or 0)
                except Exception:
                    # Metrics node optimized out despite staged rows
                    # (defensive — not observed in practice): stay exact
                    # from the staged footers (local reads, ~0.5
                    # ms/file).
                    import pyarrow.parquet as _pq

                    n_rows = sum(
                        _pq.read_metadata(p).num_rows for p in staged_files
                    )
                    nk = 0
                return _record(
                    n_rows,
                    lambda: nk,
                    lambda: _staged_lsn_islands(
                        lake.spark, staged_files, n_rows
                    ),
                )

        ok = lake.commit(
            content,
            [],
            batch_id,
            metrics={
                "merge_mode": "read", "delta_plan": delta_plan,
                "stage": stage,
            },
            mode="delta",
            lineage_fn=_lineage,
            shard_mod=(
                1 if delta_plan == "raw-scan"
                else (shard_k if shard_k > 1 else None)
            ),
            compression="zstd",
            key_bloom=key_bloom,
            ref=ref,
        )
        return {"applied": ok, **out}

    if merge_mode == "read":
        # Merge-on-read latency path: ONE Spark job per micro-batch.
        # Per-key summaries (the resolution window) append as delta
        # files; the global lsn stats (lo/hi/exact distinct) RIDE that
        # same job via an Observation (see _resolve_union lsn_stats) —
        # no stored-state read, no bucket-discovery job, no separate
        # stats aggregation, no cache materialization.
        from pyspark.sql import Observation

        obs = Observation()
        # Bucket-ALIGNED resolution exchange (round 4): the delta write
        # partitions by bucket = pmod(hash(keys), n_buckets), so any
        # exchange width P with P | n_buckets or n_buckets | P keeps
        # every bucket's rows inside one task group — the write emits
        # max(1, P/n_buckets) files per touched bucket instead of
        # (P x buckets) fragments. Prefer the session's shuffle
        # parallelism when it already aligns (fewer task waves than
        # forcing P = n_buckets); fall back to n_buckets otherwise.
        # Bounded file counts also keep the commit's footer-stat reads
        # on the cheap threaded driver path (<=256 files), never the
        # distributed footer job.
        p_conf = int(
            lake.spark.conf.get("spark.sql.shuffle.partitions", "0") or 0
        )
        aligned = p_conf > 0 and (
            n_buckets % p_conf == 0 or p_conf % n_buckets == 0
        )
        npart = p_conf if aligned else n_buckets
        content = _resolve_union(
            events_as_rows(ev, patch_cols), npart, lsn_stats=obs,
            patch_cols=patch_cols,
        ).withColumn(BUCKET_COL, lake.bucket_expr(n_buckets, KEY_COLS))
        out: dict[str, Any] = {}
        ok = lake.commit(
            content,
            [],
            batch_id,
            metrics={"merge_mode": "read"},
            mode="delta",
            lineage_fn=_observed_lineage(obs, ev, out, lsn_range_hint),
            key_bloom=key_bloom,
            ref=ref,
        )
        return {"applied": ok, **out}

    if assume_all_buckets and lsn_range_hint is None:
        # Single-job bulk-stream path (merge-on-write): every bucket is
        # touched, so there is no discovery to do — and the batch's lsn
        # stats ride the MERGE job itself (events tagged __evt inside
        # merge_batch_direct, Observation collects lo/hi/exact distinct).
        # One pass per micro-batch total: no cache materialization, no
        # separate stats aggregation. A fully-duplicate redelivered
        # batch (n=0) rewrites identical bucket content instead of
        # no-op'ing early — rare (crash replay) and harmless; selective
        # tails keep the cheap early exit below.
        from pyspark.sql import Observation

        obs = Observation()
        affected = list(range(n_buckets))
        # UNRESOLVED stored read (r7, guide §2.4): pending merge-on-read
        # deltas fold inside THIS merge's single resolution window —
        # the same LWW algebra read() would apply, minus its nested
        # exchange+sort (resolved-then-merge paid two full sorts when
        # deltas existed; delta-free tables read identically either
        # way). delta_floor below retires the folded generations.
        stored = lake.read(
            version=snap["version"], buckets=affected,
            resolve_deltas=False,
        )
        merged = merge_batch_direct(
            stored, ev, n_buckets, lsn_stats=obs, patch_cols=patch_cols
        ).withColumn(BUCKET_COL, lake.bucket_expr(n_buckets, KEY_COLS))
        out: dict[str, Any] = {}
        ok = lake.commit(
            merged,
            affected,
            batch_id,
            metrics={"buckets_touched": n_buckets},
            base_version=snap["version"],
            lineage_fn=_observed_lineage(obs, ev, out),
            # stored state resolved at snap: shard generations at or
            # below it are folded into this rewrite
            delta_floor=snap["version"],
            key_bloom=key_bloom,
            ref=ref,
        )
        return {"applied": ok, "buckets": affected, **out}

    cached = False
    try:
        if lsn_range_hint is not None:
            # Ordered-replay bulk path: the caller owns the LSN window,
            # so the per-batch min/max/count aggregation job (a full
            # extra pass + driver barrier) is skipped entirely. Dense
            # windows make span == unique events; recording hwm = hi is
            # safe because future batches are strictly above it.
            lo, hi = lsn_range_hint
            n = hi - lo + 1
        else:
            # In-batch duplicate lsns need NO dedicated shuffle: dups
            # share the key, so the merge window picks one copy; the
            # distinct count keeps lineage metrics honest. Bucket
            # discovery rides the SAME aggregation (collect_set of the
            # bucket id) — one job, not two, per micro-batch.
            ev = ev.cache()
            cached = True
            aggs = [
                F.min("lsn").alias("lo"), F.max("lsn").alias("hi"),
                F.countDistinct("lsn").alias("n"),
            ]
            if not assume_all_buckets:
                aggs.append(
                    F.collect_set(
                        lake.bucket_expr(n_buckets, KEY_COLS)
                    ).alias("bks")
                )
            rng = ev.agg(*aggs).collect()[0]
            lo, hi, n = rng["lo"], rng["hi"], rng["n"]
            if n == 0:
                lake.commit(
                    lake.read(buckets=[]).limit(0).withColumn(
                        BUCKET_COL, F.lit(0).cast("int")),
                    [], batch_id, None, {"events": 0}, ref=ref,
                )
                return {"applied": True, "events": 0}

        # Density check: recording a sparse batch's (min,max) span as
        # applied would mark the GAP lsns applied too — a later delivery
        # of a gap lsn would then die at the guard (lost update). Dense
        # batches (the ordered-stream norm, n == hi-lo+1) record the
        # span; sparse ones record their exact coalesced islands.
        sub_ranges = None
        if lsn_range_hint is None and n != hi - lo + 1:
            sub_ranges = sparse_lsn_islands(ev.select("lsn").distinct())

        if assume_all_buckets:
            # Bulk path: a large batch touches every bucket — skip the
            # bucket-discovery job. Replacing an untouched bucket is
            # still correct (its stored rows pass through the merge
            # unchanged); it only costs rewrite volume, never
            # correctness.
            affected = list(range(n_buckets))
        elif lsn_range_hint is not None:
            b = lake.bucket_expr(n_buckets, KEY_COLS).alias("b")
            affected = [r["b"] for r in ev.select(b).distinct().collect()]
        else:
            affected = sorted(rng["bks"])
        # Pin the stored read to the snapshot version the guard saw, so
        # commit's base_version check is exact under concurrent writers.
        # Unresolved (r7): pending deltas of the affected buckets fold
        # inside the merge resolution itself — see the fused path note.
        stored = lake.read(
            version=snap["version"], buckets=affected,
            resolve_deltas=False,
        )
        merged = merge_batch_direct(
            stored, ev, n_buckets, patch_cols=patch_cols
        ).withColumn(BUCKET_COL, lake.bucket_expr(n_buckets, KEY_COLS))
        ok = lake.commit(
            merged,
            affected,
            batch_id,
            lsn_range=None if sub_ranges is not None else (lo, hi),
            lsn_ranges=sub_ranges,
            metrics={"events": n, "buckets_touched": len(affected)},
            # content was computed against the snapshot read above —
            # a concurrent commit to any affected bucket must conflict,
            # disjoint-bucket writers rebase cleanly
            base_version=snap["version"],
            delta_floor=snap["version"],
            key_bloom=key_bloom,
            ref=ref,
        )
        return {
            "applied": ok,
            "events": n,
            "lsn_range": [lo, hi],
            "buckets": affected,
        }
    finally:
        if cached:
            ev.unpersist()


def bootstrap(
    lake: LakeTable,
    base: DataFrame,
    base_lsn: int = 0,
    batch_id: str = "bootstrap",
    key_bloom: bool = False,
) -> dict[str, Any]:
    """Load an initial snapshot of the transcripts table as lake state
    (the 'existing table + incremental tail' pattern every real CDC
    deployment starts from). All base rows get ``__lsn = base_lsn``; the
    HWM moves to ``base_lsn`` so the tailer applies only events with
    higher lsns — change events that predate the snapshot are duplicates
    by construction and die at the guard."""
    snap = lake.snapshot()
    if lake._batch_applied(snap, batch_id):
        return {"applied": False, "reason": "duplicate batch_id"}
    n_buckets = snap["n_buckets"]
    content = (
        reconcile_schema(base, snap["schema_ddl"])
        .withColumn(LSN_COL, F.lit(base_lsn).cast("long"))
        .withColumn(DELETED_COL, F.lit(False))
    )
    for c in snap.get("patch_cols") or []:
        # snapshot rows are FULL images: every patch cell (nulls
        # included) is an explicit write at the row's (ts, base_lsn),
        # so a late partial image with an older ts cannot override it
        pts, plsn = patch_meta(c)
        row_ts = (
            F.col("ts") if "ts" in content.columns
            else F.lit(None).cast("timestamp")
        )
        content = content.withColumn(pts, row_ts).withColumn(
            plsn, F.lit(base_lsn).cast("long")
        )
    content = (
        content
        .withColumn(BUCKET_COL, lake.bucket_expr(n_buckets, KEY_COLS))
        .repartition(n_buckets, *KEY_COLS)
    )
    ok = lake.commit(
        content,
        list(range(n_buckets)),
        batch_id,
        lsn_range=(0, base_lsn),
        metrics={"bootstrap": True},
        key_bloom=key_bloom,
    )
    return {"applied": ok, "hwm": lake.hwm}


def replay(
    lake: LakeTable,
    binlog: DataFrame,
    batch_lsn_width: int | None = None,
    batch_id_prefix: str = "replay",
    assume_all_buckets: bool = True,
    batch_plan: str = "raw",
) -> list[dict[str, Any]]:
    """Batch replay of a whole binlog: split into ordered LSN-range
    micro-batches and apply each. ``batch_lsn_width=None`` applies the
    whole log as one batch (the fastest path for backfills — one pair of
    shuffles total).

    ``batch_plan`` (multi-batch replays only) picks the per-batch
    physical plan:

    - ``"raw"`` (default since r7): every micro-batch but the LAST
      appends as a RAW mod-shard delta (one sort-free exchange, K
      shard files, no stored-state read); the last batch runs
      merge-on-write, whose resolution window folds the pending raw
      generations in the SAME single exchange+sort (apply_batch reads
      stored state unresolved). Guide §2.4 applied to the backfill:
      the old merge-on-write loop re-read and re-sorted the ENTIRE
      stored state once per batch (4 batches over state S and events
      E: ~4 sorts of (S+E/4) rows, 4 full-table writes); raw+final-
      merge sorts the union exactly once and rewrites the table
      exactly once. The final state is identical (read-time resolution
      speaks the same LWW algebra — the cdc_lww_apply_mor gate pins
      raw deltas + compaction against the DuckDB oracle hash-exact)
      and is FULLY materialized before return: the final snapshot is
      a resolved merge-on-write commit with no pending deltas.
    - ``"write"``: the pre-r7 behavior — every batch is a
      merge-on-write rewrite (each batch's commit is a complete,
      resolved snapshot; the right choice when mid-replay snapshots
      must be directly servable without resolution, e.g. the
      time-travel/change-feed gates' ``_replay_lake_mow``)."""
    results = []
    if batch_lsn_width is None:
        return [
            apply_batch(
                lake, binlog, f"{batch_id_prefix}-all",
                assume_all_buckets=assume_all_buckets,
            )
        ]
    if batch_plan not in ("raw", "write"):
        raise ValueError(f"unknown batch_plan {batch_plan!r}")
    bounds = binlog.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    if lo is None:
        return results
    # The window grid is GLOBAL (numbered from the binlog's lo, not from
    # the resume point) so a window's batch id is deterministic across
    # crash-resume runs. The pre-r7 loop numbered from the resume point,
    # so a resumed run re-used already-applied batch ids for DIFFERENT
    # windows — the _batch_applied guard then absorbed a never-applied
    # window as a "duplicate" (silent loss on resume). Resume now skips
    # exactly the windows whose lsn span the manifest lineage already
    # covers (islands included — a crashed CONCURRENT run below can
    # leave covered windows above uncovered ones).
    windows = []
    s = lo
    while s <= hi:
        e = min(s + batch_lsn_width - 1, hi)
        windows.append((s, e))
        s = e + 1
    applied = lake.lineage()["applied_ranges"]

    def _covered(w):
        return any(a <= w[0] and w[1] <= b for a, b in applied)

    def _chunk(w):
        return binlog.filter(
            (F.col("lsn") >= w[0]) & (F.col("lsn") <= w[1])
        )

    raw_bulk = batch_plan == "raw" and assume_all_buckets
    if raw_bulk and len(windows) > 1:
        # Bulk backfill, raw appends first: every window but the LAST
        # appends as a raw-scan delta; the final merge-on-write folds
        # them (see docstring). The raw windows are INDEPENDENT —
        # disjoint lsn spans, append-only delta commits that the commit
        # protocol rebases against each other — so they are staged
        # CONCURRENTLY from a small thread pool (guide §2.6: overlap
        # independent jobs; each scan job here is a handful of tasks,
        # so serial submission left most of the cluster idle between
        # jobs). 2-3 in flight is enough to fill the tail without
        # fighting for executors. The per-window hwm fast path is
        # replaced by an identity guard: with concurrent commits a
        # window could observe a HIGHER window's hwm and misclassify
        # its own events as duplicates; exactly-once here is carried
        # by the window grid (disjoint spans), the deterministic batch
        # ids, and the atomic per-window commits instead.
        todo = [
            (i, w) for i, w in enumerate(windows[:-1]) if not _covered(w)
        ]
        slots: dict[int, dict] = {}
        if todo:
            from concurrent.futures import ThreadPoolExecutor

            def _stage(iw):
                i, w = iw
                return i, apply_batch(
                    lake, _chunk(w), f"{batch_id_prefix}-{i:06d}",
                    already_applied_filter=lambda df: df,
                    lsn_range_hint=w,
                    merge_mode="read", delta_plan="raw-scan",
                )

            with ThreadPoolExecutor(
                max_workers=min(3, len(todo))
            ) as pool:
                for i, r in pool.map(_stage, todo):
                    slots[i] = r
        results.extend(r for _, r in sorted(slots.items()))
        last_i, last_w = len(windows) - 1, windows[-1]
        if not _covered(last_w):
            # final window: merge-on-write — its resolution folds every
            # pending raw generation, so the replay ends on a fully-
            # resolved snapshot. Sequential (after the pool joins), so
            # the ordered hwm fast path is sound again.
            results.append(apply_batch(
                lake, _chunk(last_w), f"{batch_id_prefix}-{last_i:06d}",
                assume_all_buckets=assume_all_buckets,
                lsn_range_hint=last_w,
            ))
        return results
    # batch_plan="write" (every window merges on write), or a single
    # window: sequential ordered loop, default hwm fast-path guard
    for i, w in enumerate(windows):
        if _covered(w):
            continue
        results.append(apply_batch(
            lake, _chunk(w), f"{batch_id_prefix}-{i:06d}",
            assume_all_buckets=assume_all_buckets,
            lsn_range_hint=w,
        ))
    return results
