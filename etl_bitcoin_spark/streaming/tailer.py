"""Structured Streaming binlog tailer.

The Spark-native replacement for the reference's poll loop
(cmd/main.go:38 SendInput + loader.LoaderManager, loader/loader.go:48-87):
a file-source stream over the WAL segment directory, paced by
``maxFilesPerTrigger`` (the analog of BlockRange batching), applying each
micro-batch through the MERGE core inside ``foreachBatch`` with the
exactly-once guards.

Ordering invariant: WAL segments are named monotonically
(``seg-00001.parquet`` ...) and written in order; Spark's file source
lists unprocessed files oldest-first (latestFirst=false default), so each
micro-batch is an ordered, non-overlapping LSN range — exactly what the
merge algebra requires. Duplicate deliveries (same lsn re-appearing in a
later segment) are dropped by the HWM/Bloom/range guards.

Exactly-once end to end: Spark's checkpoint gives deterministic
``batch_id`` replay after crash; the LakeTable commit is idempotent on
``tail-{batch_id}``, so a replayed foreachBatch is a metadata no-op —
the same contract as DeltaSink's txnVersion pattern, built natively.

Driver staging: each trigger looks its WAL files up in the checkpoint's
file-source log (``_batch_files`` — the record Spark's own ``getBatch``
replays after a crash), so ``apply_batch``'s raw delta plan can read a
driver-sized batch with pyarrow and run no Spark job for it. Larger
batches, other plans and an unreadable log run on Spark, where the file
source becomes a Kafka / cloud-storage listing source at cluster scale
and ``maxFilesPerTrigger`` tunes batch size against end-to-end latency.
"""

from __future__ import annotations

import json
import os
import zlib
from typing import Any
from urllib.parse import unquote, urlparse
from zipfile import BadZipFile

from pyspark.sql import SparkSession

from ..operators.merge import BINLOG_DDL, apply_batch
from ..state import ExactlyOnceFilter, LsnBloom, lineage_mark
from ..tableformat.lake import LakeTable

# delta_plan="auto" storm threshold: raw stays engaged while the
# measured events-per-key multiplicity of a batch is at or below this
# (see the sticky-plan comment in BinlogTailer._apply for the cost
# model behind the value)
RAW_MULT_MAX = 2.0


class BinlogTailer:
    def __init__(
        self,
        spark: SparkSession,
        binlog_dir: str,
        lake: LakeTable,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        use_bloom: bool = True,
        assume_all_buckets: bool = False,
        merge_on_read: bool = False,
        compact_max_deltas: int | None = 8,
        compact_policy: str = "inline",
        compact_max_buckets: int | None = None,
        views: list | None = None,
        delta_plan: str = "auto",
        key_bloom: bool = False,
        ref: str = "main",
    ):
        self.spark = spark
        self.binlog_dir = binlog_dir
        self.lake = lake
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        self.use_bloom = use_bloom
        # opt-in per-file key Blooms on every commit the tail makes:
        # serves read(keys=[conv_id]) point lookups (lake.py), at the
        # cost of one key-column read per fresh file in the hot path
        self.key_bloom = key_bloom
        # Bulk-drain knob: when each micro-batch is large enough to touch
        # ~every bucket (backfill drains, high files/trigger), skip the
        # bucket-discovery pass; selective tails keep pruning (default).
        self.assume_all_buckets = assume_all_buckets
        # Latency mode: merge-on-read delta appends (no stored-bucket
        # rewrite per micro-batch) + policy-driven compaction that bounds
        # read amplification. The compaction batch amortizes the rewrite
        # tax over compact_max_deltas micro-batches.
        self.merge_on_read = merge_on_read
        self.compact_max_deltas = compact_max_deltas
        # "inline": the policy compaction runs inside the trigger (its
        # rewrite shows up in that batch's latency — honest but it IS
        # the p99). "async": compaction runs on a background thread,
        # overlapping subsequent triggers — the hot path never pays the
        # rewrite. Concurrency is safe by construction: compaction
        # commits through the same CAS (apply_batch retries a lost
        # race, the compactor skips one), and compact_deltas folds a
        # SNAPSHOT of the delta set — deltas appended meanwhile stay
        # pending for the next window. At most one compaction is in
        # flight; stream stop (_flush_state) drains it and restores the
        # policy bound with one final synchronous pass.
        if compact_policy not in ("inline", "async"):
            raise ValueError(f"unknown compact_policy {compact_policy!r}")
        self.compact_policy = compact_policy
        # async nibble size: each background pass rewrites at most this
        # many (worst-first) victim buckets, keeping the contention
        # window with live triggers short; None = all victims per pass
        self.compact_max_buckets = compact_max_buckets
        # Live maintained rollups riding the CDC stream: each entry is
        # (downstream LakeTable, ViewSpec[, mode]); after every applied
        # micro-batch the relay ticks each view (operators.views
        # algebra — changed-groups-only, exactly-once via the relay
        # cursor, so a crash-replayed trigger re-ticks as a no-op).
        self.views = list(views or [])
        # Streaming write-audit-publish: every commit this tail makes
        # (merges AND compactions) targets the named branch; main stays
        # untouched until lake.publish_branch. The view relay tracks
        # main versions, so it is exclusive with a branch target.
        self.ref = ref
        if ref != "main" and self.views:
            raise ValueError(
                "views relay is main-only; a branch-targeted tail "
                "cannot maintain main-version view cursors"
            )
        # Merge-on-read delta plan (operators.merge apply_batch
        # delta_plan docstring): "summary" collapses each batch through
        # the resolution window (one file per bucket); "raw" appends
        # the batch as-is in one mod-shard file per write task — no
        # sort, no resolution window, the sub-second path; "auto"
        # (default) engages raw STICKILY: each batch's ridden
        # multiplicity signal decides the next batch's plan, so an
        # update storm (multiplicity >> RAW_MULT_MAX, where raw deltas
        # would carry many rows per key) flips back to the summary
        # window within one batch. Correctness never depends on the
        # choice — read-time resolution speaks the same LWW algebra
        # over either delta shape, and raw lineage is exact
        # (staged-file islands).
        if delta_plan not in ("summary", "raw", "auto"):
            raise ValueError(f"unknown delta_plan {delta_plan!r}")
        self.delta_plan = delta_plan
        self._raw_ok = delta_plan in ("raw", "auto")
        self._maint = None  # lazy single-thread executor (async policy)
        self._maint_fut = None
        self.bloom_path = os.path.join(checkpoint_dir, "lsn_bloom.state")
        self._bloom: LsnBloom | None = None
        self._bg = None  # lazy single-thread executor for async state IO
        self._bg_save = None
        # Commit ids are namespaced by checkpoint identity: Spark batch
        # ids restart at 0 for a fresh checkpoint, and a bare "tail-0"
        # would collide with a previous run's commits and be skipped for
        # the wrong reason. Same checkpoint -> same namespace, so a
        # crash-replayed batch still hits the idempotence guard.
        import hashlib

        self.ns = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]
        self.batch_results: list[dict[str, Any]] = []

    # ------------------------------------------------------------- state
    def _load_bloom(self, lineage: dict | None = None) -> LsnBloom | None:
        if not self.use_bloom:
            return None
        # In-memory across batches (this tailer is the only writer of its
        # checkpoint); disk is the crash-recovery path only — saves an
        # npz round-trip per micro-batch.
        if self._bloom is not None:
            return self._bloom
        if lineage is None:
            lineage = self.lake.lineage(ref=self.ref)
        mark = lineage_mark(lineage["hwm"], lineage["applied_ranges"])
        try:
            self._bloom = LsnBloom.load(self.bloom_path)
        except (OSError, EOFError, ValueError, KeyError, BadZipFile,
                zlib.error):
            pass  # no file, or a torn one: rebuilt below
        if self._bloom is None or self._bloom.covers != mark:
            # No readable file, or a stale one: a crash lost the newest
            # async save (or the file predates the mark). Its covered
            # window would vouch for lsns whose bits it never set, so
            # rebuild from manifest lineage (the crash-safe recovery
            # path).
            self._bloom = LsnBloom.rebuild_from_ranges(
                lineage["applied_ranges"]
            )
            self._bloom.covers = mark
        return self._bloom

    def _save_bloom(
        self, bloom: LsnBloom, lsn_range, covers: tuple[int, int],
        dense_tail: bool = False,
    ) -> None:
        if bloom is None or lsn_range is None:
            return
        # Window the filter to the new HWM first, then chunk-add only the
        # in-window slice — O(min(batch, window)) driver work per batch,
        # never a full-range materialization. These IN-MEMORY updates are
        # synchronous (the next batch's guard needs them); the npz DISK
        # write is crash-recovery-only state, so it overlaps the next
        # micro-batch on a background thread. The write works on a bits
        # SNAPSHOT — never the live array the next batch keeps inserting
        # into — because a torn on-disk bloom would yield false negatives
        # after a crash-reload (a duplicate sneaking past layer 2 AND
        # skipping layer 3). The save records the lineage mark its bits
        # cover, so losing it is safe: the next load finds no file, or
        # an older file whose mark no longer matches the manifest, and
        # rebuilds from manifest lineage.
        if dense_tail:
            # Ordered-stream steady state (r7, guide §1.2: don't compute
            # what you throw away): the post-apply history is ONE gapless
            # run ending at the HWM — exactly the state in which the
            # guard's contiguous fast path never consults the Bloom. A
            # Bloom that vouches for nothing is always CORRECT
            # (covered_lo routes every lsn<=hwm suspect to the exact
            # range layer), so instead of inserting the batch's whole
            # lsn range (O(batch) numpy scatter on the trigger's
            # critical path — profiled 0.1-0.3 s per 500k-event batch)
            # we lift covered_lo above the HWM. The moment history turns
            # sparse (a gap appears) the insert path below re-engages
            # and coverage regrows from that point; older suspects keep
            # resolving through the exact layer, which is authoritative.
            bloom.covered_lo = max(bloom.covered_lo, int(lsn_range[1]) + 1)
        else:
            bloom.advance_window(int(lsn_range[1]))
            bloom.add_range(int(lsn_range[0]), int(lsn_range[1]))
        bloom.covers = covers
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        snap = LsnBloom(
            n_bits=bloom.n_bits,
            n_hashes=bloom.n_hashes,
            covered_lo=bloom.covered_lo,
        )
        snap.bits = bloom.bits.copy()
        snap.covers = covers
        if self._bg is None:
            from concurrent.futures import ThreadPoolExecutor

            self._bg = ThreadPoolExecutor(max_workers=1)
        if self._bg_save is not None:
            self._bg_save.result()  # serialize saves (atomic tmp+rename)
        self._bg_save = self._bg.submit(snap.save, self.bloom_path)

    def _flush_state(self) -> None:
        """Block until the last async bloom save landed (call at drain
        end / stream stop, before the checkpoint is considered done).
        Under compact_policy="async", also drain the in-flight
        compaction and run one final synchronous pass so the table
        meets the read-amp policy bound at stream stop."""
        if self._bg_save is not None:
            self._bg_save.result()
            self._bg_save = None
        if self._maint_fut is not None:
            self._maint_fut.result()
            self._maint_fut = None
            if self.compact_max_deltas is not None:
                # the stop-time pass ignores the nibble cap: the table
                # must meet the read-amp policy bound at stream stop,
                # not merely converge toward it. batch_id=None -> the
                # version-derived default (compact-deltas-v{N}), which
                # is unique per run: a fixed per-checkpoint id would be
                # absorbed as a replay on the SECOND run of the same
                # stream (restart / daily drain) and silently skip the
                # final pass, voiding the stop-time policy bound.
                from ..tableformat.lake import CommitConflict

                try:
                    self.lake.compact_deltas(
                        self.compact_max_deltas, batch_id=None,
                        key_bloom=self.key_bloom,
                        ref=self.ref,
                    )
                except CommitConflict:
                    pass

    # -------------------------------------------------------------- run
    def _apply(self, batch_df, batch_id: int) -> None:
        files = self._batch_files(batch_id)
        self._apply_df(
            batch_df if files is None else files,
            f"tail-{self.ns}-{batch_id}",
        )

    def _batch_files(self, batch_id: int) -> list[str] | None:
        """Local paths of micro-batch ``batch_id``'s WAL files, or None
        when the checkpoint cannot say (the batch frame then runs on
        Spark). A foreachBatch frame is a LogicalRDD that no longer
        lists its input files, so they come from the checkpoint: the
        file source's ``logOffset`` range ``(offsets/<id-1>,
        offsets/<id>]`` and that range's entries in ``sources/0`` —
        the record Spark's ``getBatch`` itself reads, so a batch
        replayed after a crash resolves to the same files."""
        try:
            end = _source_offset(self.checkpoint_dir, batch_id)
            start = (
                _source_offset(self.checkpoint_dir, batch_id - 1)
                if batch_id > 0 else -1
            )
            log_dir = os.path.join(self.checkpoint_dir, "sources", "0")
            paths = []
            for n in range(start + 1, end + 1):
                for e in _source_log_entries(log_dir, n):
                    u = urlparse(e["path"])
                    if u.scheme != "file":
                        return None
                    paths.append(unquote(u.path))
        except (OSError, ValueError, KeyError, TypeError, IndexError):
            return None
        return paths

    def _apply_df(self, events, commit_id: str) -> None:
        """The per-batch body (guards -> merge -> compaction policy ->
        view relay), keyed by an explicit idempotent commit id — shared
        by the Structured Streaming trigger (_apply) and the poll-loop
        tailer (streaming.poll.PollTailer). ``events`` is the batch
        frame or its list of WAL parquet paths (see apply_batch)."""
        from ..tableformat.lake import CommitConflict

        # Trigger jobs run in the weighted "live" FAIR pool (8x the
        # maintenance pool's share — see session.get_spark): an async
        # compaction pass overlapping this trigger yields cores to the
        # latency path instead of halving it. No-op under FIFO mode
        # (the pool name is ignored). Thread-local, set once per batch
        # on the stream-execution thread.
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "live"
        )
        # A maintenance commit (rescale, compaction) can land between
        # this batch's snapshot read and its CAS publish; apply_batch
        # then raises CommitConflict instead of writing against a stale
        # layout. Recomputing from the fresh snapshot is always safe
        # (the exactly-once guards are idempotent), so retry instead of
        # failing the stream — bounded, because back-to-back losses
        # mean a misconfigured second writer, which SHOULD surface.
        for attempt in range(3):
            lineage = self.lake.lineage(ref=self.ref)
            bloom = self._load_bloom(lineage)
            guard = ExactlyOnceFilter(lineage, bloom)
            try:
                res = apply_batch(
                    self.lake,
                    events,
                    commit_id,
                    already_applied_filter=guard,
                    assume_all_buckets=self.assume_all_buckets,
                    merge_mode="read" if self.merge_on_read else "write",
                    delta_plan=(
                        "raw"
                        if (self.merge_on_read and self._raw_ok)
                        else "summary"
                    ),
                    key_bloom=self.key_bloom,
                    ref=self.ref,
                )
                break
            except CommitConflict:
                if attempt == 2:
                    raise
        if self.delta_plan == "auto":
            # sticky plan update: raw stays engaged while the measured
            # events-per-key multiplicity stays below RAW_MULT_MAX;
            # empty batches carry no signal and keep the current plan.
            # The threshold is a storm detector, NOT a uniqueness test:
            # a live CDC tail routinely runs 1.3-1.5 events/key in a
            # 125k-event batch (in-batch updates), and raw still wins
            # there — it encodes mult x key-rows but skips the summary
            # sort and per-key collapse. Past ~2 events/key the delta
            # bloat (read amplification + compaction fold volume) costs
            # more than the sort it saves, so the summary window takes
            # over; the summary job keeps reporting multiplicity, so
            # the end of a storm re-engages raw within one batch.
            if res.get("events"):
                self._raw_ok = (
                    res.get("multiplicity", 1.0) <= RAW_MULT_MAX
                )
        if res.get("applied") and res.get("lsn_range"):
            lo, hi = int(res["lsn_range"][0]), int(res["lsn_range"][1])
            # dense tail = pre-apply history was one gapless run ending
            # at the HWM (or empty), this batch extends it contiguously,
            # and the batch itself is dense — then post-apply history is
            # still one gapless run and the Bloom can stay vacuous (see
            # _save_bloom). Derived from guard state already in hand: no
            # extra lineage read on the trigger path.
            dense_tail = (
                not guard.ranges
                or (
                    len(guard.ranges) == 1
                    and guard.ranges[0][1] == guard.hwm
                    and lo == guard.hwm + 1
                )
            ) and res.get("events") == hi - lo + 1
            # the post-apply lineage: this batch's events are lsns the
            # guard found unapplied
            hwm0, n0 = lineage_mark(guard.hwm, guard.ranges)
            self._save_bloom(
                bloom, res["lsn_range"],
                (max(hwm0, hi), n0 + int(res["events"])),
                dense_tail=dense_tail,
            )
        if (
            self.merge_on_read
            and self.compact_max_deltas is not None
            and res.get("applied")
        ):
            # Metadata-only victim discovery (group pointers carry delta
            # counts); a no-victim check costs O(#groups). The occasional
            # compaction batch pays the bucket rewrite for the whole
            # window — idempotent batch id, crash-replay safe. A lost
            # maintenance race here is NOT worth failing the stream:
            # compaction is a policy action, the next batch retries it.
            if self.compact_policy == "async":
                if self._maint_fut is None or self._maint_fut.done():
                    if self._maint is None:
                        from concurrent.futures import ThreadPoolExecutor

                        self._maint = ThreadPoolExecutor(max_workers=1)
                    self._maint_fut = self._maint.submit(
                        self._compact_once, f"compact-{commit_id}"
                    )
                    res = dict(res, compaction="scheduled")
            else:
                c = self._compact_once(f"compact-{commit_id}")
                if c["applied"]:
                    res = dict(
                        res, compacted_buckets=c["buckets_compacted"]
                    )
        if res.get("applied") and self.views:
            from ..operators.views import refresh_view

            ticked = []
            for entry in self.views:
                down, spec = entry[0], entry[1]
                mode = entry[2] if len(entry) > 2 else "algebraic"
                # same retry contract as the merge above: a maintenance
                # commit racing the downstream table (view compaction,
                # expiry) costs a recompute from the fresh snapshot,
                # never the stream — the relay cursor keeps the re-tick
                # exactly-once
                for attempt in range(3):
                    try:
                        r = refresh_view(self.lake, down, spec, mode=mode)
                        break
                    except CommitConflict:
                        if attempt == 2:
                            raise
                ticked.append({"view": spec.name, **r})
            res = dict(res, views=ticked)
        self.batch_results.append(res)

    def _compact_once(self, batch_id: str) -> dict[str, Any]:
        from ..tableformat.lake import CommitConflict

        try:
            # maintenance jobs run in their own scheduler pool: under
            # spark.scheduler.mode=FAIR the live trigger's jobs get an
            # equal share instead of FIFO leftovers while a compaction
            # rewrite is in flight (a no-op under default FIFO mode)
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", "maintenance")
            try:
                return self.lake.compact_deltas(
                    self.compact_max_deltas, batch_id=batch_id,
                    max_buckets=self.compact_max_buckets,
                    key_bloom=self.key_bloom,
                    ref=self.ref,
                )
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)
        except CommitConflict:
            return {"applied": False}

    def _stream(self):
        return (
            self.spark.readStream.schema(BINLOG_DDL)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .option("latestFirst", "false")
            .parquet(self.binlog_dir)
        )

    def run_available(self) -> list[dict[str, Any]]:
        """Drain everything currently in the binlog dir (availableNow
        trigger), blocking until converged. Restartable: the checkpoint
        remembers consumed files; the lake's batch_id guard makes
        replayed batches no-ops."""
        q = (
            self._stream().writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        self._flush_state()
        return self.batch_results

    def run_processing_time(
        self,
        interval: str = "500 milliseconds",
        until_events: int | None = None,
        timeout_sec: float = 300.0,
    ) -> dict[str, Any]:
        """Steady-state micro-batch mode (processingTime trigger): the
        deployment shape for a live WAL tail. Runs until ``until_events``
        have been applied (or timeout), then stops and returns per-batch
        results plus the streaming progress records for latency
        percentiles. A driver-staged trigger never executes its batch
        frame, so its progress record reads ``numInputRows`` 0: count
        events from ``batch_results``."""
        import time as _time

        q = (
            self._stream().writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=interval)
            .start()
        )
        t0 = _time.monotonic()
        try:
            while _time.monotonic() - t0 < timeout_sec:
                applied = sum(r.get("events", 0) for r in self.batch_results)
                if until_events is not None and applied >= until_events:
                    break
                _time.sleep(0.2)
        finally:
            progress = [p for p in q.recentProgress]
            q.stop()
            self._flush_state()
        return {
            "batch_results": self.batch_results,
            "progress": progress,
        }


def _source_offset(checkpoint_dir: str, batch_id: int) -> int:
    """The file source's ``logOffset`` in ``offsets/<batch_id>``: a
    ``v1`` line, the batch metadata line, then one offset per source."""
    with open(os.path.join(checkpoint_dir, "offsets", str(batch_id))) as f:
        lines = f.read().splitlines()
    if lines[0] != "v1" or len(lines) != 3:
        raise ValueError("unexpected offset log format")
    return int(json.loads(lines[2])["logOffset"])


def _source_log_entries(log_dir: str, n: int) -> list[dict]:
    """Entries of file-source log batch ``n``: its own file ``<n>``, or
    the ``<c>.compact`` file (c >= n) that folded it in."""
    path = os.path.join(log_dir, str(n))
    if not os.path.exists(path):
        compacts = sorted(
            int(f.split(".")[0]) for f in os.listdir(log_dir)
            if f.endswith(".compact") and not f.startswith(".")
        )
        c = next((c for c in compacts if c >= n), None)
        if c is None:
            raise FileNotFoundError(path)
        path = os.path.join(log_dir, f"{c}.compact")
    with open(path) as f:
        lines = f.read().splitlines()
    if not lines or lines[0] != "v1":
        raise ValueError("unexpected source log format")
    entries = [json.loads(ln) for ln in lines[1:] if ln]
    return [e for e in entries if e["batchId"] == n]
