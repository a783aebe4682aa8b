"""Poll-loop WAL tailer — the sub-half-second trigger path.

The Structured Streaming tailer pays a fixed ~0.1-0.2 s of micro-batch
machinery per trigger (offset log, progress bookkeeping, trigger
scheduling — BENCH/latency.md measured trigger-body ≈ 0.14 s) on top of
the batch body. ``PollTailer`` is the reference's own poll shape
(cmd/main.go:38 SendInput loop) rebuilt on the SAME engine surface: list
new WAL segment files, apply them through the identical guard/merge/
compaction body (BinlogTailer._apply_df), advance a cursor file. No
Spark streaming query, no trigger floor — each iteration hands its
segment paths to apply_batch, whose raw delta plan stages a
driver-sized batch without any Spark job.

Exactly-once without Spark's checkpoint, layered:

1. Commit ids derive from the SEGMENT NAMES (``poll-{ns}-{first}-{last}``),
   so a crash AFTER the lake commit but BEFORE the cursor write replays
   the same batch on restart and the lake's durable batch ledger absorbs
   it as a metadata no-op.
2. If a restart re-batches differently (e.g. a changed
   ``max_files_per_batch`` splits a previously-committed batch), the id
   no longer matches — the ExactlyOnceFilter (HWM + Bloom + exact
   applied-range membership) still kills every already-applied event,
   so the re-apply commits zero rows. Both layers are the same guards
   the streaming tailer runs; nothing here is poll-specific.
3. The cursor advances only after the commit returns, with an atomic
   tmp+rename write.

Ordering contract (same as the streaming tailer): WAL segments are
named monotonically and become visible in name order; each poll consumes
the next ``max_files_per_batch`` names after the cursor, so batches are
ordered, non-overlapping LSN ranges — what the merge algebra requires.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from ..tableformat.lake import _atomic_write
from .tailer import BinlogTailer


class PollTailer(BinlogTailer):
    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.cursor_path = os.path.join(
            self.checkpoint_dir, "poll_cursor.json"
        )

    # ------------------------------------------------------------ cursor
    def _read_cursor(self) -> str:
        try:
            with open(self.cursor_path) as f:
                return json.load(f)["last"]
        except (OSError, ValueError, KeyError):
            return ""

    def _write_cursor(self, last: str) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        _atomic_write(self.cursor_path, json.dumps({"last": last}))

    # -------------------------------------------------------------- poll
    def _pending(self) -> list[str]:
        last = self._read_cursor()
        try:
            names = os.listdir(self.binlog_dir)
        except FileNotFoundError:
            return []
        return sorted(
            n for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
            and n > last
        )

    def poll_once(self) -> dict[str, Any] | None:
        """One poll iteration: consume up to ``max_files_per_trigger``
        new segments. Returns the apply result, or None when idle."""
        segs = self._pending()
        if not segs:
            return None
        take = segs[: self.max_files_per_trigger]
        self._apply_df(
            [os.path.join(self.binlog_dir, n) for n in take],
            f"poll-{self.ns}-{take[0]}-{take[-1]}",
        )
        self._write_cursor(take[-1])
        return self.batch_results[-1]

    def run_available(self) -> list[dict[str, Any]]:
        """Drain everything currently visible, then flush state — the
        poll analog of the streaming availableNow drain."""
        while self.poll_once() is not None:
            pass
        self._flush_state()
        return self.batch_results

    def run_poll(
        self,
        until_events: int | None = None,
        timeout_sec: float = 300.0,
        idle_sleep_sec: float = 0.05,
    ) -> dict[str, Any]:
        """Steady-state poll loop: consume as segments appear, stop
        after ``until_events`` applied (or timeout). Returns per-batch
        results plus per-iteration wall times ("trigger" analog: the
        FULL iteration — directory listing, guards, merge, commit,
        cursor) for latency percentiles."""
        walls: list[float] = []
        applied = 0
        t0 = time.monotonic()
        while time.monotonic() - t0 < timeout_sec:
            t1 = time.monotonic()
            res = self.poll_once()
            if res is None:
                if until_events is not None and applied >= until_events:
                    break
                time.sleep(idle_sleep_sec)
                continue
            walls.append(time.monotonic() - t1)
            applied += res.get("events", 0)
            if until_events is not None and applied >= until_events:
                break
        self._flush_state()
        return {
            "batch_results": self.batch_results,
            "iteration_secs": walls,
            "applied": applied,
        }
