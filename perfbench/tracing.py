"""Traced mode: spans around the engine's public calls, from outside.

``install`` replaces a fixed set of engine functions with wrappers that
record a span per call (name, start, end, parent, batch id, thread) in
memory; ``uninstall`` puts the originals back. No engine file changes.
Wrappers around calls that launch Spark jobs also set the thread's Spark
job group to the span id, so jobs in the event log can be attributed to
the span that caused them.

Layers and the spans that measure them:

- streaming: ``BinlogTailer._apply_df`` (``streaming.batch``, the
  per-batch body both tailers share), ``PollTailer.poll_once``
- state: ``ExactlyOnceFilter.__init__``, ``LsnBloom.advance_window`` /
  ``add_range`` / ``save``
- merge: ``operators.merge.apply_batch`` and ``replay``
- lake: ``LakeTable.commit`` (plus its ``last_commit_stats``),
  ``snapshot``, ``lineage``, ``compact_deltas``
- query: the curation workload opens a ``query.<name>`` span around
  each query it runs, so the query's Spark jobs carry its job group.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Any

from .common import median


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict[str, Any]] = []
        self._next = 0
        self._restore: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[dict[str, Any]]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, jobs: bool = False, batch: str | None = None):
        stack = self._stack()
        # a span opened on a worker thread with nothing open on it
        # (replay's staging pool, async compaction, bloom saves) hangs
        # under whatever the main thread has open
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            self._next += 1
            sid = self._next
        sp = {
            "id": sid, "name": name,
            "parent": parent["id"] if parent else None,
            "batch": batch or (parent["batch"] if parent else None),
            "thread": threading.get_ident(),
        }
        prev_group = None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{sid}")
        stack.append(sp)
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        except BaseException as e:
            sp["error"] = type(e).__name__
            raise
        finally:
            sp["dur"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["dur"]
            stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, name: str, jobs: bool = False,
             batch_arg: int | None = None, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            batch = None
            if batch_arg is not None and len(args) > batch_arg:
                batch = str(args[batch_arg])
            with tracer.span(name, jobs=jobs, batch=batch) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        from etl_bitcoin_spark import state
        from etl_bitcoin_spark.operators import merge
        from etl_bitcoin_spark.streaming import poll, tailer
        from etl_bitcoin_spark.tableformat.lake import LakeTable

        def batch_after(sp, args, out):
            res = args[0].batch_results[-1] if args[0].batch_results else {}
            sp["events"] = int(res.get("events") or 0)

        def apply_after(sp, args, out):
            sp["events"] = int(out.get("events") or 0)
            sp["multiplicity"] = out.get("multiplicity")
            sp["plan"] = out.get("delta_plan", "summary")

        def commit_after(sp, args, out):
            st = getattr(args[0], "last_commit_stats", None) or {}
            sp["write_s"] = st.get("write_sec", 0.0)
            sp["stats_s"] = st.get("stats_sec", 0.0)
            sp["meta_s"] = st.get("meta_sec", 0.0)

        def compact_after(sp, args, out):
            sp["buckets"] = int(out.get("buckets_compacted") or 0)

        self.wrap(tailer.BinlogTailer, "_apply_df", "streaming.batch",
                  jobs=True, batch_arg=2, after=batch_after)
        self.wrap(poll.PollTailer, "poll_once", "streaming.poll", jobs=True)
        self.wrap(state.ExactlyOnceFilter, "__init__", "state.guard_build")
        for m in ("advance_window", "add_range", "save"):
            self.wrap(state.LsnBloom, m, "state.bloom_update")
        # apply_batch is looked up through both modules' globals
        for mod in (merge, tailer):
            self.wrap(mod, "apply_batch", "merge.apply_batch", jobs=True,
                      batch_arg=2, after=apply_after)
        self.wrap(merge, "replay", "merge.replay", jobs=True)
        self.wrap(LakeTable, "commit", "lake.commit", jobs=True,
                  after=commit_after)
        self.wrap(LakeTable, "snapshot", "lake.metadata_read")
        self.wrap(LakeTable, "lineage", "lake.metadata_read")
        self.wrap(LakeTable, "compact_deltas", "lake.compact", jobs=True,
                  after=compact_after)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def self_times(self) -> None:
        """Annotate each span with its self time: its duration minus the
        part of its interval that its child spans cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        for s in self.spans:
            iv = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], ())
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in iv:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            s["self"] = max(0.0, s["dur"] - covered)

    def by_name(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: Path, metrics: dict[str, Any]) -> None:
        self_by_name: dict[str, float] = defaultdict(float)
        for s in self.spans:
            self_by_name[s["name"]] += s.get("self", 0.0)
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "metrics": metrics,
                "self_s_by_span": dict(self_by_name),
                "spans": sorted(self.spans, key=lambda s: s["start"]),
            }, f)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tr: Tracer) -> dict[str, float]:
    """Per-layer metrics that come from the spans alone."""
    tr.self_times()
    batches = tr.by_name("streaming.batch")
    applies = tr.by_name("merge.apply_batch")
    commits = tr.by_name("lake.commit")
    compacts = tr.by_name("lake.compact")
    n_batches = max(1, len(batches) or len(applies))
    spans_by_id = {s["id"]: s for s in tr.spans}

    def under_batch(s):
        p = spans_by_id.get(s["parent"])
        return p is not None and p["name"] == "streaming.batch"

    guard = sum(s["dur"] for s in tr.by_name("state.guard_build"))
    guard += sum(
        s["dur"] for s in tr.by_name("lake.metadata_read") if under_batch(s)
    )
    commit_child: dict[int, float] = defaultdict(float)
    for c in commits:
        commit_child[c["parent"]] += c["dur"]
    with_events = [a for a in applies if a.get("events")]
    return {
        "streaming.batches": float(len(batches)),
        "streaming.events_per_batch": _mean(
            [float(b.get("events", 0)) for b in batches]
        ),
        "streaming.poll_s": median(
            [s["dur"] for s in tr.by_name("streaming.poll")]
        ) if tr.by_name("streaming.poll") else 0.0,
        "state.guard_build_s": guard / n_batches,
        "state.bloom_update_s": sum(
            s["dur"] for s in tr.by_name("state.bloom_update")
        ) / n_batches,
        "merge.apply_self_s": _mean(
            [a["dur"] - commit_child.get(a["id"], 0.0) for a in applies]
        ),
        "merge.replay_s": _mean([s["dur"] for s in tr.by_name("merge.replay")]),
        "merge.multiplicity": _mean(
            [float(a["multiplicity"]) for a in with_events
             if a.get("multiplicity") is not None]
        ),
        "merge.raw_batches": float(sum(
            1 for a in with_events if str(a.get("plan")).startswith("raw")
        )),
        "merge.summary_batches": float(sum(
            1 for a in with_events if not str(a.get("plan")).startswith("raw")
        )),
        "lake.commit_write_s": _mean([c.get("write_s", 0.0) for c in commits]),
        "lake.commit_stats_s": _mean([c.get("stats_s", 0.0) for c in commits]),
        "lake.commit_meta_s": _mean([c.get("meta_s", 0.0) for c in commits]),
        "lake.metadata_read_s": sum(
            s["self"] for s in tr.by_name("lake.metadata_read")
        ) / n_batches,
        "lake.commit_conflicts": float(sum(
            1 for s in tr.spans if s.get("error") == "CommitConflict"
            and s["name"] in ("lake.commit", "lake.compact")
        )),
        "lake.compact_s": _mean([c["dur"] for c in compacts]),
        "lake.compactions": float(sum(1 for c in compacts if c.get("buckets"))),
        "lake.buckets_compacted": float(sum(c.get("buckets", 0) for c in compacts)),
        "trace.spans": float(len(tr.spans)),
    }


# ----------------------------------------------------------- Spark event log
def spark_metrics(log_dir: Path, t_lo: float, t_hi: float,
                  n_ops: int) -> dict[str, float]:
    """Job, shuffle, spill, skew and GC figures for the jobs submitted
    within [t_lo, t_hi] (epoch seconds), per operation. Read after the
    session stopped, when the event log is complete."""
    files = [p for p in log_dir.rglob("*")
             if p.is_file() and not p.name.startswith(".")]
    job_stages: dict[int, list[int]] = {}
    task_rows = []
    for p in files:
        with open(p) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0) / 1000.0
                    if t_lo <= t <= t_hi:
                        job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    task_rows.append((
                        ev.get("Stage ID"),
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("JVM GC Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0)
                        + m.get("Memory Bytes Spilled", 0),
                    ))
    stages = {s for ss in job_stages.values() for s in ss}
    per_stage: dict[int, list[float]] = defaultdict(list)
    gc = shuffle = spill = 0.0
    for stage, run_s, gc_s, sw, sp in task_rows:
        if stage not in stages:
            continue
        per_stage[stage].append(run_s)
        gc += gc_s
        shuffle += sw
        spill += sp
    skew = 1.0
    for runs in per_stage.values():
        med = median(runs)
        if len(runs) >= 4 and med > 0:
            skew = max(skew, max(runs) / med)
    ops = max(1, n_ops)
    return {
        "spark.jobs": len(job_stages) / ops,
        "spark.shuffle_write_bytes": shuffle / ops,
        "spark.spill_bytes": spill / ops,
        "spark.task_skew": skew,
        "spark.gc_s": gc / ops,
    }
