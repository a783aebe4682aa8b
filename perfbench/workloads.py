"""The four workloads. Each one is a class with the same life cycle:

- ``setup()`` makes the seeded inputs and their oracle (part of set-up
  time);
- ``warmup()`` runs the timed path once, checked, so JIT compilation and
  Spark code generation land before timing;
- ``prepare(tag)`` builds fresh per-phase state (a new lake, tail or poll
  directory), untimed and untraced;
- ``measure(seconds, tracer)`` runs the timed loop and returns a
  ``Phase`` with the end-to-end figures, the report lines and the
  workload's own per-layer figures.

A traced run measures twice on the same inputs: once plain, once traced,
so the difference is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path
from typing import Any

import numpy as np
import pandas as pd

from .common import (
    HERE, STATE_COLS, canon_query, cores, median, same_state, tail_quantile,
)

N_BUCKETS = 64


@dataclass
class Phase:
    """What one measurement phase produced."""

    latency_p50_s: float
    # the workload's own end-to-end figures, by name: (value, unit)
    named: dict[str, tuple[float, str]]
    ops: int                      # unit of work for per-op Spark figures
    window: tuple[float, float]   # epoch seconds of the timed loop
    report: dict[str, Any] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


class Outcome:
    """Attempted and failed operations; a wrong output fails the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.problems: list[str] = []

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.fail(what)

    def fail(self, what: str) -> None:
        self.correct = False
        if len(self.problems) < 20:
            self.problems.append(what)


def lww_state(events: pd.DataFrame) -> pd.DataFrame:
    """Vectorized last-writer-wins state of a delivered event set: per
    key, the upserts after the key's last delete, the one with the
    highest (ts, lsn) wins. Checked against ``gen.oracle_replay`` on the
    full log before it is trusted for prefixes."""
    key = ["conv_id", "turn_idx"]
    ev = events.drop_duplicates(subset=["lsn"])
    dels = ev[ev["op"] == "D"].groupby(key)["lsn"].max().rename("__dlsn")
    ups = ev[ev["op"] != "D"].join(dels, on=key)
    ups = ups[ups["lsn"] > ups["__dlsn"].fillna(-1)]
    ups = ups.sort_values(["ts", "lsn"]).drop_duplicates(key, keep="last")
    return ups[STATE_COLS]


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def op_count(seconds: float, op_s: float, least: int) -> int:
    """Closed loops run a fixed number of operations, sized so that they
    take about ``seconds`` here (``op_s`` is one operation's wall on 4
    cores). A count fixed by the run length, not by how fast this run
    happens to go, keeps the warm-up drift of the JIT the same in every
    run, so medians of different runs compare."""
    return max(least, round(seconds / op_s))


class Workload:
    name = ""
    SPARK_CONF: dict[str, str] = {}   # session settings it runs under

    def __init__(self, spark, seed: int, seconds: float, work: Path,
                 outcome: Outcome):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.outcome = outcome

    def _read_state(self, lake) -> pd.DataFrame:
        return lake.read(user_cols=True).toPandas()


# ------------------------------------------------------------------ backfill
class Backfill(Workload):
    """Closed loop, one caller: ``operators.merge.replay`` of a seeded WAL
    into a fresh 64-bucket table in 4 lsn windows, again and again."""

    name = "backfill"
    N_EVENTS = 150_000
    WINDOWS = 4
    OP_S = 3.0

    def setup(self) -> None:
        from etl_bitcoin_spark.gen import (
            BinlogSpec, generate_binlog, oracle_replay, write_segments,
        )

        n = self.N_EVENTS
        self.pdf = generate_binlog(BinlogSpec(
            seed=self.seed, n_events=n, n_convs=max(50, n // 80),
            n_segments=8,
        ))
        self.segs = write_segments(self.pdf, str(self.work / "wal"))
        self.expected = oracle_replay(self.pdf)

    def replay_once(self, tag: str, spark=None) -> tuple[float, bool]:
        from etl_bitcoin_spark.operators import merge
        from etl_bitcoin_spark.tableformat import LakeTable

        spark = spark or self.spark
        path = self.work / f"lake-{tag}"
        try:
            lake = LakeTable.create(
                spark, str(path), merge.TRANSCRIPTS_DDL, merge.KEY_COLS,
                N_BUCKETS,
            )
            ev = spark.read.schema(merge.BINLOG_DDL).parquet(*self.segs)
            width = math.ceil(self.N_EVENTS / self.WINDOWS)
            t0 = time.perf_counter()
            merge.replay(lake, ev, batch_lsn_width=width)
            wall = time.perf_counter() - t0
            ok = same_state(lake.read(user_cols=True).toPandas(),
                            self.expected)
            return wall, ok
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def warmup(self) -> None:
        # the first replay compiles; the second lets the JIT catch up
        for i in range(2):
            _, ok = self.replay_once(f"warm{i}")
            if not ok:
                self.outcome.fail("backfill warmup state != oracle")

    def prepare(self, tag: str) -> None:
        self.tag = tag

    def measure(self, seconds: float, tracer=None) -> Phase:
        walls: list[float] = []
        t_lo = time.time()
        for i in range(op_count(seconds, self.OP_S, 3)):
            try:
                wall, ok = self.replay_once(f"{self.tag}-{i}")
            except Exception as e:  # a failed replay is a failed op
                self.outcome.op(False, f"replay {i}: {type(e).__name__}: {e}")
            else:
                walls.append(wall)
                self.outcome.op(ok, f"replay {i}: state != oracle")
        t_hi = time.time()
        med = median(walls)
        delivered = len(self.pdf)
        return Phase(
            latency_p50_s=med,
            named={"events_per_s": (self.N_EVENTS / med, "ev/s"),
                   "replay_p50_s": (med, "s")},
            ops=len(walls),
            window=(t_lo, t_hi),
            report={
                "replay_s": {"p50": med, "max": max(walls, default=med),
                             "n": len(walls)},
                "events_per_replay": self.N_EVENTS,
                "delivered_per_replay": delivered,
            },
            layer={
                "state.dup_drop_ratio":
                    (delivered - self.N_EVENTS) / delivered,
            },
        )


# ----------------------------------------------------------------- live_tail
class _StampedList(list):
    """The tailer's ``batch_results``: stamps the wall time at which each
    apply returned (epoch seconds)."""

    def __init__(self):
        super().__init__()
        self.stamps: list[float] = []

    def append(self, item):
        self.stamps.append(time.time())
        super().append(item)


class LiveTail(Workload):
    """Open loop at a fixed offered rate: a separate publisher process
    renames small WAL segments into the tailed directory on schedule;
    ``BinlogTailer.run_processing_time`` runs the live config (merge-on-read,
    delta_plan="auto", async compaction) with a 2 s trigger.

    Warm-up is a separate 4-batch drain through the same config, async
    compaction included. Triggers stay ~2x slower than warm for the first
    ~20 s of a fresh JVM; a lead-in inside the measured stream instead
    left the tail running near saturation."""

    name = "live_tail"
    # offered events per second: about half of what the live config
    # drains on 4 cores with this trigger (37-42k ev/s in 60k-120k-event
    # batches), so each trigger applies 33-40k events and the tail keeps up
    RATE = 20_000
    # seconds between segment publishes. The run fails when the publisher
    # falls more than one interval behind; at 50 ms a scheduling hiccup
    # of 83 ms on a loaded host failed a run
    INTERVAL = 0.2
    # longer than a trigger takes at this rate (1.2-1.5 s): triggers then
    # start on a fixed grid instead of back to back, so one slow trigger
    # does not delay the ones after it
    TRIGGER = "2 seconds"
    WARM_EVENTS = 80_000
    WARM_SEGMENTS = 8      # drained two per trigger
    # the repo's latency setup (scripts/bench_latency.py): weighted FAIR
    # pools put the trigger ahead of background compaction, which
    # rewrites at most 16 buckets per pass
    SPARK_CONF = {"spark.scheduler.mode": "FAIR"}
    COMPACT_MAX_BUCKETS = 16
    # a bucket is compacted once it holds this many deltas; the latency
    # script's 8 is more triggers than a 10 s run has, so compaction would
    # never run in the timed window
    COMPACT_MAX_DELTAS = 4

    def setup(self) -> None:
        from etl_bitcoin_spark.gen import (
            BinlogSpec, generate_binlog, oracle_replay, write_segments,
        )

        self.n_segs = max(20, round(self.seconds / self.INTERVAL))
        self.n = int(self.RATE * self.INTERVAL * self.n_segs)
        self.pdf = generate_binlog(BinlogSpec(
            seed=self.seed, n_events=self.n, n_convs=max(50, self.n // 80),
            n_segments=self.n_segs,
        ))
        self.staged = write_segments(self.pdf, str(self.work / "staged"))
        self.seg_hi = self.pdf.groupby("seg")["lsn"].max().to_numpy()
        self.seg_rows = self.pdf.groupby("seg").size().to_numpy()
        self.expected = oracle_replay(self.pdf)
        warm = generate_binlog(BinlogSpec(
            seed=self.seed + 7919, n_events=self.WARM_EVENTS,
            n_convs=self.WARM_EVENTS // 80, n_segments=self.WARM_SEGMENTS,
        ))
        self.warm_dir = self.work / "warm_wal"
        write_segments(warm, str(self.warm_dir))
        self.warm_expected = oracle_replay(warm)

    def _tailer(self, binlog_dir: Path, tag: str, files_per_trigger: int):
        from etl_bitcoin_spark.operators import merge
        from etl_bitcoin_spark.streaming import BinlogTailer
        from etl_bitcoin_spark.tableformat import LakeTable

        lake = LakeTable.create(
            self.spark, str(self.work / f"lake-{tag}"), merge.TRANSCRIPTS_DDL,
            merge.KEY_COLS, N_BUCKETS,
        )
        tailer = BinlogTailer(
            self.spark, str(binlog_dir), lake, str(self.work / f"ckpt-{tag}"),
            max_files_per_trigger=files_per_trigger, merge_on_read=True,
            delta_plan="auto", compact_policy="async",
            compact_max_deltas=self.COMPACT_MAX_DELTAS,
            compact_max_buckets=self.COMPACT_MAX_BUCKETS,
        )
        return lake, tailer

    def _cleanup(self, tag: str) -> None:
        for d in (f"lake-{tag}", f"ckpt-{tag}", f"tail-{tag}"):
            shutil.rmtree(self.work / d, ignore_errors=True)

    def warmup(self) -> None:
        lake, tailer = self._tailer(self.warm_dir, "warm", 2)
        tailer.run_available()
        if not same_state(self._read_state(lake), self.warm_expected):
            self.outcome.fail("live_tail warmup state != oracle")
        self._cleanup("warm")

    def prepare(self, tag: str) -> None:
        self.tag = tag
        self.tail_dir = self.work / f"tail-{tag}"
        self.tail_dir.mkdir(parents=True)
        self.lake, self.tailer = self._tailer(self.tail_dir, tag, 100_000)
        self.tailer.batch_results = _StampedList()

    def measure(self, seconds: float, tracer=None) -> Phase:
        out: dict[str, Any] = {}

        def tail():
            try:
                out["run"] = self.tailer.run_processing_time(
                    self.TRIGGER, until_events=self.n,
                    timeout_sec=seconds + 60,
                )
            except Exception as e:
                out["error"] = f"{type(e).__name__}: {e}"

        th = threading.Thread(target=tail, name="live-tail")
        th.start()
        while not self.spark.streams.active and th.is_alive():
            time.sleep(0.02)
        start = time.time() + 0.5
        plan = self.work / f"plan-{self.tag}.json"
        log = self.work / f"published-{self.tag}.json"
        plan.write_text(json.dumps({
            "segments": self.staged, "dst": str(self.tail_dir),
            "start": start, "interval": self.INTERVAL,
        }))
        pub = subprocess.Popen(
            [sys.executable, str(HERE / "publisher.py"),
             "--plan", str(plan), "--log", str(log)],
        )
        try:
            pub.wait(timeout=seconds + 60)
        finally:
            if pub.poll() is None:
                pub.kill()
                pub.wait()
        th.join(timeout=seconds + 90)
        t_hi = time.time()
        if th.is_alive():
            self.outcome.fail("live_tail: tailer did not stop")
        if "error" in out:
            self.outcome.fail(f"live_tail stream failed: {out['error']}")
        if pub.returncode != 0 or not log.exists():
            self.outcome.fail("live_tail publisher failed")
            times = []
        else:
            times = json.loads(log.read_text())
        due = [d for d, _ in times]
        lateness = [a - d for d, a in times]
        max_late = max(lateness, default=0.0)
        if max_late > self.INTERVAL:
            self.outcome.fail(
                f"live_tail generator fell {max_late:.3f}s behind schedule"
            )

        # apply i is Spark batch i: a fresh checkpoint numbers its
        # batches from 0 and runs foreachBatch only for batches with data
        stamps = self.tailer.batch_results.stamps
        results = list(self.tailer.batch_results)
        covered = []
        hi = -1
        for r in results:
            if r.get("applied") and r.get("lsn_range"):
                hi = max(hi, int(r["lsn_range"][1]))
            covered.append(hi)
        covered_arr = np.array(covered, dtype=np.int64)
        fresh, consumer = [], {}
        for s in range(len(due)):
            i = int(np.searchsorted(covered_arr, self.seg_hi[s], "left"))
            ok = i < len(results)
            self.outcome.op(ok, f"segment {s} never became visible")
            if ok:
                fresh.append(stamps[i] - due[s])
                consumer[s] = i
        # the final resolved state is one more checked operation
        self.outcome.op(same_state(self._read_state(self.lake), self.expected),
                        "live_tail final state != oracle")
        prog = {int(p["batchId"]): p
                for p in (out.get("run") or {}).get("progress", [])}
        applied = sum(int(r.get("events") or 0) for r in results)
        # time inside the foreachBatch body; the tail applies what is
        # offered, so events per busy second is the offered rate over the
        # busy share
        busy = sum(p["durationMs"].get("addBatch", 0)
                   for p in prog.values()) / 1000.0
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0
                for p in prog.values() if p.get("numInputRows")]
        delivered = int(self.seg_rows[:len(due)].sum())
        tail_label, tail_v = tail_quantile(fresh)
        layer = {
            "state.dup_drop_ratio":
                (delivered - applied) / delivered if delivered else 0.0,
        }
        if tracer is not None:
            layer.update(self._trace_layer(tracer, prog, due, consumer))
        self._cleanup(self.tag)
        return Phase(
            latency_p50_s=median(fresh),
            named={
                "events_per_s": (applied / busy if busy else 0.0, "ev/s"),
                "freshness_p50_s": (median(fresh), "s"),
                f"freshness_{tail_label}_s": (tail_v, "s"),
            },
            ops=max(1, len(results)),
            window=(start, t_hi),
            report={
                "freshness_s": {"p50": median(fresh), tail_label: tail_v,
                                "n": len(fresh)},
                "offered_events_per_s": self.RATE,
                "generator_max_late_s": max_late,
                "generator_p50_late_s": median(lateness),
                "batches": len(results),
                "apply_busy_s": busy,
                "trigger_s": {"p50": median(trig),
                              "max": max(trig, default=0.0)},
            },
            layer=layer,
        )

    def _trace_layer(self, tracer, prog, due, consumer) -> dict:
        by_commit = {
            s["batch"]: s for s in tracer.by_name("streaming.batch")
        }
        overhead = []
        for bid, p in prog.items():
            sp = by_commit.get(f"tail-{self.tailer.ns}-{bid}")
            if sp is not None:
                overhead.append(
                    p["durationMs"].get("triggerExecution", 0) / 1000.0
                    - sp["dur"]
                )
        waits = []
        for s, i in consumer.items():
            p = prog.get(i)
            if p is not None:
                waits.append(_iso_epoch(p["timestamp"]) - due[s])
        return {
            "streaming.trigger_overhead_s": median(overhead) if overhead else 0.0,
            "streaming.queue_wait_s": median(waits) if waits else 0.0,
        }


# ----------------------------------------------------------------- serve_mix
class ServeMix(Workload):
    """Closed loop, one client: ``PollTailer.poll_once`` ingests one WAL
    segment (merge-on-read, key Blooms, inline compaction), then a fixed
    number of batched point lookups ``read(keys=[8 conv_ids])``; every few
    polls one resolved full read to the noop sink."""

    name = "serve_mix"
    OP_S = 3.5             # one poll with its lookups
    BASE_EVENTS = 40_000
    SEG_EVENTS = 2_000
    TAIL_SEGS = 40
    LOOKUPS_PER_POLL = 6
    KEYS_PER_LOOKUP = 8
    SCAN_EVERY = 4

    def setup(self) -> None:
        from etl_bitcoin_spark.gen import (
            BinlogSpec, generate_binlog, oracle_replay, write_segments,
        )

        n = self.BASE_EVENTS + self.SEG_EVENTS * self.TAIL_SEGS
        self.n_convs = max(50, n // 80)
        self.pdf = generate_binlog(BinlogSpec(
            seed=self.seed, n_events=n, n_convs=self.n_convs,
            n_segments=n // self.SEG_EVENTS,
        ))
        segs = write_segments(self.pdf, str(self.work / "staged"))
        n_base = self.BASE_EVENTS // self.SEG_EVENTS
        self.base_segs, self.tail_segs = segs[:n_base], segs[n_base:]
        if not same_state(lww_state(self.pdf), oracle_replay(self.pdf)):
            self.outcome.fail("serve_mix: prefix oracle != gen.oracle_replay")
        self._prefix: dict[int, pd.DataFrame] = {}

    def oracle_at(self, hwm: int) -> pd.DataFrame:
        if hwm not in self._prefix:
            self._prefix = {
                hwm: lww_state(self.pdf[self.pdf["lsn"] <= hwm])
                .set_index("conv_id", drop=False)
            }
        return self._prefix[hwm]

    def _bootstrap(self, tag: str):
        from etl_bitcoin_spark.operators import merge
        from etl_bitcoin_spark.streaming import PollTailer
        from etl_bitcoin_spark.tableformat import LakeTable

        lake = LakeTable.create(
            self.spark, str(self.work / f"lake-{tag}"), merge.TRANSCRIPTS_DDL,
            merge.KEY_COLS, N_BUCKETS,
        )
        merge.replay(
            lake,
            self.spark.read.schema(merge.BINLOG_DDL).parquet(*self.base_segs),
        )
        poll_dir = self.work / f"poll-{tag}"
        poll_dir.mkdir(parents=True)
        for p in self.tail_segs:
            os.link(p, poll_dir / os.path.basename(p))
        poller = PollTailer(
            self.spark, str(poll_dir), lake, str(self.work / f"ckpt-{tag}"),
            max_files_per_trigger=1, merge_on_read=True, key_bloom=True,
        )
        return lake, poller

    def _pick(self, rng) -> list[str]:
        cold = rng.choice(
            np.arange(1, self.n_convs), size=self.KEYS_PER_LOOKUP,
            replace=False,
        )
        if rng.random() < 0.5:
            cold[0] = 0  # conv_0 is the generator's hot conversation
        return [f"conv_{c}" for c in cold]

    def _lookup_ok(self, rows, convs: list[str], hwm: int) -> bool:
        want = self.oracle_at(hwm)
        want = want[want["conv_id"].isin(convs)]
        got = pd.DataFrame([r.asDict() for r in rows], columns=STATE_COLS)
        return same_state(got, want.reset_index(drop=True))

    def _cleanup(self, tag: str) -> None:
        for d in (f"lake-{tag}", f"ckpt-{tag}", f"poll-{tag}"):
            shutil.rmtree(self.work / d, ignore_errors=True)

    def warmup(self) -> None:
        lake, poller = self._bootstrap("warm")
        rng = np.random.default_rng(self.seed + 1)
        for i in range(3):
            poller.poll_once()
            convs = self._pick(rng)
            rows = lake.read(keys=convs, user_cols=True).collect()
            if not self._lookup_ok(rows, convs, lake.hwm):
                self.outcome.fail("serve_mix warmup lookup != oracle")
        lake.read(user_cols=True).write.format("noop").mode("overwrite").save()
        self._cleanup("warm")

    def prepare(self, tag: str) -> None:
        self.tag = tag
        self.lake, self.poller = self._bootstrap(tag)

    def measure(self, seconds: float, tracer=None) -> Phase:
        lake, poller = self.lake, self.poller
        rng = np.random.default_rng(self.seed)
        polls, lookups, plans, scans = [], [], [], []
        files_opened, max_deltas = [], 0
        applied = 0
        t_lo = time.time()
        for i in range(op_count(seconds, self.OP_S, 3)):
            t0 = time.perf_counter()
            try:
                res = poller.poll_once()
            except Exception as e:
                self.outcome.op(False, f"poll {i}: {type(e).__name__}: {e}")
                break
            if res is None:
                break  # every segment consumed
            polls.append(time.perf_counter() - t0)
            self.outcome.op(bool(res.get("applied")), f"poll {i} refused")
            applied += int(res.get("events") or 0)
            hwm = lake.hwm
            for _ in range(self.LOOKUPS_PER_POLL):
                convs = self._pick(rng)
                t0 = time.perf_counter()
                df = lake.read(keys=convs, user_cols=True)
                t1 = time.perf_counter()
                rows = df.collect()
                lookups.append(time.perf_counter() - t0)
                plans.append(t1 - t0)
                self.outcome.op(self._lookup_ok(rows, convs, hwm),
                                f"lookup after poll {i} != oracle")
                if tracer is not None:
                    files_opened.append(len(df.inputFiles()))
                    ent = lake.bucket_entries()
                    max_deltas = max([max_deltas] + [
                        len(e.get("deltas", ())) for e in ent.values()
                    ])
            if i % self.SCAN_EVERY == self.SCAN_EVERY - 1:
                t0 = time.perf_counter()
                lake.read(user_cols=True).write.format("noop").mode(
                    "overwrite").save()
                scans.append(time.perf_counter() - t0)
                self.outcome.op(True)
        t_hi = time.time()
        hwm = lake.hwm
        self.outcome.op(
            same_state(self._read_state(lake),
                       self.oracle_at(hwm).reset_index(drop=True)),
            "serve_mix final state != oracle",
        )
        self._cleanup(self.tag)
        label, tail_v = tail_quantile(lookups)
        layer = {}
        if tracer is not None:
            layer = {
                "lake.lookup_plan_s": median(plans),
                "lake.lookup_files_opened":
                    sum(files_opened) / max(1, len(files_opened)),
                "lake.max_deltas_per_bucket": float(max_deltas),
            }
        return Phase(
            latency_p50_s=median(lookups),
            named={
                "events_per_s":
                    (applied / sum(polls) if polls else 0.0, "ev/s"),
                "lookup_p50_s": (median(lookups), "s"),
                f"lookup_{label}_s": (tail_v, "s"),
                "scan_s": (median(scans), "s"),
            },
            ops=max(1, len(polls)),
            window=(t_lo, t_hi),
            report={
                "lookup_s": {"p50": median(lookups), label: tail_v,
                             "n": len(lookups)},
                "scan_s": {"p50": median(scans), "n": len(scans)},
                "poll_s": {"p50": median(polls), "n": len(polls)},
                "segments_left": self.TAIL_SEGS - len(polls),
            },
            layer=layer,
        )


# ---------------------------------------------------------- curation_queries
CURATION_QUERIES = (
    "dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_exact",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "text_doc_profile",
)
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark order data column join small line customer query big window "
    "stream sort filter group vector"
).split()


class CurationQueries(Workload):
    """Closed loop, one caller: passes over the curation query set, each
    query sunk to noop, over a synthetic documents/embeddings corpus with
    the schema and shape of the repo's sf0.1 test data (5000 documents of
    10-100 words over a ~30-word vocabulary in 5 languages and 20 sources;
    2000 unit-length 64-d embeddings in 10 clusters). The benchmark runs
    in a bare checkout, so it makes the corpus instead of reading the
    test-data directory. The corpus is the same for every seed, as a
    read-only data set would be; the seed orders the queries."""

    name = "curation_queries"
    N_DOCS = 5_000
    N_VECS = 2_000
    DIM = 64
    N_LABELS = 10
    LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
             ("de", 0.15))
    CORPUS_SEED = 20_240_601
    OP_S = 12.0            # one warm pass

    def _write_corpus(self, path: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.CORPUS_SEED)
        n_docs, n_vecs = self.N_DOCS, self.N_VECS
        path.mkdir(parents=True)
        vocab = np.array(VOCAB)
        texts = [
            " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
            for _ in range(n_docs)
        ]
        langs, weights = zip(*self.LANGS)
        docs = pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(langs, n_docs, p=weights).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        labels = rng.integers(0, self.N_LABELS, n_vecs)
        centers = rng.normal(size=(self.N_LABELS, self.DIM))
        vecs = centers[labels] + 0.5 * rng.normal(size=(n_vecs, self.DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        emb = pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        })
        pq.write_table(docs, path / "documents.parquet")
        pq.write_table(emb, path / "embeddings.parquet")

    def setup(self) -> None:
        import duckdb
        from etl_bitcoin_spark.plans import pipeline_queries as pq_mod

        self.corpus = self.work / "corpus"
        self._write_corpus(self.corpus)
        self.queries = {k: pq_mod.QUERIES[k] for k in CURATION_QUERIES}
        order = list(CURATION_QUERIES)
        np.random.default_rng(self.seed).shuffle(order)
        self.order = order
        con = duckdb.connect()
        try:
            # the oracle runs while the JVM boots; on all cores it takes
            # about as long as the boot (~10 s) instead of ~40 s
            con.execute(f"SET threads TO {cores()}")
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.corpus / (t + '.parquet')}')"
                )
            self.oracle = {
                k: canon_query(con.execute(pq_mod.ORACLES[k]).df())
                for k in CURATION_QUERIES
            }
        finally:
            con.close()

    def _run(self, k: str) -> None:
        self.queries[k](self.spark, str(self.corpus)).write.format(
            "noop").mode("overwrite").save()

    def warmup(self) -> None:
        # the checked pass: each query is an operation, a result that
        # differs from the oracle a failed one
        for k in self.order:
            got = canon_query(self.queries[k](self.spark, str(self.corpus))
                              .toPandas())
            self.outcome.op(got == self.oracle[k],
                            f"{k}: result != DuckDB oracle")

    def prepare(self, tag: str) -> None:
        self.tag = tag

    def measure(self, seconds: float, tracer=None) -> Phase:
        per_q: dict[str, list[float]] = {k: [] for k in self.order}
        passes: list[float] = []
        t_lo = time.time()
        # at least two passes. Passes are few because the cold checked
        # pass already takes ~35 s of a run; the first pass after it still
        # runs 10-30% slower than later ones.
        for _ in range(op_count(seconds, self.OP_S, 2)):
            total = 0.0
            for k in self.order:
                span = (tracer.span(f"query.{k}", jobs=True)
                        if tracer is not None else contextlib.nullcontext())
                t0 = time.perf_counter()
                try:
                    with span:
                        self._run(k)
                except Exception as e:
                    self.outcome.op(False, f"{k}: {type(e).__name__}: {e}")
                    continue
                dt = time.perf_counter() - t0
                per_q[k].append(dt)
                total += dt
                self.outcome.op(True)
            passes.append(total)
        t_hi = time.time()
        per_q_med = {k: median(v) for k, v in per_q.items()}
        # with several passes, one pass at each query's median: a slow
        # outlier of one query does not count, whichever pass it fell in
        med = sum(per_q_med.values())
        layer = {}
        if tracer is not None:
            layer = {f"query.{k}_s": v for k, v in per_q_med.items()}
        return Phase(
            latency_p50_s=med,
            named={"query_set_s": (med, "s")},
            ops=len(passes),
            window=(t_lo, t_hi),
            report={
                "query_set_s": med, "passes_s": passes,
                **{f"{k}_s": v for k, v in per_q_med.items()},
            },
            layer=layer,
        )


WORKLOADS = {
    w.name: w for w in (Backfill, LiveTail, ServeMix, CurationQueries)
}
