"""Streaming micro-batch latency evidence (processingTime trigger).

Tails the cached 2M-event WAL with a live processingTime trigger (the
steady-state deployment shape, vs. availableNow used for drain
benchmarks) and reports per-batch latency percentiles from the
StreamingQuery progress records: triggerExecution (end-to-end batch
latency incl. merge + atomic commit), addBatch (the foreachBatch body),
and throughput — for BOTH write paths:

- merge-on-write (default tables): every batch rewrites touched buckets'
  stored rows — throughput-optimal, pays the rewrite tax per batch.
- merge-on-read (``merge_on_read=True``): batches append per-bucket
  delta summaries; policy compaction amortizes the rewrite over
  ``compact_max_deltas`` batches. The latency path for sub-second live
  tails; compaction batches show up in the p99/max tail (reported, not
  hidden).

Writes BENCH/latency.json and BENCH/latency.md.

Env: LAT_EVENTS (default 2_000_000), LAT_FILES_PER_TRIGGER (default 2),
LAT_COMPACT_MAX_DELTAS (default 8), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_bitcoin_spark.session import get_spark  # noqa: E402

N_EVENTS = int(os.environ.get("LAT_EVENTS", "2000000"))
FILES_PER_TRIGGER = int(os.environ.get("LAT_FILES_PER_TRIGGER", "2"))
COMPACT_MAX_DELTAS = int(os.environ.get("LAT_COMPACT_MAX_DELTAS", "8"))
COMPACT_MAX_BUCKETS = int(os.environ.get("LAT_COMPACT_MAX_BUCKETS", "16"))


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    i = min(len(xs) - 1, int(round(q * (len(xs) - 1))))
    return xs[i]


def run_mode(spark, wal: str, merge_on_read: bool,
             compact_policy: str = "inline",
             delta_plan: str = "summary") -> dict:
    from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
    from etl_bitcoin_spark.streaming import BinlogTailer
    from etl_bitcoin_spark.tableformat import LakeTable

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    lake_dir = tempfile.mkdtemp(prefix="lat_lake_", dir=base)
    ckpt = tempfile.mkdtemp(prefix="lat_ckpt_", dir=base)
    try:
        lake = LakeTable.create(spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 64)
        tailer = BinlogTailer(
            spark, wal, lake, ckpt,
            max_files_per_trigger=FILES_PER_TRIGGER,
            merge_on_read=merge_on_read,
            compact_max_deltas=COMPACT_MAX_DELTAS if merge_on_read else None,
            compact_policy=compact_policy,
            # async nibbles: short rewrite passes (worst 16 of 64
            # buckets each) keep the background compactor's contention
            # window with live triggers brief
            compact_max_buckets=(
                COMPACT_MAX_BUCKETS if compact_policy == "async" else None
            ),
            # "auto" engages the raw delta plan (no exchange/sort,
            # group-shared delta files) while multiplicity stays ~1
            delta_plan=delta_plan,
        )
        out = tailer.run_processing_time(
            interval="500 milliseconds",
            until_events=N_EVENTS,
            timeout_sec=600,
        )
        prog = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in out["progress"]
        ]
        # keep batches that applied events, keyed by batch id: a fresh
        # checkpoint numbers batches from 0 in batch_results order, and
        # progress numInputRows reads 0 for a driver-staged trigger (its
        # batch frame never runs). The FIRST batch pays JIT + codegen +
        # parquet-reader warmup and is reported separately, not inside
        # the steady-state percentiles
        by_id = {int(p["batchId"]): p for p in prog}
        rows_batches = [
            by_id[i] for i, r in enumerate(out["batch_results"])
            if r.get("events") and i in by_id
        ]
        all_trig = [
            p["durationMs"]["triggerExecution"] / 1000 for p in rows_batches
        ]
        cold = all_trig[0] if all_trig else None
        trig = all_trig[1:] if len(all_trig) > 1 else all_trig
        add = [
            p["durationMs"].get("addBatch", 0) / 1000 for p in rows_batches
        ][1:]
        applied = sum(r.get("events", 0) for r in out["batch_results"])
        n_compactions = sum(
            1 for r in out["batch_results"]
            if r.get("compacted_buckets")
            or r.get("compaction") == "scheduled"
        )
        if merge_on_read:
            max_deltas = max(
                (len(e["deltas"]) for e in lake.bucket_entries().values()),
                default=0,
            )
        else:
            max_deltas = 0
        mode_name = (
            "merge_on_write" if not merge_on_read
            else ("merge_on_read" if compact_policy == "inline"
                  else "merge_on_read_async")
        )
        return {
            "mode": mode_name,
            "events": N_EVENTS,
            "files_per_trigger": FILES_PER_TRIGGER,
            "micro_batches": len(rows_batches),
            "events_per_batch": N_EVENTS // max(1, len(rows_batches)),
            "applied": applied,
            "cold_first_batch_sec": cold,
            "batch_latency_sec": {
                "p50": pct(trig, 0.5),
                "p90": pct(trig, 0.9),
                "p99": pct(trig, 0.99),
                "max": max(trig) if trig else None,
            },
            "addBatch_sec": {
                "p50": pct(add, 0.5),
                "p90": pct(add, 0.9),
            },
            "compaction_batches": n_compactions,
            "final_max_deltas_per_bucket": max_deltas,
            "sustained_events_per_sec": (
                round(
                    (applied - N_EVENTS // max(1, len(rows_batches)))
                    / sum(trig),
                    1,
                )
                if trig
                else None
            ),
        }
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def run_poll_mode(spark, wal: str) -> dict:
    """PollTailer at the raw-plan settings: same guards, same commit,
    same read-amp bound — minus the Spark streaming trigger machinery.
    Latency = full poll-iteration wall (listing + guards + merge +
    commit + cursor)."""
    from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
    from etl_bitcoin_spark.streaming import PollTailer
    from etl_bitcoin_spark.tableformat import LakeTable

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    lake_dir = tempfile.mkdtemp(prefix="lat_lake_", dir=base)
    ckpt = tempfile.mkdtemp(prefix="lat_ckpt_", dir=base)
    try:
        lake = LakeTable.create(spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, 64)
        tailer = PollTailer(
            spark, wal, lake, ckpt,
            max_files_per_trigger=FILES_PER_TRIGGER,
            merge_on_read=True,
            compact_max_deltas=COMPACT_MAX_DELTAS,
            compact_policy="async",
            compact_max_buckets=COMPACT_MAX_BUCKETS,
            delta_plan="auto",
        )
        out = tailer.run_poll(until_events=N_EVENTS, timeout_sec=600)
        walls = out["iteration_secs"]
        cold = walls[0] if walls else None
        warm = walls[1:] if len(walls) > 1 else walls
        applied = out["applied"]
        n_compactions = sum(
            1 for r in out["batch_results"]
            if r.get("compacted_buckets") or r.get("compaction") == "scheduled"
        )
        max_deltas = max(
            (len(e["deltas"]) for e in lake.bucket_entries().values()),
            default=0,
        )
        return {
            "mode": "poll_raw",
            "events": N_EVENTS,
            "files_per_trigger": FILES_PER_TRIGGER,
            "micro_batches": len(walls),
            "events_per_batch": N_EVENTS // max(1, len(walls)),
            "applied": applied,
            "cold_first_batch_sec": cold,
            "batch_latency_sec": {
                "p50": pct(warm, 0.5),
                "p90": pct(warm, 0.9),
                "p99": pct(warm, 0.99),
                "max": max(warm) if warm else None,
            },
            "addBatch_sec": {"p50": None, "p90": None},
            "compaction_batches": n_compactions,
            "final_max_deltas_per_bucket": max_deltas,
            "sustained_events_per_sec": (
                round(
                    (applied - N_EVENTS // max(1, len(walls)))
                    / sum(warm), 1,
                ) if warm else None
            ),
        }
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    from bench import _wal_dir  # reuse the cached seeded WAL

    spark = get_spark(
        "bench-latency",
        cores=min(int(os.environ.get("SPARK_GRAFT_CPUS", "8")), 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "16m",
            # FAIR pools: live-trigger jobs share slots with background
            # maintenance jobs instead of queueing behind them
            "spark.scheduler.mode": "FAIR",
        },
    )
    wal = _wal_dir(N_EVENTS, spark)
    reports = {}
    n_runs = int(os.environ.get("LAT_RUNS", "1"))
    for merge_on_read, policy, dplan in (
        (False, "inline", "summary"), (True, "inline", "summary"),
        (True, "async", "summary"), (True, "async", "auto"),
    ):
        # best-of-N by p50 (same shared-host noise rejection as the
        # throughput benches); every run's p50 is recorded alongside.
        runs = [
            run_mode(spark, wal, merge_on_read, policy, dplan)
            for _ in range(n_runs)
        ]
        r = min(runs, key=lambda x: x["batch_latency_sec"]["p50"] or 1e9)
        r["all_p50s"] = [x["batch_latency_sec"]["p50"] for x in runs]
        if dplan == "auto":
            r["mode"] = "merge_on_read_raw"
        reports[r["mode"]] = r
        print(json.dumps(r))
    poll_runs = [run_poll_mode(spark, wal) for _ in range(n_runs)]
    rp = min(
        poll_runs, key=lambda x: x["batch_latency_sec"]["p50"] or 1e9
    )
    rp["all_p50s"] = [x["batch_latency_sec"]["p50"] for x in poll_runs]
    reports["poll_raw"] = rp
    print(json.dumps(rp))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "latency.json"), "w") as f:
        json.dump(reports, f, indent=1)

    MODES = ("merge_on_write", "merge_on_read", "merge_on_read_async",
             "merge_on_read_raw", "poll_raw")

    def row(name, fn, fmt="{:.2f}"):
        cells = []
        for mode in MODES:
            v = fn(reports[mode])
            cells.append(fmt.format(v) if v is not None else "-")
        return "| " + name + " | " + " | ".join(cells) + " |"

    w = reports["merge_on_write"]
    md = [
        "# Streaming micro-batch latency (processingTime trigger)",
        "",
        f"Live tail of the {N_EVENTS:,}-event seeded WAL "
        f"({FILES_PER_TRIGGER} segment files/trigger, 500ms trigger, "
        "64-bucket lake, full exactly-once guards + Bloom state, async "
        "bloom persistence). Latency = Spark progress `triggerExecution` "
        "per micro-batch (merge + atomic manifest commit included). "
        "merge-on-read appends per-bucket delta summaries and compacts "
        f"past {COMPACT_MAX_DELTAS} deltas/bucket — compaction batches "
        "are INCLUDED in its percentiles (they are real batches).",
        "",
        "| metric | merge-on-write | merge-on-read (inline compact) "
        "| merge-on-read (async compact) | merge-on-read (raw plan, "
        "async) | poll loop (raw plan, async — no Spark trigger) |",
        "|---|---|---|---|---|---|",
        row("micro-batches", lambda r: r["micro_batches"], "{:.0f}"),
        row("events/batch", lambda r: r["events_per_batch"], "~{:,.0f}"),
        row("p50 batch latency (s)", lambda r: r["batch_latency_sec"]["p50"]),
        row("p90 batch latency (s)", lambda r: r["batch_latency_sec"]["p90"]),
        row("p99 batch latency (s)", lambda r: r["batch_latency_sec"]["p99"]),
        row("max batch latency (s)", lambda r: r["batch_latency_sec"]["max"]),
        row("cold first batch (s, excluded above)",
            lambda r: r["cold_first_batch_sec"]),
        row("sustained events/s (warm)",
            lambda r: r["sustained_events_per_sec"], "{:,.0f}"),
        row("compaction batches", lambda r: r["compaction_batches"], "{:.0f}"),
        row("final max deltas/bucket",
            lambda r: r["final_max_deltas_per_bucket"], "{:.0f}"),
        "",
        f"Best-of-{len(reports['merge_on_read'].get('all_p50s', [1]))} by p50 "
        "(shared-host noise; all runs' p50s recorded in latency.json: "
        f"write={reports['merge_on_write'].get('all_p50s')}, "
        f"read={reports['merge_on_read'].get('all_p50s')}, "
        f"read_async={reports['merge_on_read_async'].get('all_p50s')}, "
        f"read_raw={reports['merge_on_read_raw'].get('all_p50s')}). "
        "The raw plan (delta_plan='auto') appends the guarded batch AS "
        "the delta in one shared file per bucket group — no exchange, "
        "no sort; lineage islands come exact from the staged files. "
        "Under the async policy the compaction rewrite overlaps later "
        "triggers on a background thread (racing the stream through the "
        "commit CAS), so it never lands in a trigger's own latency; a "
        "final synchronous pass at stream stop restores the read-amp "
        "bound.",
        "",
        "merge-on-write pays the touched buckets' stored-row rewrite every "
        "batch (throughput-optimal for big drains); merge-on-read removes "
        "that tax from the common batch (one shuffle + delta append + "
        "metadata commit) and pays it once per compaction window — the "
        "sub-second live-tail configuration. Read-side cost: resolved "
        f"reads union ≤{COMPACT_MAX_DELTAS} delta files/bucket "
        "(bounded by the policy, enforced by test "
        "tests/test_streaming.py::test_stream_merge_on_read_converges_and_bounds_deltas).",
    ]
    with open(os.path.join(REPO, "BENCH", "latency.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print(json.dumps({"latency": reports}))
    spark.stop()


if __name__ == "__main__":
    main()
