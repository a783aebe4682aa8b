"""Benchmark harness.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "cdc": {...}}

Env:
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores (default all)
  BENCH_EVENTS         synthetic CDC replay size (default 2_000_000)
  BENCH_REPLAY_ONLY    "1" -> skip per-query timings (scaling runs)

The CDC replay is the headline: a seeded synthetic binlog (cached in
/tmp keyed by size+seed) applied to a fresh LakeTable in 4 ordered
micro-batches; throughput = unique events applied / wall seconds,
including manifest commits — end-to-end, not kernel-only.

Per-query timings are single cold runs: `get_spark` runs no engine
warmup, so each includes its query shape's first-use compile and class
loading. They are not comparable with the round-7 totals in
`BENCH_r07*.json`, which were taken behind a session-build warmup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_bitcoin_spark.session import default_parallelism, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_EVENTS = int(os.environ.get("BENCH_EVENTS", "2000000"))
REPLAY_ONLY = os.environ.get("BENCH_REPLAY_ONLY", "0") == "1"
SEED = 42

HEADLINE = [
    "cdc_lww_apply",
    "cdc_binlog_derive",
    "cdc_dedup_lsn",
    "dedup_minhash_lsh",
    "dedup_exact",
    "ann_cosine_topk",
    "text_doc_profile",
    "join_customer_orders",
    "window_topk_orders",
]


def _wal_dir(n_events: int, spark=None) -> str:
    """Generate (once) and cache the synthetic WAL for this size/seed.

    Above 4M events (or with BENCH_GEN=spark) generation runs
    distributed via the Spark-native generator — the pandas fixture
    generator is the correctness source, not a scale tool."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    use_spark = spark is not None and (
        n_events > 4_000_000 or os.environ.get("BENCH_GEN") == "spark"
    )
    d = f"{base}/spark_graft_wal_{SEED}_{n_events}" + ("_sg" if use_spark else "")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    if use_spark:
        from etl_bitcoin_spark.gen.binlog_spark import spark_binlog, write_spark_wal

        df = spark_binlog(
            spark, n_events, seed=SEED,
            n_convs=max(1000, n_events // 200), max_turns=50, hot_share=0.2,
        )
        write_spark_wal(df, d, n_segments=32, n_events=n_events)
    else:
        from etl_bitcoin_spark.gen import BinlogSpec, generate_binlog, write_segments

        spec = BinlogSpec(
            seed=SEED,
            n_convs=max(1000, n_events // 200),
            max_turns=50,
            n_events=n_events,
            n_segments=32,  # scan parallelism: micro-batches span >=8 files
            hot_share=0.2,
        )
        write_segments(generate_binlog(spec), d)
    open(done, "w").write("ok")
    return d


def bench_replay(spark) -> dict:
    from pyspark.sql import functions as F

    from etl_bitcoin_spark.operators.merge import (
        BINLOG_DDL, KEY_COLS, TRANSCRIPTS_DDL, replay,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    wal = _wal_dir(N_EVENTS, spark)
    # lake on tmpfs: a real deployment writes to object storage whose
    # bandwidth scales with the cluster; a single local disk would
    # serialize the measurement instead.
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    lake_dir = tempfile.mkdtemp(prefix="bench_lake_", dir=base)
    try:
        # fixed bucket count: identical physical layout across parallelism
        # levels so the scaling comparison varies ONLY the core count
        n_buckets = int(os.environ.get("BENCH_BUCKETS", "64"))
        lake = LakeTable.create(
            spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, n_buckets
        )
        binlog = spark.read.schema(BINLOG_DDL).parquet(f"{wal}/*.parquet")
        # Warmup: JIT-compile the whole codegen path on a small slice +
        # throwaway lake so the timed region measures steady state.
        warm_dir = tempfile.mkdtemp(prefix="bench_warm_", dir=base)
        warm_lake = LakeTable.create(
            spark, warm_dir, TRANSCRIPTS_DDL, KEY_COLS, n_buckets
        )
        replay(
            warm_lake,
            binlog.filter(F.col("lsn") < 50000),
            batch_lsn_width=None,
            batch_id_prefix="warm",
        )
        shutil.rmtree(warm_dir, ignore_errors=True)
        t0 = time.time()
        results = replay(
            lake, binlog, batch_lsn_width=(N_EVENTS + 3) // 4,
            batch_id_prefix="bench",
        )
        wall = time.time() - t0
        applied = sum(r.get("events", 0) for r in results)
        return {
            "events_applied": applied,
            "wall_sec": round(wall, 3),
            "events_per_sec": round(applied / wall, 1),
            "batches": len(results),
            "final_rows": lake.lineage()["rows_total"],
        }
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)


def bench_stream_tail(spark) -> dict:
    """Sustained streaming path: Structured Streaming tailer over the
    same WAL (availableNow drain, 8 files/trigger), full exactly-once
    guards + Bloom state. Slower than bulk replay by design (selective
    bucket pruning + guard passes per micro-batch) — this is the
    steady-state ingest number, replay is the backfill number."""
    from etl_bitcoin_spark.streaming import BinlogTailer
    from etl_bitcoin_spark.operators.merge import KEY_COLS, TRANSCRIPTS_DDL
    from etl_bitcoin_spark.tableformat import LakeTable

    n = min(N_EVENTS, 2_000_000)  # streaming bench stays bounded
    wal = _wal_dir(n)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    lake_dir = tempfile.mkdtemp(prefix="bench_slake_", dir=base)
    ckpt = tempfile.mkdtemp(prefix="bench_ckpt_", dir=base)
    try:
        n_buckets = int(os.environ.get("BENCH_BUCKETS", "64"))
        # Warmup drain, symmetric with bench_replay's warm lake: the
        # FIRST streaming trigger pays ~5-7s of one-time cost (stream
        # codegen, file-index init, python-runner spin-up) that a real
        # deployment amortizes to zero — measured: first batch 9.9s vs
        # 2.5-3.1s warm on the same input. Steady state is the number.
        warm_wal = _wal_dir(50_000)
        warm_lake_dir = tempfile.mkdtemp(prefix="bench_swarm_", dir=base)
        warm_ckpt = tempfile.mkdtemp(prefix="bench_swarmc_", dir=base)
        warm_lake = LakeTable.create(
            spark, warm_lake_dir, TRANSCRIPTS_DDL, KEY_COLS, n_buckets
        )
        BinlogTailer(
            spark, warm_wal, warm_lake, warm_ckpt, max_files_per_trigger=8,
            assume_all_buckets=True,
        ).run_available()
        shutil.rmtree(warm_lake_dir, ignore_errors=True)
        shutil.rmtree(warm_ckpt, ignore_errors=True)
        lake = LakeTable.create(
            spark, lake_dir, TRANSCRIPTS_DDL, KEY_COLS, n_buckets
        )
        t0 = time.time()
        results = BinlogTailer(
            spark, wal, lake, ckpt, max_files_per_trigger=8,
            # 8 segments/trigger = ~500k events/batch: every batch touches
            # every bucket, so the bulk-drain mode (single-job merge with
            # lsn stats riding the merge, no discovery) is the correct
            # configuration for this workload shape
            assume_all_buckets=True,
        ).run_available()
        wall = time.time() - t0
        applied = sum(r.get("events", 0) for r in results)
        return {
            "events_applied": applied,
            "wall_sec": round(wall, 3),
            "events_per_sec": round(applied / wall, 1),
            "batches": len(results),
        }
    finally:
        shutil.rmtree(lake_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    # Thread knee re-measured post single-sort + 16g-heap fixes
    # (BENCH/knee.json, 2M-event replay, best/median of 3): local[8]
    # 169k, local[24] 195k/183k, local[32] 193k/188k ev/s. The round-1
    # "local[32] is 3x slower" pathology is FIXED (it was G1 young-gen
    # ballooning at 96g heap); 24-32 threads now lead by ~15%, so the
    # cap defaults to the full request.
    requested = default_parallelism()
    if "SPARK_GRAFT_MASTER" in os.environ:
        # scaling harness owns the deployment shape — don't second-guess
        cores = requested
    else:
        cores = min(requested, int(os.environ.get("BENCH_MAX_THREADS", "32")))
    spark = get_spark(
        "bench",
        cores=cores,
        # WAL segments are ~13MB: the 128m default bin-packs them into
        # ~5 scan tasks, starving >4 cores. 16m keeps scans wide.
        extra_conf={"spark.sql.files.maxPartitionBytes": "16m"},
    )
    timings: dict[str, float] = {}

    if not REPLAY_ONLY:
        from etl_bitcoin_spark.plans import all_queries

        qs = all_queries()
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)

    t0 = time.time()
    cdc = bench_replay(spark)
    timings["cdc_replay_e2e"] = cdc["wall_sec"]

    stream = None
    if not REPLAY_ONLY:
        stream = bench_stream_tail(spark)
        timings["cdc_stream_tail_e2e"] = stream["wall_sec"]

    out = {
        "metric": "cdc_change_events_per_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cores": cores,
        "cores_requested": requested,
        "cdc": cdc,
        "cdc_stream": stream,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
