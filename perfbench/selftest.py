"""Self-test of the benchmark at tiny scale (a few minutes on 4 cores).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that

1. an untraced run prints every end-to-end metric with its unit, non-zero,
   and passes its oracle checks;
2. a traced run prints every per-layer metric, and the layers the
   workload exercises (``EXERCISED``) read non-zero;
3. a deliberately corrupted state (a lake missing one key, a corpus
   missing one document after its oracle was computed) is reported as a
   failure.

It also checks that without the engine package next to it, the command
exits non-zero and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from itertools import count
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import run, workloads  # noqa: E402
from perfbench.common import HERE, ROOT  # noqa: E402

# per-layer metrics that must read non-zero in a traced run: the layers
# that do the work in each workload (see the workload table in README.md)
EXERCISED = {
    "live_tail": (
        "streaming.trigger_overhead_s", "streaming.queue_wait_s",
        "streaming.batches", "streaming.events_per_batch",
        "state.guard_build_s", "state.bloom_update_s",
        "merge.apply_self_s", "merge.multiplicity",
        "lake.commit_write_s", "lake.commit_meta_s", "lake.metadata_read_s",
        "spark.jobs", "trace.spans",
    ),
    "curation_queries": tuple(
        f"query.{q}_s" for q in workloads.CURATION_QUERIES
    ) + ("spark.jobs", "spark.shuffle_write_bytes", "trace.spans"),
}

# each invocation gets its own seed, so its own scratch directory: the
# engine caches table metadata by path within a process
_seeds = count(5)


def shrink() -> None:
    """Tiny inputs: the self-test checks plumbing, not speed."""
    workloads.Backfill.N_EVENTS = 8_000
    workloads.LiveTail.RATE = 2_000
    workloads.LiveTail.WARM_EVENTS = 4_000
    workloads.ServeMix.BASE_EVENTS = 4_000
    workloads.ServeMix.SEG_EVENTS = 500
    workloads.ServeMix.TAIL_SEGS = 10
    workloads.CurationQueries.N_DOCS = 150
    workloads.CurationQueries.N_VECS = 100


def invoke(workload: str, trace: int) -> dict:
    args = argparse.Namespace(
        workload=workload, seed=next(_seeds), seconds=2.0, trace=trace,
    )
    run.T_PROCESS = time.perf_counter()  # set-up time counts from here
    result = run.execute(args)
    assert result is not None, "engine package not found"
    print(f"selftest: {workload} trace={trace}: {json.dumps(result)}",
          flush=True)
    return result


def check_metrics(result: dict, spec: list[dict],
                  nonzero: tuple[str, ...]) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], float), (name, got[name])
    zero = [k for k in nonzero if not got[k]["value"]]
    assert not zero, f"metrics that read 0: {zero}"


def delete_first_key(lake) -> None:
    """One more commit that deletes the table's first key."""
    from etl_bitcoin_spark.operators import merge

    row = lake.read(user_cols=True).orderBy(*merge.KEY_COLS).first()
    bad = lake.spark.createDataFrame(
        [(lake.hwm + 1, "D", row["conv_id"], row["turn_idx"], None,
          None, None, row["ts"])],
        merge.BINLOG_DDL,
    )
    merge.apply_batch(lake, bad, "selftest-corrupt")


@contextmanager
def corrupted(workload: str):
    """Patch the workload so that the state it checks is wrong."""
    if workload == "live_tail":
        from etl_bitcoin_spark.streaming import BinlogTailer

        owner, attr = BinlogTailer, "run_processing_time"
        orig = owner.run_processing_time

        def patched(self, *args, **kwargs):
            out = orig(self, *args, **kwargs)
            delete_first_key(self.lake)
            return out
    elif workload == "curation_queries":
        import pyarrow.parquet as pq

        owner, attr = workloads.CurationQueries, "setup"
        orig = owner.setup

        def patched(self):
            orig(self)  # the oracle sees the whole corpus
            path = self.corpus / "documents.parquet"
            pq.write_table(pq.read_table(path).slice(1), path)
    else:
        raise ValueError(f"no corruption for {workload}")
    setattr(owner, attr, patched)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


def engine_missing_fails() -> None:
    bare = ROOT / ".bench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "live_tail",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180, env=env,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, p.returncode
    assert '"correct"' not in p.stdout, p.stdout
    print(f"selftest: bare checkout exits {p.returncode}", flush=True)


def main() -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    engine_missing_fails()
    shrink()
    for w in (w["name"] for w in bench["workloads"]):
        r = invoke(w, trace=0)
        check_metrics(r, bench["end_to_end"],
                      tuple(m["name"] for m in bench["end_to_end"]))
        assert r["correct"] and r["failed"] == 0, r
        r = invoke(w, trace=1)
        check_metrics(r, bench["per_layer"], EXERCISED[w])
        assert r["correct"] and r["failed"] == 0, r
        with corrupted(w):
            r = invoke(w, trace=0)
        assert not r["correct"] and r["failed"] >= 1, r
    print("selftest: OK", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
