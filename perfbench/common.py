"""Shared plumbing for the benchmark: process environment, the Spark
session's lifetime, memory readings, percentiles and the canonical form
in which engine output is compared with its oracle."""

from __future__ import annotations

import math
import os
import resource
import statistics
import sys
import tempfile
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Environment knobs of the engine's session factory that would change what
# is measured; the benchmark pins its own configuration instead.
_ENGINE_ENV = (
    "SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_LIST_JOB_THRESHOLD",
)


def cores() -> int:
    """Cores this process may run on (``local[nproc]``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: Path) -> None:
    """Point every scratch location Spark and Python use into ``work``,
    so a run reads and writes only inside its checkout."""
    for k in _ENGINE_ENV:
        os.environ.pop(k, None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark_local")
    # The session factory's generic warmup costs ~30 s per process; each
    # workload warms the exact paths it times instead (see workloads.py).
    os.environ["SPARK_GRAFT_NO_WARMUP"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_spark(work: Path, n_cores: int, event_log: Path | None = None,
                extra: dict[str, str] | None = None):
    from etl_bitcoin_spark.session import get_spark

    conf = {**(extra or {}),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=n_cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM
    quits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (py_kb + _vm_hwm_kb(jvm_pid)) / 1024.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (the ``cpu`` line of
    ``/proc/stat``); empty where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time that the hypervisor took away
    (steal) between two ``cpu_times`` readings. Wall-clock figures of a
    run with high steal are slow for reasons outside the engine."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, 0 <= q <= 1."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_quantile(values: list[float], want: float = 0.95) -> tuple[str, float]:
    """The highest of p95/p90/p75/p50 that leaves at least ten samples
    beyond it, as (label, value)."""
    n = len(values)
    for q in (want, 0.90, 0.75, 0.50):
        if n * (1 - q) >= 10:
            return f"p{round(q * 100)}", quantile(values, q)
    return "p50", quantile(values, 0.5)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


# ----------------------------------------------------------- canonical rows
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def canon_state(df: pd.DataFrame) -> pd.DataFrame:
    """Transcripts state in one comparable shape: fixed column order,
    int64 turn_idx, microsecond timestamps, None for missing strings,
    rows sorted by key."""
    out = df[STATE_COLS].copy()
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def same_state(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    a, b = canon_state(got), canon_state(want)
    return len(a) == len(b) and a.equals(b)


def canon_query(df: pd.DataFrame) -> tuple[int, int, list[str]]:
    """Row count, order-independent content hash and column list of a
    query result: columns by name, integers widened, strings as text,
    each row hashed and the hashes summed."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c].dtype):
            df[c] = df[c].astype("float64")
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return len(df), int(h.sum(dtype="uint64")), list(df.columns)
