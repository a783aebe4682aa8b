"""Distributed synthetic binlog generation (Spark-native).

The pandas generator (binlog.py) is the adversarial-fixture source for
correctness tests; this one generates the SAME schema at cluster scale
(10^8+ events in minutes) for throughput work — embarrassingly parallel
`spark.range` + deterministic hash-mixing, no driver-side materialization.
Determinism: every column is a pure function of (id, seed) via
murmur-based column hashing, so regeneration is reproducible.

Adversarial knobs carried over: hot keys, deletes without payload,
ts jitter + second-truncation ties, duplicate deliveries (a sampled
union), bounded out-of-order (sort by hash within lsn-range partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .binlog import ROLES, TOOLS, WORDS


def _u(seed: int, salt: int):
    """Deterministic uniform [0,1) from (id, seed, salt)."""
    return (
        F.pmod(F.hash(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(1 << 30))
        / F.lit(float(1 << 30))
    )


def _pick(arr, seed: int, salt: int):
    lit = F.array(*[F.lit(str(x)) for x in arr])
    idx = F.pmod(F.hash(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(len(arr)))
    return F.element_at(lit, idx + 1)


def derive_binlog_columns(
    df: DataFrame,
    n_events: int,
    seed: int = 42,
    n_convs: int = 100_000,
    max_turns: int = 50,
    n_hot: int = 1,
    hot_share: float = 0.2,
    delete_rate: float = 0.08,
    ts_collision_rate: float = 0.15,
    evolution_point: float = 0.5,
) -> DataFrame:
    """Map an ``id`` column (monotonic ordinal) to the full binlog event
    schema via pure deterministic hash-mixing — usable over spark.range
    (bulk generation) or any other monotonic ordinal, such as a live
    streaming source's."""
    conv_num = F.when(
        _u(seed, 1) < hot_share,
        F.pmod(F.hash("id", F.lit(seed), F.lit(2)), F.lit(n_hot)),
    ).otherwise(
        n_hot + F.pmod(F.hash("id", F.lit(seed), F.lit(3)), F.lit(n_convs - n_hot))
    )
    micros = (
        F.col("id") * 1_000_000
        + F.pmod(F.hash("id", F.lit(seed), F.lit(4)), F.lit(60_000_000))
        - 30_000_000
    )
    micros = F.greatest(micros, F.lit(0))
    micros = F.when(
        _u(seed, 5) < ts_collision_rate,
        (micros / 60_000_000).cast("long") * 60_000_000,
    ).otherwise(micros)
    is_d = _u(seed, 6) < delete_rate
    text = F.concat_ws(
        " ",
        *[_pick(WORDS, seed, 10 + i) for i in range(8)],
        F.concat(F.lit("#"), F.col("id").cast("string")),
    )
    evo_lsn = int(n_events * evolution_point)
    out = df.select(
        F.col("id").alias("lsn"),
        F.when(is_d, "D").otherwise(
            F.when(_u(seed, 7) < 0.3, "I").otherwise("U")
        ).alias("op"),
        F.concat(F.lit("conv_"), conv_num.cast("string")).alias("conv_id"),
        F.pmod(F.hash("id", F.lit(seed), F.lit(8)), F.lit(max_turns))
        .cast("int").alias("turn_idx"),
        F.when(~is_d, _pick(ROLES, seed, 9)).alias("role"),
        F.when(~is_d, text).alias("text"),
        F.when(
            ~is_d & (F.col("id") >= evo_lsn) & (_u(seed, 11) < 0.5),
            _pick(TOOLS, seed, 12),
        ).alias("tool"),
        # 1704067200000000 = 2024-01-01T00:00:00Z in epoch micros
        # (literal: no session-timezone dependence)
        F.timestamp_micros(micros + F.lit(1704067200000000)).alias("ts"),
    )
    return out


def spark_binlog(
    spark: SparkSession,
    n_events: int,
    seed: int = 42,
    n_convs: int = 100_000,
    max_turns: int = 50,
    n_hot: int = 1,
    hot_share: float = 0.2,
    delete_rate: float = 0.08,
    ts_collision_rate: float = 0.15,
    dup_rate: float = 0.02,
    evolution_point: float = 0.5,
    partitions: int | None = None,
) -> DataFrame:
    parts = partitions or max(32, n_events // 500_000)
    df = spark.range(0, n_events, 1, parts)
    out = derive_binlog_columns(
        df, n_events, seed=seed, n_convs=n_convs, max_turns=max_turns,
        n_hot=n_hot, hot_share=hot_share, delete_rate=delete_rate,
        ts_collision_rate=ts_collision_rate, evolution_point=evolution_point,
    )
    if dup_rate > 0:
        dups = out.filter(_u_on(out, seed, 13) < dup_rate)
        out = out.unionByName(dups)
    return out


def _u_on(df: DataFrame, seed: int, salt: int):
    return (
        F.pmod(F.hash(F.col("lsn"), F.lit(seed), F.lit(salt)), F.lit(1 << 30))
        / F.lit(float(1 << 30))
    )


def write_spark_wal(
    df: DataFrame, out_dir: str, n_segments: int = 32, n_events: int | None = None
) -> None:
    """Write the stream as ordered lsn-range segment partitions, shuffled
    within each segment (bounded out-of-order), one file per segment."""
    n = n_events or df.agg(F.max("lsn")).collect()[0][0] + 1
    width = (n + n_segments - 1) // n_segments
    (
        df.repartitionByRange(n_segments, F.col("lsn"))  # contiguous ranges
        .sortWithinPartitions(F.hash("lsn"))  # in-segment disorder
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _ = width  # range partitioner picks its own bounds; width kept for docs
    # The tailer's ordered-micro-batch invariant rests on FileStreamSource
    # mtime ordering (see gen/binlog.py write_segments). Concurrent task
    # writes leave arbitrary mtimes, so stamp part files with strictly
    # increasing mtimes in lexicographic order — part-file numbering of a
    # range partitioner IS lsn order (partition 0 = lowest range).
    import os
    import time

    parts = sorted(
        f for f in os.listdir(out_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time()
    for i, fname in enumerate(parts):
        t = base + i
        os.utime(os.path.join(out_dir, fname), (t, t))
