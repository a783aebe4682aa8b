"""spark-submit entry point: CDC replay / streaming tail of a binlog.

Packaged per the north rule::

    python scripts/package.py                       # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        scripts/replay_job.py \
        --binlog /path/to/wal --lake /path/to/lake \
        [--stream --checkpoint /path/to/ckpt] \
        [--batch-width 1000000] [--buckets 256] [--shuffle-partitions 512]

The session is built WITHOUT a master so spark-submit / the cluster
manager owns deployment (local[.], YARN, k8s). Shuffle partitions and
bucket count are the two explicit scale knobs (north rule: "explicit
shuffle-partition tuning"): size shuffle partitions at 2-3x total
executor cores; size buckets so a bucket's live rows fit one executor's
memory comfortably (buckets are the merge's unit of rewrite
parallelism — at 10^10 events over ~10^9 keys, think 4k-16k buckets).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def build_session(args: argparse.Namespace) -> SparkSession:
    b = (
        SparkSession.builder.appName("etl-bitcoin-spark-replay")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    return b.getOrCreate()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--binlog", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--stream", action="store_true",
                   help="tail via Structured Streaming instead of batch replay")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--batch-width", type=int, default=1_000_000)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--shuffle-partitions", type=int, default=256)
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--merge-on-read", action="store_true",
                   help="streaming latency mode: delta appends + policy "
                        "compaction instead of per-batch bucket rewrites")
    p.add_argument("--compact-max-deltas", type=int, default=8)
    args = p.parse_args()

    spark = build_session(args)
    from etl_bitcoin_spark.operators.merge import (
        BINLOG_DDL, KEY_COLS, TRANSCRIPTS_DDL, replay,
    )
    from etl_bitcoin_spark.tableformat import LakeTable

    if LakeTable.exists(args.lake):
        lake = LakeTable(spark, args.lake)
    else:
        lake = LakeTable.create(
            spark, args.lake, TRANSCRIPTS_DDL, KEY_COLS, args.buckets
        )

    if args.stream:
        assert args.checkpoint, "--stream requires --checkpoint"
        from etl_bitcoin_spark.streaming import BinlogTailer

        tailer = BinlogTailer(
            spark, args.binlog, lake, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            merge_on_read=args.merge_on_read,
            compact_max_deltas=args.compact_max_deltas,
        )
        results = tailer.run_available()
    else:
        binlog = spark.read.schema(BINLOG_DDL).parquet(args.binlog)
        results = replay(lake, binlog, batch_lsn_width=args.batch_width)

    print(json.dumps({
        "batches": len(results),
        "events": sum(r.get("events", 0) for r in results),
        "hwm": lake.hwm,
        "rows_total": lake.lineage()["rows_total"],
        "applied_ranges": lake.lineage()["applied_ranges"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
