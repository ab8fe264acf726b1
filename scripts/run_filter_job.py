"""Cluster job entrypoint — the spark-submit surface of the engine.

Local smoke run:
    python scripts/run_filter_job.py --input /tmp/caps --output /tmp/out \
        --manifest /tmp/manifest

Cluster run (north_rule shape):
    zip -r /tmp/corpusama_spark.zip corpusama_spark
    spark-submit --master <cluster> --py-files /tmp/corpusama_spark.zip \
        scripts/run_filter_job.py --input s3://.../captions \
        --output /mnt/shared/decisions --manifest /mnt/shared/manifest \
        --target-lang en

The job is restartable: each verified bucket wave is one commit to a
snapshot log, at --snapshots or else at --manifest, and re-running with
the same paths resumes at the first uncommitted wave
(checkpoint.run_checkpointed). A manifest table that older runs left at
--manifest is folded into the log once. This script reads the
output's parquet footers and the snapshot log through the local
filesystem of the machine it runs on, so --output, --manifest and
--snapshots must be paths mounted there (and shared with the executors
on a cluster).
Use --stream to drain new files incrementally instead (exactly-once,
streaming checkpoint).
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from corpusama_spark.checkpoint import run_checkpointed  # noqa: E402
from corpusama_spark.pipeline import FilterConfig  # noqa: E402
from corpusama_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="captions table path")
    ap.add_argument("--output", required=True, help="decisions output path")
    ap.add_argument(
        "--manifest", required=True,
        help="snapshot-log dir when --snapshots is absent; an older run's "
        "manifest table found here is folded into the log once",
    )
    ap.add_argument("--checkpoint", help="stream checkpoint dir (with --stream)")
    ap.add_argument("--target-lang", default=None)
    ap.add_argument("--min-portion", type=float, default=0.8)
    ap.add_argument("--nbuckets", type=int, default=64)
    ap.add_argument("--stream", action="store_true", help="incremental drain")
    ap.add_argument(
        "--snapshots", default=None,
        help="snapshot-log dir (default: --manifest): one atomic commit "
        "per verified wave (snapshots.read_as_of gives time travel)",
    )
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--wap-keep-rate", default=None, metavar="LO,HI",
        help="write-audit-publish gate: each wave commits staged and only "
        "publishes if its keep rate lies in [LO,HI] — a wave outside the "
        "band aborts un-committed for re-run",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="corpusama-filter")
    config = FilterConfig(
        target_lang=args.target_lang,
        min_portion=args.min_portion,
        nbuckets=args.nbuckets,
    )
    run_id = args.run_id or f"run-{uuid.uuid4().hex[:8]}"

    if args.stream:
        from corpusama_spark.streaming.incremental import stream_filter

        ckpt = args.checkpoint or (args.output.rstrip("/") + "_checkpoint")
        q = stream_filter(spark, args.input, args.output, ckpt, config)
        q.awaitTermination()
        print(f"stream drained: {q.lastProgress}")
    else:
        captions = spark.read.parquet(args.input)
        wap_audit = None
        if args.wap_keep_rate:
            lo, hi = (float(x) for x in args.wap_keep_rate.split(","))

            def wap_audit(m, _written, lo=lo, hi=hi):
                return m["n_rows"] > 0 and lo <= m["n_keep"] / m["n_rows"] <= hi

        n = run_checkpointed(
            spark, captions, args.output, args.manifest, config,
            run_id=run_id, snapshot_dir=args.snapshots, wap_audit=wap_audit,
        )
        print(f"{run_id}: processed {n} buckets")
    spark.stop()


if __name__ == "__main__":
    main()
