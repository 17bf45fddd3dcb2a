"""spark-submit entry point for the extraction pipeline.

Cluster usage (north rule — multi-executor, ``--py-files``)::

    python tools/make_dist.py
    spark-submit \
        --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 --executor-memory 8g \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=512 \
        --py-files dist/pipeline.zip \
        jobs/extract.py --input s3://bucket/pages --output s3://bucket/out \
        --partitions 65536 --partitions-per-commit 1024

Sandbox smoke (what tests/test_spark_submit.py runs)::

    spark-submit --master 'local[4]' --py-files dist/pipeline.zip \
        jobs/extract.py --input fixtures/data/pages_smoke.parquet \
        --output /tmp/out --partitions 8

The job is resumable: re-submitting with the same --output skips partitions
already marked completed in the lineage store (J3 anti-join semantics,
SURVEY.md §2.3). Flag defaults are ``run_extraction_job``'s keyword
defaults. This is the one extraction CLI; run it with ``python`` (the
master defaults to local) or through spark-submit.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser(description="webtext extraction job (spark-submit)")
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--input-format", choices=("parquet", "warc"),
                    default="parquet",
                    help="'warc' ingests raw Common-Crawl segments "
                         "(sources/warc.py) instead of a pages table")
    ap.add_argument("--output", required=True, help="output root (results/rejects/_lineage)")
    ap.add_argument("--partitions", type=int, default=64,
                    help="lineage granules = pmod(xxhash64(url), P)")
    ap.add_argument("--partitions-per-commit", type=int, default=16)
    ap.add_argument("--max-bytes", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--prepartition-dir", default=None,
                    help="rewrite the (parquet) input partitioned by "
                         "partition_id into this dir first (skipped if its "
                         "layout marker already exists), then run from it; "
                         "resume commit groups then prune at the scan")
    ap.add_argument("--webhook-url", default=os.environ.get("WEBHOOK_URL"),
                    help="POST per-doc completion notifications here "
                         "(reference WEBHOOK_URL, app/main.py:215)")
    args = ap.parse_args()

    # Master/resources come from spark-submit flags, not from code: the same
    # file runs on local[N] and on a 1000-executor YARN/K8s cluster.
    spark = (SparkSession.builder.appName("webtext-extract")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             # 512 rows, NOT the bench's 2048: maxRecordsPerBatch caps rows,
             # not bytes — the JVM materializes and ships the WHOLE batch
             # before the UDF's byte-budget re-slicing sees it (slices are
             # zero-copy views), so with untrusted input admitting docs up
             # to MAX_FILE_SIZE the worst-case batch is rows x 50 MB. 2048
             # is safe (and +34%) on corpora whose p99 doc size is known
             # small — override via --conf for such runs.
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
             .getOrCreate())

    from document_converter_api_spark.functions.expressions import MAX_FILE_SIZE
    from document_converter_api_spark.plans.pipeline import (
        _prepartitioned_p,
        prepartition_pages,
        run_extraction_job,
    )

    input_path = args.input
    if args.prepartition_dir:
        if _prepartitioned_p(args.prepartition_dir) is None:
            prepartition_pages(spark, args.input, args.prepartition_dir,
                               num_partitions=args.partitions)
        input_path = args.prepartition_dir
    stats = run_extraction_job(
        spark,
        input_path,
        args.output,
        num_partitions=args.partitions,
        partitions_per_commit=args.partitions_per_commit,
        max_bytes=args.max_bytes or MAX_FILE_SIZE,
        shuffle_partitions=args.shuffle_partitions,
        input_format=args.input_format,
        webhook_url=args.webhook_url,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
