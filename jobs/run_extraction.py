"""Cluster job entry point: interleaved-document extraction with
checkpoint/resume, lineage, and metrics.

Launch (cluster):
  zip -r api_ocr_spark.zip api_ocr_spark
  spark-submit --py-files api_ocr_spark.zip jobs/run_extraction.py \
      --documents s3://bucket/documents/ --output s3://bucket/out \
      --mode documento_completo --buckets 64 --run-id r1

Launch (local smoke, 4 cores):
  spark-submit --master 'local[4]' --py-files api_ocr_spark.zip \
      jobs/run_extraction.py --documents /root/testdata/sf0.001/documents.parquet \
      --output /tmp/extract_out --buckets 4

The documents are hashed into --buckets buckets, and the pending buckets are
committed in waves of four: each wave runs the span stage once (cached),
writes its buckets' output and metrics directories and then their lineage
rows, so a kill loses at most one wave. --max-buckets caps the buckets one
call commits.

With --media, media spans read their bytes from that store (media_ref,
bytes); a span whose store row is missing or corrupt is an error row in the
metrics table. Without it, media spans are rendered from the documents.

Resume after a kill: re-run with the same --output, --run-group and
--buckets; completed buckets are skipped via lineage (plans/checkpoint.py).
Another --buckets for the same run group is refused.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True, help="parquet path or table of documents")
    ap.add_argument("--media", default=None,
                    help="media store parquet (media_ref, bytes); default: render media in the job")
    ap.add_argument("--output", required=True, help="output base dir (output/lineage/metrics)")
    ap.add_argument("--mode", default="documento_completo")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--run-group", default="default")
    ap.add_argument("--run-id", default="r0")
    ap.add_argument("--max-buckets", type=int, default=None)
    args = ap.parse_args()

    # conf comes from spark-submit / cluster defaults; only engine-required
    # settings are applied here
    spark = (
        SparkSession.builder.appName(f"api-ocr-extract-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .getOrCreate()
    )
    from api_ocr_spark.plans.checkpoint import run_with_checkpoint

    documents = spark.read.parquet(args.documents)
    media = spark.read.parquet(args.media) if args.media else None
    summary = run_with_checkpoint(
        spark,
        documents,
        base_dir=args.output,
        run_group=args.run_group,
        run_id=args.run_id,
        mode=args.mode,
        n_buckets=args.buckets,
        max_buckets=args.max_buckets,
        media=media,
    )
    print(json.dumps({"run_id": args.run_id, **summary}))
    spark.stop()


if __name__ == "__main__":
    main()
