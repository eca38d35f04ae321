"""spark-submit entry point (north rule: launched via spark-submit --py-files).

    python scripts/build_pyfiles.py                  # → dist/events_validator_spark.zip
    spark-submit --py-files dist/events_validator_spark.zip \
        --master <cluster> dist/run_validation.py --docs N --out DIR

In the sandbox (no cluster manager) the same module runs directly:

    python -m events_validator_spark --docs 100000 --out /tmp/run
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="events_validator_spark")
    ap.add_argument("--docs", type=int, default=100_000,
                    help="synthetic interleaved-doc count (deterministic)")
    ap.add_argument("--out", required=True, help="lakehouse root of the run")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--partitioned", action="store_true",
                    help="materialize the docs partitioned by a synthetic "
                         "date_utc and resume on the partition column "
                         "(each bucket scan partition-prunes)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[] cores (ignored under a real cluster master)")
    ap.add_argument("--log-payload", action="store_true")
    ap.add_argument("--log-valid-fields", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:  # under spark-submit the session/master is given
        spark = active
    else:
        from events_validator_spark.session import get_spark
        spark = get_spark(app_name="events-validator-run", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    from events_validator_spark.plans.pipeline import run_validation
    from events_validator_spark.sources.synthetic import DOC_RULES, interleaved_docs

    docs = interleaved_docs(spark, args.docs)
    bucket_col = None
    if args.partitioned:
        import os
        from pyspark.sql import functions as F
        src = os.path.join(args.out, "docs_partitioned")
        # date_add, not string day-of-month concatenation: --buckets > 31
        # would synthesize invalid dates that to_date NULLs out, silently
        # collapsing those buckets into the null partition (ADVICE r2)
        (docs.withColumn(
            "date_utc",
            F.date_add(F.lit("2024-01-01"),
                       F.pmod(F.xxhash64("doc_id"),
                              F.lit(args.buckets)).cast("int")))
         .write.mode("overwrite").partitionBy("date_utc").parquet(src))
        docs = spark.read.parquet(src)
        bucket_col = "date_utc"
    summary = run_validation(
        docs, DOC_RULES, args.out, n_buckets=args.buckets,
        bucket_col=bucket_col, run_id=args.run_id,
        log_payload_when_error=args.log_payload,
        log_valid_fields=args.log_valid_fields)
    json.dump(summary, sys.stdout)
    print()


if __name__ == "__main__":
    main()
