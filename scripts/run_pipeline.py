#!/usr/bin/env python
"""spark-submit entry point: end-to-end filter pipeline over webpages.

The north-star deployment shape (BASELINE.json): package the library,
run via

    cd /root/repo && zip -r /tmp/fastfilter_spark.zip fastfilter_spark
    spark-submit --py-files /tmp/fastfilter_spark.zip \
        scripts/run_pipeline.py --n-pages 100000 --kind fuse8 \
        --out /tmp/filter_out

Synthesizes the webpages table (or reads --input parquet with the same
schema), builds a sharded filter over the url keys into the --out
checkpoint directory with per-shard lineage, probes it, and prints a
JSON summary.  A rerun with the same --out and input reuses the
committed table; one over another input, or into a directory holding
files but no build manifest, raises ValueError.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="parquet dir with webpages schema; default: synthesize")
    ap.add_argument("--n-pages", type=int, default=100_000)
    ap.add_argument("--kind", default="fuse8",
                    choices=["xor8", "xor16", "fuse8", "fuse16", "fuse32"])
    ap.add_argument("--shard-bits", type=int, default=None)
    ap.add_argument("--out", required=True, help="filter table directory")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F
    spark = SparkSession.builder.appName("fastfilter-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from fastfilter_spark.operators.dist import build_sharded
    from fastfilter_spark.sources.webpages import (
        extraction_mismatch_count, synthesize_webpages, url_keys)

    if args.input:
        wp = spark.read.parquet(args.input)
    else:
        wp = synthesize_webpages(spark, args.n_pages, seed=42)

    mismatches = extraction_mismatch_count(wp)
    keys = url_keys(wp)

    t0 = time.perf_counter()
    sfilter, table = build_sharded(keys, "key", kind=args.kind,
                                   shard_bits=args.shard_bits,
                                   checkpoint_dir=args.out)
    build_s = time.perf_counter() - t0

    n_distinct = keys.distinct().count()
    n_pass = keys.distinct().where(
        sfilter.contains_udf(spark)(F.col("key"))).count()

    print(json.dumps({
        "kind": args.kind,
        "num_shards": sfilter.num_shards,
        "n_keys": n_distinct,
        "n_pass": n_pass,
        "false_negatives": n_distinct - n_pass,
        "extract_mismatches": mismatches,
        "filter_bytes": sfilter.size_in_bytes(),
        "bits_per_entry": round(sfilter.bits_per_entry(n_distinct), 3),
        "build_s": round(build_s, 2),
        "filter_table": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
