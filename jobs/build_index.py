"""spark-submit entry point: build the inverted index (north rule:
`spark-submit --py-files engine.zip jobs/build_index.py`).

Input: a pages parquet/table (url, warc_ts, html:binary, text, lang) or
a deterministic synthetic corpus (`--synthetic N`). Output: the physical
index (posting blocks + dictionaries + lineage) at --output.

Prints one JSON metrics line: docs, seconds, docs_per_sec, bytes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--salt-threshold", type=int, default=50_000)
    ap.add_argument("--checkpoint-groups", type=int, default=4)
    ap.add_argument("--build-id", default="b0")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--assume-unique", action="store_true",
                    help="input is unique by normalized url: skip the "
                         "upsert-dedup shuffle (bulk snapshot loads)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from search_engine_skillbox_spark.operators.index_store import IndexStore
    from search_engine_skillbox_spark.sources.corpus import pages_df
    from search_engine_skillbox_spark.sources.pages import prepare_pages

    spark = (SparkSession.builder.appName("build_index")
             # A/B'd on the 2M-doc corpus: larger Arrow batches cut the
             # JVM-side per-batch bookkeeping in every pandas-UDF stage
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        raw = pages_df(spark, args.synthetic, args.seed)
    else:
        raw = spark.read.parquet(args.input)

    t0 = time.time()
    prepared = prepare_pages(raw, assume_unique=args.assume_unique).persist()
    store = IndexStore(args.output, n_buckets=args.buckets,
                       salt_threshold=args.salt_threshold)
    # no pre-count: build's single materialization job fills the prepared
    # cache as a side effect (extract+tokenize+agg in ONE corpus pass);
    # the page count afterwards reads the cache only
    meta = store.build(spark, prepared, build_id=args.build_id,
                       checkpoint_groups=args.checkpoint_groups)
    n_pages = prepared.count()
    dt = time.time() - t0

    print(json.dumps({
        "pages": n_pages, "indexed_docs": meta["n_docs"],
        "seconds": round(dt, 3),
        "docs_per_sec": round(n_pages / dt, 1),
    }))


if __name__ == "__main__":
    main()
