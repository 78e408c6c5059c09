"""spark-submit entry point: the training-data pipeline measured
end-to-end at non-toy scale — generate an N-doc corpus (deterministic,
with planted duplicates), then run the cleaning stages the way a real
corpus build chains them, each stage reading the previous stage's
parquet and writing its own (honest timings: scan + compute + write):

    gopher filter → exact dedup → minhash-LSH near-dedup →
    benchmark decontamination → deterministic sample → PII redaction

Prints ONE JSON line: per-stage seconds, rows in/out, docs/s. The
artifact goes to BENCH/ so scale claims about the pipeline operators
are measured, not asserted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--workdir", default="/tmp/pipeline_bench")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from search_engine_skillbox_spark.operators import pipeline as P

    spark = SparkSession.builder.appName("pipeline_bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(args.workdir, ignore_errors=True)
    os.makedirs(args.workdir)

    def path(name: str) -> str:
        return os.path.join(args.workdir, name)

    # ---- corpus: documents-shaped, deterministic; every 100th doc is
    # an exact duplicate of its neighbor so dedup has real work
    seed = args.seed

    def gen(batches):
        import pandas as pd

        from search_engine_skillbox_spark.sources.corpus import doc_tokens
        for pdf in batches:
            ids = pdf["id"].tolist()
            texts = []
            for d in ids:
                src = d - 7 if (d % 100 == 7 and d >= 7) else d
                texts.append(" ".join(doc_tokens(seed, int(src))))
            yield pd.DataFrame({
                "doc_id": ids, "text": texts,
                "lang": [["ru", "en", "mixed"][d % 3] for d in ids]})

    t0 = time.time()
    (spark.range(args.docs).repartition(64)
     .mapInPandas(gen, "doc_id long, text string, lang string")
     .write.mode("overwrite").parquet(path("raw")))
    gen_sec = round(time.time() - t0, 1)

    # the chain runs through the RESUMABLE operator (clean_corpus:
    # per-stage lineage rows, crash-restart skips committed stages) so
    # the bench measures exactly what a production corpus build runs.
    # gopher_structural_only: the synthetic corpus has no real en/ru
    # stopwords, so the stopword-presence cue would zero the composite.
    # decontam_broadcast=True pins the plan the recorded BENCH/
    # pipeline_scaling* artifacts measured (the auto default now picks
    # the shuffle plan for a self-derived bench, which is the
    # 100 TB-safe choice but a different dataflow)
    chain_stages = P.default_clean_stages(gopher_structural_only=True,
                                          decontam_broadcast=True)
    res = P.clean_corpus(spark, path("raw"), path("work"),
                         stages=chain_stages)
    n_in = args.docs
    stages = []
    for s in res["stages"]:
        stages.append({"stage": s["stage"], "sec": round(s["sec"], 1),
                       "rows_in": n_in, "rows_out": s["rows_out"],
                       "docs_per_sec": round(n_in / s["sec"], 1)
                       if s["sec"] else None})
        n_in = s["rows_out"]
    n_cur = n_in
    total = round(sum(s["sec"] for s in stages), 1)
    print(json.dumps({
        "metric": "pipeline_end_to_end_sec", "value": total,
        "unit": "sec", "docs": args.docs, "gen_sec": gen_sec,
        "stages": stages,
        "final_rows": n_cur,
        "overall_docs_per_sec": round(args.docs / total, 1)}))


if __name__ == "__main__":
    main()
