"""spark-submit entry point: per-query job-count + latency profile over
a built index — the diagnostic twin of query_bench (which reports only
aggregate percentiles). For each query in the reference mix it reports
cold (first-touch: dictionary + histogram memoization misses) and warm
latency plus the number of Spark jobs each run scheduled, so scheduling
overhead is separable from decode volume."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--warm-reps", type=int, default=3)
    ap.add_argument("--add-small-host", type=int, default=0,
                    help="MUTATES the index: reindex_batch this many "
                    "synthetic pages under host tail.test so the site "
                    "profile has a genuinely small site (the synthetic "
                    "corpus's four hosts are each N/4)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from search_engine_skillbox_spark.operators.index_store import IndexStore
    from search_engine_skillbox_spark.operators.wand import wand_topk

    spark = SparkSession.builder.appName("query_profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    store = IndexStore(args.index)

    if args.add_small_host:
        from search_engine_skillbox_spark.operators.incremental import (
            reindex_batch)
        from search_engine_skillbox_spark.sources.corpus import make_page
        if "tail.test" not in store.meta().get("n_docs_by_host", {}):
            rows = []
            for i in range(args.add_small_host):
                p = make_page(7, 10_000_000 + i)
                p["url"] = f"https://tail.test/page/{i}"
                rows.append(p)
            import pandas as pd

            from search_engine_skillbox_spark.sources.corpus import (
                PAGES_SCHEMA)
            reindex_batch(spark, store,
                          spark.createDataFrame(pd.DataFrame(rows),
                                                PAGES_SCHEMA))

    terms = store.terms(spark).orderBy(F.desc("df")).limit(5000).collect()
    by_df = sorted(terms, key=lambda r: r["df"])
    rare, mid, heavy = (by_df[0]["term"], by_df[len(by_df) // 2]["term"],
                        by_df[-1]["term"])
    qset = {"mid": [mid], "rare": [rare], "heavy": [heavy],
            "mid+rare": [mid, rare], "all3": [heavy, mid, rare]}

    def timed(name: str, q: list[str], mode: str) -> dict:
        group = f"{name}-{mode}-{time.time()}"
        sc.setJobGroup(group, name)
        dbg: dict = {}
        t0 = time.time()
        wand_topk(spark, store, q, args.k, mode, debug=dbg).collect()
        dt = time.time() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        return {"sec": round(dt, 3), "jobs": jobs, "phases": dbg}

    out = {"terms": {"rare": rare, "mid": mid, "heavy": heavy},
           "df": {r["term"]: r["df"] for r in (by_df[0], by_df[len(by_df) // 2],
                                               by_df[-1])}}
    for mode in ("compat", "bm25"):
        res = {}
        for name, q in qset.items():
            cold = timed(name, q, mode)
            warms = [timed(name, q, mode) for _ in range(args.warm_reps)]
            res[name] = {"cold": cold,
                         "warm_sec": [w["sec"] for w in warms],
                         "warm_jobs": warms[0]["jobs"]}
        out[mode] = res

    # ---- site-filtered profile (T9, VERDICT r3 #1 done-criterion):
    # a site+stopword query must DECODE a small fraction of the
    # stopword's posting list — the point reader (serving.
    # _lookup_postings) fills the serve_site_lookup debug mark with the
    # blocks/postings it actually decoded, against the term's df.
    from search_engine_skillbox_spark.operators.wand import site_topk
    meta = store.meta()
    by_host = sorted(meta.get("n_docs_by_host", {}).items(),
                     key=lambda kv: kv[1])
    heavy_df = int(out["df"][heavy])
    site_res = {}
    hosts = ({"small": by_host[0], "large": by_host[-1]}
             if by_host else {})
    for label, (host, n_site) in hosts.items():
        runs = []
        for rep in range(1 + args.warm_reps):
            group = f"site-{label}-{rep}-{time.time()}"
            sc.setJobGroup(group, label)
            dbg: dict = {}
            t0 = time.time()
            site_topk(spark, store, [heavy, mid, rare], args.k, host,
                      "compat", debug=dbg).collect()
            dt = time.time() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("", "")
            runs.append({"sec": round(dt, 3), "jobs": jobs, "debug": dbg})
        # the same request WITHOUT the Spark wrapper (createDataFrame +
        # collect + tombstone check): isolates driver-side serve time
        # from per-call session overhead — the r4 in-profile-vs-
        # standalone gap (3.3 s vs 1.8 s) must name its layer
        from search_engine_skillbox_spark.operators.serving import (
            serve_site_topk)
        t0 = time.time()
        serve_site_topk(store, [heavy, mid, rare], args.k, host, "compat")
        direct_sec = round(time.time() - t0, 3)
        lk = runs[-1]["debug"].get("serve_site_lookup", {}).get(heavy, {})
        dec = lk.get("postings_decoded")
        site_res[label] = {
            "host": host, "n_site": n_site, "stopword_df": heavy_df,
            "cold_sec": runs[0]["sec"], "warm_sec": runs[-1]["sec"],
            "direct_serve_sec": direct_sec,
            "warm_jobs": runs[-1]["jobs"],
            "stopword_postings_decoded": dec,
            "stopword_decoded_fraction": (round(dec / heavy_df, 6)
                                          if dec is not None and heavy_df
                                          else None),
            "debug": runs[-1]["debug"]}
    out["site"] = site_res
    print(json.dumps(out))


if __name__ == "__main__":
    main()
