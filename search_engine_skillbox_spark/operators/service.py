"""Full search service over the physical index — the engine's equivalent
of GET /api/search end-to-end (SURVEY §3.1):

  query analysis (driver) → block-max top-k (wand.py / serving.py) →
  hydrate of the k docs (J3: driver-side doclens→docs point reads,
  with a doc_bucket-pruned broadcast-join Spark fallback) →
  title/snippet/url in pure Python over k rows (present.py) →
  API-shaped response with the reference's edge cases and quirks
  (Q4 result:false on out-of-range offset, Q7 blank site, Q8 raw
  float32 relevance). On a tombstone-free store every stage is served
  driver-side: a search_service request runs ZERO Spark jobs.

Site-filtered search (T9): `site=` (a host, the engine's site key)
routes to wand.site_topk — candidates from the term-pruned physical
blocks joined to the (doc_id, host) projection of docs/, with df and
N recomputed WITHIN the site exactly like the reference's site JPQL
(IndexRepository.java:41-50; SearchServiceImpl.java:81-106). No
per-site rebuild; cost bounded by the query terms' posting lists.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.textprep import distinct_query_terms, query_words
from ..functions.urlutils import site_name_py
from .index_store import IndexStore
from .present import build_result_url, build_snippet, build_title
from .serving import serving_enabled
from .wand import site_topk, wand_topk


def search_service(spark: SparkSession, store: IndexStore, query: str,
                   offset: int = 0, limit: int = 10,
                   mode: str = "compat", site: str | None = None) -> dict:
    """site: optional host filter (the reference's `site` query param,
    SearchServiceImpl.java:27); blank behaves like absent (:85)."""
    if query is None or not query.strip():
        return {"result": False, "count": 0, "data": []}
    q_terms = distinct_query_terms(query)
    if not q_terms:
        return {"result": True, "count": 0, "data": []}
    meta = store.meta()
    site = site.strip() if site else None
    if site:
        n_scope = int(meta.get("n_docs_by_host", {}).get(site, 0))
    else:
        n_scope = meta["n_docs"]
    if n_scope <= 0:
        return {"result": True, "count": 0, "data": []}

    limit = max(1, limit)
    offset = max(0, offset)
    k = offset + limit

    serving_on = serving_enabled()
    has_tomb = store.has_tombstones()

    # top-k: serving tier FIRST, called directly — wand_topk/site_topk
    # would wrap the served rows back into a DataFrame whose collect()
    # schedules one Spark job (a local-rows createDataFrame is RDD-
    # backed in Spark 4), which was the only job left in an otherwise
    # driver-side request. None → the distributed plan.
    rows = None
    if serving_on and not has_tomb:
        if site:
            from .serving import serve_site_topk
            rows = serve_site_topk(store, q_terms, k, site, mode)
        else:
            from .serving import serve_topk
            rows = serve_topk(store, q_terms, k, mode)
        if rows is not None:
            rows = [{"doc_id": int(d), "score": float(s)}
                    for d, s in rows]
    if rows is None:
        if site:
            topk = site_topk(spark, store, q_terms, k, site, mode,
                             serving=False)
        else:
            topk = wand_topk(spark, store, q_terms, k, mode,
                             serving=False)
        rows = topk.collect()

    # total match count (reference returns total matches, not page size):
    # single term → df straight from the terms dictionary (zero decode);
    # multi-term → count-distinct over doc_ids only (tf bytes never read)
    # dictionary rows: driver-side pyarrow lookup when serving is on
    # (correct regardless of tombstones — terms/ is maintained exactly
    # by every mutation), Spark bucket-pruned scan otherwise. With the
    # serving top-k, count and hydrate paths this makes the whole
    # tombstone-free search_service a ZERO-Spark-job request.
    trows = None
    if serving_on:
        from .serving import terms_rows_arrow
        tmap = terms_rows_arrow(store, q_terms)
        if tmap is not None:
            trows = [tmap[t] for t in q_terms if tmap[t] is not None]
    if trows is None:
        trows = store.query_terms_rows(spark, q_terms)
    # serving tier: the total-match count is a bounded distinct-union
    # over the query terms' doc_ids — answered driver-side on
    # tombstone-free stores (operators/serving.py), Spark fallback on
    # any bound breach. The single-term no-site total stays the free
    # dictionary df (no decode at all).
    total = None
    needs_count_job = bool(site) or len(q_terms) > 1 or has_tomb
    if trows and needs_count_job and not has_tomb and serving_on:
        from .serving import serve_match_count
        total = serve_match_count(store, q_terms, site or None)
    if total is None:  # distributed fallback (serving declined / off)
        if not trows:
            total = 0
        elif site:
            # block-coverage-pruned distributed count (wand): the old
            # live_docids-over-query_blocks plan decoded every query
            # term's FULL global posting list just to count within one
            # host — the round-3 site+stopword anti-pattern, resurfacing
            # through the count on every request the serving tier
            # declines
            from .wand import site_match_count
            total = site_match_count(spark, store, q_terms, site)
        elif len(trows) == 1 and len(q_terms) == 1 and not has_tomb:
            total = trows[0]["df"]
        else:
            from .wand import live_docids
            total = (live_docids(spark, store,
                                 store.query_blocks(spark, q_terms))
                     .distinct().count())
    if offset > total:
        return {"result": False, "count": 0, "data": []}

    page = rows[offset:offset + limit]
    if not page:
        return {"result": True, "count": int(total), "data": []}

    ids = [r["doc_id"] for r in page]
    scores = {r["doc_id"]: r["score"] for r in page}
    qws = query_words(query)

    # J3 hydrate. Serving path: bounded driver-side point reads
    # (serving.serve_doc_rows — doclens resolves each id's host, docs/
    # is then read partition- AND row-group-pruned; O(k) row groups,
    # zero Spark jobs, zero corpus-size dependence). Title/snippet/url
    # are pure Python over the k rows (present.py), identical to the
    # pandas-UDF fallback by construction (same functions).
    hyd_rows = None
    if serving_on:
        from .serving import serve_doc_rows
        hyd_rows = serve_doc_rows(store, ids)
    if hyd_rows is None:
        # distributed fallback — doc_bucket partition pruning computed
        # driver-side, so even the Spark plan never scans more than the
        # k ids' doc-bucket slices (the round-4 unpruned-scan `weak`)
        from ..functions.hashing import doc_bucket as _dbf
        dbs = sorted({_dbf(int(d), store.n_doc_buckets) for d in ids})
        iddf = F.broadcast(
            spark.createDataFrame([(i,) for i in ids], "doc_id long"))
        hyd = (store.docs(spark)
               .filter(F.col("doc_bucket").isin(dbs))
               .join(iddf, "doc_id")
               .select("doc_id", "url_norm", "host", "path", "text"))
        hyd_rows = {r["doc_id"]: r for r in hyd.collect()}

    data = []
    for d in ids:
        r = hyd_rows.get(d)
        if r is None:
            continue
        data.append({
            "site": "",  # Q7 quirk
            "siteName": site_name_py(r["host"]),  # UrlUtils.java:43-59
            "uri": build_result_url(f"https://{r['host']}", r["path"]),
            "title": build_title(r["text"], r["path"]),
            "snippet": build_snippet(r["text"], qws),
            "relevance": float(np.float32(scores[d])),  # Q8 float32
        })
    return {"result": True, "count": int(total), "data": data}


def statistics_service(spark: SparkSession, store: IndexStore) -> dict:
    """GET /api/statistics equivalent (A6,
    StatisticsServiceImpl.java:26-86).

    Served ENTIRELY from persisted state — meta.json counts plus the
    lineage file's collapsed lifecycle (status / statusTime / lastError,
    C3/C4) — zero Spark jobs and zero table scans per dashboard call
    (the round-2 version re-scanned docs/ and counted terms/ each time).
    Page counts are maintained exactly through the incremental path.
    The GLOBAL lemma total is exact too: every mutation recounts it
    from the terms/ parquet footers (incremental._dict_size — the
    dictionary physically holds exactly the df>0 terms). Only the
    per-host lemma split refreshes at build/compact (a per-host
    distinct-term count needs per-(host, term) state nothing maintains
    incrementally — documented staleness the reference's dashboard
    shares)."""
    import os as _os

    from ..plans.checkpoint import Lineage
    meta = store.meta()
    life = Lineage(_os.path.join(store.path, "lineage.jsonl")).summary()
    # dashboard pages = ALL saved pages (the reference counts page rows,
    # including zero-term docs that never enter the index)
    pages_by_host = {h: int(n)
                     for h, n in meta.get(
                         "n_pages_by_host",
                         meta.get("n_docs_by_host", {})).items()
                     if int(n) > 0}
    return {
        "result": True,
        "statistics": {
            "total": {"sites": len(pages_by_host),
                      "pages": int(sum(pages_by_host.values())),
                      "lemmas": int(meta.get("n_terms_total", 0)),
                      "indexing": life["status"] == "INDEXING"},
            "detailed": [
                {"url": f"https://{h}", "name": site_name_py(h),
                 "status": life["status"],
                 "statusTime": life["status_time"],
                 "lastError": life["last_error"],
                 "pages": int(c),
                 "lemmas": int(meta.get("n_terms_by_host", {}).get(h, 0))}
                for h, c in sorted(pages_by_host.items())
            ],
        },
    }
