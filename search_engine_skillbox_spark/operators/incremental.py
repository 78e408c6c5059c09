"""Incremental index maintenance — the POST /api/indexPage and delete
path (S9: utils/PageIndexingUtils.java:46-71 delete + re-add,
service/IndexingServiceImpl.java:137-161 entry).

Reference semantics: delete-if-exists (decrement lemma frequencies,
delete index rows, delete page row) then fetch/extract/save/index the
single page. Its decrement path truncates float ranks to int
(PageIndexingUtils.java:63) — a bug we deliberately do NOT reproduce:
stats here are maintained by exact ±deltas computed from the old/new
token streams.

Engine design (tombstone + generational append — the Iceberg
merge-on-read shape):

  * every posting block carries `gen` (build = 0)
  * reindex: append the new doc's postings as gen = G+1 blocks into the
    affected term buckets; write a tombstone (doc_id, dead_gen = G)
    killing all older generations of that doc; bump meta gen
  * delete: tombstone only
  * dictionaries: terms df/cf/max_tf updated by exact deltas (dynamic
    partition overwrite of the affected term buckets only); docs and
    doclens rows replaced in the doc's hash bucket partition; meta
    n_docs / sum_dl / avgdl adjusted exactly
  * max_tf only ever grows (a removed high-tf doc would lower it, but a
    stale max keeps WAND bounds sound — merely less tight until
    compact())
  * compact(): full rebuild from the maintained docs table — the
    sandbox stand-in for Iceberg snapshot compaction

Scale: one reindex touches ≤ |distinct terms of old ∪ new text| term
buckets and exactly one doc bucket; nothing corpus-wide runs. Merges
that rewrite a partition they also read (terms/docs/doclens/tombstones)
are `localCheckpoint()`-ed first — the merged rows materialize to
executor block storage, breaking the read-path dependency WITHOUT
round-tripping rows through the driver (the round-1 driver-collect
bottleneck); no collect() here scales with bucket or corpus size.

Crash consistency: each mutation records per-step lineage rows
(plans/checkpoint.Lineage, build_id = "incr-g<gen>-<payload>" where
<payload> identifies the mutation's input — done-step skipping on
replay only ever applies to a replay of the SAME payload; a foreign
payload's DONE rows at the same gen raise, requiring compact) in the
same file the build uses. The steps are ordered so a crash window leaves the
index QUERY-SAFE but possibly stats-stale: tombstones land before new
blocks (worst case: doc temporarily missing), dictionaries before meta
(worst case: df/cf fresh, n_docs stale by one batch). check_consistency
detects drift by recomputing df/cf from live blocks; compact() is the
repair hammer (full rebuild from the maintained docs table).
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import term_bucket
from ..sources.pages import prepare_pages
from .codec import encode_postings
from .index_store import IndexStore


def _tokenize_py(text: str) -> list[str]:
    from ..functions.textprep import PY_TOKEN_SPLIT
    return [t for t in PY_TOKEN_SPLIT.split((text or "").lower()) if t]


def _incr_lineage(store: IndexStore):
    from ..plans.checkpoint import Lineage
    return Lineage(os.path.join(store.path, "lineage.jsonl"))


def _gen_bid(lineage, gen: int, payload_key: str) -> str:
    """Lineage build_id for one incremental mutation: generation number
    PLUS a payload identity. Done-step skipping on replay must only
    apply to a replay of the SAME payload — keyed by gen alone, a crash
    of mutation A at gen G followed by a DIFFERENT mutation B computing
    the same G would find A's DONE rows and silently skip appending B's
    own tombstones/blocks/dictionary deltas (posting loss, not just
    meta drift). A foreign payload's DONE rows at the same gen are a
    consistency error: the store holds a half-applied generation that
    meta does not reflect — raise and require compact() rather than
    stack a second half-applied generation on top."""
    bid = f"incr-g{gen}-{payload_key}"
    prefix = f"incr-g{gen}-"
    foreign = {r["build_id"] for r in lineage.load()
               if r["build_id"].startswith(prefix)
               and r["build_id"] != bid and r["status"] == "DONE"}
    if foreign:
        raise RuntimeError(
            f"index store holds partially-applied generation {gen} from a "
            f"different mutation ({sorted(foreign)[0]}): meta was never "
            f"bumped, so its steps cannot be distinguished from this "
            f"mutation's. Run operators.incremental.compact() to repair "
            f"before applying new mutations.")
    return bid


def _payload_hash(id_content_pairs) -> str:
    """Deterministic CONTENT identity for a batch: hash of the sorted
    (doc_id, text_hash) pairs. Hashing ids alone is not enough — a
    retry of the same urls with a FRESHER crawl has the same doc_ids
    but different postings, and done-step skipping across the two would
    stitch half of each content into one generation (blocks from the
    old text, docs/ from the new). With content in the key, that retry
    sees a foreign half-applied generation and raises (compact to
    repair) instead."""
    import hashlib
    h = hashlib.sha1()
    for d, th in sorted((int(a), int(b)) for a, b in id_content_pairs):
        h.update(d.to_bytes(8, "little", signed=True))
        h.update(th.to_bytes(8, "little", signed=True))
    return h.hexdigest()[:12]


def _step(lineage, build_id: str, pid: str, fn,
          done: set | None = None) -> None:
    """Run one incremental mutation step with a lineage row (RUNNING →
    DONE/FAILED); a crash leaves an inspectable record of how far the
    generation got (recovery: check_consistency / compact). `done`
    (lineage.done_partitions of this generation) makes a REPLAY of a
    partially-applied generation skip completed steps — the non-
    idempotent ones (block append, dictionary deltas) must never run
    twice for the same gen."""
    if done and pid in done:
        return
    t0 = lineage.start(build_id, pid)
    try:
        fn()
        lineage.done(build_id, pid, t0, rows=0, nbytes=0)
    except Exception as e:
        lineage.failed(build_id, pid, t0, str(e))
        raise


def _doc_row(spark: SparkSession, store: IndexStore, doc_id: int):
    from ..functions.hashing import doc_bucket
    db = doc_bucket(doc_id, store.n_doc_buckets)
    rows = (store.docs(spark)
            .filter(F.col("doc_bucket") == db)  # partition pruning
            .filter(F.col("doc_id") == doc_id)
            .select("doc_id", "url", "url_norm", "host", "path", "text",
                    "lang", "warc_ts").collect())
    return rows[0] if rows else None


def _append_blocks(spark: SparkSession, store: IndexStore,
                   doc_id: int, counts: Counter, gen: int,
                   avgdl: float = 0.0) -> None:
    import numpy as np
    dl = sum(counts.values())  # per-posting dl = the doc's length
    rows = []
    for term, tf in counts.items():
        for blk in encode_postings(np.array([doc_id], np.int64),
                                   np.array([tf], np.int64),
                                   np.array([dl], np.int64), avgdl):
            rows.append(Row(term=term, salt=0, tier=0, gen=gen,
                            bucket=term_bucket(term, store.n_buckets),
                            **blk))
    if not rows:
        return
    # max_imp MUST ride along: dropping it here makes appended files
    # diverge from the gen-0 schema (mixed parquet footers — reads then
    # nondeterministically lose the column) and appended blocks would
    # read NULL max_imp, permanently losing BM25 block pruning. Explicit
    # schema: inference would fail on an all-None max_imp (avgdl=0 store).
    df = spark.createDataFrame(
        rows,
        "term string, salt int, tier int, gen int, bucket int, "
        "block_id long, n long, max_tf long, first_doc long, "
        "last_doc long, docs binary, tfs binary, dls binary, "
        "max_imp double").select(
        "term", F.col("salt").cast("int").alias("salt"),
        F.col("tier").cast("int").alias("tier"),
        F.col("block_id").cast("int").alias("block_id"),
        F.col("n").cast("int").alias("n"),
        F.col("max_tf").cast("int").alias("max_tf"),
        "first_doc", "last_doc", "docs", "tfs", "dls",
        F.col("max_imp").cast("double").alias("max_imp"),
        F.col("gen").cast("int").alias("gen"),
        F.col("bucket").cast("int").alias("bucket"))
    (df.coalesce(1).write.mode("append").partitionBy("bucket")
     .parquet(os.path.join(store.path, "blocks")))


def _write_tombstones(spark: SparkSession, store: IndexStore,
                      dead: list[tuple[int, int]]) -> None:
    """Merge (doc_id, dead_gen) rows into the tombstone table, keeping
    the max dead_gen per doc. The merge reads the path it overwrites →
    localCheckpoint materializes it first (no driver round-trip)."""
    if not dead:
        return
    tomb_path = os.path.join(store.path, "tombstones")
    old = store.tombstones(spark)
    new = spark.createDataFrame(dead, "doc_id long, dead_gen int")
    if old is not None:
        merged = (old.unionByName(new).groupBy("doc_id")
                  .agg(F.max("dead_gen").cast("int").alias("dead_gen"))
                  .localCheckpoint())
    else:
        merged = new
    merged.coalesce(1).write.mode("overwrite").parquet(tomb_path)


def _update_terms(spark: SparkSession, store: IndexStore,
                  old_counts: Counter, new_counts: Counter) -> None:
    """Exact df/cf deltas for affected terms; dynamic overwrite of the
    affected bucket partitions of the terms table only."""
    affected = set(old_counts) | set(new_counts)
    if not affected:
        return
    deltas = []
    for t in affected:
        o, n = old_counts.get(t, 0), new_counts.get(t, 0)
        deltas.append((t, (1 if n else 0) - (1 if o else 0), n - o, n))
    ddf = spark.createDataFrame(
        deltas, "term string, d_df long, d_cf long, new_tf long")
    buckets = sorted({term_bucket(t, store.n_buckets) for t in affected})
    cur = store.terms(spark).filter(F.col("bucket").isin(buckets))
    upd = (cur.join(F.broadcast(ddf), "term", "full")
           .select(
               F.col("term"),
               (F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("d_df"), F.lit(0))).alias("df"),
               (F.coalesce(F.col("cf"), F.lit(0))
                + F.coalesce(F.col("d_cf"), F.lit(0))).alias("cf"),
               F.greatest(F.coalesce(F.col("max_tf"), F.lit(0)),
                          F.coalesce(F.col("new_tf"), F.lit(0)))
               .cast("int").alias("max_tf"),
               # gen-0 salt layout is fixed at build: PRESERVE n_salt;
               # brand-new terms only ever have salt-0 append blocks → 1
               F.coalesce(F.col("n_salt"), F.lit(1)).cast("int")
               .alias("n_salt"))
           .filter(F.col("df") > 0))
    upd = upd.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("term")),
                         F.lit(store.n_buckets)).cast("int"))
    # localCheckpoint (not collect): the merge reads terms/ and dynamic-
    # overwrites the same path; materializing to executor block storage
    # breaks the dependency without driver round-trips that would scale
    # with bucket size (dictionary/n_buckets rows per touched bucket).
    out = upd.localCheckpoint()
    (out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(os.path.join(store.path, "terms")))


def _dict_size(store: IndexStore) -> int:
    """Exact live-term count from the terms/ parquet FOOTERS (zero jobs,
    zero data pages): _update_terms writes only df>0 rows and dynamic
    overwrite replaces a touched bucket partition wholesale, so the
    dictionary's physical row count IS the distinct live-lemma count.
    Recomputed from committed state at meta-write time, it stays exact
    across crash replays too (a replayed generation skips the terms
    step but the footers already reflect it). Keeps the dashboard's
    GLOBAL lemma total exact between compacts — the per-host lemma
    split alone retains the documented build/compact staleness (it
    needs per-(host, term) state no engine maintains incrementally)."""
    import pyarrow.parquet as pq

    from .index_store import walk_parquet_files
    # per-file footer counts memoized by (mtime_ns, size): a mutation
    # rewrites only the touched bucket partitions, so steady-state cost
    # is a directory walk + footer parses for the CHANGED files only
    memo = getattr(store, "_dict_size_memo", None)
    if memo is None:
        memo = store._dict_size_memo = {}
    total = 0
    seen = set()
    for fp in walk_parquet_files(os.path.join(store.path, "terms")):
        st = os.stat(fp)
        key = (st.st_mtime_ns, st.st_size)
        hit = memo.get(fp)
        if hit is None or hit[0] != key:
            memo[fp] = (key,
                        pq.ParquetFile(fp).metadata.num_rows)
        seen.add(fp)
        total += memo[fp][1]
    for stale in set(memo) - seen:  # replaced partitions drop out
        memo.pop(stale, None)
    return total


def _update_doc_tables(spark: SparkSession, store: IndexStore,
                       doc_id: int, host: str, new_row: dict | None,
                       new_dl: int | None) -> None:
    """Replace (or drop) the doc's row in docs/ and doclens/ — reads and
    rewrites ONLY the doc's partition, via a DIRECT overwrite of the
    partition directory. Dynamic partition overwrite cannot be used
    here: it never CLEARS a partition whose merged content is empty, so
    deleting the last doc of a partition would leave a stale row that a
    later re-add of the same url double-decrements the dictionaries
    with. host is immutable per doc_id (doc_id = hash(url_norm), host
    derived from url_norm), so the doc's (host_bucket, doc_bucket) is
    stable across reindexes."""
    from ..functions.hashing import doc_bucket, term_bucket
    db = doc_bucket(doc_id, store.n_doc_buckets)
    hb = term_bucket(host, store.n_host_buckets)  # pmod(xxhash64(host), n)

    docs_cur = (store.docs(spark)
                .filter((F.col("host_bucket") == hb)
                        & (F.col("doc_bucket") == db))  # pruned read
                .filter(F.col("doc_id") != doc_id)
                .select("doc_id", "url", "url_norm", "host", "path",
                        "text", "lang", "warc_ts"))
    if new_row is not None:
        add = spark.createDataFrame(
            [Row(**new_row)],
            "doc_id long, url string, url_norm string, host string, "
            "path string, text string, lang string, warc_ts timestamp")
        docs_cur = docs_cur.unionByName(add)
    # localCheckpoint: the merged partition (which includes full text
    # rows) never round-trips through the driver; the read-path
    # dependency on docs/ is cut before overwriting the same directory.
    out = docs_cur.localCheckpoint()
    (out.coalesce(1)
     .sortWithinPartitions("host", "doc_id")  # keep host rg-stats tight
     .write.mode("overwrite")
     .parquet(os.path.join(store.path, "docs",
                           f"host_bucket={hb}", f"doc_bucket={db}")))

    dl_cur = (store.doclens(spark)
              .filter(F.col("doc_bucket") == db)
              .filter(F.col("doc_id") != doc_id)
              .select("doc_id", F.col("dl").cast("int").alias("dl"),
                      "host"))
    if new_dl is not None and new_dl > 0:
        dl_cur = dl_cur.unionByName(spark.createDataFrame(
            [(doc_id, new_dl, host)], "doc_id long, dl int, host string"))
    dl_out = dl_cur.localCheckpoint()
    (dl_out.coalesce(1)
     .sortWithinPartitions("doc_id")  # keep the point-read stats tight
     .write.mode("overwrite")
     .option("parquet.block.size", 1024 * 1024)
     .parquet(os.path.join(store.path, "doclens", f"doc_bucket={db}")))


def reindex_page(spark: SparkSession, store: IndexStore,
                 page: dict) -> dict:
    """page: {url, warc_ts, html(bytes|None), text(str|None), lang}.
    Returns {doc_id, old_existed, n_terms}."""
    try:
        return _reindex_page_body(spark, store, page)
    except BaseException:
        # a crashed mutation may have overwritten partitions already —
        # cached file listings are garbage (see reindex_batch wrapper)
        store.invalidate_reads()
        raise


def _reindex_page_body(spark: SparkSession, store: IndexStore,
                       page: dict) -> dict:
    pdf = spark.createDataFrame(
        [(page["url"], page.get("warc_ts"), page.get("html"),
          page.get("text"), page.get("lang"))],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    prep = prepare_pages(pdf).collect()[0]
    doc_id = prep["doc_id"]
    new_text = prep["text"]
    new_counts = Counter(_tokenize_py(new_text))

    meta = store.meta()
    gen = int(meta.get("gen", 0)) + 1

    old = _doc_row(spark, store, doc_id)

    lineage = _incr_lineage(store)
    # content-keyed payload (same rationale as _payload_hash): a retry
    # of the same url with DIFFERENT text must not done-skip into a
    # mixed generation — it raises as a foreign half-applied gen instead
    import hashlib
    bid = _gen_bid(lineage, gen,
                   f"doc{doc_id}-"
                   + hashlib.sha1(new_text.encode()).hexdigest()[:12])
    done = lineage.done_partitions(bid)  # same-payload crash replay
    # PRE-mutation doc state, pinned in a lineage NOTE before any step
    # runs: a replay that crashed between the docs/ step committing and
    # the meta write would otherwise recompute old_dl from the ALREADY-
    # OVERWRITTEN docs row (old == new → every meta delta nets to zero
    # → silent permanent drift of n_docs/sum_dl/by-host counts). The
    # note's values are from the original attempt, so the replay applies
    # the original deltas. old_counts (the terms-step input) needs no
    # note: whenever the terms step is NOT yet done, the docs step (which
    # is ordered after it) hasn't run either, so the recompute below is
    # still exact — and when it IS done the step is skipped.
    note = lineage.get_note(bid, "oldstate")
    if note is not None:
        old_existed = bool(note["old_existed"])
        old_dl = int(note["old_dl"])
    else:
        old_existed = old is not None
        old_dl = (sum(Counter(_tokenize_py(old["text"])).values())
                  if old is not None else 0)
        lineage.note(bid, "oldstate", old_existed=old_existed,
                     old_dl=old_dl)
    old_counts = (Counter(_tokenize_py(old["text"]))
                  if old is not None and "terms" not in done else Counter())
    # 1. tombstone old generations (delete-if-exists, S9)
    if old_existed:
        _step(lineage, bid, "tombstones",
              lambda: _write_tombstones(spark, store, [(doc_id, gen - 1)]),
              done=done)
    # 2. append new postings as generation `gen`
    _step(lineage, bid, "blocks",
          lambda: _append_blocks(spark, store, doc_id, new_counts, gen,
                                 float(meta.get("avgdl", 0.0))),
          done=done)
    # 3. exact dictionary deltas
    _step(lineage, bid, "terms",
          lambda: _update_terms(spark, store, old_counts, new_counts),
          done=done)
    # 4. docs/doclens row replacement
    new_row = {"doc_id": doc_id, "url": prep["url"],
               "url_norm": prep["url_norm"], "host": prep["host"],
               "path": prep["path"], "text": new_text,
               "lang": prep["lang"], "warc_ts": prep["warc_ts"]}
    new_dl = sum(new_counts.values())
    _step(lineage, bid, "docs",
          lambda: _update_doc_tables(spark, store, doc_id, prep["host"],
                                     new_row, new_dl),
          done=done)
    # 5. meta: n_docs / avgdl / gen (old_dl from the oldstate note —
    # exact even on a post-docs-step crash replay)
    meta["gen"] = gen
    # the appended blocks' max_imp used the PRE-update avgdl as basis
    basis = float(meta.get("avgdl", 0.0))
    if basis > 0:
        meta["min_imp_basis"] = min(
            float(meta.get("min_imp_basis", basis)), basis)
    meta["n_docs"] = meta["n_docs"] - (1 if old_dl > 0 else 0) \
        + (1 if new_dl > 0 else 0)
    meta["sum_dl"] = meta.get("sum_dl", 0) - old_dl + new_dl
    meta["n_dl"] = meta.get("n_dl", 0) - (1 if old_dl > 0 else 0) \
        + (1 if new_dl > 0 else 0)
    meta["avgdl"] = (meta["sum_dl"] / meta["n_dl"]) if meta["n_dl"] else 0.0
    # exact per-host participating-doc count (the dashboard reads meta,
    # never scans docs/): +1 when the doc starts participating, −1 when
    # it stops (zero-term rewrite)
    host = prep["host"]
    by_host = meta.get("n_docs_by_host", {})
    dh = (1 if new_dl > 0 else 0) - (1 if old_dl > 0 else 0)
    if dh:
        by_host[host] = by_host.get(host, 0) + dh
        if by_host[host] <= 0:
            by_host.pop(host)
    meta["n_docs_by_host"] = by_host
    if not old_existed:  # page rows count every saved page, zero-term or not
        pages = meta.get("n_pages_by_host", {})
        pages[host] = pages.get(host, 0) + 1
        meta["n_pages_by_host"] = pages
    meta["n_terms_total"] = _dict_size(store)
    store.write_meta(meta)
    store.invalidate_reads()
    return {"doc_id": doc_id, "old_existed": old_existed,
            "n_terms": len(new_counts)}


def delete_page(spark: SparkSession, store: IndexStore, url: str) -> dict:
    """Delete a page: tombstone + exact dictionary decrements (the
    reference's PageIndexingUtils.java:46-71, minus its float-truncation
    bug)."""
    try:
        return _delete_page_body(spark, store, url)
    except BaseException:
        store.invalidate_reads()  # see reindex_batch wrapper
        raise


def _delete_page_body(spark: SparkSession, store: IndexStore,
                      url: str) -> dict:
    pdf = spark.createDataFrame([(url,)], "url string")
    from ..functions.urlutils import normalize_url
    url_norm = pdf.select(normalize_url(F.col("url")).alias("u")).first()["u"]
    doc_id = (spark.createDataFrame([(url_norm,)], "u string")
              .select(F.xxhash64("u").alias("h")).first()["h"])
    old = _doc_row(spark, store, doc_id)
    meta = store.meta()
    gen = int(meta.get("gen", 0)) + 1
    lineage = _incr_lineage(store)
    bid = _gen_bid(lineage, gen, f"del{doc_id}")
    # PRE-mutation state note (same rationale as _reindex_page_body): a
    # replay that crashed after the docs step deleted the row would see
    # old is None and return early WITHOUT applying the meta deltas —
    # permanent n_docs/sum_dl/by-host drift. The note both records the
    # original old_dl/host and marks "this delete was in flight".
    note = lineage.get_note(bid, "oldstate")
    if old is None and note is None:
        return {"doc_id": doc_id, "deleted": False}
    done = lineage.done_partitions(bid)  # same-payload crash replay:
    # the terms decrement is non-idempotent — re-running it on a retry
    # would subtract the doc's df/cf twice (deletes are content-free, so
    # the bare doc_id payload is already a complete identity here)
    if old is not None:
        old_counts = Counter(_tokenize_py(old["text"]))
        old_dl = sum(old_counts.values())
        host = old["host"]
    else:  # replay past the docs step — terms/docs are done-skipped
        old_counts = Counter()
        old_dl = int(note["old_dl"])
        host = note["host"]
    if note is None:
        lineage.note(bid, "oldstate", old_dl=old_dl, host=host)
    _step(lineage, bid, "tombstones",
          lambda: _write_tombstones(spark, store, [(doc_id, gen - 1)]),
          done=done)
    _step(lineage, bid, "terms",
          lambda: _update_terms(spark, store, old_counts, Counter()),
          done=done)
    _step(lineage, bid, "docs",
          lambda: _update_doc_tables(spark, store, doc_id, host,
                                     None, None),
          done=done)
    meta["gen"] = gen
    meta["n_docs"] -= (1 if old_dl > 0 else 0)
    meta["sum_dl"] = meta.get("sum_dl", 0) - old_dl
    meta["n_dl"] = meta.get("n_dl", 0) - (1 if old_dl > 0 else 0)
    meta["avgdl"] = (meta["sum_dl"] / meta["n_dl"]) if meta["n_dl"] else 0.0
    h = host
    if old_dl > 0:
        by_host = meta.get("n_docs_by_host", {})
        by_host[h] = by_host.get(h, 0) - 1
        if by_host[h] <= 0:
            by_host.pop(h)
        meta["n_docs_by_host"] = by_host
    pages = meta.get("n_pages_by_host", {})
    if h in pages:
        pages[h] -= 1
        if pages[h] <= 0:
            pages.pop(h)
        meta["n_pages_by_host"] = pages
    meta["n_terms_total"] = _dict_size(store)
    store.write_meta(meta)
    store.invalidate_reads()
    return {"doc_id": doc_id, "deleted": True}


def reindex_batch(spark: SparkSession, store: IndexStore,
                  raw_pages, idem_key: tuple[str, int] | None = None) -> dict:
    """See _reindex_batch_body. This wrapper guarantees the store's
    read caches are dropped even when a mutation DIES mid-way: the
    crashed attempt may already have overwritten table partitions, so
    cached file listings are garbage — exactly what a restarted process
    would not have. (Found by the kill-and-restart stream test: the
    replay read a pre-crash terms/ listing and hit deleted files.)"""
    try:
        return _reindex_batch_body(spark, store, raw_pages, idem_key)
    except BaseException:
        store.invalidate_reads()
        raise


def _reindex_batch_body(spark: SparkSession, store: IndexStore,
                        raw_pages,
                        idem_key: tuple[str, int] | None = None) -> dict:
    """Distributed bulk reindex: the foreachBatch body of the streaming
    ingest (streaming/ingest.py) and the bulk form of reindex_page.

    idem_key = (stream_id, batch_id): the foreachBatch replay guard.
    A batch whose id is ≤ the recorded progress for its stream is a
    committed replay → exact no-op (returns the recorded stats). A
    replay of a PARTIALLY-applied generation (crash mid-batch, meta not
    yet bumped) recomputes the same gen and skips lineage-DONE steps, so
    blocks are never appended twice and dictionary deltas never applied
    twice; the meta deltas come from the pre-mutation oldstate lineage
    NOTE, so they stay exact even when the replay finds docs/ already
    overwritten (the pre-note version silently drifted in that window
    until check_consistency was run).

    Everything is DataFrame work — no per-row driver loops:
      new postings   postings_flat over the prepared batch
      old postings   postings_flat over the matching docs-table rows
                     (recomputed from stored text — cheaper than decoding
                     blocks, and exact by the byte-identity invariant)
      appends        standard encode pipeline at gen = G+1
      tombstones     one row per pre-existing doc
      dictionaries   groupBy deltas merged into the affected term buckets
      docs/doclens   dynamic overwrite of the affected doc buckets
    """
    from .build import postings_flat, term_stats

    meta = store.meta()
    if idem_key is not None:
        rec = meta.get("stream_progress", {}).get(idem_key[0])
        if rec is not None and idem_key[1] <= rec["batch_id"]:
            return {**rec["stats"], "replayed": True}
    gen = int(meta.get("gen", 0)) + 1

    prep = prepare_pages(raw_pages).persist()
    batch_ids = prep.select("doc_id")

    old_docs = (store.docs(spark)
                .join(F.broadcast(batch_ids), "doc_id", "left_semi")
                .persist())
    new_posts = postings_flat(prep).persist()
    old_posts = postings_flat(old_docs).persist()

    lineage = _incr_lineage(store)
    # payload identity: the stream's (checkpoint path, batch id) when
    # present — stable across foreachBatch replays — else a content
    # hash of the batch's doc ids (same input files → same key)
    if idem_key is not None:
        import hashlib
        sid = hashlib.sha1(idem_key[0].encode()).hexdigest()[:12]
        pkey = f"s{sid}b{idem_key[1]}"
    else:
        pkey = "h" + _payload_hash(
            (r["doc_id"], r["th"]) for r in
            prep.select("doc_id",
                        F.xxhash64(F.coalesce(F.col("text"), F.lit("")))
                        .alias("th")).collect())
    bid = _gen_bid(lineage, gen, pkey)
    done = lineage.done_partitions(bid)  # partial-replay step skip

    # batch-input collections (recomputable exactly on ANY replay —
    # they come from the batch, not from the mutable store)
    id_host = {r["doc_id"]: r["host"]
               for r in prep.select("doc_id", "host").collect()}
    all_ids = list(id_host)

    # PRE-mutation oldstate note (crash-replay exactness — same
    # rationale as _reindex_page_body): the OLD-state-dependent meta
    # inputs must reflect the store BEFORE this generation's docs/
    # overwrite; a replay recomputing them past that point reads the
    # NEW rows (old ≡ new → every delta nets to zero → silent drift).
    # The note pins only per-host AGGREGATES — O(distinct hosts in the
    # batch), never O(docs) — so a long-lived re-crawling stream does
    # not grow the lineage file per-doc (the per-doc olds list is only
    # needed by the tombstones step, which is ordered BEFORE docs: any
    # replay that can no longer recompute it has already committed it).
    note = lineage.get_note(bid, "oldstate")
    if note is not None and "tombstones" in done:
        # Replay where docs/ MAY have been overwritten — aggregates
        # from the note. The guard is the TOMBSTONES step (the first
        # one): steps run sequentially, so the docs overwrite can only
        # have started after tombstones' DONE row landed. Keying on
        # "docs" in done left a window — crash after the docs overwrite
        # committed but before ITS done row — where the recompute read
        # the already-overwritten rows (old ≡ new → zero deltas →
        # silent meta drift). When tombstones is done, `olds` is never
        # needed (its step is skipped) and the note is exact.
        olds = None
        olds_by_host = {k: int(v)
                        for k, v in note["olds_by_host"].items()}
        had_by_host = {k: int(v) for k, v in note["had_by_host"].items()}
        old_dl_sum = int(note["old_dl_sum"])
    else:
        # docs/ still holds the pre-batch rows → exact recompute
        # (batch-sized driver collects — one long per doc in THIS
        # batch, never corpus/bucket-sized)
        olds = [r["doc_id"] for r in old_docs.select("doc_id").collect()]
        old_dl = {r["doc_id"]: int(r["s"]) for r in
                  old_posts.groupBy("doc_id")
                  .agg(F.sum("tf").alias("s")).collect()}
        olds_by_host = dict(Counter(id_host[d] for d in olds))
        had_by_host = dict(Counter(
            id_host[d] for d in olds if old_dl.get(d, 0) > 0))
        old_dl_sum = sum(old_dl.values())
        if note is None:
            lineage.note(bid, "oldstate", olds_by_host=olds_by_host,
                         had_by_host=had_by_host, old_dl_sum=old_dl_sum)

    # --- 1. tombstones for every pre-existing doc
    _step(lineage, bid, "tombstones",
          lambda: _write_tombstones(spark, store,
                                    [(d, gen - 1) for d in olds]),
          done=done)

    # --- 2. append new postings as gen blocks (same encode pipeline;
    # dl joined on so the blocks stay join-free for BM25)
    from .index_store import BLOCKS_SCHEMA, make_block_encoder
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    batch_dls = new_posts.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("dl"))
    # impact basis = CURRENT avgdl; recorded in min_imp_basis so query-
    # time pruning can correct if store-wide avgdl later drifts upward
    enc_basis = float(meta.get("avgdl", 0.0))
    enc = (new_posts.withColumn("salt", F.lit(0))
           .join(F.broadcast(batch_dls), "doc_id")
           .select("term", "salt", "doc_id", "tf", "dl")
           .repartition(shuffle_parts, "term", "salt")
           .sortWithinPartitions("term", "salt", "doc_id")
           .mapInPandas(make_block_encoder(enc_basis), BLOCKS_SCHEMA)
           .withColumn("gen", F.lit(gen))
           .withColumn("bucket", F.pmod(F.xxhash64(F.col("term")),
                                        F.lit(store.n_buckets)).cast("int")))
    _step(lineage, bid, "blocks",
          lambda: (enc.write.mode("append").partitionBy("bucket")
                   .parquet(os.path.join(store.path, "blocks"))),
          done=done)

    # New-state meta inputs — from the batch input, exact on any replay
    # (old-state inputs were pinned in the oldstate note above).
    new_dl_rows = (new_posts.groupBy("doc_id")
                   .agg(F.sum("tf").cast("int").alias("dl")).collect())
    new_dl = {r["doc_id"]: r["dl"] for r in new_dl_rows}

    # --- 3. dictionary deltas (affected term buckets only)
    new_stats = term_stats(new_posts).withColumnRenamed("df", "ndf") \
        .withColumnRenamed("cf", "ncf")
    old_stats = term_stats(old_posts).withColumnRenamed("df", "odf") \
        .withColumnRenamed("cf", "ocf")
    new_max = new_posts.groupBy("term").agg(
        F.max("tf").cast("int").alias("nmax"))
    delta = (new_stats.join(old_stats, "term", "full")
             .join(new_max, "term", "left").fillna(0))
    abuckets = [r["b"] for r in delta.select(
        F.pmod(F.xxhash64("term"), F.lit(store.n_buckets)).cast("int")
        .alias("b")).distinct().collect()]
    if abuckets:
        cur = store.terms(spark).filter(F.col("bucket").isin(abuckets))
        upd = (cur.join(delta, "term", "full")
               .select(
                   "term",
                   (F.coalesce("df", F.lit(0)) + F.coalesce("ndf", F.lit(0))
                    - F.coalesce("odf", F.lit(0))).cast("long").alias("df"),
                   (F.coalesce("cf", F.lit(0)) + F.coalesce("ncf", F.lit(0))
                    - F.coalesce("ocf", F.lit(0))).cast("long").alias("cf"),
                   F.greatest(F.coalesce("max_tf", F.lit(0)),
                              F.coalesce("nmax", F.lit(0)))
                   .cast("int").alias("max_tf"),
                   # preserve the build-time gen-0 salt layout (new terms
                   # only ever gain salt-0 append blocks)
                   F.coalesce("n_salt", F.lit(1)).cast("int")
                   .alias("n_salt"))
               .filter(F.col("df") > 0)
               .withColumn("bucket",
                           F.pmod(F.xxhash64("term"),
                                  F.lit(store.n_buckets)).cast("int")))
        # merged buckets materialize executor-side (localCheckpoint), not
        # through the driver: the old path collected ~dictionary/32 rows
        # per touched bucket — the round-1 scale-killer. The eager
        # localCheckpoint is skipped on a replay whose step already
        # committed (it would recompute the merge against the ALREADY-
        # MERGED table — wasted work and a double-applied delta frame).
        if "terms" not in done:
            out = upd.localCheckpoint()
            _step(lineage, bid, "terms",
                  lambda: (out.write.mode("overwrite")
                           .option("partitionOverwriteMode", "dynamic")
                           .partitionBy("bucket")
                           .parquet(os.path.join(store.path, "terms"))),
                  done=done)

    # --- 4. docs + doclens (affected doc buckets). Safe under dynamic
    # overwrite (unlike the single-doc delete path): reindex_batch never
    # REMOVES docs, and a doc's (host_bucket, doc_bucket) is immutable,
    # so every rewritten partition keeps ≥ its non-batch rows — no
    # partition can end up empty-but-uncleared.
    doc_bucket = F.pmod(F.xxhash64(F.col("doc_id")),
                        F.lit(store.n_doc_buckets)).cast("int")
    host_bucket = F.pmod(F.xxhash64(F.col("host")),
                         F.lit(store.n_host_buckets)).cast("int")
    new_rows = (prep.select("doc_id", "url", "url_norm", "host", "path",
                            "text", "lang", "warc_ts")
                .withColumn("doc_bucket", doc_bucket)
                .withColumn("host_bucket", host_bucket))
    dbuckets = [r["doc_bucket"] for r in
                new_rows.select("doc_bucket").distinct().collect()]
    keep = (store.docs(spark).filter(F.col("doc_bucket").isin(dbuckets))
            .join(F.broadcast(batch_ids), "doc_id", "left_anti"))
    # localCheckpoint (no driver collect): full doc rows INCLUDING text —
    # the round-1 path shipped ~1/n_buckets of the corpus text through
    # the driver per touched bucket; now the merge stays executor-side.
    # Each eager merge is skipped when a replay finds its step DONE
    # (the merge would read the already-overwritten partitions).
    if "docs" not in done:
        out_docs = (keep.select(new_rows.columns).unionByName(new_rows)
                    .localCheckpoint())
        _step(lineage, bid, "docs",
              lambda: (out_docs
                       .sortWithinPartitions("host_bucket", "doc_bucket",
                                             "host", "doc_id")
                       .write.mode("overwrite")
                       .option("partitionOverwriteMode", "dynamic")
                       .partitionBy("host_bucket", "doc_bucket")
                       .parquet(os.path.join(store.path, "docs"))),
              done=done)

    if "doclens" not in done:
        new_dls = (spark.createDataFrame(
            [(r["doc_id"], r["dl"], id_host[r["doc_id"]])
             for r in new_dl_rows],
            "doc_id long, dl int, host string")
            .withColumn("doc_bucket", doc_bucket))
        keep_dl = (store.doclens(spark)
                   .filter(F.col("doc_bucket").isin(dbuckets))
                   .join(F.broadcast(batch_ids), "doc_id", "left_anti"))
        merged_dl = (keep_dl
                     .select("doc_id", F.col("dl").cast("int").alias("dl"),
                             "host",
                             F.col("doc_bucket").cast("int")
                             .alias("doc_bucket"))
                     .unionByName(new_dls)
                     .localCheckpoint())
        _step(lineage, bid, "doclens",
              lambda: (merged_dl
                       .sortWithinPartitions("doc_bucket", "doc_id")
                       .write.mode("overwrite")
                       .option("partitionOverwriteMode", "dynamic")
                       .option("parquet.block.size", 1024 * 1024)
                       .partitionBy("doc_bucket")
                       .parquet(os.path.join(store.path, "doclens"))),
              done=done)

    # --- 5. meta — aggregate deltas, equivalent to the per-doc loop
    # (n_docs/n_dl += Σ(new_dl>0) − Σ(had); sum_dl += Σnew − Σold;
    # pages[h] += batch docs of h − pre-existing docs of h; by-host
    # counts exact under the invariant had_h ≤ current count of h).
    # Aggregate form so the REPLAY path (note-recovered aggregates) and
    # the fresh path share one computation.
    n_batch_by_host = Counter(id_host.values())
    npos_by_host = Counter(id_host[d] for d in all_ids
                           if new_dl.get(d, 0) > 0)
    new_dl_sum = sum(new_dl.values())
    by_host = meta.get("n_docs_by_host", {})
    pages = meta.get("n_pages_by_host", {})
    for h, nb in n_batch_by_host.items():
        fresh = nb - olds_by_host.get(h, 0)  # brand-new page rows
        if fresh:
            pages[h] = pages.get(h, 0) + fresh
    meta["n_pages_by_host"] = pages
    npos_total = sum(npos_by_host.values())
    had_total = sum(had_by_host.values())
    meta["n_docs"] += npos_total - had_total
    meta["sum_dl"] = meta.get("sum_dl", 0) + new_dl_sum - old_dl_sum
    meta["n_dl"] = meta.get("n_dl", 0) + npos_total - had_total
    for h in set(npos_by_host) | set(had_by_host):
        dh = npos_by_host.get(h, 0) - had_by_host.get(h, 0)
        if dh:
            by_host[h] = by_host.get(h, 0) + dh
            if by_host[h] <= 0:
                by_host.pop(h)
    meta["n_docs_by_host"] = by_host
    meta["avgdl"] = (meta["sum_dl"] / meta["n_dl"]) if meta.get("n_dl") else 0.0
    meta["gen"] = gen
    if enc_basis > 0:
        meta["min_imp_basis"] = min(
            float(meta.get("min_imp_basis", enc_basis)), enc_basis)
    n_batch = len(all_ids)
    n_olds = sum(olds_by_host.values())
    result = {"batch_docs": n_batch, "gen": gen,
              "reindexed": n_olds, "new": n_batch - n_olds}
    if idem_key is not None:
        # commit the stream progress in the SAME meta write as the gen
        # bump: a replay of any batch ≤ this id is then an exact no-op.
        # Only the latest batch per stream is kept (ids are monotone).
        sp = meta.setdefault("stream_progress", {})
        sp[idem_key[0]] = {"batch_id": idem_key[1], "stats": result}
    meta["n_terms_total"] = _dict_size(store)
    store.write_meta(meta)

    store.invalidate_reads()
    for df_ in (prep, old_docs, new_posts, old_posts):
        df_.unpersist()
    return result


def check_consistency(spark: SparkSession, store: IndexStore) -> dict:
    """Detect dictionary/meta drift after a crash mid-generation: df/cf
    recomputed from LIVE postings (blocks minus tombstones) must equal
    the terms table, and n_docs/sum_dl must match meta. Returns
    {"consistent": bool, "term_mismatches": n, "meta_mismatches": [...]};
    repair = compact(). Cost: one decode of every block (the same work as
    one full-index scan), persisted for the two aggregates that read it
    — an offline audit, not a query-path check."""
    from .wand import live_postings
    live = (live_postings(spark, store, store.blocks(spark))
            .select("term", "doc_id", "tf").persist())
    try:
        got = (live.groupBy("term")
               .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")))
        terms = store.terms(spark).select("term", "df", "cf")
        bad = (got.join(terms, "term", "full")
               .filter((F.coalesce(got["df"], F.lit(0)) != F.coalesce(terms["df"], F.lit(0)))
                       | (F.coalesce(got["cf"], F.lit(0)) != F.coalesce(terms["cf"], F.lit(0))))
               .count())
        agg = live.agg(F.countDistinct("doc_id").alias("n"),
                       F.sum("tf").alias("s")).first()
    finally:
        live.unpersist()
    meta = store.meta()
    meta_bad = []
    if int(agg["n"] or 0) != int(meta.get("n_docs", 0)):
        meta_bad.append(("n_docs", int(agg["n"] or 0), meta.get("n_docs")))
    if int(agg["s"] or 0) != int(meta.get("sum_dl", 0)):
        meta_bad.append(("sum_dl", int(agg["s"] or 0), meta.get("sum_dl")))
    return {"consistent": bad == 0 and not meta_bad,
            "term_mismatches": bad, "meta_mismatches": meta_bad}


def compact(spark: SparkSession, store: IndexStore,
            build_id: str = "compact") -> dict:
    """Rewrite the index from the maintained docs table: drops tombstoned
    generations, merges single-doc append blocks into full runs, resets
    gen to 0 (Iceberg-compaction stand-in)."""
    import shutil
    # ORIGINAL warc_ts rides through docs/ (format 5): the rebuilt store
    # carries the same crawl timestamps, so a later upsert pass over
    # docs ∪ new crawl data keeps preferring genuinely-newer versions
    # (a synthetic ts could out-rank a real later crawl).
    docs = store.docs(spark).select(
        "url", "warc_ts",
        F.lit(None).cast("binary").alias("html"),
        "text", "lang")
    fresh_dir = store.path + ".compact"
    fresh = IndexStore(fresh_dir, store.n_buckets, store.salt_threshold)
    prepared = prepare_pages(docs).persist()
    meta = fresh.build(spark, prepared, build_id=build_id,
                       checkpoint_groups=1)
    prepared.unpersist()
    # atomic-ish swap
    backup = store.path + ".old"
    os.rename(store.path, backup)
    os.rename(fresh_dir, store.path)
    shutil.rmtree(backup, ignore_errors=True)
    store.invalidate_reads()
    return meta
