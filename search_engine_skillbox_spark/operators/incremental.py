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
merge-on-read shape). There is ONE mutation, _reindex_batch_body:
reindex_page is a batch of one page, delete_page a delete-only batch,
and reindex_batch (the streaming foreachBatch body) any batch of pages.

  * every posting block carries `gen` (build = 0)
  * a batch appends its pages' postings as gen = G+1 blocks into the
    affected term buckets, writes a tombstone (doc_id, dead_gen = G)
    for every batch doc that already existed (killing all its older
    generations) and bumps meta gen; a delete only tombstones
  * dictionaries: terms df/cf/max_tf updated by exact deltas (dynamic
    partition overwrite of the affected term buckets only); docs and
    doclens rows replaced or dropped in the batch docs' partitions;
    meta n_docs / sum_dl / avgdl / per-host counts adjusted exactly
  * max_tf only ever grows (a removed high-tf doc would lower it, but a
    stale max keeps WAND bounds sound — merely less tight until
    compact())
  * compact(): full rebuild from the maintained docs table — the
    sandbox stand-in for Iceberg snapshot compaction

Scale: a batch touches ≤ |distinct terms of old ∪ new texts| term
buckets and only its docs' (host_bucket, doc_bucket) partitions, read
by path; nothing corpus-wide runs. The driver collects two batch-sized
frames (one row per batch doc, one per stored batch doc). Merges that
rewrite partitions they also read (terms/docs/doclens) run through an
exchange on the partition columns, whose map stage reads every input
before the dynamic overwrite commits; the tombstones rewrite, which has
no exchange, is `localCheckpoint()`-ed first. Merged rows never
round-trip through the driver (the round-1 driver-collect bottleneck):
no collect() here scales with bucket or corpus size.

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
import shutil
from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import prepare_pages
from .index_store import IndexStore


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


def _arrow_df(spark: SparkSession, schema: str, **cols) -> DataFrame:
    """A driver-built frame of batch-sized columns, shipped as Arrow: a
    createDataFrame of Python rows runs a Python worker to decode them,
    which measured ~1 s per write against ~0.2 s (4-core box)."""
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _write_tombstones(spark: SparkSession, store: IndexStore,
                      dead: list[int], dead_gen: int) -> None:
    """Merge (doc_id, dead_gen) rows into the tombstone table, keeping
    the max dead_gen per doc: dead_gen = G is above every stored one
    (written by earlier generations), so the merge replaces the dead
    docs' rows. The merge reads the path it overwrites →
    localCheckpoint materializes it first (no driver round-trip)."""
    if not dead:
        return
    tomb_path = os.path.join(store.path, "tombstones")
    old = _read_parts(spark, tomb_path, [""])
    merged = _arrow_df(spark, "doc_id long, dead_gen int", doc_id=dead,
                       dead_gen=[dead_gen] * len(dead))
    if old is not None:
        merged = (old.filter(~F.col("doc_id").isin(dead))
                  .unionByName(merged).localCheckpoint())
    merged.coalesce(1).write.mode("overwrite").parquet(tomb_path)


def _dict_size(store: IndexStore) -> int:
    """Exact live-term count from the terms/ parquet FOOTERS (zero jobs,
    zero data pages): the terms step writes only df>0 rows and dynamic
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


def _read_parts(spark: SparkSession, table: str, parts,
                part_cols: tuple[str, ...] = ()):
    """Rows of the named partition dirs of a table ("" = all of an
    unpartitioned one); dirs that do not exist are skipped, None when
    none holds a file. Reading the dirs by path prunes without listing
    the whole table, and the schema comes from a file footer (the
    schema Spark wrote there): Spark's own inference costs a job."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructType

    from .index_store import walk_parquet_files
    dirs = sorted({os.path.join(table, p) for p in parts
                   if os.path.isdir(os.path.join(table, p))})
    first = next((f for d in dirs for f in walk_parquet_files(d)), None)
    if first is None:
        return None
    schema = StructType.fromJson(json.loads(pq.read_schema(first).metadata[
        b"org.apache.spark.sql.parquet.row.metadata"]))
    for c in part_cols:
        schema = schema.add(c, IntegerType())
    return spark.read.schema(schema).option("basePath", table).parquet(*dirs)


def _rewrite(df: DataFrame, table: str, part_cols: list[str],
             sort_cols: list[str], parts, **options) -> None:
    """Replace the touched partition dirs `parts` of a table with `df`,
    their merged content, by dynamic partition overwrite. `df` comes
    out of an exchange on the partition columns, so each written
    partition is ONE file however many writes ran. That exchange is
    also what makes reading the partitions being replaced safe: every
    read happens in its map stage, and the overwrite commits after the
    write stage that follows it. Dynamic overwrite never clears a
    partition whose merged content is empty (the last doc of a
    partition deleted): such a dir is one the write left as it was,
    and it is removed — idempotent, so a crash replay stays exact."""
    before = {}
    for p in parts:
        d = os.path.join(table, p)
        if os.path.isdir(d):
            before[d] = sorted(os.listdir(d))
    w = (df.sortWithinPartitions(*part_cols, *sort_cols)
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic"))
    for k, v in options.items():
        w = w.option(k, v)
    w.partitionBy(*part_cols).parquet(table)
    for d, names in before.items():
        if sorted(os.listdir(d)) == names:
            shutil.rmtree(d)


def _rows(df: DataFrame, k: str, **cols) -> DataFrame:
    """`df` as rows of the two driver collects (one row per batch doc /
    stored doc), the columns not given null; `k` says which frame a row
    comes from (u: page, f: its postings, d: delete url, o: stored
    doc)."""
    return df.select(*[cols.get(c, F.lit(None)).cast(t).alias(c) for c, t in (
        ("doc_id", "long"), ("host", "string"), ("th", "long"),
        ("dl", "long"), ("n_terms", "int"), ("tbs", "array<int>"))],
        F.lit(k).alias("k"))


def reindex_page(spark: SparkSession, store: IndexStore,
                 page: dict) -> dict:
    """page: {url, warc_ts, html(bytes|None), text(str|None), lang} — a
    batch of one page. Returns {doc_id, old_existed, n_terms}."""
    pdf = spark.createDataFrame(
        [(page["url"], page.get("warc_ts"), page.get("html"),
          page.get("text"), page.get("lang"))],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    # one page is unique by url: no upsert exchange
    res, n_terms, _ = _mutate(spark, store,
                              prepare_pages(pdf, assume_unique=True))
    ((doc_id, n),) = n_terms.items()
    return {"doc_id": doc_id, "old_existed": res["reindexed"] == 1,
            "n_terms": n}


def delete_page(spark: SparkSession, store: IndexStore, url: str) -> dict:
    """Delete a page: a delete-only batch — tombstone + exact dictionary
    decrements (the reference's PageIndexingUtils.java:46-71, minus its
    float-truncation bug). An absent url changes nothing (gen is not
    bumped) and returns deleted: False."""
    res, _, dels = _mutate(spark, store, None, delete_urls=[url])
    return {"doc_id": dels[0], "deleted": res is not None}


def reindex_batch(spark: SparkSession, store: IndexStore,
                  raw_pages, idem_key: tuple[str, int] | None = None) -> dict:
    """Bulk reindex of a pages frame (see _reindex_batch_body); the
    latest warc_ts wins among rows of one url."""
    return _mutate(spark, store, prepare_pages(raw_pages),
                   idem_key=idem_key)[0]


def _mutate(spark: SparkSession, store: IndexStore, pages,
            idem_key: tuple[str, int] | None = None, delete_urls=()):
    """Run _reindex_batch_body, guaranteeing the store's read caches are
    dropped even when a mutation DIES mid-way: the crashed attempt may
    already have overwritten table partitions, so cached file listings
    are garbage — exactly what a restarted process would not have.
    (Found by the kill-and-restart stream test: the replay read a
    pre-crash terms/ listing and hit deleted files.) The body's
    persisted frames are dropped either way."""
    cached: list[DataFrame] = []
    try:
        return _reindex_batch_body(spark, store, pages, idem_key,
                                   delete_urls, cached)
    except BaseException:
        store.invalidate_reads()
        raise
    finally:
        for df_ in cached:
            df_.unpersist()


def _reindex_batch_body(spark: SparkSession, store: IndexStore,
                        pages, idem_key: tuple[str, int] | None,
                        delete_urls, cached: list):
    """The one mutation: upsert the prepared `pages` (None: none)
    and delete the pages of `delete_urls`. The foreachBatch body of the
    streaming ingest (streaming/ingest.py), and the body of reindex_page
    and delete_page. Returns (stats, {doc_id: n_terms} of the pages,
    deleted urls' doc_ids); stats is None for a delete-only batch that
    found nothing to delete.

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
      new postings   the fused per-doc kernel over the prepared batch
      old postings   the same kernel over the matching docs-table rows
                     (recomputed from stored text — cheaper than decoding
                     blocks, and exact by the byte-identity invariant)
      appends        standard encode pipeline at gen = G+1
      tombstones     one row per pre-existing batch doc
      dictionaries   deltas merged into the affected term buckets
      docs/doclens   the batch docs' partitions rewritten with the old
                     rows replaced (pages) or dropped (deletes)
    """
    from .build import explode_postings, postings_fused_docs
    from .index_store import BLOCKS_SCHEMA, make_block_encoder

    def persist(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return df

    def pmod(c, n: int):
        return F.pmod(F.xxhash64(c), F.lit(n)).cast("int")

    def fused_rows(fused: DataFrame) -> DataFrame:
        return _rows(fused, "f", doc_id=F.col("doc_id"), dl=F.col("dl"),
                     n_terms=F.size("terms"),
                     tbs=F.array_distinct(F.transform(
                         "terms", lambda t: pmod(t, store.n_buckets))))

    meta = store.meta()
    if idem_key is not None:
        rec = meta.get("stream_progress", {}).get(idem_key[0])
        if rec is not None and idem_key[1] <= rec["batch_id"]:
            return {**rec["stats"], "replayed": True}, {}, []
    gen = int(meta.get("gen", 0)) + 1

    # --- batch-sized collect 1: one row per page, per page with
    # postings and per delete url (recomputable exactly on ANY replay —
    # it comes from the batch, not from the mutable store)
    frames = []
    new_fused = None
    if pages is not None:
        pages = persist(pages)
        new_fused = persist(postings_fused_docs(pages))
        frames += [_rows(pages, "u", doc_id=F.col("doc_id"),
                         host=F.col("host"),
                         th=F.xxhash64(F.coalesce("text", F.lit("")))),
                   fused_rows(new_fused)]
    if delete_urls:
        from ..functions.urlutils import normalize_url, url_host
        u = normalize_url(F.col("url"))
        frames.append(_rows(_arrow_df(spark, "url string",
                                      url=list(delete_urls)),
                            "d", doc_id=F.xxhash64(u), host=url_host(u)))
    id_host, th, new_dl, n_terms, new_tbs, del_host = {}, {}, {}, {}, set(), {}
    parts_of = {}  # doc_id → (host_bucket, doc_bucket)
    for r in (reduce(DataFrame.unionByName, frames)
              .withColumn("hb", pmod("host", store.n_host_buckets))
              .withColumn("db", pmod("doc_id", store.n_doc_buckets))
              .collect()):
        if r["k"] != "f":
            parts_of[r["doc_id"]] = (r["hb"], r["db"])
        if r["k"] == "u":
            id_host[r["doc_id"]], th[r["doc_id"]] = r["host"], r["th"]
        elif r["k"] == "f":
            new_dl[r["doc_id"]] = r["dl"]
            n_terms[r["doc_id"]] = r["n_terms"]
            new_tbs.update(r["tbs"])
        else:
            del_host[r["doc_id"]] = r["host"]
    up_ids, del_ids = list(id_host), sorted(del_host)
    id_host.update(del_host)
    all_ids = list(id_host)
    # a doc's (host_bucket, doc_bucket) is immutable: host derives from
    # url_norm, doc_id = hash(url_norm)
    docs_parts = {f"host_bucket={parts_of[d][0]}/doc_bucket={parts_of[d][1]}"
                  for d in all_ids}
    dl_parts = {f"doc_bucket={parts_of[d][1]}" for d in all_ids}
    docs_path = os.path.join(store.path, "docs")
    doclens_path = os.path.join(store.path, "doclens")

    lineage = _incr_lineage(store)
    # payload identity: the stream's (checkpoint path, batch id) when
    # present — stable across foreachBatch replays — else a content
    # hash of the batch (same input files → same key); deletes add a
    # "d" part, so a delete's key never equals an upsert's
    if idem_key is not None:
        import hashlib
        sid = hashlib.sha1(idem_key[0].encode()).hexdigest()[:12]
        pkey = f"s{sid}b{idem_key[1]}"
    else:
        pkey = ("h" + _payload_hash((d, th[d]) for d in up_ids)
                if pages is not None else "")
        if del_ids:
            pkey += "d" + _payload_hash((d, 0) for d in del_ids)
    bid = _gen_bid(lineage, gen, pkey)
    done = lineage.done_partitions(bid)  # partial-replay step skip
    note = lineage.get_note(bid, "oldstate")

    # --- batch-sized collect 2: the batch docs' stored rows, read from
    # their partitions only (exact whenever the terms step still has
    # to run: docs/ is rewritten after it)
    old_docs = old_fused = None
    old_dl, old_tbs = {}, set()
    cur = _read_parts(spark, docs_path, docs_parts,
                      ("host_bucket", "doc_bucket"))
    if cur is not None:
        old_docs = persist(cur.filter(F.col("doc_id").isin(all_ids)))
        old_fused = persist(postings_fused_docs(old_docs))
        for r in (_rows(old_docs, "o", doc_id=F.col("doc_id"))
                  .unionByName(fused_rows(old_fused)).collect()):
            if r["k"] == "o":
                old_dl.setdefault(r["doc_id"], 0)
            else:
                old_dl[r["doc_id"]] = r["dl"]
                old_tbs.update(r["tbs"])
    if pages is None and not old_dl and note is None:
        return None, {}, del_ids  # nothing to delete: gen stays

    # PRE-mutation oldstate note (crash-replay exactness): the
    # OLD-state-dependent meta inputs must reflect the store BEFORE this
    # generation's docs/ overwrite; a replay recomputing them past that
    # point reads the NEW rows (old ≡ new → every delta nets to zero →
    # silent drift), and a delete's replay would find its row gone. The
    # note pins only per-host AGGREGATES — O(distinct hosts in the
    # batch), never O(docs) — so a long-lived re-crawling stream does
    # not grow the lineage file per-doc (the per-doc olds list is only
    # needed by the tombstones step, which is ordered BEFORE docs: any
    # replay that can no longer recompute it has already committed it).
    if note is not None and "tombstones" in done:
        # Replay where docs/ MAY have been overwritten — aggregates
        # from the note. The guard is the TOMBSTONES step (the first
        # one): steps run sequentially, so the docs overwrite can only
        # have started after tombstones' DONE row landed. Keying on
        # "docs" in done left a window — crash after the docs overwrite
        # committed but before ITS done row — where the recompute read
        # the already-overwritten rows. When tombstones is done, `olds`
        # is never needed (its step is skipped) and the note is exact.
        olds = None
        olds_by_host = {k: int(v)
                        for k, v in note["olds_by_host"].items()}
        had_by_host = {k: int(v) for k, v in note["had_by_host"].items()}
        old_dl_sum = int(note["old_dl_sum"])
        n_del = int(note["n_del"])
    else:
        olds = list(old_dl)
        olds_by_host = dict(Counter(id_host[d] for d in olds))
        had_by_host = dict(Counter(
            id_host[d] for d in olds if old_dl[d] > 0))
        old_dl_sum = sum(old_dl.values())
        n_del = len(set(olds) & set(del_ids))
        if note is None:
            lineage.note(bid, "oldstate", olds_by_host=olds_by_host,
                         had_by_host=had_by_host, old_dl_sum=old_dl_sum,
                         n_del=n_del)

    # --- 1. tombstones for every pre-existing batch doc
    _step(lineage, bid, "tombstones",
          lambda: _write_tombstones(spark, store, olds, gen - 1),
          done=done)

    # --- 2. append new postings as gen blocks (same encode pipeline;
    # dl rides on every posting so the blocks stay join-free for BM25).
    # Clustered on bucket: one file per touched bucket per write, and
    # the encoder's (term, salt) runs stay whole (a term never
    # straddles buckets). Impact basis = CURRENT avgdl; recorded in
    # min_imp_basis so query-time pruning can correct if store-wide
    # avgdl later drifts upward.
    enc_basis = float(meta.get("avgdl", 0.0))

    def append_blocks():
        if not new_tbs:
            return
        (explode_postings(new_fused)
         .withColumn("salt", F.lit(0))
         .withColumn("bucket", pmod("term", store.n_buckets))
         .repartition("bucket")
         .sortWithinPartitions("bucket", "term", "salt", "doc_id")
         .select("term", "salt", "doc_id", "tf", "dl")
         .mapInPandas(make_block_encoder(enc_basis), BLOCKS_SCHEMA)
         .withColumn("gen", F.lit(gen))
         .withColumn("bucket", pmod("term", store.n_buckets))
         .write.mode("append").partitionBy("bucket")
         .parquet(os.path.join(store.path, "blocks")))
    _step(lineage, bid, "blocks", append_blocks, done=done)

    # --- 3. dictionary deltas (affected term buckets only): the
    # bucket rows, +1/+tf per new posting and −1/−tf per old one,
    # summed per term in ONE exchange clustered on bucket (so each
    # rewritten bucket is one file). max_tf only grows; the build-time
    # gen-0 salt layout is preserved (new terms only ever gain salt-0
    # append blocks → n_salt 1).
    abuckets = sorted(new_tbs | old_tbs)
    terms_path = os.path.join(store.path, "terms")

    def merge_terms():
        if not abuckets:
            return
        terms_parts = [f"bucket={b}" for b in abuckets]
        parts = []
        cur = _read_parts(spark, terms_path, terms_parts, ("bucket",))
        if cur is not None:
            parts.append(cur.select(
                "term", F.col("df").cast("long"), F.col("cf").cast("long"),
                F.col("max_tf").cast("long"), F.col("n_salt").cast("int")))
        for fused, sign in ((new_fused, 1), (old_fused, -1)):
            if fused is not None:
                tf = F.col("tf").cast("long")
                parts.append(explode_postings(fused).select(
                    "term", F.lit(sign).cast("long").alias("df"),
                    (tf * sign).alias("cf"),
                    (tf if sign > 0 else F.lit(0).cast("long"))
                    .alias("max_tf"),
                    F.lit(None).cast("int").alias("n_salt")))
        merged = (reduce(DataFrame.unionByName, parts)
                  .withColumn("bucket", pmod("term", store.n_buckets))
                  .repartition("bucket")
                  .groupBy("bucket", "term")
                  .agg(F.sum("df").cast("long").alias("df"),
                       F.sum("cf").cast("long").alias("cf"),
                       F.max("max_tf").cast("int").alias("max_tf"),
                       F.coalesce(F.max("n_salt"), F.lit(1)).cast("int")
                       .alias("n_salt"))
                  .filter(F.col("df") > 0)
                  .select("term", "df", "cf", "max_tf", "n_salt", "bucket"))
        # merged buckets stay executor-side, not through the driver:
        # the old path collected ~dictionary/32 rows per touched
        # bucket — the round-1 scale-killer
        _rewrite(merged, terms_path, ["bucket"], ["term"], terms_parts)
    _step(lineage, bid, "terms", merge_terms, done=done)

    # --- 4. docs + doclens: the batch docs' partitions keep their other
    # rows, with the pages' new rows added (full doc rows INCLUDING
    # text merge executor-side — the round-1 path shipped ~1/n_buckets
    # of the corpus text through the driver per touched bucket)
    not_batch = ~F.col("doc_id").isin(all_ids)
    doc_cols = ["doc_id", "url", "url_norm", "host", "path", "text",
                "lang", "warc_ts", "host_bucket", "doc_bucket"]

    def merge_docs():
        rows = []
        kept = _read_parts(spark, docs_path, docs_parts,
                           ("host_bucket", "doc_bucket"))
        if kept is not None:
            rows.append(kept.filter(not_batch).select(doc_cols))
        if pages is not None:
            rows.append(pages
                        .withColumn("doc_bucket",
                                    pmod("doc_id", store.n_doc_buckets))
                        .withColumn("host_bucket",
                                    pmod("host", store.n_host_buckets))
                        .select(doc_cols))
        if rows:  # none: a replayed delete already removed the dir
            _rewrite(reduce(DataFrame.unionByName, rows)
                     .repartition("host_bucket", "doc_bucket"), docs_path,
                     ["host_bucket", "doc_bucket"], ["host", "doc_id"],
                     docs_parts)
    _step(lineage, bid, "docs", merge_docs, done=done)

    def merge_doclens():
        ids = [d for d in up_ids if new_dl.get(d)]
        # dl is a long, as the build writes it: a read takes its schema
        # from one file, and a long column cannot be read as an int
        rows = [_arrow_df(spark, "doc_id long, dl long, host string",
                          doc_id=ids, dl=[new_dl[d] for d in ids],
                          host=[id_host[d] for d in ids])
                .withColumn("doc_bucket", pmod("doc_id", store.n_doc_buckets))]
        kept = _read_parts(spark, doclens_path, dl_parts, ("doc_bucket",))
        if kept is not None:
            rows.append(kept.filter(not_batch).select(
                "doc_id", F.col("dl").cast("long").alias("dl"), "host",
                F.col("doc_bucket").cast("int").alias("doc_bucket")))
        # small row groups keep the point-read stats tight
        _rewrite(reduce(DataFrame.unionByName, rows)
                 .repartition("doc_bucket"), doclens_path,
                 ["doc_bucket"], ["doc_id"], dl_parts,
                 **{"parquet.block.size": 1024 * 1024})
    _step(lineage, bid, "doclens", merge_doclens, done=done)

    # --- 5. meta — aggregate deltas, equivalent to the per-doc loop
    # (n_docs/n_dl += Σ(new_dl>0) − Σ(had); sum_dl += Σnew − Σold;
    # pages[h] += pages of h − pre-existing docs of h (deletes
    # included); by-host counts exact under the invariant had_h ≤
    # current count of h). Aggregate form so the REPLAY path
    # (note-recovered aggregates) and the fresh path share one
    # computation.
    n_batch_by_host = Counter(id_host[d] for d in up_ids)
    npos_by_host = Counter(id_host[d] for d in up_ids if new_dl.get(d))
    by_host = meta.get("n_docs_by_host", {})
    n_pages = meta.get("n_pages_by_host", {})
    for h in set(n_batch_by_host) | set(olds_by_host):
        fresh = n_batch_by_host.get(h, 0) - olds_by_host.get(h, 0)
        if fresh:
            n_pages[h] = n_pages.get(h, 0) + fresh
            if n_pages[h] <= 0:
                n_pages.pop(h)
    meta["n_pages_by_host"] = n_pages
    npos_total = sum(npos_by_host.values())
    had_total = sum(had_by_host.values())
    meta["n_docs"] += npos_total - had_total
    meta["sum_dl"] = (meta.get("sum_dl", 0) + sum(new_dl.values())
                      - old_dl_sum)
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
    if enc_basis > 0 and pages is not None:
        meta["min_imp_basis"] = min(
            float(meta.get("min_imp_basis", enc_basis)), enc_basis)
    reindexed = sum(olds_by_host.values()) - n_del
    result = {"batch_docs": len(up_ids), "gen": gen,
              "reindexed": reindexed, "new": len(up_ids) - reindexed}
    if idem_key is not None:
        # commit the stream progress in the SAME meta write as the gen
        # bump: a replay of any batch ≤ this id is then an exact no-op.
        # Only the latest batch per stream is kept (ids are monotone).
        sp = meta.setdefault("stream_progress", {})
        sp[idem_key[0]] = {"batch_id": idem_key[1], "stats": result}
    meta["n_terms_total"] = _dict_size(store)
    store.write_meta(meta)
    store.invalidate_reads()
    return result, {d: n_terms.get(d, 0) for d in up_ids}, del_ids


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
