"""Physical index: salted term-partitioned posting blocks on disk.

Layout (parquet stands in for Iceberg — same hidden-partitioning idea,
`bucket = pmod(xxhash64(term), n_buckets)` replaces Iceberg's
bucket(term) transform; partition pruning works identically through
parquet partition discovery):

    <dir>/blocks/bucket=<b>/   term,salt,block_id,n,max_tf,first_doc,
                               last_doc,docs:binary,tfs:binary
    <dir>/terms/               term,df,cf,max_tf,bucket
    <dir>/doclens/             doc_id,dl,host (doc_id-sorted files —
                               the hydrate point-read path)
    <dir>/docs/                doc_id,url,url_norm,host,path,text,lang,
                               warc_ts (original crawl ts — compact keeps it)
    <dir>/meta.json            n_docs, per-host n, avgdl, params
    <dir>/lineage.jsonl        per-bucket-group lineage rows

Build dataflow (SURVEY §3.2 Spark equivalent):
  postings_flat → broadcast-join heavy-term salt counts →
  repartitionByRange? no — hash repartition on (term, salt) →
  sortWithinPartitions(term, salt, doc_id) → mapInPandas encode
  (streaming group-carry, numpy codec) → parquet per bucket group.

Skew (north rule): a stopword term with df ~ 10^11 would pin one task
for hours. Terms with df > salt_threshold get n_salt =
ceil(df/salt_threshold) salts; salt = pmod(xxhash64(doc_id), n_salt)
spreads the term over n_salt independent posting runs whose blocks are
all tagged with the term — query-time union restores the full list
(doc-order within salt only, which OR-scoring never needs).
"""

from __future__ import annotations

import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import Lineage
from .build import explode_postings, postings_fused_docs
from .codec import BLOCK_SIZE, encode_runs_batch

BLOCKS_SCHEMA = ("term string, salt int, tier int, block_id int, n int, "
                 "max_tf int, first_doc long, last_doc long, docs binary, "
                 "tfs binary, dls binary, max_imp double")

# On-disk store format. 3 = per-posting dls + per-block max_imp in the
# block files, n_salt persisted in the terms table, docs/ partitioned by
# (host_bucket, doc_bucket). 4 = impact-tier column on blocks (tier 0 =
# hot segment, the WAND seed set) + (term, tier, bound-desc)-sorted
# bucket files with small row groups. 5 = warc_ts carried through docs/
# (compact() rebuilds with the ORIGINAL crawl timestamps — a later
# upsert of an older crawl can no longer lose to a compacted doc whose
# synthetic ts post-dated it). 6 = doclens/ carries host and its files
# are doc_id-sorted with ~1 MB row groups: (doc_id → host, dl) becomes
# a row-group-pruned driver point read, which the serving tier's
# hydrate uses to resolve a top-k id's (host_bucket, doc_bucket) docs/
# partition without scanning docs/. Bumped whenever a reader of the
# current code would fail or silently degrade on an older layout.
FORMAT_VERSION = 6


TIER0_POSTINGS = 2048  # per-(term,salt) hot-tier size (≥ 16 blocks)


# Scale-adaptive docs/doclens layout: partition-dir counts derived from
# corpus size (~12.5k docs per doc_bucket) and from DISTINCT host count,
# each capped so a huge build keeps a sane directory count; the docs/
# write runs one task per DOCS_PER_WRITE_TASK docs.
DOCS_PER_BUCKET = 12_500
MAX_DOC_BUCKETS = 1024
HOSTS_PER_BUCKET = 1000
MAX_HOST_BUCKETS = 256
DOCS_PER_WRITE_TASK = 12_500


def _adaptive_doc_buckets(n_docs: int) -> int:
    """docs/doclens partition-dir count derived from corpus size
    (guide: partitioning must be scale-adaptive, file sizes sensible):
    more buckets = finer point-read pruning and more write parallelism,
    at the cost of directory count."""
    return max(1, min(MAX_DOC_BUCKETS, -(-n_docs // DOCS_PER_BUCKET)))


def _adaptive_host_buckets(n_hosts: int) -> int:
    """host_bucket dir count derived from DISTINCT HOST count: with few
    hosts, dir-level host pruning buys nothing over the in-file
    host-sorted row-group stats, so one dir level avoids n_buckets×
    file multiplication; with many hosts (a real crawl), buckets come
    back so a site query prunes to 1/n_host_buckets of docs/."""
    return max(1, min(MAX_HOST_BUCKETS, -(-n_hosts // HOSTS_PER_BUCKET)))


def make_block_encoder(avgdl: float | None,
                       tier0: int = TIER0_POSTINGS):
    """mapInPandas encoder over (term, salt, doc_id, tf, dl) sorted
    within partition by (term, salt, doc_id): stream-groups rows (a
    group may span Arrow batches — carried, never materialized beyond
    one salt run). dl rides along per posting so BM25 queries never
    join the doclens table; avgdl is the impact basis for the per-block
    max_imp bound (codec.encode_postings).

    IMPACT TIERING: a long run (> 2·tier0 postings) is split into a HOT
    segment — the tier0 postings with the highest (tf, doc_id) — and
    the COLD rest, each re-sorted by doc_id and encoded as its own
    consecutive blocks. On hash-ordered blocks every 128-doc block of a
    stopword contains a near-max tf, so per-block bounds prune nothing
    and a single-stopword query decodes the whole list; with tiering
    the cold blocks' max_tf/max_imp is capped by the tier boundary, so
    the block-max predicate prunes them wholesale once θ exceeds the
    boundary impact — the query decodes ~tier0 postings per salt
    instead of the full run. Exactness is untouched (blocks are still
    just a partition of the run with per-block bounds); doc-ordered
    encoding within each tier keeps delta compression and the
    [first_doc, last_doc] range lookups valid per tier.

    Internals (round 8): one VECTORIZED pass per Arrow batch instead of
    a per-(term,salt)-group loop — group boundaries come from a change
    scan over the sorted key columns, impact-tier splits reorder only
    the rare oversized groups, and codec.encode_runs_batch emits every
    block of the batch with three varint passes total (the encode-side
    twin of decode_blocks_batch; per-group encode_postings paid its
    numpy fixed cost per 128-posting block and dominated the encode
    stage). Output is bit-identical per block; only chunking of the
    yielded frames differs (one frame per input batch). Equality with
    the per-group reference is pinned by tests/test_codec_property.py.
    """
    def _encode_complete(terms: np.ndarray, salts: np.ndarray,
                         ids: np.ndarray, tfs: np.ndarray,
                         dls: np.ndarray,
                         gstarts: np.ndarray) -> pd.DataFrame:
        """Encode COMPLETE (term, salt) groups: `gstarts` are group
        start offsets; arrays are (term, salt, doc_id)-sorted."""
        n = ids.size
        gends = np.empty(gstarts.size, np.int64)
        gends[:-1] = gstarts[1:]
        gends[-1] = n
        sizes = gends - gstarts
        big = np.flatnonzero(sizes > 2 * tier0)
        if big.size:
            # impact tiering reorders ONLY the oversized groups: hot =
            # top-tier0 by (tf desc, doc asc) re-sorted to doc order,
            # cold = rest in doc order; each tier is its own run with
            # consecutive block ids.
            perm = np.arange(n, dtype=np.int64)
            for gi in big:
                s, e = int(gstarts[gi]), int(gends[gi])
                order = np.lexsort((ids[s:e], -tfs[s:e]))
                perm[s:e] = s + np.concatenate(
                    (np.sort(order[:tier0]), np.sort(order[tier0:])))
            ids = ids[perm]
            tfs = tfs[perm]
            dls = dls[perm]
            # runs: one per normal group; hot+cold pair per big group.
            # Vectorized slot assignment: group g lands at slot
            # g + (#big groups before g); a big group's cold run takes
            # the following slot.
            hot_blocks = -(-tier0 // BLOCK_SIZE)
            is_big = np.zeros(gstarts.size, np.int64)
            is_big[big] = 1
            slot = np.arange(gstarts.size, dtype=np.int64)
            slot[1:] += np.cumsum(is_big)[:-1]
            n_runs = gstarts.size + big.size
            run_starts = np.empty(n_runs, np.int64)
            run_ends = np.empty(n_runs, np.int64)
            run_base = np.zeros(n_runs, np.int64)
            run_tier = np.zeros(n_runs, np.int64)
            run_gidx = np.empty(n_runs, np.int64)
            run_starts[slot] = gstarts
            run_ends[slot] = gends
            run_gidx[slot] = np.arange(gstarts.size, dtype=np.int64)
            sh = slot[big]  # hot-run slots; cold runs at sh + 1
            run_ends[sh] = gstarts[big] + tier0
            run_starts[sh + 1] = gstarts[big] + tier0
            run_ends[sh + 1] = gends[big]
            run_base[sh + 1] = hot_blocks
            run_tier[sh + 1] = 1
            run_gidx[sh + 1] = big
        else:
            run_starts, run_ends = gstarts, gends
            run_base = np.zeros(gstarts.size, np.int64)
            run_tier = run_base
            run_gidx = np.arange(gstarts.size, dtype=np.int64)

        blk = encode_runs_batch(ids, tfs, dls, run_starts, run_ends,
                                run_base, avgdl)
        g_of_block = run_gidx[blk["run_idx"]]
        out = {"term": pd.Series(terms[gstarts[g_of_block]],
                                 dtype="object"),
               "salt": pd.Series(salts[gstarts[g_of_block]]),
               "tier": pd.Series(run_tier[blk["run_idx"]]),
               "block_id": pd.Series(blk["block_id"]),
               "n": pd.Series(blk["n"]),
               "max_tf": pd.Series(blk["max_tf"]),
               "first_doc": pd.Series(blk["first_doc"]),
               "last_doc": pd.Series(blk["last_doc"]),
               "docs": pd.Series(blk["docs"], dtype="object"),
               "tfs": pd.Series(blk["tfs"], dtype="object"),
               "dls": pd.Series(blk["dls"], dtype="object"),
               "max_imp": (pd.Series(blk["max_imp"])
                           if blk["max_imp"] is not None else
                           pd.Series([None] * len(blk["block_id"]),
                                     dtype="object"))}
        return pd.DataFrame(out)

    def _encode_partition(batches):
        # chunks of the open (term, salt) group — it may continue in the
        # next batch; concatenated once, when its end is found, so a
        # group spanning many batches is copied once, not per batch
        carry: list[tuple] = []
        got_any = False
        for pdf in batches:
            if pdf.empty:
                continue
            cols = (pdf["term"].to_numpy(dtype=object),
                    pdf["salt"].to_numpy(np.int64),
                    pdf["doc_id"].to_numpy(np.int64),
                    pdf["tf"].to_numpy(np.int64),
                    pdf["dl"].to_numpy(np.int64))
            terms, salts = cols[0], cols[1]
            change = np.empty(terms.size, bool)
            change[0] = (not carry or terms[0] != carry[-1][0][-1]
                         or salts[0] != carry[-1][1][-1])
            change[1:] = ((terms[1:] != terms[:-1])
                          | (salts[1:] != salts[:-1]))
            bounds = np.flatnonzero(change)
            if bounds.size == 0:
                carry.append(cols)  # the whole batch extends the group
                continue
            # hold back the last group; everything before it is complete
            cut = int(bounds[-1])
            n_open = sum(c[0].size for c in carry)
            gstarts = bounds[:-1] + n_open
            if n_open:
                gstarts = np.concatenate(([0], gstarts))
            if gstarts.size:
                yield _encode_complete(
                    *(np.concatenate([c[k] for c in carry] + [col[:cut]])
                      for k, col in enumerate(cols)), gstarts)
                got_any = True
            carry = [tuple(c[cut:] for c in cols)]
        if carry:
            yield _encode_complete(
                *(np.concatenate([c[k] for c in carry]) for k in range(5)),
                np.zeros(1, np.int64))
            got_any = True
        if not got_any:
            yield pd.DataFrame(
                {c: pd.Series(dtype=d) for c, d in [
                    ("term", "object"), ("salt", "int32"),
                    ("tier", "int32"), ("block_id", "int32"),
                    ("n", "int32"), ("max_tf", "int32"),
                    ("first_doc", "int64"), ("last_doc", "int64"),
                    ("docs", "object"), ("tfs", "object"),
                    ("dls", "object"), ("max_imp", "float64")]})
    return _encode_partition


class IndexStore:
    def __init__(self, path: str, n_buckets: int = 32,
                 salt_threshold: int = 50_000):
        """Open (or prepare to build) a store at `path`.

        When meta.json already exists, its recorded n_buckets /
        salt_threshold OVERRIDE the constructor arguments — a store
        built with a different bucket count would otherwise silently
        bucket-prune to the wrong partitions (queries return empty with
        no error). Constructor args only parameterize a NEW build.
        Stores older than FORMAT_VERSION fail fast with a rebuild hint
        instead of failing later on a missing column."""
        self.path = path
        self.n_buckets = n_buckets
        self.salt_threshold = salt_threshold
        # docs/doclens partition counts are SCALE-ADAPTIVE (derived from
        # corpus size at build time, persisted in meta) rather than tied
        # to the term-bucket count: a 20k-doc corpus gets 1 partition
        # dir instead of n_buckets² tiny files, a 10^8-doc corpus gets
        # more dirs than n_buckets. Fallback n_buckets = the historical
        # layout, so stores built before round 8 read unchanged.
        self.n_doc_buckets = n_buckets
        self.n_host_buckets = n_buckets
        mpath = os.path.join(path, "meta.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            self.n_buckets = int(m.get("n_buckets", n_buckets))
            self.salt_threshold = int(m.get("salt_threshold", salt_threshold))
            self.n_doc_buckets = int(m.get("n_doc_buckets", self.n_buckets))
            self.n_host_buckets = int(m.get("n_host_buckets",
                                            self.n_buckets))
            fmt = int(m.get("format", 1))
            if fmt < FORMAT_VERSION:
                # compact() is NOT a migration path: it opens the store
                # (which raises here first) and assumes the current docs/
                # layout — only a from-corpus rebuild works on old stores.
                raise RuntimeError(
                    f"index store at {path} has on-disk format {fmt} < "
                    f"{FORMAT_VERSION} (blocks may lack dls/max_imp/tier, "
                    f"docs may lack warc_ts, or doclens may lack host): "
                    f"rebuild from the source corpus required "
                    f"(IndexStore.build over prepare_pages output)")

    # ---------------- build ----------------

    def build(self, spark: SparkSession, prepared: DataFrame,
              build_id: str = "b0", checkpoint_groups: int = 4,
              fail_after_group: int | None = None) -> dict:
        """prepared: output of sources.pages.prepare_pages.

        checkpoint_groups: number of bucket groups, each one an atomic
        resume unit with a lineage row. fail_after_group is a test hook
        to simulate a crash mid-build.

        Tokenize + tf-aggregate run in one Arrow kernel
        (build.postings_fused_docs): ONE cached row per doc carrying
        dl, host and the (terms, tfs) arrays, so the (doc,term) groupBy
        exchange and the doc-keyed doclens join both stay out of the
        plan, doc-level values cross the Python boundary once instead
        of once per posting, and the doclens dimension is a column
        SELECT of the cache (no aggregation). Flat posting rows are a
        JVM-side explode view materialized only where consumed.
        """
        lineage = Lineage(os.path.join(self.path, "lineage.jsonl"))
        done = lineage.done_partitions(build_id)

        # host rides out of the kernel with dl: the doclens dimension
        # and the per-host stats below then never join back to the
        # corpus (the host column is projected away before the
        # (term, salt) block exchange). The CACHE holds the per-doc
        # array form (~40 % smaller than flat posting rows — no
        # repeated doc_id/dl/host); every flat consumer re-derives rows
        # via codegen'd explode at scan time.
        docs_fused = postings_fused_docs(prepared, host_col="host").persist()
        postings = explode_postings(docs_fused, with_host=True)
        bucket = F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets))
        # ONE terms aggregation carrying df+cf+max_tf together (round 1
        # ran a (df,cf) agg plus a separate max_tf agg plus a join — two
        # extra passes over the postings cache on the critical path).
        terms_full = (postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.max("tf").cast("int").alias("max_tf"))
            # n_salt PERSISTED (not inferred from block metadata later):
            # the gen-0 salt layout is fixed at build time; inferring it
            # from max-observed-salt silently under-counts when a heavy
            # term's highest salt bucket happens to be empty.
            .withColumn(
                "n_salt",
                F.when(F.col("df") > self.salt_threshold,
                       F.ceil(F.col("df") / self.salt_threshold))
                .otherwise(F.lit(1)).cast("int"))
            .withColumn("bucket", bucket.cast("int"))
            .persist())
        # Materialize the caches before the dims/blocks threads fork: two
        # lazy threads racing an unmaterialized persist() compute the whole
        # lineage twice (observed as duplicated 128-task stages). ONE job
        # suffices — computing terms scans docs_fused, which scans
        # prepared, so every cache fills in the same pass. Lineage-timed
        # so the scaling report can decompose the serial tail per phase.
        t_mat = lineage.start(build_id, "materialize")
        # one agg fills the cache AND yields the dashboard lemma count
        # plus the max df — the latter decides below whether any term
        # needs salting at all
        _mrow = terms_full.agg(F.count(F.lit(1)).alias("n"),
                               F.max("df").alias("mdf")).first()
        n_terms_total = int(_mrow["n"])
        max_df = int(_mrow["mdf"] or 0)
        lineage.done(build_id, "materialize", t_mat, rows=0, nbytes=0)
        # The doclens dimension (doc_id, dl, host): the cache already
        # holds ONE row per doc, so this is a column SELECT — no
        # aggregation, no separate persist (each scan is a cheap
        # projection of the docs_fused cache; measured 0.6 s at 4M docs
        # vs 15.0 s for a flat-row groupBy). Zero-term docs have no row
        # and BM25 never weights them.
        doclens = docs_fused.select(
            "doc_id", F.col("dl").cast("int").alias("dl"), "host")
        # ONE pre-fork job yields N / Σdl / avgdl AND the per-host doc
        # counts (meta n_docs_by_host — host cardinality is bounded by
        # the meta contract); it aggregates n_docs rows (the per-doc
        # cache projection), not posting rows. avgdl is the impact
        # basis the block encoder stamps into max_imp (BM25 block
        # pruning). Round 7 ran a global agg here plus a separate
        # per-host countDistinct-over-postings job in the dims phase.
        per_host_rows = (doclens.groupBy("host")
                         .agg(F.count(F.lit(1)).alias("nd"),
                              F.sum("dl").alias("s")).collect())
        nd_by_host = {r["host"]: int(r["nd"]) for r in per_host_rows}
        sum_dl = sum(int(r["s"] or 0) for r in per_host_rows)
        n_docs_total = sum(nd_by_host.values())
        avgdl_build = (sum_dl / n_docs_total) if n_docs_total else 0.0
        encoder = make_block_encoder(avgdl_build)
        # scale-adaptive docs/doclens layout (persisted in meta; every
        # reader takes the counts from the store, not from n_buckets)
        self.n_doc_buckets = _adaptive_doc_buckets(n_docs_total)
        self.n_host_buckets = _adaptive_host_buckets(len(nd_by_host))

        # salted skew handling: few heavy terms → broadcast their salt
        # counts (the same n_salt the terms table persists). When NO
        # term crosses the threshold (known from max_df, free with the
        # materialize agg) the broadcast-join is skipped outright —
        # every salt is 0 by construction, so bench/gate-scale builds
        # drop a broadcast build + join from every encode plan while
        # the skewed-corpus plan is untouched.
        if max_df > self.salt_threshold:
            heavy = terms_full.filter(F.col("n_salt") > 1) \
                .select("term", "n_salt")
            # dl is already ON the postings (fused kernel) — no
            # doc-keyed shuffle join needed to store it per posting;
            # the encoder input goes straight to the single
            # (term, salt) exchange.
            salted = (postings.join(F.broadcast(heavy), "term", "left")
                      .withColumn(
                          "salt",
                          F.when(F.col("n_salt").isNull(),
                                 F.lit(0)).otherwise(
                              F.pmod(F.xxhash64(F.col("doc_id")),
                                     F.col("n_salt")).cast("int")))
                      .withColumn("bucket", bucket.cast("int"))
                      .select("term", "salt", "doc_id", "tf", "dl",
                              "bucket"))
        else:
            salted = (postings
                      .withColumn("salt", F.lit(0).cast("int"))
                      .withColumn("bucket", bucket.cast("int"))
                      .select("term", "salt", "doc_id", "tf", "dl",
                              "bucket"))

        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        per_group = math.ceil(self.n_buckets / checkpoint_groups)
        groups = [list(range(g, min(g + per_group, self.n_buckets)))
                  for g in range(0, self.n_buckets, per_group)]

        # Dimension tables + stats run CONCURRENTLY with the block groups
        # (separate output dirs, independent lineage units): a multi-job
        # Spark scheduler interleaves their stages into idle task slots,
        # removing the serial dims tail that otherwise caps N→4N scaling
        # (Amdahl; measured 33 s flat at every level before this change).
        def run_dims() -> None:
            pid = "dims"
            if pid in lineage.done_partitions(build_id):
                return
            t0 = lineage.start(build_id, pid)
            try:
                doc_bucket = F.pmod(F.xxhash64(F.col("doc_id")),
                                    F.lit(self.n_doc_buckets)).cast("int")
                stats: dict = {}

                def w_terms():
                    # cluster by bucket before the partitioned write:
                    # without it every agg task writes a file into every
                    # bucket dir (tasks × n_buckets tiny files — 1024 at
                    # the 20k-doc bench, ~4 ms commit each); one slim
                    # vocab-sized exchange buys 1 file per bucket dir.
                    (terms_full.repartition(self.n_buckets, F.col("bucket"))
                     .write.mode("overwrite").partitionBy("bucket")
                     .parquet(os.path.join(self.path, "terms")))

                def w_doclens():
                    # host rides on every doclens row (format 6) straight
                    # from the fused kernel — the round-7 doc-keyed join
                    # back to the corpus is gone from this plan. Files
                    # are doc_id-sorted with small row groups: (doc_id →
                    # host, dl) is then a bounded point read (partition-
                    # pruned on doc_bucket, row-group-pruned on the
                    # doc_id min/max stats), which serving-tier hydrate
                    # uses to find a top-k id's docs/ partition without
                    # a corpus scan. Writer parallelism = n_doc_buckets
                    # (scale-adaptive): exactly one file per dir.
                    (doclens.select("doc_id", "dl", "host")
                     .withColumn("doc_bucket", doc_bucket)
                     .repartition(self.n_doc_buckets, F.col("doc_bucket"))
                     .sortWithinPartitions("doc_bucket", "doc_id")
                     .write.mode("overwrite")
                     .option("parquet.block.size", 1024 * 1024)
                     .partitionBy("doc_bucket")
                     .parquet(os.path.join(self.path, "doclens")))

                def w_docs():
                    # TWO-level partitioning (host_bucket, doc_bucket):
                    # site-filtered queries prune the docs dimension to
                    # the queried host's slice instead of scanning the
                    # corpus-sized (doc_id, host) projection — the
                    # physical realization of SURVEY §2.2 T9's
                    # partition-pruning mapping. Point lookups still
                    # prune on doc_bucket (second level). Both counts
                    # are scale-adaptive (persisted in meta), so a
                    # bench-sized corpus writes a handful of files
                    # instead of n_buckets² tiny ones.
                    host_bucket = F.pmod(
                        F.xxhash64(F.col("host")),
                        F.lit(self.n_host_buckets)).cast("int")
                    base = (prepared.select("doc_id", "url", "url_norm",
                                            "host", "path", "text", "lang",
                                            "warc_ts")
                            .withColumn("doc_bucket", doc_bucket)
                            .withColumn("host_bucket", host_bucket))
                    # ONE clustering exchange sized by the corpus, not
                    # by a constant: write-task count tracks n_docs
                    # (capped by shuffle_parts — the cluster-level
                    # parallelism knob), and the key is the partition-
                    # dir pair plus a doc-hash subsplit so tasks stay
                    # balanced when dirs < tasks (guide §2.5: enough
                    # distinct key values). Result: ~2 files per dir
                    # at any scale instead of tasks × dirs.
                    n_dirs = self.n_host_buckets * self.n_doc_buckets
                    w_tasks = max(1, min(
                        shuffle_parts,
                        -(-n_docs_total // DOCS_PER_WRITE_TASK)))
                    sub = max(1, -(-2 * w_tasks // n_dirs))
                    base = base.repartition(
                        w_tasks, F.col("host_bucket"), F.col("doc_bucket"),
                        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(sub)))
                    # host-sorted within each file: a single-host read
                    # (site queries) prunes to the host's row groups
                    # via parquet min/max stats inside the already
                    # partition-pruned host_bucket slice. Small row
                    # groups (like doclens) keep the serving tier's
                    # hydrate a true point read: the doc_id PROBE
                    # touches slim columns only and the text pages
                    # decompress per ~row group of a few hundred docs,
                    # not per multi-MB default row group.
                    (base.sortWithinPartitions("host_bucket", "doc_bucket",
                                               "host", "doc_id")
                     .write.mode("overwrite")
                     .option("parquet.block.size", 256 * 1024)
                     .partitionBy("host_bucket", "doc_bucket")
                     .parquet(os.path.join(self.path, "docs")))

                def agg_host():
                    # per-host doc counts came out of the pre-fork
                    # doclens agg (nd_by_host); only the per-host
                    # DISTINCT-TERM count still touches the postings,
                    # and host now rides on every posting row (fused
                    # kernel) — no doc-keyed join, and a SINGLE distinct
                    # aggregate, so Catalyst plans partial (host, term)
                    # dedup map-side with no Expand duplication (the
                    # round-7 two-distinct agg doubled every posting row
                    # before its exchange).
                    rows = (postings.groupBy("host")
                            .agg(F.countDistinct("term").alias("nt"))
                            .collect())
                    stats["terms_by_host"] = {r["host"]: r["nt"]
                                              for r in rows}

                def agg_pages():
                    # ALL saved pages per host (dashboard "pages" — the
                    # reference counts pageRepository rows, which include
                    # zero-term docs that never enter the index)
                    prows = prepared.groupBy("host").count().collect()
                    stats["pages_per_host"] = {r["host"]: r["count"]
                                               for r in prows}

                stats["per_host"] = dict(nd_by_host)
                with ThreadPoolExecutor(5) as pool:
                    futs = [pool.submit(f) for f in
                            (w_terms, w_doclens, w_docs, agg_host,
                             agg_pages)]
                    for f in futs:
                        f.result()

                meta = {"n_docs": n_docs_total,
                        "n_docs_by_host": stats["per_host"],
                        "n_pages_by_host": stats["pages_per_host"],
                        "gen": 0, "sum_dl": sum_dl, "n_dl": n_docs_total,
                        "n_terms_by_host": stats["terms_by_host"],
                        "n_terms_total": n_terms_total,
                        "avgdl": float(avgdl_build),
                        # impact basis floor: max_imp bounds stay sound
                        # as long as queries correct by min_imp_basis
                        # (wand block pruning) when avgdl drifts upward
                        "min_imp_basis": float(avgdl_build),
                        "n_buckets": self.n_buckets,
                        "n_doc_buckets": self.n_doc_buckets,
                        "n_host_buckets": self.n_host_buckets,
                        "salt_threshold": self.salt_threshold,
                        "format": FORMAT_VERSION,
                        "build_id": build_id}
                with open(os.path.join(self.path, "meta.json"), "w") as f:
                    json.dump(meta, f)
                lineage.done(build_id, pid, t0, rows=n_docs_total,
                             nbytes=_dir_bytes(self.path))
            except Exception as e:
                lineage.failed(build_id, pid, t0, str(e))
                raise

        def encode_pipeline(src: DataFrame) -> DataFrame:
            return (src
                    .repartition(shuffle_parts, "term", "salt")
                    .sortWithinPartitions("term", "salt", "doc_id")
                    .mapInPandas(encoder, BLOCKS_SCHEMA)
                    .withColumn("gen", F.lit(0))
                    .withColumn(
                        "bucket",
                        F.pmod(F.xxhash64(F.col("term")),
                               F.lit(self.n_buckets)).cast("int")))

        def run_group(gi: int, buckets: list[int]) -> None:
            pid = f"blocks-g{gi}"
            if pid in done:
                return
            t0 = lineage.start(build_id, pid)
            try:
                # each group's exchange carries only its own bucket
                # slice, so the groups together move each posting once
                part = encode_pipeline(
                    salted.filter(F.col("bucket").isin(buckets)))
                target = os.path.join(self.path, "blocks")
                # coalesce encoded (small, compressed) rows to one task
                # per bucket: 32 output files instead of tasks×buckets,
                # an order less driver-side commit work (A/B'd: wins).
                # SORT by (term, impact desc) inside each bucket file +
                # small parquet row groups: a query's term predicate
                # skips to the row groups holding that term, and within
                # a stopword-scale term the descending-bound order
                # clusters every salt's HOT (impact-tier-0) blocks at
                # the term's front — so the seed scan and the block-max
                # prune scan each read ~1 row group via max_tf/max_imp
                # row-group stats instead of the term's whole span (the
                # unsorted layout was ONE 75 MB row group per bucket
                # whose term span covered the entire dictionary: every
                # query read the full bucket file, a ~1 s floor, and a
                # stopword query re-read its 30 MB in every phase).
                (part.repartition(len(buckets), F.col("bucket"))
                 .sortWithinPartitions(
                     "bucket", "term", "tier",
                     F.desc_nulls_last("max_imp"), F.desc("max_tf"),
                     "salt", "block_id")
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .option("parquet.block.size", 4 * 1024 * 1024)
                 .partitionBy("bucket").parquet(target))
                if fail_after_group is not None and gi >= fail_after_group:
                    raise RuntimeError(
                        f"synthetic failure after group {gi}")
                lineage.done(build_id, pid, t0, rows=len(buckets),
                             nbytes=_dir_bytes(target))
            except Exception as e:  # mirror FAILED(lastError)
                lineage.failed(build_id, pid, t0, str(e))
                raise

        # Groups run CONCURRENTLY with each other and with dims on one
        # pool (each still an atomic lineage unit over disjoint bucket
        # partitions): one group's shuffle/encode overlaps another's
        # write-commit + the dims phase, filling the stage-tail idle
        # slots that capped N→4N scaling at 0.61 in round 1. A crash
        # leaves an arbitrary subset of groups DONE — resume (done-skip)
        # is order-independent, so semantics are unchanged.
        with ThreadPoolExecutor(min(4, len(groups)) + 1) as pool:
            dims_fut = pool.submit(run_dims)
            futs = [pool.submit(run_group, gi, b)
                    for gi, b in enumerate(groups)]
        # the first failed group's error wins; dims' only if none failed
        for f in futs + [dims_fut]:
            if f.exception() is not None:
                raise f.exception()

        # blocking: the build's caches are corpus-scale — release them
        # BEFORE the caller's next job allocates (postings/doclens are
        # views over this one cache)
        docs_fused.unpersist(blocking=True)
        terms_full.unpersist()
        self.invalidate_reads()
        return self.meta()

    # ---------------- read ----------------

    def meta(self) -> dict:
        with open(os.path.join(self.path, "meta.json")) as f:
            return json.load(f)

    def write_meta(self, meta: dict) -> None:
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump(meta, f)

    def tombstones(self, spark: SparkSession) -> DataFrame | None:
        """(doc_id, dead_gen): postings of doc_id with gen ≤ dead_gen are
        deleted. None when no incremental delete has happened yet."""
        p = os.path.join(self.path, "tombstones")
        if not os.path.isdir(p):
            return None
        return spark.read.parquet(p)

    def has_tombstones(self) -> bool:
        """Pure-filesystem check (no session needed) — gates the
        driver-side serving path, which must not run when deletes
        exist (operators/serving.py)."""
        return os.path.isdir(os.path.join(self.path, "tombstones"))

    def _cached(self, spark: SparkSession, name: str) -> DataFrame:
        """Reuse DataFrame handles per (session, table): parquet file
        listing + schema inference run once per session instead of per
        query (repeat-query latency). Invalidated by incremental writes
        via invalidate_reads()."""
        cache = getattr(self, "_read_cache", None)
        if cache is None:
            cache = self._read_cache = {}
        key = (id(spark), name)
        if key not in cache:
            cache[key] = spark.read.parquet(os.path.join(self.path, name))
        return cache[key]

    def invalidate_reads(self) -> None:
        self.close()  # fd lifecycle: close handles BEFORE dropping memos
        self._read_cache = {}
        self._terms_row_cache = {}
        self._serve_cache = {}  # serving-tier pyarrow memos

    def close(self) -> None:
        """Close every memoized serving-tier ParquetFile handle. A
        long-lived service should call this on shutdown (or rely on
        invalidate_reads after mutations); reads after close() reopen
        handles transparently."""
        from .serving import close_files
        close_files(self)

    def blocks(self, spark: SparkSession) -> DataFrame:
        return self._cached(spark, "blocks")

    def terms(self, spark: SparkSession) -> DataFrame:
        return self._cached(spark, "terms")

    def doclens(self, spark: SparkSession) -> DataFrame:
        return self._cached(spark, "doclens")

    def docs(self, spark: SparkSession) -> DataFrame:
        return self._cached(spark, "docs")

    def query_blocks(self, spark: SparkSession, q_terms: list[str]) -> DataFrame:
        """Blocks of the query terms with partition pruning. Buckets are
        computed DRIVER-SIDE (functions/hashing.py reimplements Spark's
        xxhash64 bit-for-bit) — zero Spark jobs to plan the scan; the
        bucket predicate prunes partition dirs and the term predicate is
        pushed into parquet row groups."""
        from ..functions.hashing import term_bucket
        buckets = sorted({term_bucket(t, self.n_buckets) for t in q_terms})
        return (self.blocks(spark)
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(q_terms)))

    def query_terms_rows(self, spark: SparkSession, q_terms: list[str]):
        """terms-table rows for the query terms, bucket-pruned the same
        way. MEMOIZED per term driver-side: repeat queries over the same
        store skip the dictionary-lookup Spark job entirely (a fixed
        ~0.2-0.5 s per query at large indexes). Absent terms are cached
        as misses. Invalidated by incremental writes (invalidate_reads);
        bounded by distinct queried terms, not dictionary size."""
        from ..functions.hashing import term_bucket
        cache = getattr(self, "_terms_row_cache", None)
        if cache is None:
            cache = self._terms_row_cache = {}
        missing = [t for t in q_terms if t not in cache]
        if missing:
            buckets = sorted({term_bucket(t, self.n_buckets)
                              for t in missing})
            rows = (self.terms(spark)
                    .filter(F.col("bucket").isin(buckets))
                    .filter(F.col("term").isin(missing)).collect())
            for t in missing:
                cache[t] = None
            for r in rows:
                cache[r["term"]] = r
        return [cache[t] for t in q_terms if cache[t] is not None]


def walk_parquet_files(path: str):
    """Committed .parquet file paths under `path`, depth-first with
    deterministic order. Skips staging/metadata entries — a crashed
    Spark write leaves `_temporary/**` (and `.spark-staging-*`)
    attempt files that a naive walk would serve as LIVE data (wrong
    hydrate rows, inflated dictionary counts); every such entry starts
    with '_' or '.', and real data files never do (part-*)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[:1] not in ("_", "."))
        for fn in sorted(files):
            if fn.endswith(".parquet") and fn[:1] not in ("_", "."):
                yield os.path.join(root, fn)


def _dir_bytes(path: str) -> int:
    """Committed bytes under `path`. Build groups run concurrently, so
    another group's in-flight Spark write may be staging files in the
    same table dir while this group walks it for its lineage nbytes —
    skip staging dirs (they aren't committed bytes) and tolerate files
    that vanish between the os.walk listing and getsize."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs
                   if not d.startswith(".spark-staging")
                   and d != "_temporary"]
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total
