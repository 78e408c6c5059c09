"""Block-max pruned top-k over the physical index (MaxScore/WAND family;
north_rule: "top-k retrieval via block-max WAND scoring").

Exact-by-construction two-pass scheme over per-block upper bounds
UB(b) = max_tf(b) · idf(term(b)) (compat mode; BM25 uses the dl-free
conservative tf-norm bound, operators/score.py):

  pass 1  decode only the blocks of t* = argmax_t UBmax(t) and compute
          per-doc PARTIAL scores (t* contribution alone). The k-th best
          partial is a valid lower bound θ on the k-th best FINAL score
          (partials underestimate; the true top-k each dominate their
          own partial).
  prune   a block b of term t ≠ t* may be skipped iff
              UB(b) + Σ_{t'≠t} UBmax(t') < θ
          Proof of exactness: for any doc e with true(e) ≥ θ and any
          block b ∋ e of term t: true(e) ≤ UB(b) + Σ_{t'≠t} UBmax(t'),
          so b survives — every final-top-k doc keeps ALL its
          contributions; pruned docs' underestimated scores stay < θ ≤
          k-th best, so they cannot displace anyone.
  pass 2  decode surviving blocks, union with pass-1 rows,
          groupBy(doc).sum → exact top-k.

The prune compiles to a per-term `max_tf ≥ ceil((θ − Σ_other)/idf_t)`
predicate — a plain column filter pushed into the parquet scan, so
skipped blocks' binary columns are never read (row-group stats on
max_tf do the skipping). Stopword terms (idf → 0) prune to nothing the
moment θ > Σ UBmax of the cheap terms — the reference's worst case
(every doc matches a stopword) costs us metadata only.

Tests assert top-k identity vs the plain-DataFrame path (operators/
query.py) on every fixture query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import logging

from . import score as S
from .codec import decode_block
from .index_store import IndexStore
from .serving import SITE_LOOKUP_FACTOR, serving_enabled

log = logging.getLogger(__name__)

DECODED_SCHEMA = "doc_id long, term string, tf long, dl long, gen int"


def _decode_blocks(batches):
    for pdf in batches:
        if pdf.empty:
            continue
        ids_all, tf_all, dl_all, term_all, gen_all = [], [], [], [], []
        for term, docs_b, tfs_b, dls_b, gen in zip(
                pdf["term"], pdf["docs"], pdf["tfs"], pdf["dls"],
                pdf["gen"]):
            d, t, dl = decode_block(docs_b, tfs_b, dls_b)
            ids_all.append(d)
            tf_all.append(t)
            dl_all.append(dl)
            term_all.append(np.repeat(term, d.size))
            gen_all.append(np.full(d.size, gen, np.int32))
        yield pd.DataFrame({
            "doc_id": np.concatenate(ids_all),
            "term": np.concatenate(term_all),
            "tf": np.concatenate(tf_all),
            "dl": np.concatenate(dl_all),
            "gen": np.concatenate(gen_all),
        })


def decoded_postings(blocks: DataFrame) -> DataFrame:
    """blocks → (doc_id, term, tf, dl, gen) via the Arrow-batched
    decoder; dl comes from the block itself (no doclens join)."""
    return blocks.select("term", "docs", "tfs", "dls", "gen").mapInPandas(
        _decode_blocks, DECODED_SCHEMA)


def live_postings(spark: SparkSession, store: IndexStore,
                  blocks: DataFrame) -> DataFrame:
    """Decoded postings minus tombstoned generations (incremental S9
    deletes; operators/incremental.py). Tombstones are tiny → broadcast
    left join, keep rows with gen > dead_gen."""
    dec = decoded_postings(blocks)
    tomb = store.tombstones(spark)
    if tomb is None:
        return dec.drop("gen")
    return (dec.join(F.broadcast(tomb), "doc_id", "left")
            .filter(F.col("dead_gen").isNull()
                    | (F.col("gen") > F.col("dead_gen")))
            .drop("gen", "dead_gen"))


def _decode_docids_only(batches):
    from .codec import varint_decode
    for pdf in batches:
        if pdf.empty:
            continue
        ids, gens = [], []
        for docs_b, gen in zip(pdf["docs"], pdf["gen"]):
            deltas = varint_decode(docs_b)
            z = deltas[0]
            with np.errstate(over="ignore"):
                first = np.int64((z >> np.uint64(1))
                                 ^ (~(z & np.uint64(1)) + np.uint64(1)))
            d = deltas.astype(np.int64)
            d[0] = first
            ids.append(np.cumsum(d))
            gens.append(np.full(len(d), gen, np.int32))
        yield pd.DataFrame({"doc_id": np.concatenate(ids),
                            "gen": np.concatenate(gens)})


def decoded_docids(blocks: DataFrame) -> DataFrame:
    """blocks → (doc_id, gen) only — skips tf decode; used for exact
    match counts where tf is irrelevant."""
    return blocks.select("docs", "gen").mapInPandas(_decode_docids_only,
                                                    "doc_id long, gen int")


def live_docids(spark: SparkSession, store: IndexStore,
                blocks: DataFrame) -> DataFrame:
    dec = decoded_docids(blocks)
    tomb = store.tombstones(spark)
    if tomb is None:
        return dec.select("doc_id")
    return (dec.join(F.broadcast(tomb), "doc_id", "left")
            .filter(F.col("dead_gen").isNull()
                    | (F.col("gen") > F.col("dead_gen")))
            .select("doc_id"))


# host doc sets larger than this are not broadcast into the semi-join
# (full decode is then the cheaper plan anyway: df/|site| small)
SITE_HIT_JOIN_CAP = 4_000_000



def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-side row set → DataFrame via pandas + Arrow.

    spark.createDataFrame(list) is RDD-backed in Spark 4: it
    parallelizes the rows into defaultParallelism slices, so collecting
    a 10-row top-k pays a 32-task Python-worker job (~0.33 s measured
    on local[32]); the Arrow path builds a single local batch instead
    (~0.03 s). Values are unchanged — the explicit schema pins types
    either way. Used by every serving-tier return the bench times.
    """
    import pandas as pd
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], schema)
    names = [c.strip().split()[0] for c in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=names), schema)

def site_topk(spark: SparkSession, store: IndexStore, q_terms: list[str],
              k: int, host: str, mode: str = "compat",
              serving: bool = True,
              lookup_factor: int = SITE_LOOKUP_FACTOR,
              debug: dict | None = None) -> DataFrame:
    """T9/J2: site-filtered exact top-k served FROM the physical index
    (no per-site rebuild).

    The reference recomputes df and N within the site on every query
    (repository/IndexRepository.java:41-50, site JPQL;
    service/SearchServiceImpl.java:81-106). Spark shape:

      1. N(site) comes from the per-host doc counts persisted at build
         time (meta.json n_docs_by_host) — zero jobs.
      2. Candidates per query term, by the cheaper of two EXACT plans:
         site-sized terms decode their (partition-pruned) posting
         blocks and inner-join the host's doc_ids — read from docs/
         with host_bucket PARTITION PRUNING (docs/ is partitioned by
         (host_bucket, doc_bucket)) plus a pushed host filter.
         Stopword-scale terms (df ≫ |site|) instead SEMI-JOIN their
         block metadata against the broadcast host doc set on
         [first_doc, last_doc] coverage + gen-0 salt identity — each
         host doc lives in exactly one salt, so only ~1 block per host
         doc per tier survives to be decoded. A site+stopword query
         then decodes O(|site|) postings, not the stopword's global
         list (the round-3 scale-killer; global block-max bounds
         cannot tighten a within-site θ, so THIS — not bound pruning —
         is the site path's pruning lever).
      3. Within-site df per term = countDistinct(doc) over those
         candidates (the reference's countDocsByLemmaAndSite).
      4. idf from (df_site, N_site); OR-sum score; exact top-k.
    """
    empty = "doc_id long, score double"
    if not q_terms:
        return spark.createDataFrame([], empty)

    # serving tier (operators/serving.py): bounded site queries answer
    # driver-side — host-bucket docs slice point read + per-term
    # decode-or-point-lookup, zero Spark jobs; None on any bound
    # breach → the distributed partition-pruned path below
    if serving and serving_enabled() and not store.has_tombstones():
        from .serving import serve_site_topk
        served = serve_site_topk(store, q_terms, k, host, mode,
                                 debug=debug)
        if served is not None:
            return local_rows_df(
                spark, [(int(d), float(s)) for d, s in served], empty)

    meta = store.meta()
    n_site = int(meta.get("n_docs_by_host", {}).get(host, 0))
    if n_site <= 0:
        return spark.createDataFrame([], empty)
    trows = store.query_terms_rows(spark, q_terms)
    present = [r["term"] for r in trows]
    if not present:
        return spark.createDataFrame([], empty)
    df_g = {r["term"]: int(r["df"]) for r in trows}
    n_salt0 = {r["term"]: max(1, int(r["n_salt"])) for r in trows}

    from ..functions.hashing import term_bucket
    hb = term_bucket(host, store.n_host_buckets)  # driver-side, zero jobs
    dhost = (store.docs(spark)
             .filter(F.col("host_bucket") == hb)  # partition pruning
             .filter(F.col("host") == host)
             .select("doc_id")).persist()
    try:  # opened right after persist: a plan-construction error must
        # still unpersist dhost (same leak class as dedup's skew cap)
        return _site_topk_dist(spark, store, meta, present, k,
                               mode, lookup_factor, debug, dhost,
                               df_g, n_salt0, n_site)
    finally:
        dhost.unpersist()


def _site_candidates(spark, store, present, dhost, df_g, n_salt0,
                     n_site, lookup_factor, debug=None):
    """Site-restricted live postings of the query terms: the shared
    candidate plan of the distributed site top-k AND the distributed
    site match count (both must prune stopword-scale terms with the
    block-coverage semi-join — counting is not a license to decode a
    global posting list)."""
    heavy = [t for t in present
             if df_g[t] > lookup_factor * n_site
             and n_site <= SITE_HIT_JOIN_CAP]
    light = [t for t in present if t not in heavy]
    if debug is not None:
        debug["site_dist"] = {"heavy": list(heavy), "light": list(light)}
    qblocks = store.query_blocks(spark, present)
    gathered = []
    if light:
        lblocks = qblocks.filter(F.col("term").isin(light))
        gathered.append(live_postings(spark, store, lblocks))
    for t in heavy:
        # block-coverage semi-join: decode ONLY blocks whose doc range
        # covers a host doc in that doc's gen-0 salt (appends, gen>0,
        # match on range alone — they always use salt 0). The gen-0
        # join carries salt as an EQUI key so Catalyst plans a
        # broadcast HASH join (range coverage as a post-filter) — a
        # single OR'd salt predicate has no equi key and degrades to a
        # BroadcastNestedLoopJoin of n_blocks × |site| predicate
        # evaluations; the salt split divides that by n_salt. gen>0
        # blocks (incremental appends, few) keep the range-only
        # nested-loop join.
        cs = dhost.withColumn(
            "csalt", F.pmod(F.xxhash64("doc_id"),
                            F.lit(n_salt0[t])).cast("int"))
        rng = ((F.col("b.first_doc") <= F.col("c.doc_id"))
               & (F.col("c.doc_id") <= F.col("b.last_doc")))
        tb = qblocks.filter(F.col("term") == t)
        hit0 = (tb.filter(F.col("gen") == 0).alias("b")
                .join(F.broadcast(cs).alias("c"),
                      (F.col("b.salt") == F.col("c.csalt")) & rng,
                      "left_semi"))
        hitg = (tb.filter(F.col("gen") != 0).alias("b")
                .join(F.broadcast(dhost).alias("c"), rng, "left_semi"))
        gathered.append(live_postings(spark, store,
                                      hit0.unionAll(hitg)))
    allp = gathered[0]
    for g in gathered[1:]:
        allp = allp.unionAll(g)
    return allp


def site_match_count(spark: SparkSession, store: IndexStore,
                     q_terms: list[str], host: str,
                     lookup_factor: int = SITE_LOOKUP_FACTOR) -> int:
    """Distributed total-match count within a site (distinct docs of
    the host containing ANY query term) with the same block-coverage
    pruning as site_topk — the service layer's fallback when
    serve_match_count declines (big site / tombstones / caps)."""
    meta = store.meta()
    n_site = int(meta.get("n_docs_by_host", {}).get(host, 0))
    if n_site <= 0:
        return 0
    trows = store.query_terms_rows(spark, q_terms)
    present = [r["term"] for r in trows]
    if not present:
        return 0
    df_g = {r["term"]: int(r["df"]) for r in trows}
    n_salt0 = {r["term"]: max(1, int(r["n_salt"])) for r in trows}
    from ..functions.hashing import term_bucket
    hb = term_bucket(host, store.n_host_buckets)
    dhost = (store.docs(spark)
             .filter(F.col("host_bucket") == hb)  # partition pruning
             .filter(F.col("host") == host)
             .select("doc_id")).persist()
    try:
        allp = _site_candidates(spark, store, present, dhost, df_g,
                                n_salt0, n_site, lookup_factor)
        return (allp.join(dhost, "doc_id")
                .select("doc_id").distinct().count())
    finally:
        dhost.unpersist()


def _site_topk_dist(spark, store, meta, present, k, mode,
                    lookup_factor, debug, dhost, df_g, n_salt0, n_site):
    empty = "doc_id long, score double"
    allp = _site_candidates(spark, store, present, dhost, df_g,
                            n_salt0, n_site, lookup_factor, debug)
    cand = allp.join(dhost, "doc_id").persist()
    try:
        site_df = {r["term"]: r["df"] for r in
                   cand.groupBy("term")
                   .agg(F.countDistinct("doc_id").alias("df")).collect()}
        idf_py = S.idf_compat_py if mode == "compat" else S.idf_bm25_py
        idf = {t: idf_py(site_df.get(t, 0), n_site) for t in present}
        idf_df = F.broadcast(spark.createDataFrame(
            [(t, float(idf[t])) for t in present], "term string, idf double"))
        c = cand.join(idf_df, "term")
        if mode == "compat":
            w = S.tf_weight_compat(F.col("tf"))
        else:
            w = S.tf_weight_bm25(F.col("tf"), F.col("dl"), meta["avgdl"])
        rows = (c.select("doc_id", (w * F.col("idf")).alias("contrib"))
                .groupBy("doc_id").agg(F.sum("contrib").alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .collect())
        return local_rows_df(spark, rows, empty)
    finally:
        cand.unpersist()


def wand_topk(spark: SparkSession, store: IndexStore, q_terms: list[str],
              k: int, mode: str = "compat",
              exhaustive_budget: int = S.EXHAUSTIVE_POSTINGS_BUDGET,
              lookup_min_df: int = S.LOOKUP_MIN_DF,
              serving: bool = True,
              debug: dict | None = None) -> DataFrame:
    """Exact top-k (doc_id, score) using block-max pruning, SEEDED from
    the index's materialized impact tiers:

      seed    decode ONLY the HOT tier (tier = 0) of t* = argmax
              UBmax(t) — the top-tf postings of every salt run,
              separated into their own blocks at build time. The tier
              predicate prunes straight to the hot row groups of the
              (term, tier, bound)-sorted bucket file; no metadata job
              runs at all (round 2 spent one histogram job per term
              choosing a bound cutoff that parquet stats then could not
              always prune on). The k-th best seed partial is a valid θ
              (partials from any SUBSET of blocks underestimate final
              scores).
      prune   a block b of term t (INCLUDING t*) is decoded iff
              UB(b) + Σ_{t'≠t} UBmax(t') ≥ θ; t*'s hot tier (already
              decoded as seeds) is excluded from pass 2. Cold-tier
              blocks carry bounds capped by the tier boundary, so a
              single-stopword query prunes the cold tier wholesale the
              moment θ exceeds the boundary impact — round 2's
              hash-ordered blocks each contained a near-max tf, making
              every block un-prunable and the query a full-list decode.
              Exactness: for any doc e with true(e) ≥ θ and any block
              b ∋ e of term t: true(e) ≤ UB(b) + Σ_{t'≠t} UBmax(t'), so
              b survives; pruned docs stay < θ ≤ k-th best.
      pass 2  decode survivors, union with seed partials, sum → top-k.
      lookup  (MaxScore essential lists) stopword-scale terms whose
              summed UBmax stays below θ never generate candidates at
              all — their tf is point-looked-up for only the candidates
              that can still win, through a [first_doc, last_doc]
              range semi-join (exact with or without tombstones; the
              serving tier answers tombstone-free stores driver-side
              before this path runs). A mixed rare+stopword query then
              never decodes the stopword's full posting list.

    Adaptive: when Σ df is below exhaustive_budget a single decode+agg
    job wins on scheduling overhead (plans result-identical, verified in
    tests both ways). Zero-idf corner: if every present term has
    UBmax ≤ 0, all scores are 0 → straight exhaustive (the reference's
    OR semantics still returns those docs).

    Returns the same rows as query.topk(candidate_scores(...), k) on the
    flat postings — verified in tests/test_index_store.py.
    """
    import time as _time
    _t0 = _time.time()

    def _mark(name: str, **extra) -> None:
        if debug is not None:
            debug[name] = {"t": round(_time.time() - _t0, 3), **extra}

    if not q_terms:
        return spark.createDataFrame([], "doc_id long, score double")

    # ---- serving tier: when the store has no tombstones and every
    # read the query needs is provably bounded, the driver answers it
    # from parquet point reads with ZERO Spark jobs — the index-node
    # serving shape (the reference serves every query from B-tree
    # lookups the same way, IndexRepository.java:26-50). serve_topk
    # runs the same score.MaxScorePlan (same phases, same float64 math,
    # equality-pinned in tests) and returns None on any bound breach
    # or the zero-score tier → the distributed path below runs.
    if serving and serving_enabled() and not store.has_tombstones():
        from .serving import serve_topk
        served = serve_topk(store, q_terms, k, mode,
                            exhaustive_budget=exhaustive_budget,
                            lookup_min_df=lookup_min_df, debug=debug)
        if served is not None:
            _mark("served")
            return local_rows_df(
                spark, [(int(d), float(s)) for d, s in served],
                "doc_id long, score double")

    meta = store.meta()
    trows = store.query_terms_rows(spark, q_terms)
    _mark("terms")
    tstats = {r["term"]: (r["df"], r["max_tf"]) for r in trows}
    # persisted gen-0 salt modulus (build-time truth; never inferred
    # from observed block metadata, which under-counts when a heavy
    # term's top salt bucket happens to be empty)
    n_salt0 = {r["term"]: int(r["n_salt"]) for r in trows}
    present = [t for t in q_terms if t in tstats]
    if not present:
        return spark.createDataFrame([], "doc_id long, score double")
    plan = S.MaxScorePlan(mode, {t: tstats[t] for t in present}, meta)
    small = plan.sum_df <= exhaustive_budget or plan.zero_bound

    # NOT persisted: each phase's scan pushes its OWN predicates (term,
    # bound threshold, doc ranges) into parquet row groups — caching
    # would force phase 1 to read and materialize every query term's
    # binaries, defeating the term-sorted row-group pruning.
    qblocks = store.query_blocks(spark, present)
    p1 = None
    try:
        idf_df = F.broadcast(spark.createDataFrame(
            [(t, float(plan.idf[t])) for t in present],
            "term string, idf double"))

        def contributions(decoded: DataFrame) -> DataFrame:
            c = decoded.join(idf_df, "term")
            if mode == "compat":
                w = S.tf_weight_compat(F.col("tf"))
            else:
                # dl is decoded from the block — BM25 is join-free
                w = S.tf_weight_bm25(F.col("tf"), F.col("dl"), meta["avgdl"])
            return c.select("doc_id", (w * F.col("idf")).alias("contrib"))

        if small:
            rows = (contributions(live_postings(spark, store, qblocks))
                    .groupBy("doc_id").agg(F.sum("contrib").alias("score"))
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                    .collect())
            return local_rows_df(spark, rows, "doc_id long, score double")

        # ---- seed: t*'s HOT tier — impact tier 0, the top-tf postings
        # of every salt run, materialized as a column at build time. No
        # metadata job at all (round 2 spent one histogram job per term
        # picking a bound cutoff): the tier predicate prunes straight
        # to the hot row groups of the (term, tier, bound)-sorted
        # bucket file, in BOTH modes.
        seeds = qblocks.filter((F.col("term") == plan.t_star)
                               & (F.col("tier") == 0))
        p1 = (contributions(live_postings(spark, store, seeds))
              .groupBy("doc_id").agg(F.sum("contrib").alias("contrib"))
              .persist())
        theta_rows = (p1.orderBy(F.desc("contrib"), F.asc("doc_id"))
                      .limit(k).collect())
        theta = (theta_rows[-1]["contrib"] if len(theta_rows) >= k
                 else float("-inf"))
        _mark("theta")

        # ---- MaxScore demotion, then the block-max prune over the
        # ESSENTIAL terms (pushed into the parquet scan; row-group stats
        # on the bound column skip pruned binaries)
        ess, non_ess, ne_sum = plan.demote(theta, lookup_min_df)
        keep = None
        for t in ess:
            cut = plan.block_cut(t, theta)
            sv = F.col(cut.column) >= cut.min_bound
            if cut.keep_null:
                sv = sv | F.col(cut.column).isNull()
            if cut.skip_hot:
                sv = sv & (F.col("tier") != 0)
            cond = (F.col("term") == t) & sv
            keep = cond if keep is None else (keep | cond)

        p2 = contributions(live_postings(spark, store,
                                         qblocks.filter(keep)))
        cand = (p1.unionAll(p2)
                .groupBy("doc_id").agg(F.sum("contrib").alias("partial")))

        _mark("plan", non_ess=list(non_ess))
        if not non_ess:
            rows = (cand.select("doc_id", F.col("partial").alias("score"))
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                    .collect())
            _mark("final")
        else:
            # Exactness: every doc with true ≥ θ has an essential term
            # (else true ≤ Σ_non-ess UBmax < θ), so `cand` is a complete
            # candidate set. ONE collect fetches every candidate that
            # could still reach the top-k (partial ≥ θ − Σ_ne UBmax);
            # the tighter θ2 (k-th best partial — ≥ θ, hence inside the
            # collected superset) is then computed DRIVER-side, and the
            # per-term salt relations become LOCAL broadcasts, which
            # Spark materializes on the driver without scheduling a job
            # — the round-2 shape spent ~4 extra jobs per query on the
            # k-rows collect plus one broadcast job per DataFrame.
            crows = (cand.filter(
                F.col("partial") >= float(theta - ne_sum))
                .orderBy(F.desc("partial"), F.asc("doc_id"))
                .limit(S.LOOKUP_CAND_CAP).collect())
            _mark("cand", n=len(crows))
            if len(crows) >= S.LOOKUP_CAND_CAP:
                # pathological candidate volume (θ barely above Σ_ne):
                # the truncated list cannot bound θ2 soundly → exact
                # exhaustive fallback
                rows = (contributions(live_postings(spark, store, qblocks))
                        .groupBy("doc_id")
                        .agg(F.sum("contrib").alias("score"))
                        .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                        .collect())
            else:
                theta2 = (max(theta, crows[k - 1]["partial"])
                          if len(crows) >= k else theta)
                lk_rows = [(r["doc_id"], float(r["partial"]))
                           for r in crows
                           if r["partial"] >= theta2 - ne_sum]
                # a candidate's posting for a lookup term lives in gen-0
                # (salt, block)s with salt = pmod(xxhash64(doc), n_salt)
                # (n_salt persisted in the terms table at build);
                # incremental appends (gen > 0) always use salt 0 →
                # matched by range alone. Decode ONLY blocks whose
                # [first_doc, last_doc] covers a candidate in the right
                # salt (per impact tier: ≤ tiers blocks per candidate).
                # live_postings drops tombstoned generations.
                from ..functions.hashing import spark_xxhash64_long
                lk_ids = F.broadcast(spark.createDataFrame(
                    [(d,) for d, _ in lk_rows], "doc_id long"))
                parts = [spark.createDataFrame(
                    lk_rows, "doc_id long, contrib double")]
                for t in non_ess:
                    nsalt = max(1, n_salt0.get(t, 1))
                    cs = F.broadcast(spark.createDataFrame(
                        [(d, spark_xxhash64_long(d) % nsalt)
                         for d, _ in lk_rows], "doc_id long, csalt int"))
                    hit = (qblocks.filter(F.col("term") == t).alias("b")
                           .join(cs.alias("c"),
                                 (F.col("b.first_doc") <= F.col("c.doc_id"))
                                 & (F.col("c.doc_id") <= F.col("b.last_doc"))
                                 & ((F.col("b.gen") != 0)
                                    | (F.col("b.salt") == F.col("c.csalt"))),
                                 "left_semi"))
                    parts.append(
                        contributions(live_postings(spark, store, hit))
                        .join(lk_ids, "doc_id")
                        .select("doc_id", "contrib"))
                total = parts[0]
                for p in parts[1:]:
                    total = total.unionAll(p)
                rows = (total.groupBy("doc_id")
                        .agg(F.sum("contrib").alias("score"))
                        .orderBy(F.desc("score"), F.asc("doc_id"))
                        .limit(k).collect())
                _mark("final", lk=len(lk_rows))

        # Zero tier: the reference's OR semantics admits docs whose every
        # matched term has idf 0 (score 0.0) as real results
        # (SearchServiceImpl.java:139-160 — any match scores). Pruning is
        # only exact while the k-th score is strictly positive; once k
        # reaches the zero tier, fall back to exhaustive decode (exact,
        # and rare: only when fewer than k docs score > 0).
        if len(rows) < k or (rows and rows[-1]["score"] <= 0):
            # attributable latency cliff: this decodes EVERY query-term
            # block (e.g. a stopword-only query over a mostly-
            # tombstoned index) — rare by construction, never silent
            log.warning(
                "wand_topk: top-%d reached the zero-score tier for %s — "
                "falling back to exhaustive decode of all query blocks",
                k, q_terms)
            rows = (contributions(live_postings(spark, store, qblocks))
                    .groupBy("doc_id").agg(F.sum("contrib").alias("score"))
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                    .collect())
        return local_rows_df(spark, rows, "doc_id long, score double")
    finally:
        if p1 is not None:
            p1.unpersist()
