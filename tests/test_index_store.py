"""Physical index: codec roundtrip through Spark, salted skew handling,
WAND top-k identity vs the plain-DataFrame path, resumable build."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_skillbox_spark.operators import build as B
from search_engine_skillbox_spark.operators import query as Q
from search_engine_skillbox_spark.operators.index_store import IndexStore
from search_engine_skillbox_spark.operators.wand import (
    decoded_postings, wand_topk)


@pytest.fixture(scope="module")
def store(base_store_dir):
    # every test in this module READS only — open the session base
    # store directly (built once with salt_threshold=50 → real salting)
    return IndexStore(base_store_dir)


def _flat(df):
    return {(r["doc_id"], r["term"]): r["tf"] for r in df.collect()}


def test_blocks_roundtrip(spark, store, index_frames):
    postings, _, _ = index_frames
    got = _flat(decoded_postings(store.blocks(spark)))
    want = _flat(postings)
    assert got == want


def test_salting_applied(spark, store, index_frames):
    """Heavy terms (df>50) must be split across >1 salt."""
    _, terms, _ = index_frames
    heavy = [r["term"] for r in terms.filter(F.col("df") > 50).collect()]
    assert heavy, "fixture must contain heavy terms"
    salts = (store.blocks(spark).filter(F.col("term").isin(heavy))
             .groupBy("term").agg(F.countDistinct("salt").alias("s")).collect())
    assert all(r["s"] > 1 for r in salts)
    light = (store.blocks(spark).filter(~F.col("term").isin(heavy))
             .select("salt").distinct().collect())
    assert [r["salt"] for r in light] == [0]


def test_terms_and_meta(spark, store, index_frames, oracle):
    _, terms, _ = index_frames
    got = {r["term"]: (r["df"], r["cf"], r["max_tf"])
           for r in store.terms(spark).collect()}
    for r in terms.collect():
        assert got[r["term"]][:2] == (r["df"], r["cf"])
    assert store.meta()["n_docs"] == oracle.n_docs
    # per-block max_tf really is the max of the block
    blk = store.blocks(spark).limit(50).collect()
    from search_engine_skillbox_spark.operators.codec import decode_block
    for b in blk:
        _, tfs = decode_block(b["docs"], b["tfs"])
        assert b["max_tf"] == int(tfs.max()) and b["n"] == len(tfs)


@pytest.mark.parametrize("serving", [True, False])  # driver-tier AND distributed
@pytest.mark.parametrize("budget", [0, 5_000_000])  # 0 forces the pruned 2-pass
@pytest.mark.parametrize("mode", ["compat", "bm25"])
@pytest.mark.parametrize("k", [5, 10, 50])
def test_wand_equals_plain(spark, store, index_frames, oracle, mode, k,
                           qterms_idx, budget, serving):
    p, t, dls = index_frames
    n = B.corpus_size(p)
    q = qterms_idx
    if mode == "compat":
        plain = Q.candidate_scores(p, t, n, q, "compat")
    else:
        part = dls.filter(F.col("dl") > 0)
        avgdl = float(part.agg(F.avg("dl")).first()[0])
        plain = Q.candidate_scores(p, t, n, q, "bm25", doclens=part, avgdl=avgdl)
    want = [(r["doc_id"], r["score"])
            for r in Q.topk(plain, k).collect()]
    got = [(r["doc_id"], r["score"])
           for r in wand_topk(spark, store, q, k, mode,
                              exhaustive_budget=budget,
                              serving=serving).collect()]
    assert len(got) == len(want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.isclose(gs, ws, rtol=1e-12), (gd, wd, gs, ws)


@pytest.fixture(scope="module")
def qterms_idx(oracle):
    by_df = sorted(oracle.df.items(), key=lambda kv: (kv[1], kv[0]))
    rare = next(t for t, d in by_df if d == 1)
    mid = [t for t, d in by_df if 5 <= d <= oracle.n_docs // 2]
    from search_engine_skillbox_spark.sources.corpus import STOPWORDS
    heavy = max(STOPWORDS, key=lambda t: oracle.df.get(t, 0))
    return [heavy, mid[len(mid) // 2], rare]


@pytest.mark.parametrize("serving", [True, False])
@pytest.mark.parametrize("mode", ["compat", "bm25"])
@pytest.mark.parametrize("k", [5, 10])
def test_wand_lookup_path_equals_plain(spark, store, index_frames, mode, k,
                                       qterms_idx, serving):
    """MaxScore demotion (lookup_min_df=1 forces the heavy term into the
    lookup path) must stay top-k identical to the plain path."""
    p, t, dls = index_frames
    n = B.corpus_size(p)
    q = qterms_idx
    if mode == "compat":
        plain = Q.candidate_scores(p, t, n, q, "compat")
    else:
        part = dls.filter(F.col("dl") > 0)
        avgdl = float(part.agg(F.avg("dl")).first()[0])
        plain = Q.candidate_scores(p, t, n, q, "bm25", doclens=part,
                                   avgdl=avgdl)
    want = [(r["doc_id"], r["score"]) for r in Q.topk(plain, k).collect()]
    got = [(r["doc_id"], r["score"]) for r in
           wand_topk(spark, store, q, k, mode, exhaustive_budget=0,
                     lookup_min_df=1, serving=serving).collect()]
    assert len(got) == len(want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.isclose(gs, ws, rtol=1e-12), (gd, wd, gs, ws)


@pytest.mark.parametrize("mode", ["compat", "bm25"])
def test_wand_arrow_lookup_equals_plain(spark, store, index_frames, mode,
                                        qterms_idx):
    """The driver-side parquet point-read lookup (tombstone-free store)
    must stay top-k identical to the plain path; when the query demotes
    a term the serving tier's lookup branch must actually run (debug
    mark), otherwise the point reader is checked against decoded truth
    directly."""
    import search_engine_skillbox_spark.operators.serving as sv
    p, t, dls = index_frames
    n = B.corpus_size(p)
    q = qterms_idx
    if mode == "compat":
        plain = Q.candidate_scores(p, t, n, q, "compat")
    else:
        part = dls.filter(F.col("dl") > 0)
        avgdl = float(part.agg(F.avg("dl")).first()[0])
        plain = Q.candidate_scores(p, t, n, q, "bm25", doclens=part,
                                   avgdl=avgdl)
    k = 5
    want = [(r["doc_id"], r["score"]) for r in Q.topk(plain, k).collect()]
    dbg: dict = {}
    got = [(r["doc_id"], r["score"]) for r in
           wand_topk(spark, store, q, k, mode, exhaustive_budget=0,
                     lookup_min_df=1, serving=True, debug=dbg).collect()]
    assert len(got) == len(want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.isclose(gs, ws, rtol=1e-12), (gd, wd, gs, ws)
    if "serve_lookup" not in dbg:
        # no term was demoted on this corpus/mode — the path was not hit;
        # exercise the point reader directly against decoded truth
        heavy = q[0]
        ns = int(sv.terms_rows_arrow(store, [heavy])[heavy]["n_salt"])
        truth = {r["doc_id"]: (r["tf"], r["dl"]) for r in
                 decoded_postings(store.blocks(spark))
                 .filter(F.col("term") == heavy).collect()}
        docs = sorted(truth)[:7]
        ids_a, tfs_a, dls_a = sv._lookup_postings(
            store, heavy, ns, np.array(docs, np.int64))
        assert sorted(ids_a.tolist()) == docs
        for d, tf_, dl_ in zip(ids_a.tolist(), tfs_a.tolist(),
                               dls_a.tolist()):
            assert truth[d] == (tf_, dl_)


@pytest.mark.parametrize("serving", [True, False])
@pytest.mark.parametrize("mode", ["compat", "bm25"])
def test_wand_demoted_lookup_equals_plain(spark, store, index_frames,
                                          oracle, mode, serving):
    """[stopword, df-3 term] at k=3 with lookup_min_df=1: θ from the
    rare term's seeds exceeds the stopword's UBmax, so the stopword is
    demoted and only looked up for the surviving candidates — through
    the point reader on the serving tier, through the range semi-join
    on the distributed path. Both must run and stay top-k identical to
    the plain path."""
    from search_engine_skillbox_spark.sources.corpus import STOPWORDS
    p, t, dls = index_frames
    n = B.corpus_size(p)
    heavy = max(STOPWORDS, key=lambda w: oracle.df.get(w, 0))
    rare = min(w for w, d in oracle.df.items() if d == 3)
    q, k = [heavy, rare], 3
    if mode == "compat":
        plain = Q.candidate_scores(p, t, n, q, "compat")
    else:
        part = dls.filter(F.col("dl") > 0)
        avgdl = float(part.agg(F.avg("dl")).first()[0])
        plain = Q.candidate_scores(p, t, n, q, "bm25", doclens=part,
                                   avgdl=avgdl)
    want = [(r["doc_id"], r["score"]) for r in Q.topk(plain, k).collect()]
    dbg: dict = {}
    got = [(r["doc_id"], r["score"]) for r in
           wand_topk(spark, store, q, k, mode, exhaustive_budget=0,
                     lookup_min_df=1, serving=serving,
                     debug=dbg).collect()]
    if serving:
        assert "serve_lookup" in dbg
    else:
        assert dbg["plan"]["non_ess"] == [heavy]
    assert len(got) == len(want) == k
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.isclose(gs, ws, rtol=1e-12), (gd, wd, gs, ws)


def test_wand_single_and_absent(spark, store, qterms_idx):
    got = wand_topk(spark, store, [qterms_idx[2]], 10).collect()
    assert len(got) >= 1
    assert wand_topk(spark, store, ["zzzabsent"], 10).count() == 0
    assert wand_topk(spark, store, [], 10).count() == 0


@pytest.mark.parametrize("serving", [True, False])
def test_site_topk_equals_logical(spark, store, prepared, index_frames,
                                  qterms_idx, serving):
    """T9/J2: site-filtered top-k from the physical index must equal the
    logical rebuild-within-site path (df/N recomputed in the site, like
    IndexRepository.java:41-50) — on BOTH the serving and the
    distributed path."""
    from search_engine_skillbox_spark.operators.wand import site_topk
    host = "alpha.test"
    p, _, _ = index_frames
    ids = prepared.filter(F.col("host") == host).select("doc_id")
    p_site = p.join(ids, "doc_id")
    t_site = B.term_stats(p_site)
    n_site = B.corpus_size(p_site)
    want = [(r["doc_id"], r["score"]) for r in
            Q.topk(Q.candidate_scores(p_site, t_site, n_site, qterms_idx,
                                      "compat"), 10).collect()]
    got = [(r["doc_id"], r["score"]) for r in
           site_topk(spark, store, qterms_idx, 10, host,
                     serving=serving).collect()]
    assert len(got) == len(want) > 0
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.isclose(gs, ws, rtol=1e-12), (gd, wd, gs, ws)
    # unknown host → empty; empty query → empty
    assert site_topk(spark, store, qterms_idx, 10, "nohost.test",
                     serving=serving).count() == 0
    assert site_topk(spark, store, [], 10, host,
                     serving=serving).count() == 0


def test_search_service_site(spark, store, prepared, index_frames,
                             qterms_idx):
    """search_service(site=...) end-to-end: count and page are scoped to
    the host; blank site behaves like absent (SearchServiceImpl.java:85)."""
    from search_engine_skillbox_spark.operators.service import search_service
    host = "alpha.test"
    q = " ".join(qterms_idx)
    res = search_service(spark, store, q, limit=5, site=host)
    assert res["result"] is True and 0 < len(res["data"]) <= 5
    p, _, _ = index_frames
    ids = prepared.filter(F.col("host") == host).select("doc_id")
    n_match = (p.filter(F.col("term").isin(qterms_idx))
               .join(ids, "doc_id").select("doc_id").distinct().count())
    assert res["count"] == n_match
    blank = search_service(spark, store, q, limit=5, site="  ")
    full = search_service(spark, store, q, limit=5)
    assert blank["count"] == full["count"] >= res["count"]


def test_resume(spark, prepared, index_frames, tmp_path):
    """Kill after group 0 committed → restart skips g0 and completes with an
    index identical to a clean build (SURVEY §5.5)."""
    st = IndexStore(str(tmp_path / "idx"), n_buckets=8, salt_threshold=50)
    with pytest.raises(RuntimeError, match="synthetic failure"):
        st.build(spark, prepared, build_id="r1", checkpoint_groups=4,
                 fail_after_group=1)
    from search_engine_skillbox_spark.plans.checkpoint import Lineage
    import os
    lin = Lineage(os.path.join(st.path, "lineage.jsonl"))
    done0 = lin.done_partitions("r1")
    # g0 committed; g1+ not (dims may have finished — it runs concurrently
    # and is independent of the failed group)
    assert "blocks-g0" in done0
    assert not any(p in done0 for p in ("blocks-g1", "blocks-g2", "blocks-g3"))
    st.build(spark, prepared, build_id="r1", checkpoint_groups=4)
    done = lin.done_partitions("r1")
    assert {"blocks-g0", "blocks-g1", "blocks-g2", "blocks-g3", "dims"} <= done
    # g0 ran exactly once (resume skipped it)
    runs = [r for r in lin.load()
            if r["partition_id"] == "blocks-g0" and r["status"] == "RUNNING"]
    assert len(runs) == 1
    postings, _, _ = index_frames
    assert _flat(decoded_postings(st.blocks(spark))) == _flat(postings)


def test_layout_independent_of_group_split(spark, prepared, tmp_path):
    """The store does not depend on how the build is split into
    checkpoint groups: one group and four groups (salted branch on,
    salt_threshold=50) write identical blocks/, terms/ and doclens/
    rows — every column, encoded bytes included — and the same meta."""
    import json
    import os

    def build(groups):
        st = IndexStore(str(tmp_path / f"g{groups}"), n_buckets=8,
                        salt_threshold=50)
        st.build(spark, prepared, checkpoint_groups=groups)
        st.close()
        return st.path

    def rows(path, table):
        df = spark.read.parquet(os.path.join(path, table))
        return sorted(tuple(r) for r in
                      df.select(sorted(df.columns)).collect())

    def meta(path):
        with open(os.path.join(path, "meta.json")) as f:
            m = json.load(f)
        m.pop("build_id")
        return m

    one, four = build(1), build(4)
    assert spark.read.parquet(os.path.join(one, "blocks")) \
        .filter(F.col("salt") > 0).count() > 0, "salting must run"
    for table in ("blocks", "terms", "doclens"):
        assert rows(one, table) == rows(four, table), table
    assert meta(one) == meta(four)


def test_site_topk_distributed_semi_join_equals_full(spark, store,
                                                     qterms_idx):
    """VERDICT r3 #1 (distributed half): forcing every term through the
    block-coverage semi-join (lookup_factor=0) must stay value-identical
    to the full-decode distributed plan — a site+stopword query then
    decodes only blocks covering the host's docs."""
    from search_engine_skillbox_spark.operators.wand import site_topk
    host = "alpha.test"
    want = [(r["doc_id"], r["score"]) for r in
            site_topk(spark, store, qterms_idx, 10, host, serving=False,
                      lookup_factor=10**9).collect()]
    dbg: dict = {}
    got = [(r["doc_id"], r["score"]) for r in
           site_topk(spark, store, qterms_idx, 10, host, serving=False,
                     lookup_factor=0, debug=dbg).collect()]
    assert dbg["site_dist"]["heavy"], "semi-join branch must engage"
    assert not dbg["site_dist"]["light"]
    assert len(got) == len(want) > 0
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd and np.isclose(gs, ws, rtol=1e-12), (gd, wd)


def test_old_format_fails_fast(tmp_path):
    """VERDICT r4 #6: a pre-current-format store must fail at OPEN with
    a rebuild-from-corpus message — and must NOT suggest compact() (it
    opens the store, so it can never be the migration path)."""
    import json
    import os
    p = str(tmp_path / "oldstore")
    os.makedirs(p)
    with open(os.path.join(p, "meta.json"), "w") as f:
        json.dump({"format": 5, "n_buckets": 8, "salt_threshold": 50,
                   "n_docs": 1}, f)
    with pytest.raises(RuntimeError, match="rebuild from the source corpus"):
        IndexStore(p)
    try:
        IndexStore(p)
    except RuntimeError as e:
        assert "compact" not in str(e).lower()


def test_doclens_layout_for_point_reads(spark, store):
    """Format 6: doclens files carry host and are doc_id-sorted within
    each file — the stats the hydrate point read prunes on."""
    import glob
    import os

    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(store.path, "doclens", "doc_bucket=*",
                                   "*.parquet"))
    assert files
    hosts_seen = set()
    for fp in files:
        pf = pq.ParquetFile(fp)
        names = [pf.metadata.schema.column(i).name
                 for i in range(pf.metadata.num_columns)]
        assert "host" in names and "doc_id" in names and "dl" in names
        ids = pf.read(columns=["doc_id"]).column("doc_id").to_numpy(
            zero_copy_only=False)
        assert np.all(np.diff(ids) >= 0), f"{fp} not doc_id-sorted"
        hosts_seen |= set(pf.read(columns=["host"]).column("host")
                          .to_pylist())
        pf.close()
    # hosts match the docs table's hosts
    want = {r["host"] for r in
            store.docs(spark).select("host").distinct().collect()}
    assert hosts_seen == want
