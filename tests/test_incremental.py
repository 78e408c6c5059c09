"""S9 incremental maintenance: reindex/delete with tombstones +
generational appends; idempotence; dictionary-delta exactness; compact
equivalence. (SURVEY §2.1 S9, §5.4 re-index idempotence.)"""

from __future__ import annotations

import datetime as dt

import pytest

from search_engine_skillbox_spark.operators import build as B
from search_engine_skillbox_spark.operators.incremental import (
    compact, delete_page, reindex_page)
from search_engine_skillbox_spark.operators.index_store import IndexStore
from search_engine_skillbox_spark.operators.service import search_service
from search_engine_skillbox_spark.operators.wand import (
    live_postings, wand_topk)


# stores come from the session base store via directory clones
# (conftest.mk_store) — a copytree instead of a per-test rebuild
# (VERDICT r4 #8 test-wall cut); clone ≡ build for every assertion
# here because the build is deterministic over the same prepared input


def _live_flat(spark, st):
    return {(r["doc_id"], r["term"]): r["tf"]
            for r in live_postings(spark, st, st.blocks(spark)).collect()}


def _terms_map(spark, st):
    return {r["term"]: (r["df"], r["cf"], r["max_tf"])
            for r in st.terms(spark).collect()}


NEW_PAGE = {
    "url": "https://alpha.test/page/6",  # existing fixture url (6 % 4 = 2 → alpha)
    "warc_ts": dt.datetime(2025, 1, 1),
    "html": b"<html><body><p>fresh unique zanzibar words zanzibar</p></body></html>",
    "text": None,
    "lang": "en",
}

BRAND_NEW = {
    "url": "https://alpha.test/page/brand-new",
    "warc_ts": dt.datetime(2025, 1, 1),
    "html": b"<html><body><p>totally novel xylophone content</p></body></html>",
    "text": None,
    "lang": "en",
}


@pytest.fixture()
def store(mk_store):
    return mk_store("inc")


def test_reindex_existing(spark, store, prepared):
    meta0 = store.meta()
    res = reindex_page(spark, store, NEW_PAGE)
    assert res["old_existed"]
    # postings now reflect the new text only
    flat = _live_flat(spark, store)
    d = res["doc_id"]
    mine = {t: tf for (doc, t), tf in flat.items() if doc == d}
    assert mine == {"fresh": 1, "unique": 1, "zanzibar": 2, "words": 1}
    # search finds the new term, old terms of that doc are gone
    hit = wand_topk(spark, store, ["zanzibar"], 5).collect()
    assert [r["doc_id"] for r in hit] == [d]
    # dictionary deltas match a recompute from live postings
    live = spark.createDataFrame(
        [(doc, t, tf) for (doc, t), tf in flat.items()],
        "doc_id long, term string, tf long")
    recomputed = {r["term"]: (r["df"], r["cf"])
                  for r in B.term_stats(live).collect()}
    stored = _terms_map(spark, store)
    assert set(stored) == set(recomputed)
    for t, (df, cf) in recomputed.items():
        assert stored[t][:2] == (df, cf), t
    # meta stays exact
    meta = store.meta()
    assert meta["n_docs"] == meta0["n_docs"]
    assert meta["gen"] == 1


def test_reindex_idempotent(spark, store):
    reindex_page(spark, store, NEW_PAGE)
    flat1 = _live_flat(spark, store)
    t1 = _terms_map(spark, store)
    n1 = store.meta()["n_docs"]
    reindex_page(spark, store, NEW_PAGE)  # same page again
    flat2 = _live_flat(spark, store)
    t2 = _terms_map(spark, store)
    assert flat1 == flat2
    assert {k: v[:2] for k, v in t1.items()} == {k: v[:2] for k, v in t2.items()}
    assert store.meta()["n_docs"] == n1


def test_add_brand_new_and_delete(spark, store):
    meta0 = store.meta()
    res = reindex_page(spark, store, BRAND_NEW)
    assert not res["old_existed"]
    assert store.meta()["n_docs"] == meta0["n_docs"] + 1
    hit = search_service(spark, store, "xylophone")
    assert hit["count"] == 1 and len(hit["data"]) == 1
    assert "xylophone" in hit["data"][0]["snippet"].replace("<b>", "").replace("</b>", "")

    out = delete_page(spark, store, BRAND_NEW["url"])
    assert out["deleted"]
    assert store.meta()["n_docs"] == meta0["n_docs"]
    hit = search_service(spark, store, "xylophone")
    assert hit["count"] == 0 and hit["data"] == []
    # terms table no longer lists the unique term
    assert "xylophone" not in _terms_map(spark, store)


def test_consistency_and_lineage(spark, store):
    """After a chain of incremental ops the dictionaries/meta must match
    a recompute from live blocks, and every mutation step must have a
    DONE lineage row (crash-window auditability)."""
    import json
    import os

    from search_engine_skillbox_spark.operators.incremental import (
        check_consistency)
    reindex_page(spark, store, NEW_PAGE)
    reindex_page(spark, store, BRAND_NEW)
    delete_page(spark, store, BRAND_NEW["url"])
    rep = check_consistency(spark, store)
    assert rep["consistent"], rep
    with open(os.path.join(store.path, "lineage.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    incr = [r for r in rows if r["build_id"].startswith("incr-g")]
    # build_id = incr-g<gen>-<payload identity> (same-payload replays
    # skip DONE steps; a foreign payload at the same gen raises)
    gens = {r["build_id"].split("-")[1] for r in incr}
    assert gens == {"g1", "g2", "g3"}
    by_gen_done = {}
    for r in incr:
        if r["status"] == "DONE":
            g = r["build_id"].split("-")[1]
            by_gen_done.setdefault(g, set()).add(r["partition_id"])
    # update, brand-new page and delete all run the one batch body:
    # every step of every generation is DONE (a step with nothing to
    # write still records its row)
    for g in ("g1", "g2", "g3"):
        assert by_gen_done[g] == {"tombstones", "blocks", "terms", "docs",
                                  "doclens"}, g
    assert not [r for r in incr if r["status"] == "FAILED"]


def test_no_scaling_collects():
    """Grep-auditable VERDICT done-criterion: the one mutation body
    collects exactly its two batch-sized frames (one row per batch doc,
    one per stored batch doc), and the table merges (terms/docs/doclens/
    tombstones rewrites) contain NO collect() — a collect there scales
    with bucket/dictionary size, not batch size."""
    import inspect

    from search_engine_skillbox_spark.operators import incremental as inc
    for fn in (inc._write_tombstones, inc._read_parts, inc._rewrite):
        assert ".collect()" not in inspect.getsource(fn), fn.__name__
    src = inspect.getsource(inc._reindex_batch_body)
    assert src.count(".collect()") == 2
    for fn in (inc.reindex_page, inc.delete_page, inc.reindex_batch):
        assert ".collect()" not in inspect.getsource(fn), fn.__name__


def test_compact_preserves_state(spark, store):
    reindex_page(spark, store, NEW_PAGE)
    reindex_page(spark, store, BRAND_NEW)
    delete_page(spark, store, NEW_PAGE["url"])
    flat_before = _live_flat(spark, store)
    n_before = store.meta()["n_docs"]
    compact(spark, store)
    assert store.tombstones(spark) is None
    flat_after = _live_flat(spark, store)
    assert flat_after == flat_before
    assert store.meta()["n_docs"] == n_before
    assert store.meta()["gen"] == 0
    # appended single-doc blocks were merged away: every gen is 0
    gens = [r["gen"] for r in
            store.blocks(spark).select("gen").distinct().collect()]
    assert gens == [0]
    # compaction restores SERVING eligibility (tombstones gone): the
    # driver-side path answers again and equals the distributed one
    assert not store.has_tombstones()
    from search_engine_skillbox_spark.operators.wand import wand_topk
    term = next(iter(_live_flat(spark, store)))[1]
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         wand_topk(spark, store, [term], 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         wand_topk(spark, store, [term], 10, serving=False).collect()]
    assert a == b and len(a) > 0


def _plain_bm25_topk(spark, st, q_terms, k):
    """Exhaustive BM25 over live postings — the oracle for the pruned
    path on a store containing incrementally appended blocks."""
    import collections

    from search_engine_skillbox_spark.operators import score as S
    meta = st.meta()
    n, avgdl = meta["n_docs"], meta["avgdl"]
    df = {r["term"]: r["df"] for r in st.terms(spark).collect()}
    sc: dict = collections.defaultdict(float)
    for r in live_postings(spark, st, st.blocks(spark)).collect():
        if r["term"] not in q_terms:
            continue
        idf = S.idf_bm25_py(df[r["term"]], n)
        tf, dl = r["tf"], r["dl"]
        w = (tf * (S.K1_DEFAULT + 1.0)
             / (tf + S.K1_DEFAULT
                * (1.0 - S.B_DEFAULT + S.B_DEFAULT * dl / avgdl)))
        sc[r["doc_id"]] += w * idf
    return sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_bm25_wand_after_reindex(spark, store):
    """ADVICE r2: bm25-mode wand_topk against a store with incrementally
    APPENDED blocks — the path that needs max_imp to survive the append
    (schema parity) and the NULL-bound prune guard."""
    reindex_page(spark, store, NEW_PAGE)
    reindex_page(spark, store, BRAND_NEW)

    # appended (gen > 0) blocks carry the full gen-0 schema incl. max_imp
    from pyspark.sql import functions as F
    appended = store.blocks(spark).filter(F.col("gen") > 0)
    assert appended.count() > 0
    assert appended.filter(F.col("max_imp").isNull()).count() == 0

    for q in (["zanzibar"], ["xylophone"], ["zanzibar", "the"],
              ["fresh", "unique", "words"]):
        got = [(r["doc_id"], r["score"])
               for r in wand_topk(spark, store, q, 10, mode="bm25").collect()]
        want = _plain_bm25_topk(spark, store, q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-9, q

    # the TOMBSTONED store must route MaxScore lookups through the
    # distributed range join (the arrow point-read path cannot see
    # deletes) and still match the plain scorer exactly
    for q in (["zanzibar", "the"], ["xylophone", "the"]):
        got = [(r["doc_id"], r["score"])
               for r in wand_topk(spark, store, q, 10, mode="bm25",
                                  exhaustive_budget=0,
                                  lookup_min_df=1).collect()]
        want = _plain_bm25_topk(spark, store, q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) < 1e-9, q


def test_bm25_wand_after_reindex_batch(spark, store):
    """Same parity through the BULK append path (reindex_batch) that
    streaming ingest uses."""
    from search_engine_skillbox_spark.operators.incremental import (
        reindex_batch)
    from search_engine_skillbox_spark.sources import corpus as C
    batch = (C.pages_df(spark, 30, seed=7, partitions=1)
             .where("warc_ts >= timestamp'2024-01-01 00:10:00'"))
    reindex_batch(spark, store, batch)
    from pyspark.sql import functions as F
    appended = store.blocks(spark).filter(F.col("gen") > 0)
    assert appended.filter(F.col("max_imp").isNull()).count() == 0
    for q in (["the"], ["merge", "join"]):
        got = [(r["doc_id"], round(r["score"], 9))
               for r in wand_topk(spark, store, q, 10, mode="bm25").collect()]
        want = [(d, round(s, 9)) for d, s in
                _plain_bm25_topk(spark, store, q, 10)]
        assert [g[0] for g in got] == [w[0] for w in want], q


def test_statistics_from_lineage_and_meta(spark, store):
    """VERDICT r2 #5: the dashboard reads persisted meta + lineage —
    ZERO Spark jobs (proved by passing spark=None) — and surfaces a
    FAILED lineage row's status + lastError."""
    import os

    from search_engine_skillbox_spark.operators.service import (
        statistics_service)
    from search_engine_skillbox_spark.plans.checkpoint import Lineage

    stats = statistics_service(None, store)  # None ⇒ no scan possible
    total = stats["statistics"]["total"]
    assert total["pages"] > 0 and total["lemmas"] > 0
    assert total["indexing"] is False
    assert all(d["status"] == "INDEXED"
               for d in stats["statistics"]["detailed"])

    lin = Lineage(os.path.join(store.path, "lineage.jsonl"))
    t0 = lin.start("incr-g99", "blocks")
    lin.failed("incr-g99", "blocks", t0, "synthetic: disk full")
    stats = statistics_service(None, store)
    det = stats["statistics"]["detailed"]
    assert all(d["status"] == "FAILED" for d in det)
    assert all(d["lastError"] == "synthetic: disk full" for d in det)
    # a successful retry of the same step clears the failure
    t1 = lin.start("incr-g99", "blocks")
    lin.done("incr-g99", "blocks", t1, rows=0, nbytes=0)
    stats = statistics_service(None, store)
    assert all(d["status"] == "INDEXED"
               for d in stats["statistics"]["detailed"])


def test_lemma_total_exact_after_mutations(spark, store):
    """The dashboard's GLOBAL lemma count is maintained exactly by every
    mutation (meta n_terms_total ← terms/ footer row sum): a reindex
    that adds brand-new terms and a delete that kills a doc's unique
    terms must both land the exact live-dictionary size, with no
    compact in between (the pre-r5 version refreshed only at
    build/compact — a documented staleness this closes)."""
    from search_engine_skillbox_spark.operators.service import (
        statistics_service)

    def live_terms():
        return store.terms(spark).count()

    reindex_page(spark, store, BRAND_NEW)  # adds novel terms
    assert store.meta()["n_terms_total"] == live_terms()
    assert (statistics_service(None, store)["statistics"]["total"]
            ["lemmas"] == live_terms())
    delete_page(spark, store, BRAND_NEW["url"])  # kills them again
    assert store.meta()["n_terms_total"] == live_terms()


def test_foreign_partial_generation_raises(spark, store):
    """ADVICE r3: done-step skipping is keyed by (gen, payload). A
    half-applied generation from a DIFFERENT payload (crash before the
    meta bump) must raise — silently skipping this mutation's appends
    because a foreign mutation's step rows say DONE would lose
    postings."""
    import os

    from search_engine_skillbox_spark.plans.checkpoint import Lineage
    lin = Lineage(os.path.join(store.path, "lineage.jsonl"))
    # simulate: some OTHER mutation crashed at gen 1 after its blocks
    # step committed but before the meta write (gen still 0 in meta)
    t0 = lin.start("incr-g1-doc424242", "blocks")
    lin.done("incr-g1-doc424242", "blocks", t0, rows=0, nbytes=0)
    with pytest.raises(RuntimeError, match="compact"):
        reindex_page(spark, store, NEW_PAGE)


def test_delete_last_doc_of_partition_clears_row(spark, store):
    """The direct partition overwrite must CLEAR a docs/ partition whose
    last doc is deleted (dynamic overwrite can't) — otherwise a later
    re-add of the same url double-decrements the dictionaries."""
    from pyspark.sql import functions as F
    res = reindex_page(spark, store, BRAND_NEW)
    d = res["doc_id"]
    delete_page(spark, store, BRAND_NEW["url"])
    assert (store.docs(spark).filter(F.col("doc_id") == d).count() == 0)
    # re-add after delete: dictionaries must come back exact
    reindex_page(spark, store, BRAND_NEW)
    from search_engine_skillbox_spark.operators.incremental import (
        check_consistency)
    rep = check_consistency(spark, store)
    assert rep["consistent"], rep


def test_compact_carries_original_warc_ts(spark, store):
    """VERDICT r3 #5: docs/ carries the ORIGINAL warc_ts (format 5), so
    compact() rebuilds with real crawl timestamps — a later upsert pass
    over compacted docs ∪ an OLDER crawl of the same url must keep the
    newer stored version — and compacting twice is state-stable."""
    import datetime as dt

    from pyspark.sql import functions as F

    from search_engine_skillbox_spark.sources.pages import prepare_pages
    reindex_page(spark, store, NEW_PAGE)  # warc_ts 2025-01-01
    compact(spark, store)
    row = (store.docs(spark)
           .filter(F.col("url") == NEW_PAGE["url"])
           .select("warc_ts", "text").first())
    assert row["warc_ts"] == NEW_PAGE["warc_ts"]  # not a synthetic ts

    # upsert re-run: compacted docs ∪ an older crawl of the same url →
    # the stored (newer) version must win the max_by(warc_ts) upsert
    stale = spark.createDataFrame(
        [(NEW_PAGE["url"], dt.datetime(2020, 1, 1), None,
          "stale resurrected text", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    raw = (store.docs(spark)
           .select("url", "warc_ts", F.lit(None).cast("binary")
                   .alias("html"), "text", "lang")
           .unionByName(stale))
    merged = prepare_pages(raw)
    kept = (merged.filter(F.col("url_norm").contains("/page/6"))
            .select("text").first())
    assert "zanzibar" in kept["text"] and "stale" not in kept["text"]

    # compact twice → identical flat postings + docs content
    flat1 = _live_flat(spark, store)
    docs1 = {(r["doc_id"], r["text"], r["warc_ts"])
             for r in store.docs(spark)
             .select("doc_id", "text", "warc_ts").collect()}
    compact(spark, store)
    assert _live_flat(spark, store) == flat1
    docs2 = {(r["doc_id"], r["text"], r["warc_ts"])
             for r in store.docs(spark)
             .select("doc_id", "text", "warc_ts").collect()}
    assert docs2 == docs1


def _crash_at(monkeypatch, hook: str, pid: str, op):
    """Run `op` with the Lineage `hook` ("start" or "done") of step
    `pid` of an incremental mutation raising, then retry clean. A crash
    in "start" stops the mutation before the step runs; in "done",
    after the step's writes committed but before its DONE row."""
    from search_engine_skillbox_spark.plans.checkpoint import Lineage
    real = getattr(Lineage, hook)

    def boom(self, build_id, partition_id, *a, **kw):
        if partition_id == pid and build_id.startswith("incr-"):
            raise RuntimeError(f"synthetic crash in {hook} of {pid}")
        return real(self, build_id, partition_id, *a, **kw)

    monkeypatch.setattr(Lineage, hook, boom)
    with pytest.raises(RuntimeError, match="synthetic crash"):
        op()
    monkeypatch.setattr(Lineage, hook, real)
    return op()


def _crash_then_retry(spark, store, monkeypatch, op):
    """Crash before the docs step — after the non-idempotent
    blocks/terms steps are lineage-DONE, before docs and the meta
    write — then retry clean."""
    return _crash_at(monkeypatch, "start", "docs", op)


def test_reindex_page_crash_replay_is_exactly_once(
        spark, store, mk_store, monkeypatch):
    """A same-payload retry after a mid-mutation crash must SKIP the
    lineage-DONE non-idempotent steps (block append, dictionary
    deltas): without the done-set, the retry appended the doc's
    postings twice (doc scored double by the OR-sum) and applied the
    df/cf deltas twice — permanent dictionary corruption."""
    _crash_then_retry(spark, store, monkeypatch,
                      lambda: reindex_page(spark, store, NEW_PAGE))
    twin = mk_store("inc_twin")
    reindex_page(spark, twin, NEW_PAGE)
    assert _live_flat(spark, store) == _live_flat(spark, twin)
    assert _terms_map(spark, store) == _terms_map(spark, twin)


def test_delete_page_crash_replay_is_exactly_once(
        spark, store, mk_store, monkeypatch):
    """Same for delete: the terms decrement must not run twice on a
    crash retry."""
    _crash_then_retry(spark, store, monkeypatch,
                      lambda: delete_page(spark, store, NEW_PAGE["url"]))
    twin = mk_store("inc_twin_del")
    delete_page(spark, twin, NEW_PAGE["url"])
    assert _live_flat(spark, store) == _live_flat(spark, twin)
    assert _terms_map(spark, store) == _terms_map(spark, twin)


def test_reindex_page_different_content_retry_raises(
        spark, store, monkeypatch):
    """The payload id is CONTENT-keyed: retrying the same url with
    different text after a crash is a foreign half-applied generation
    (blocks hold the old text's postings) — it must raise, not stitch
    the two contents into one generation."""
    from search_engine_skillbox_spark.plans.checkpoint import Lineage
    real = Lineage.start

    def boom(self, build_id, partition_id, *a, **kw):
        if partition_id == "docs" and build_id.startswith("incr-"):
            raise RuntimeError("synthetic crash before docs step")
        return real(self, build_id, partition_id, *a, **kw)

    monkeypatch.setattr(Lineage, "start", boom)
    with pytest.raises(RuntimeError, match="synthetic crash"):
        reindex_page(spark, store, NEW_PAGE)
    monkeypatch.setattr(Lineage, "start", real)
    fresher = dict(NEW_PAGE,
                   html=b"<html><body><p>fresher crawl text</p></body></html>")
    with pytest.raises(RuntimeError, match="compact"):
        reindex_page(spark, store, fresher)


def test_payload_hash_is_content_sensitive():
    from search_engine_skillbox_spark.operators.incremental import (
        _payload_hash)
    a = _payload_hash([(1, 100), (2, 200)])
    same = _payload_hash([(2, 200), (1, 100)])  # order-free
    diff = _payload_hash([(1, 101), (2, 200)])  # same ids, new content
    assert a == same and a != diff


META_KEYS = ("n_docs", "sum_dl", "n_dl", "n_docs_by_host",
             "n_pages_by_host")


def _crash_after_docs(spark, store, monkeypatch, op):
    """Crash in the ADVICE-r4 drift window: AFTER the docs step commits
    its partition overwrites, BEFORE the meta write — the replay can
    then no longer recompute the original doc state from docs/
    (old ≡ new, or a deleted row gone)."""
    return _crash_at(monkeypatch, "done", "docs", op)


def test_reindex_crash_after_docs_meta_exact(
        spark, store, mk_store, monkeypatch):
    """ADVICE r4: the replay of a crash past the docs step must apply
    the ORIGINAL meta deltas (from the oldstate lineage note), not
    recompute them from the overwritten row — the pre-note code
    silently drifted sum_dl/avgdl here (old_dl read back as new_dl)."""
    from search_engine_skillbox_spark.operators.incremental import (
        check_consistency)
    res = _crash_after_docs(spark, store, monkeypatch,
                            lambda: reindex_page(spark, store, NEW_PAGE))
    assert res["old_existed"]
    twin = mk_store("inc_twin_meta")
    reindex_page(spark, twin, NEW_PAGE)
    m, w = store.meta(), twin.meta()
    for k in META_KEYS:
        assert m[k] == w[k], k
    assert abs(m["avgdl"] - w["avgdl"]) < 1e-12
    rep = check_consistency(spark, store)
    assert rep["consistent"], rep


def test_delete_crash_after_docs_meta_exact(
        spark, store, mk_store, monkeypatch):
    """Same window for delete: the replay finds the docs row GONE — the
    pre-note code returned deleted:False and never applied the meta
    deltas (permanent n_docs drift)."""
    from search_engine_skillbox_spark.operators.incremental import (
        check_consistency)
    out = _crash_after_docs(
        spark, store, monkeypatch,
        lambda: delete_page(spark, store, NEW_PAGE["url"]))
    assert out["deleted"] is True  # the replay must still report success
    twin = mk_store("inc_twin_meta_del")
    delete_page(spark, twin, NEW_PAGE["url"])
    m, w = store.meta(), twin.meta()
    for k in META_KEYS:
        assert m[k] == w[k], k
    rep = check_consistency(spark, store)
    assert rep["consistent"], rep


def test_reindex_batch_crash_after_docs_meta_exact(
        spark, store, mk_store, monkeypatch):
    """Bulk path, same window: crash after the docs step (before
    doclens/meta) — the oldstate note must keep the replayed batch's
    meta deltas exact even though old_posts now reads the new rows."""
    from search_engine_skillbox_spark.operators.incremental import (
        check_consistency, reindex_batch)
    from search_engine_skillbox_spark.sources import corpus as C

    batch = C.pages_df(spark, 20, seed=7, partitions=1)
    _crash_at(monkeypatch, "done", "doclens",
              lambda: reindex_batch(spark, store, batch))

    twin = mk_store("inc_twin_meta_batch")
    reindex_batch(spark, twin, C.pages_df(spark, 20, seed=7, partitions=1))
    m, w = store.meta(), twin.meta()
    for k in META_KEYS:
        assert m[k] == w[k], k
    assert _live_flat(spark, store) == _live_flat(spark, twin)
    rep = check_consistency(spark, store)
    assert rep["consistent"], rep


def _pages_frame(spark, pages):
    return spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
         for p in pages],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def _docs_rows(spark, st):
    return {tuple(r) for r in st.docs(spark).select(
        "doc_id", "url", "url_norm", "host", "path", "text", "lang",
        "warc_ts", "host_bucket", "doc_bucket").collect()}


def test_write_split_does_not_change_the_store(spark, mk_store):
    """Aim 3: results do not depend on how a write is split. N pages
    through reindex_page one at a time, then a delete_page, give the
    same store as one reindex_batch of those pages followed by the same
    delete_page."""
    from search_engine_skillbox_spark.operators.incremental import (
        reindex_batch)
    other = dict(NEW_PAGE, url="https://beta.test/page/9",
                 html=b"<html><body><p>beta zanzibar rewritten</p>"
                      b"</body></html>")
    batch = [NEW_PAGE, BRAND_NEW, other]
    one, many = mk_store("split_one"), mk_store("split_batch")
    for p in batch:
        reindex_page(spark, one, p)
    reindex_batch(spark, many, _pages_frame(spark, batch))
    for st in (one, many):
        assert delete_page(spark, st, BRAND_NEW["url"])["deleted"]
    assert _live_flat(spark, one) == _live_flat(spark, many)
    assert _terms_map(spark, one) == _terms_map(spark, many)
    m1, m2 = one.meta(), many.meta()
    for k in META_KEYS:
        assert m1[k] == m2[k], k
    assert _docs_rows(spark, one) == _docs_rows(spark, many)


def _parquet_files(d):
    import os
    return sorted(f for f in os.listdir(d)
                  if f.endswith(".parquet") and not f.startswith("."))


def test_writes_keep_one_file_per_touched_partition(spark, store):
    """Each write rewrites a touched docs/ and doclens/ partition as ONE
    file (a union of kept and new rows would add files on every write),
    and appends at most one blocks/ file per touched bucket."""
    import glob
    import os

    import pyarrow.parquet as pq

    from search_engine_skillbox_spark.operators.incremental import (
        reindex_batch)
    from search_engine_skillbox_spark.sources import corpus as C
    from pyspark.sql import functions as F
    pages = C.pages_df(spark, 30, seed=7, partitions=2)
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    reindex_batch(spark, store, pages.where(half == 0))
    reindex_batch(spark, store, pages.where(half == 1))
    for table in ("docs", "doclens"):
        parts = [d for d in glob.glob(
            os.path.join(store.path, table, "**", "doc_bucket=*"),
            recursive=True)]
        assert parts, table
        for d in parts:
            assert len(_parquet_files(d)) == 1, d
    for g in (1, 2):
        for d in glob.glob(os.path.join(store.path, "blocks", "bucket=*")):
            with_g = [f for f in _parquet_files(d) if g in set(
                pq.read_table(os.path.join(d, f), columns=["gen"])
                .column("gen").to_pylist())]
            assert len(with_g) <= 1, (d, g, with_g)


@pytest.fixture(scope="module")
def bucketed_store_dir(spark, prepared, tmp_path_factory):
    """A store with one doc bucket per doc (DOCS_PER_BUCKET = 1), so
    the batch docs' partitions are a small share of docs/ and some
    partitions hold a single doc."""
    from search_engine_skillbox_spark.operators import index_store as IS
    d = str(tmp_path_factory.mktemp("bucketed") / "idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(IS, "DOCS_PER_BUCKET", 1)
        st = IS.IndexStore(d, n_buckets=8, salt_threshold=50)
        st.build(spark, prepared, build_id="base", checkpoint_groups=1)
    assert st.n_doc_buckets > 16
    st.close()
    return d


def test_old_doc_lookup_reads_only_the_batch_doc_buckets(
        spark, bucketed_store_dir, tmp_path, monkeypatch):
    """The old-doc lookup, and the docs/doclens merges, read only the
    batch docs' partitions — not every docs partition."""
    import os

    from search_engine_skillbox_spark.functions.hashing import doc_bucket
    from search_engine_skillbox_spark.operators import incremental as inc
    from tests.conftest import clone_store
    st = clone_store(bucketed_store_dir, str(tmp_path / "idx"))
    real = inc._read_parts
    reads = []

    def spy(spark_, table, parts, part_cols=()):
        df = real(spark_, table, parts, part_cols)
        reads.append((os.path.basename(table), df))
        return df

    monkeypatch.setattr(inc, "_read_parts", spy)
    res = reindex_page(spark, st, NEW_PAGE)
    assert res["old_existed"]
    db = f"doc_bucket={doc_bucket(res['doc_id'], st.n_doc_buckets)}/"
    doc_reads = [df for t, df in reads if t in ("docs", "doclens")]
    assert len(doc_reads) == 3  # the old-doc lookup, docs, doclens
    for df in doc_reads:
        files = df.inputFiles()
        assert files and all(db in f for f in files), files


def test_delete_removes_an_emptied_partition(spark, bucketed_store_dir,
                                             tmp_path):
    """Deleting the only doc of a docs/ and doclens/ partition removes
    the partition dir (dynamic overwrite cannot clear it); a re-add
    restores the row and the store stays consistent."""
    import os

    from pyspark.sql import functions as F

    from search_engine_skillbox_spark.operators.incremental import (
        check_consistency)
    from tests.conftest import clone_store
    st = clone_store(bucketed_store_dir, str(tmp_path / "idx"))
    # a doc alone in its docs/ partition AND in its doclens/ partition
    docs_of, dl_of = {}, {}
    for r in st.docs(spark).select("doc_id", "host_bucket",
                                   "doc_bucket").collect():
        docs_of.setdefault((r["host_bucket"], r["doc_bucket"]),
                           []).append(r["doc_id"])
    for r in st.doclens(spark).select("doc_id", "doc_bucket").collect():
        dl_of.setdefault(r["doc_bucket"], []).append(r["doc_id"])
    (hb, db) = next(k for k, ids in sorted(docs_of.items())
                    if len(ids) == 1 and dl_of.get(k[1]) == ids)
    row = (st.docs(spark).filter(F.col("doc_id") == docs_of[(hb, db)][0])
           .select("doc_id", "url", "warc_ts", "text", "lang").first())
    docs_dir = os.path.join(st.path, "docs", f"host_bucket={hb}",
                            f"doc_bucket={db}")
    dl_dir = os.path.join(st.path, "doclens", f"doc_bucket={db}")
    assert delete_page(spark, st, row["url"])["deleted"]
    assert not os.path.exists(docs_dir) and not os.path.exists(dl_dir)
    assert st.docs(spark).filter(F.col("doc_id") == row["doc_id"]).count() == 0
    assert check_consistency(spark, st)["consistent"]
    reindex_page(spark, st, {"url": row["url"], "warc_ts": row["warc_ts"],
                             "html": None, "text": row["text"],
                             "lang": row["lang"]})
    assert st.docs(spark).filter(F.col("doc_id") == row["doc_id"]).count() == 1
    assert check_consistency(spark, st)["consistent"]
