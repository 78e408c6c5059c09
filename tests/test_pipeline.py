"""Training-data pipeline operators (operators/pipeline.py):
decontamination, deterministic sampling, PII redaction. Cross-engine
value parity is gated by the decontaminate/sample_hash/pii_redact
oracle rows; these tests pin the SEMANTIC invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_skillbox_spark.operators import pipeline as P


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
        (3, "one two three four five six seven eight nine ten", "en"),
        (4, "совершенно другой текст на русском языке без пересечений "
            "вообще ни одного совпадения здесь нет", "ru"),
        (5, "short doc", "zh"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_decontaminate_exact_copy_is_fully_contaminated(spark, docs):
    bench = docs.filter(F.col("doc_id") == 1).select(
        F.col("doc_id").alias("bench_id"), "text")
    out = {r["doc_id"]: r for r in
           P.decontaminate(docs, bench, n=8).collect()}
    # doc 1 IS the bench text; doc 2 is an exact copy — both 1.0
    assert out[1]["contamination"] == 1.0
    assert out[2]["contamination"] == 1.0
    # non-overlapping docs never appear (no hits → no row)
    assert 3 not in out and 4 not in out and 5 not in out


def test_decontaminate_short_docs_participate(spark, docs):
    # doc 5 has < n tokens → its full-token join is its one shingle;
    # a bench set containing the same short text must flag it
    bench = docs.filter(F.col("doc_id") == 5).select(
        F.col("doc_id").alias("bench_id"), "text")
    out = {r["doc_id"]: r for r in
           P.decontaminate(docs, bench, n=8).collect()}
    assert out[5]["n_hits"] == 1 and out[5]["contamination"] == 1.0


def test_sample_by_hash_deterministic_and_monotone(spark, docs):
    big = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.lit("x").alias("text"),
        F.when(F.col("id") % 3 == 0, "ru").otherwise("en").alias("lang"))
    kept_a = {r["doc_id"] for r in
              P.sample_by_hash(big, 0.3).select("doc_id").collect()}
    kept_b = {r["doc_id"] for r in
              P.sample_by_hash(big, 0.3).select("doc_id").collect()}
    assert kept_a == kept_b  # pure function of the key
    # monotone in rate: a smaller rate keeps a SUBSET (same hash order)
    kept_small = {r["doc_id"] for r in
                  P.sample_by_hash(big, 0.1).select("doc_id").collect()}
    assert kept_small <= kept_a
    # rate ≈ kept fraction (md5 uniformity; 2000 keys → ±5% easily)
    assert 0.25 < len(kept_a) / 2000 < 0.35
    # strata: rate-1.0 keeps EVERY member, rate-0.0 none
    kept_s = {r["doc_id"] for r in
              P.sample_by_hash(big, 0.0, strata={"ru": 1.0})
              .select("doc_id").collect()}
    ru_ids = {r["doc_id"] for r in
              big.filter(F.col("lang") == "ru").select("doc_id").collect()}
    assert kept_s == ru_ids


def test_pii_redact_counts_and_idempotence(spark):
    rows = [
        (1, "reach me at a.b-c+x@mail.example.org or +1 (415) 555-0199 ok"),
        (2, "no pii here just words"),
        (3, "two mails x@y.io and z@w.co plus 212-555-0101 and 646 555 0102"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in P.pii_redact(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert "[EMAIL]" in out[1]["clean_text"]
    assert "[PHONE]" in out[1]["clean_text"]
    assert "@" not in out[1]["clean_text"]
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    assert out[2]["clean_text"] == "no pii here just words"
    assert out[3]["n_emails"] == 2 and out[3]["n_phones"] == 2
    # idempotent: redacting already-clean text changes nothing
    clean = P.pii_redact(
        spark.createDataFrame(
            [(k, v["clean_text"]) for k, v in out.items()],
            "doc_id long, text string"))
    for r in clean.collect():
        assert r["n_emails"] == 0 and r["n_phones"] == 0
        assert r["clean_text"] == out[r["doc_id"]]["clean_text"]


def test_pii_phone_precision_and_engine_parity(spark):
    """ADVICE r5: the old \\+?\\d[...]{7,14}\\d phone pattern redacted
    ISO dates, order ids, and prices as [PHONE] (over-redaction
    corrupting training text). The shape-anchored pattern must leave
    non-PII numerics alone, still catch real phone formats, and behave
    byte-identically in Spark (Java regex) and DuckDB (RE2)."""
    import duckdb

    from search_engine_skillbox_spark.operators.pipeline import PHONE_RE
    keep = ["date 2024-01-01 here", "euro 01.02.2024 date",
            "price 1,234.56 or 1234.56", "order id 123456789012",
            "in 1995 we shipped v1.2.3", "ip 192.168.001.001",
            "ranges 100 - 200 - 300 ok",
            # ru-adjacent non-PII: dotted dates / versions starting
            # with 8 must not trip the domestic-8 alternative
            "on 8.12.2024 we met", "version 8.1.2 ok",
            "room 8 seats 100"]
    redact = ["+1 555 01012", "+7 (495) 123-45-67", "(555) 010-1234",
              "555-010-1234", "646 555 0102", "call +1 (415) 555-0199 ok",
              # ADVICE r6: Russian domestic formats (8-prefixed, 2-2
              # tail grouping) — the +7-only coverage was a recall
              # regression for a pipeline with explicit ru handling
              "8 (916) 123-45-67", "8-916-123-45-67",
              "позвони 8 916 123 45 67 завтра", "(495) 123-45-67"]
    rows = [(i, t) for i, t in enumerate(keep + redact)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in P.pii_redact(df).collect()}
    for i, t in enumerate(keep):
        assert out[i]["n_phones"] == 0 and out[i]["clean_text"] == t, t
    for j in range(len(keep), len(rows)):
        assert out[j]["n_phones"] == 1, rows[j]
        assert "[PHONE]" in out[j]["clean_text"]
    # engine parity on the exact redacted text (the gate's hash basis)
    con = duckdb.connect()
    for i, t in rows:
        dd = con.execute(
            "SELECT regexp_replace(?, ?, '[PHONE]', 'g')",
            [t, PHONE_RE]).fetchone()[0]
        assert dd == out[i]["clean_text"], t


def test_gopher_quality_edges(spark):
    """Gopher filter signals on constructed edges: empty text, a short
    doc (fails min-words), and a passing doc with stopwords."""
    from search_engine_skillbox_spark.functions import textstats as TS
    from pyspark.sql import functions as F
    good = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the field while it is still light out "
            "because the evening comes fast in the winter and the "
            "path is long but the journey matters more than the end "
            "so it keeps going and going") + " word" * 10
    rows = [(1, ""), (2, "tiny doc"), (3, good), (4, "#### ## # ###")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           df.select("doc_id", *TS.gopher_quality(F.col("text"))).collect()}
    assert out[1]["n_words"] == 0 and out[1]["gopher_pass"] is False
    assert out[2]["n_words"] == 2 and out[2]["gopher_pass"] is False
    assert out[3]["n_words"] >= 50 and out[3]["stopword_hits"] >= 2
    assert out[3]["gopher_pass"] is True
    assert out[4]["symbol_ratio"] > 0.1 and out[4]["gopher_pass"] is False


def _clean_input(spark, tmp_path, n=300, seed=42):
    """documents-shaped corpus with planted exact duplicates (every
    100th doc repeats its neighbor 7 back), written to parquet."""
    from search_engine_skillbox_spark.sources.corpus import doc_tokens

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf["id"].tolist()
            texts = []
            for d in ids:
                src = d - 7 if (d % 100 == 7 and d >= 7) else d
                texts.append(" ".join(doc_tokens(seed, int(src))))
            yield pd.DataFrame({
                "doc_id": ids, "text": texts,
                "lang": [["ru", "en", "mixed"][d % 3] for d in ids]})

    path = str(tmp_path / "raw")
    (spark.range(n).repartition(4)
     .mapInPandas(gen, "doc_id long, text string, lang string")
     .write.mode("overwrite").parquet(path))
    return path


def test_clean_corpus_resume(spark, tmp_path):
    """Kill the chain mid-stage-4 → restart skips the committed stages
    (their outputs untouched on disk, one RUNNING row each) and
    completes with a result identical to an uninterrupted run — the
    index build's resume contract (test_index_store::test_resume) for
    the cleaning pipeline."""
    import os

    from search_engine_skillbox_spark.operators.pipeline import (
        clean_corpus, default_clean_stages)
    from search_engine_skillbox_spark.plans.checkpoint import Lineage
    raw = _clean_input(spark, tmp_path)
    stages = default_clean_stages(gopher_structural_only=True)
    marker = tmp_path / "stage4_ok"
    name3, fn3 = stages[3]  # decontaminate

    def flaky(df):
        if not marker.exists():
            raise RuntimeError("synthetic failure")
        return fn3(df)
    stages[3] = (name3, flaky)

    work = str(tmp_path / "work")
    with pytest.raises(RuntimeError, match="synthetic failure"):
        clean_corpus(spark, raw, work, stages=stages)
    lin = Lineage(os.path.join(work, "lineage.jsonl"))
    summ = lin.summary()
    assert summ["status"] == "FAILED"
    assert "synthetic failure" in summ["last_error"]
    rows = lin.load()
    build_id = rows[0]["build_id"]
    done = lin.done_partitions(build_id)
    assert {"gopher_filter", "exact_dedup", "minhash_neardedup"} == done
    # snapshot the committed stage outputs' file mtimes
    def listing(i, name):
        d = os.path.join(work, f"{i:02d}_{name}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if not f.startswith((".", "_"))}
    before = [listing(i, n) for i, (n, _) in enumerate(stages[:3])]

    marker.touch()
    res = clean_corpus(spark, raw, work, stages=stages)
    assert [s["skipped"] for s in res["stages"]] == \
        [True, True, True, False, False, False]
    assert res["build_id"] == build_id  # same input+chain → same id
    after = [listing(i, n) for i, (n, _) in enumerate(stages[:3])]
    assert before == after  # skipped stages were NOT rewritten
    # each committed stage ran exactly once across both invocations
    for stage in done:
        runs = [r for r in lin.load()
                if r["partition_id"] == stage and r["status"] == "RUNNING"]
        assert len(runs) == 1, stage
    # identical result to an uninterrupted run in a fresh workdir
    clean = clean_corpus(spark, raw, str(tmp_path / "work2"),
                         stages=default_clean_stages(
                             gopher_structural_only=True))
    got = sorted((r["doc_id"], r["text"]) for r in
                 spark.read.parquet(res["final_path"]).collect())
    want = sorted((r["doc_id"], r["text"]) for r in
                  spark.read.parquet(clean["final_path"]).collect())
    assert got == want and len(got) > 0
    # swapping the input invalidates the default build_id
    from search_engine_skillbox_spark.operators.pipeline import (
        _dir_fingerprint)
    fp = _dir_fingerprint(raw)
    _clean_input(spark, tmp_path, n=301)
    assert _dir_fingerprint(raw) != fp


def test_fused_equals_staged(spark, tmp_path):
    """clean_corpus_fused (cache boundaries, final write only) must
    produce exactly the staged chain's final table."""
    from search_engine_skillbox_spark.operators.pipeline import (
        clean_corpus, clean_corpus_fused, default_clean_stages)
    raw = _clean_input(spark, tmp_path, n=250)
    staged = clean_corpus(spark, raw, str(tmp_path / "staged"),
                          stages=default_clean_stages(
                              gopher_structural_only=True))
    fused = clean_corpus_fused(spark, raw, str(tmp_path / "fused"),
                               stages=default_clean_stages(
                                   gopher_structural_only=True))
    got = sorted((r["doc_id"], r["text"]) for r in
                 spark.read.parquet(fused["final_path"]).collect())
    want = sorted((r["doc_id"], r["text"]) for r in
                  spark.read.parquet(staged["final_path"]).collect())
    assert got == want and len(got) > 0
    assert fused["rows_out"] == len(want)


def test_fused_unpersists_on_success_and_failure(spark, tmp_path):
    """VERDICT r6: clean_corpus_fused must leave ZERO persisted frames
    behind — after a clean run (working set capped by per-stage
    unpersist) AND after an injected mid-chain failure (try/finally,
    not success-path-only cleanup)."""
    from search_engine_skillbox_spark.operators.pipeline import (
        clean_corpus_fused, default_clean_stages)

    def n_cached():
        # count persisted frames EXCLUDING localCheckpoint blocks:
        # _drop_big_buckets' tiny checkpointed key set is GC-managed
        # with the plan that references it (by design), not a leak
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(1 for e in jmap.entrySet()
                   if not e.getValue().rdd().isLocallyCheckpointed())

    raw = _clean_input(spark, tmp_path, n=200)
    base = n_cached()
    stages = default_clean_stages(gopher_structural_only=True)
    res = clean_corpus_fused(spark, raw, str(tmp_path / "ok"),
                             stages=stages)
    assert res["rows_out"] > 0
    assert n_cached() == base

    stages = default_clean_stages(gopher_structural_only=True)
    name3, _fn3 = stages[3]

    def boom(df):
        raise RuntimeError("synthetic mid-chain failure")
    stages[3] = (name3, boom)
    with pytest.raises(RuntimeError, match="synthetic mid-chain"):
        clean_corpus_fused(spark, raw, str(tmp_path / "fail"),
                           stages=stages)
    assert n_cached() == base


def test_dir_fingerprint_nanosecond_and_count(tmp_path):
    """ADVICE r6: an in-place rewrite within the same SECOND (same
    names/sizes) must still change the fingerprint — mtime is folded
    at nanosecond resolution, and the file count is folded too."""
    import os

    from search_engine_skillbox_spark.operators.pipeline import (
        _dir_fingerprint)
    d = tmp_path / "in"
    d.mkdir()
    f = d / "part-0.parquet"
    f.write_bytes(b"x" * 64)
    os.utime(f, ns=(1_700_000_000_000_000_000, 1_700_000_000_000_000_000))
    fp1 = _dir_fingerprint(str(d))
    # same second, +1 ns — the whole-second fingerprint was blind here
    os.utime(f, ns=(1_700_000_000_000_000_000, 1_700_000_000_000_000_001))
    assert _dir_fingerprint(str(d)) != fp1


def test_decontaminate_shuffle_path_equals_broadcast(spark, tmp_path):
    """broadcast_bench=False (the corpus-scale-benchmark plan: inner
    n-gram shuffle join + size aggregation over semi-joined docs only)
    must produce exactly the broadcast plan's rows, and must carry no
    explicit broadcast HINT on the benchmark side (AQE may still
    broadcast a small side at runtime — that is its call, not a forced
    plan; a genuinely huge bench side then shuffle-joins)."""
    from search_engine_skillbox_spark.operators.pipeline import (
        decontaminate)
    raw = _clean_input(spark, tmp_path, n=200)
    docs = spark.read.parquet(raw)
    bench = (docs.filter(F.col("doc_id") % 11 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))

    def rows(df):
        return sorted((r["doc_id"], r["n_hits"], r["n_ngrams"],
                       round(r["contamination"], 9))
                      for r in df.collect())
    want = rows(decontaminate(docs, bench))
    shuffled = decontaminate(docs, bench, broadcast_bench=False)
    assert rows(shuffled) == want and len(want) > 0
    analyzed = shuffled._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in analyzed
    assert "ResolvedHint" not in analyzed  # no forced broadcast


def test_clean_stages_params_change_resume_identity():
    """Changed stage PARAMETERS must change the default build_id
    (resuming with different thresholds against old DONE stages would
    silently serve wrong data) — and identical params must not."""
    from search_engine_skillbox_spark.operators.pipeline import (
        default_clean_stages)
    base = default_clean_stages(gopher_structural_only=True)
    same = default_clean_stages(gopher_structural_only=True)
    assert base.params_sig == same.params_sig
    for variant in (
            default_clean_stages(gopher_structural_only=False),
            default_clean_stages(gopher_structural_only=True,
                                 sample_rate=0.4),
            default_clean_stages(gopher_structural_only=True,
                                 contamination_threshold=0.7),
            default_clean_stages(gopher_structural_only=True,
                                 minhash={"bands": 8}),
            default_clean_stages(gopher_structural_only=True,
                                 strata={"ru": 1.0}),
            default_clean_stages(gopher_structural_only=True,
                                 decontam_broadcast=True)):
        assert variant.params_sig != base.params_sig


def test_sessionize_salted_equals_plain(spark):
    """VERDICT r6 #7: sessionize_salted (per-(user, time-bucket)
    windows + session-level chain merge — the whale-user-safe shape)
    must reproduce sessionize() exactly, including sessions that span
    bucket boundaries and multi-bucket quiet stretches."""
    import datetime as dt

    from search_engine_skillbox_spark.operators.pipeline import (
        sessionize, sessionize_salted)
    base = dt.datetime(2025, 3, 1, 0, 0, 0)
    rows = []
    # user 1: a session STRADDLING the 1-day bucket edge (events
    # 23:50 and next-day 00:30 — gap 40 min < 240), plus a separate
    # later session
    for mins in (23 * 60 + 50, 24 * 60 + 30, 24 * 60 + 40,
                 50 * 60, 50 * 60 + 10):
        rows.append((1, base + dt.timedelta(minutes=mins), 1.5))
    # user 2: one event per day for 5 days (each its own session;
    # every one lands in a different bucket, all gaps > 240)
    for d in range(5):
        rows.append((2, base + dt.timedelta(days=d, hours=12), 2.0))
    # user 3: two sessions, EACH straddling a midnight bucket edge
    # (23:55→00:05 gaps of 10 min; ~24 h between the pairs)
    for mins in (23 * 60 + 55, 24 * 60 + 5, 47 * 60 + 55, 48 * 60 + 5):
        rows.append((3, base + dt.timedelta(minutes=mins), 0.25))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, value double")
    want = {(r["user_id"], r["session_idx"]):
            (r["n_events"], r["session_start"], r["session_end"],
             r["total_value"])
            for r in sessionize(ev).collect()}
    got = {(r["user_id"], r["session_idx"]):
           (r["n_events"], r["session_start"], r["session_end"],
            r["total_value"])
           for r in sessionize_salted(ev, bucket_days=1).collect()}
    assert set(got) == set(want)
    for k, (n, s, e, v) in want.items():
        gn, gs, ge, gv = got[k]
        assert (gn, gs, ge) == (n, s, e), k
        assert abs(gv - v) < 1e-9, k  # float-sum association may differ
    # user 3: exactly two straddling sessions of 2 events each (the
    # bucket edge did NOT split them)
    assert want[(3, 1)][0] == 2 and want[(3, 2)][0] == 2
    assert (3, 3) not in want


def test_external_bench_resume_identity(spark, tmp_path):
    """VERDICT r7 #7: swapping the EXTERNAL --bench directory at
    IDENTICAL chain parameters must change clean_corpus's default
    build_id (via the CLI's extra_sig=_dir_fingerprint(bench_dir)) so
    stale DONE rows from the previous bench are never served; re-running
    with the SAME bench must skip every stage; and returning to a
    PREVIOUS bench (A -> B -> A) must RE-RUN, because the shared stage
    dirs now hold B's outputs even though A's DONE rows still exist."""
    import time

    from pyspark.sql import functions as F

    from search_engine_skillbox_spark.operators.pipeline import (
        _dir_fingerprint, clean_corpus, default_clean_stages)

    raw = _clean_input(spark, tmp_path, n=120)
    docs = spark.read.parquet(raw)
    bench_a = str(tmp_path / "bench_a")
    bench_b = str(tmp_path / "bench_b")
    (docs.filter(F.col("doc_id") % 37 == 0)
     .select(F.col("doc_id").alias("bench_id"), "text")
     .write.parquet(bench_a))
    # (fingerprint distinctness does not rest on mtime: the two dirs
    # differ in file names and row counts, both hashed by
    # _dir_fingerprint; the pause only keeps the listing stable)
    time.sleep(0.01)
    (docs.filter(F.col("doc_id") % 41 == 0)
     .select(F.col("doc_id").alias("bench_id"), "text")
     .write.parquet(bench_b))

    work = str(tmp_path / "work_eb")

    def run(bench_dir):
        stages = default_clean_stages(
            bench=spark.read.parquet(bench_dir),
            gopher_structural_only=True)
        return clean_corpus(spark, raw, work, stages=stages,
                            extra_sig=_dir_fingerprint(bench_dir))

    res_a = run(bench_a)
    assert not any(s["skipped"] for s in res_a["stages"])

    # same bench again → every stage served from its DONE row
    res_a2 = run(bench_a)
    assert all(s["skipped"] for s in res_a2["stages"])
    assert res_a2["build_id"] == res_a["build_id"]

    # swapped bench, same params → DIFFERENT build_id, nothing skipped
    res_b = run(bench_b)
    assert res_b["build_id"] != res_a["build_id"]
    assert not any(s["skipped"] for s in res_b["stages"])

    # A -> B -> A: A's DONE rows still exist in lineage.jsonl AND the
    # stage dirs carry B-written _SUCCESS markers — without the
    # per-dir _BUILD_ID check this silently served B's outputs as A's.
    # Must re-run every stage and reproduce A's original results.
    res_a3 = run(bench_a)
    assert res_a3["build_id"] == res_a["build_id"]
    assert not any(s["skipped"] for s in res_a3["stages"])
    assert ([s["rows_out"] for s in res_a3["stages"]]
            == [s["rows_out"] for s in res_a["stages"]])

    # identical params_sig both ways (both "external-bench") — only the
    # dir fingerprint separates them, which is exactly the point
    sig_a = default_clean_stages(bench=spark.read.parquet(bench_a),
                                 gopher_structural_only=True).params_sig
    sig_b = default_clean_stages(bench=spark.read.parquet(bench_b),
                                 gopher_structural_only=True).params_sig
    assert sig_a == sig_b


def test_unreadable_build_id_marker_reruns_stage(spark, tmp_path):
    """A _BUILD_ID marker that cannot be read (here: a directory at the
    marker path) counts as a build mismatch — the resume re-runs that
    stage and rewrites the marker instead of aborting."""
    import os

    from search_engine_skillbox_spark.operators.pipeline import (
        clean_corpus, default_clean_stages)

    raw = _clean_input(spark, tmp_path, n=120)
    stages = list(default_clean_stages(gopher_structural_only=True))[:2]
    work = str(tmp_path / "work_marker")
    first = clean_corpus(spark, raw, work, stages=stages)
    assert not any(s["skipped"] for s in first["stages"])

    marker = os.path.join(first["stages"][1]["path"], "_BUILD_ID")
    os.remove(marker)
    os.mkdir(marker)
    res = clean_corpus(spark, raw, work, stages=stages)
    assert [s["skipped"] for s in res["stages"]] == [True, False]
    assert ([s["rows_out"] for s in res["stages"]]
            == [s["rows_out"] for s in first["stages"]])
    assert os.path.isfile(marker)
    again = clean_corpus(spark, raw, work, stages=stages)
    assert all(s["skipped"] for s in again["stages"])
