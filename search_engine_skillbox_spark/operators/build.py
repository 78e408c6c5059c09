"""Inverted-index construction (reference indexing path, SURVEY §3.2).

The reference builds its index one page at a time with ~3 MySQL round
trips per distinct lemma per page (utils/PageIndexingUtils.java:128-159,
the N+1 pattern). Here the whole build is three Catalyst-planned jobs:

  postings_flat : docs → tokenize → explode → groupBy(doc,term).count()
                  (A1: per-page tf, ref utils/PageIndexingUtils.java:119-126)
  terms         : groupBy(term) → df=countDistinct(doc), cf=sum(tf)
                  (A2/A3: ref utils/PageIndexingUtils.java:134 and
                   repository/IndexRepository.java:37-39 — exact, not
                   approximate, because IDF must be score-identical)
  meta          : N = countDistinct(doc) over postings — counts only
                  index-participating docs, i.e. docs whose text tokenizes
                  to ≥1 term (A4: ref repository/IndexRepository.java:46-47)

Scale notes (10^12 docs, 1000 executors):
  * tokenize+explode+count is map-side-combinable: Spark's hash aggregate
    does partial aggregation per task before the single shuffle on
    (doc_id, term). No Python in the hot path — `tokens()` is built-ins.
  * `terms` re-shuffles by term; stopword terms are heavy but the
    aggregation value is two longs, so skew is benign here. Skew matters
    for the *physical posting layout*, handled by salted repartition in
    operators/codec.py + build_posting_blocks below.
  * df/cf are computed once at build time and persisted — the reference
    recomputes df per query (4 SQL round trips per search); we read a
    broadcast-sized dictionary instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textprep import tokens


def postings_flat(docs: DataFrame, doc_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — the relational inverted index.

    One shuffle (partial+final hash agg). Equivalent of the reference's
    `search_index` table rows (model/IndexEntity.java:10-26) where
    rank_value is the per-page term count stored as float.
    """
    return (
        docs.select(F.col(doc_col).alias("doc_id"),
                    F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def postings_fused_docs(docs: DataFrame, doc_col: str = "doc_id",
                        text_col: str = "text",
                        host_col: str | None = None) -> DataFrame:
    """(doc_id, dl[, host], terms: array<string>, tfs: array<long>) —
    ONE row per doc with the tokenize + per-doc tf aggregation done
    inside the Python kernel (PY_TOKEN_SPLIT, the byte-identical twin
    of the JVM `\\P{L}+` tokenizer). Docs with zero tokens are dropped
    (they never enter the index and BM25 never weights them).

    Why per-DOC rather than per-POSTING rows out of the kernel: the
    Arrow return path is the expensive half of a Python stage, and the
    flat form repeats doc_id/dl/host once per posting — ~28 B × Σ
    distinct-terms rows (~15 GB at 4M docs) of pure duplication
    crossing the boundary, plus the same duplication stored in the
    build's cached frame. Emitting arrays per doc moves each doc-level
    value ONCE; the flat posting view is a JVM-side arrays_zip+explode
    (whole-stage codegen) that recreates the rows only where a consumer
    needs them. Measured at 4M docs: kernel noop 39.0 → 20.5 s (21.4 s
    WITH the explode), cache-fill + terms agg 74.6 → 61.6 s, and the
    doclens dimension stops being an aggregation at all (15.0 → 0.6 s)
    — it is a column select of this frame.

    Array order is the Counter insertion order (first occurrence in
    the doc), identical to the row order the flat kernel emitted."""
    import pandas as pd

    def _gen(batches):
        from collections import Counter

        from ..functions.textprep import PY_TOKEN_SPLIT
        for pdf in batches:
            ids: list = []
            dls: list = []
            hosts: list = []
            terms: list = []
            tfs: list = []
            # plain list, not a pandas Series: .iloc in the doc loop is
            # ~µs of indexing overhead per doc — the per-element cost
            # class this kernel exists to avoid
            hseq = pdf[host_col].tolist() if host_col else None
            for i, (doc_id, text) in enumerate(
                    zip(pdf[doc_col], pdf[text_col])):
                # Counter(list) takes the C fast path; a `+` split
                # pattern can only yield empty strings at the run's
                # ends, so popping '' afterwards is exactly a
                # per-token `if t` filter (measured ~1.2× on the
                # tokenize+count loop, the kernel's dominant cost)
                c = Counter(PY_TOKEN_SPLIT.split((text or "").lower()))
                c.pop("", None)
                if not c:
                    continue
                ids.append(doc_id)
                dls.append(sum(c.values()))
                terms.append(list(c.keys()))
                tfs.append(list(c.values()))
                if hseq is not None:
                    hosts.append(hseq[i])
            out = {"doc_id": pd.Series(ids, dtype="int64"),
                   "dl": pd.Series(dls, dtype="int64")}
            if host_col:
                out["host"] = pd.Series(hosts, dtype="object")
            out["terms"] = pd.Series(terms, dtype="object")
            out["tfs"] = pd.Series(tfs, dtype="object")
            yield pd.DataFrame(out)

    cols = [F.col(doc_col).alias(doc_col), F.col(text_col).alias(text_col)]
    schema = "doc_id long, dl long"
    if host_col:
        cols.append(F.col(host_col).alias(host_col))
        schema += ", host string"
    schema += ", terms array<string>, tfs array<long>"
    return docs.select(*cols).mapInPandas(_gen, schema)


def explode_postings(docs: DataFrame,
                     with_host: bool = False) -> DataFrame:
    """Flat (doc_id, term, tf, dl[, host]) posting view over a
    postings_fused_docs frame — JVM-side arrays_zip + explode, fully
    codegen'd; row order per doc is the arrays' order (= the flat
    kernel's historical emit order)."""
    cols = ["doc_id", "dl"] + (["host"] if with_host else [])
    z = docs.select(*cols,
                    F.explode(F.arrays_zip("terms", "tfs")).alias("p"))
    return z.select("doc_id", F.col("p.terms").alias("term"),
                    F.col("p.tfs").alias("tf"), "dl",
                    *(["host"] if with_host else []))


def doc_lengths(docs: DataFrame, doc_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, dl) token count per doc — needed by BM25 length norm."""
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("dl"),
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df, cf): document frequency + collection frequency.

    df is exact COUNT(DISTINCT doc) — but since postings_flat already has
    one row per (doc, term), df == COUNT(*) within a term group, which
    Catalyst executes as a cheap partial+final count with NO distinct
    shuffle. cf mirrors the reference's lemma.frequency accumulation
    (utils/PageIndexingUtils.java:134).
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def corpus_size(postings: DataFrame) -> int:
    """A4: N = number of docs with ≥1 indexed term (NOT all doc rows —
    ref repository/IndexRepository.java:46-47 counts over search_index)."""
    return postings.select("doc_id").distinct().count()


def build_index_frames(docs: DataFrame, doc_col: str = "doc_id",
                       text_col: str = "text"):
    """Slice-2 logical index: (postings, terms, doclens). Callers persist
    or write these; the physical block layout is operators/codec.py +
    jobs/build_index.py."""
    p = postings_flat(docs, doc_col, text_col)
    return p, term_stats(p), doc_lengths(docs, doc_col, text_col)
