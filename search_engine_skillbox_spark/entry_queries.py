"""Driver-contract queries for the training-data-pipeline operators
(dedup / similarity / text analysis), each paired with a DuckDB oracle.

The sf `documents` corpus has no natural duplicates, so dedup queries
deterministically augment it in-query (copies / near-copies of low
doc_ids shifted by +10000) — the same augmentation is expressed in the
oracle SQL, so semantics stay fully checked.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import similarity as SIM
from .functions import textstats as TS

M = D.MERSENNE31
NMH = 16          # minhash functions
BANDS = 4
SIMBITS = 60
CHUNKS = 4

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

_SQL_TOK_AUG = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' extra extra' AS text
  FROM documents WHERE doc_id < 30
),
toksl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'),
                     x -> x <> '') AS t
  FROM aug
),
sh0 AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(range(1, len(t) - 1),
                                  i -> array_to_string(list_slice(t, i, i + 2), ' '))
         END AS shs
  FROM toksl WHERE len(t) > 0
),
sh AS (SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM sh0)
"""


def _aug_docs(docs: DataFrame) -> DataFrame:
    extra = (docs.filter(F.col("doc_id") < 30)
             .select((F.col("doc_id") + 10000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" extra extra"))
                     .alias("text")))
    return docs.select("doc_id", "text").unionByName(extra)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _aug_emb(emb: DataFrame) -> DataFrame:
    extra = (emb.filter(F.col("vec_id") < 20)
             .select((F.col("vec_id") + 10000).alias("vec_id"),
                     "embedding"))
    return emb.select("vec_id", "embedding").unionByName(extra)


_SQL_EMB_AUG = """
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20
)
"""

# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over the augmented corpus: the 30 copies
    collapse onto their source rows (min-doc_id keeper)."""
    docs = _docs(spark, sf_dir)
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    return D.exact_duplicates(aug)


_SQL_DEDUP_EXACT = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30
),
h AS (SELECT doc_id, md5(text) AS text_hash FROM aug)
SELECT text_hash, min(doc_id) AS keeper, count(*) AS n_dups
FROM h GROUP BY text_hash HAVING count(*) > 1
"""

# ---------------------------------------------------------------------------
# dedup: n-gram jaccard
# ---------------------------------------------------------------------------

MAX_SHINGLE_DF = 1000   # boilerplate-shingle cap (way above natural df
MAX_LSH_BUCKET = 1000   # at gate scale — semantics-neutral there, but
                        # expressed in BOTH engine and oracle)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.ngram_jaccard_pairs(_aug_docs(_docs(spark, sf_dir)),
                                k=3, threshold=0.5,
                                max_shingle_df=MAX_SHINGLE_DF)
    return out.select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))


_SQL_DEDUP_NGRAM = f"""WITH {_SQL_TOK_AUG},
shc AS (
  SELECT sh.* FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {MAX_SHINGLE_DF}) ok USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT i.doc1, i.doc2,
         i.i::DOUBLE / (s1.sz + s2.sz - i.i) AS jaccard
  FROM inter i
  JOIN sizes s1 ON s1.doc_id = i.doc1
  JOIN sizes s2 ON s2.doc_id = i.doc2
)
SELECT doc1, doc2, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5
"""

# ---------------------------------------------------------------------------
# dedup: minhash + LSH
# ---------------------------------------------------------------------------

def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.minhash_lsh_pairs(_aug_docs(_docs(spark, sf_dir)),
                              m=NMH, bands=BANDS, k=3, threshold=0.5,
                              max_bucket=MAX_LSH_BUCKET)
    return out.select("doc1", "doc2", F.round("est_sim", 6).alias("est_sim"))


def _minhash_window_sql(src_toks: str, k: int = 3) -> str:
    """CTE pair (thl, hsl) mirroring dedup._minhash_sig_df's rolling
    window hash: per-token h60 % p, then Σⱼ 3^(k−1−j)·th[i+j] mod p
    per k-window (short docs fold the whole array — list_reduce's
    first-element init equals the engine's init-0 fold because th is
    pre-modded < p). src_toks must provide (doc_id, t: list)."""
    coefs = " + ".join(f"th[i+{j}] * {3 ** (k - 1 - j)}" for j in range(k))
    return f"""thl AS (
  SELECT doc_id,
         list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {M}) AS th
  FROM {src_toks} WHERE len(t) > 0),
hsl AS (
  SELECT doc_id,
         CASE WHEN len(th) < {k} THEN [list_reduce(th, (x, y) -> (x*3 + y) % {M})]
              ELSE list_transform(range(1, len(th) - {k - 2}),
                                  i -> ({coefs}) % {M})
         END AS hs
  FROM thl)"""


def _ngram_hash_sql(src: str, n: int, pre: str) -> str:
    """CTE chain ({pre}t → {pre}g: doc_id, __h) mirroring
    pipeline._ngram_hash62's 62-bit rolling n-gram hash, DuckDB
    dialect: per-token h60, two polynomial folds over the 30-bit
    halves, __h = f1·2³¹ + f2; per-doc DISTINCT."""
    sum3 = " + ".join(f"(hh[i+{j}] >> 30) * {3 ** (n - 1 - j)}"
                      for j in range(n))
    sum5 = " + ".join(f"(hh[i+{j}] & 1073741823) * {5 ** (n - 1 - j)}"
                      for j in range(n))
    return f"""{pre}t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM {src}),
{pre}h AS (
  SELECT doc_id,
         list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hh
  FROM {pre}t WHERE len(t) > 0),
{pre}w AS (
  SELECT doc_id,
         CASE WHEN len(hh) < {n} THEN
           [list_reduce(list_transform(hh, h -> h >> 30),
                        (x, y) -> (x*3 + y) % {M}) * 2147483648
            + list_reduce(list_transform(hh, h -> h & 1073741823),
                          (x, y) -> (x*5 + y) % {M})]
         ELSE list_transform(range(1, len(hh) - {n - 2}),
                             i -> (({sum3}) % {M}) * 2147483648
                                  + (({sum5}) % {M}))
         END AS ws
  FROM {pre}h),
{pre}g AS (SELECT DISTINCT doc_id, unnest(ws) AS __h FROM {pre}w)"""


def _minhash_sql() -> str:
    mins = ", ".join(
        f"min((h * {2 * i + 1} + {1000003 * i}) % {M}) AS mh_{i}"
        for i in range(NMH))
    r = NMH // BANDS
    bandrows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS key FROM sig"
        .format(b=bi, cols=", ".join(f"mh_{bi * r + j}" for j in range(r)))
        for bi in range(BANDS))
    eqs = " + ".join(f"(s1.mh_{i} = s2.mh_{i})::INT" for i in range(NMH))
    return f"""WITH {_SQL_TOK_AUG},
{_minhash_window_sql('toksl')},
base AS (SELECT doc_id, unnest(hs) AS h FROM hsl),
sig AS (SELECT doc_id, {mins} FROM base GROUP BY doc_id),
bandrows AS (
{bandrows}
),
bandcap AS (
  SELECT b.* FROM bandrows b
  JOIN (SELECT band, key FROM bandrows GROUP BY band, key
        HAVING count(*) <= {MAX_LSH_BUCKET}) ok USING (band, key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bandcap a JOIN bandcap b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc1, c.doc2, ({eqs}) / {float(NMH)} AS est_sim
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.doc1
  JOIN sig s2 ON s2.doc_id = c.doc2
)
SELECT doc1, doc2, round(est_sim, 6) AS est_sim FROM est WHERE est_sim >= 0.5
"""

# ---------------------------------------------------------------------------
# dedup: simhash
# ---------------------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    aug = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    out = D.simhash_pairs(aug, max_hamming=3, bits=SIMBITS, chunks=CHUNKS)
    return out.select("doc1", "doc2",
                      F.col("hamming").cast("bigint").alias("hamming"))


def _simhash_sql() -> str:
    w = SIMBITS // CHUNKS
    mask = (1 << w) - 1
    bitsums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN wt ELSE -wt END) AS s_{i}"
        for i in range(SIMBITS))
    sigexpr = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(SIMBITS))
    parts = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {ci} AS chunk,"
        f" (simhash >> {ci * w}) & {mask} AS key FROM sig"
        for ci in range(CHUNKS))
    return f"""WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30
),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
                            x -> x <> '')) AS term
  FROM aug
),
tf AS (SELECT doc_id, term, count(*) AS wt FROM toks GROUP BY doc_id, term),
tfh AS (SELECT doc_id, wt,
               ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
bits AS (SELECT doc_id, {bitsums} FROM tfh GROUP BY doc_id),
sig AS (SELECT doc_id, {sigexpr} AS simhash FROM bits),
parts AS (
{parts}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         a.simhash AS s1, b.simhash AS s2
  FROM parts a JOIN parts b
    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, bit_count(xor(s1, s2))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= 3
"""

# ---------------------------------------------------------------------------
# dedup: embedding cosine
# ---------------------------------------------------------------------------

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _aug_emb(_emb(spark, sf_dir))
    aug = aug.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    # The gate filter must be on the SAME quantity both sides compare:
    # round(cos, 6) >= 0.95 (the oracle's filter). The raw pre-filter is
    # loosened below the rounding boundary (0.9499995) so a pair whose
    # raw cosine rounds up to 0.95 is never dropped Spark-side only.
    out = D.embedding_neardup_pairs(aug, threshold=0.9499990)
    out = out.select("id1", "id2", F.round("cos", 6).alias("cos"))
    return out.filter(F.col("cos") >= 0.95)


_SQL_DEDUP_EMB = f"""WITH {_SQL_EMB_AUG},
d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM aug),
p AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(
           list_sum(list_transform(range(1, 65),
                                   i -> a.v[i] * b.v[i]))::DOUBLE
           / (sqrt(list_sum(list_transform(a.v, x -> x * x))::DOUBLE)
              * sqrt(list_sum(list_transform(b.v, x -> x * x))::DOUBLE)), 6)
         AS cos
  FROM d a JOIN d b ON a.vec_id < b.vec_id
)
SELECT id1, id2, cos FROM p WHERE cos >= 0.95
"""

def q_dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding dedup: pairs blocked by IVF cell
    (similarity.ivf_neardup_pairs) — only same-cell pairs are compared,
    never the all-pairs self-join. The oracle reproduces the blocking
    (join on label), so the gate certifies the blocked formulation."""
    emb = _emb(spark, sf_dir)
    aug = (emb.select("vec_id", "label", "embedding")
           .unionByName(emb.filter(F.col("vec_id") < 20)
                        .select((F.col("vec_id") + 10000).alias("vec_id"),
                                "label", "embedding")))
    aug = aug.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    out = SIM.ivf_neardup_pairs(aug, threshold=0.9499990)
    out = out.select("id1", "id2", F.round("cos", 6).alias("cos"))
    return out.filter(F.col("cos") >= 0.95)


_SQL_DEDUP_EMB_BLOCKED = """
WITH aug AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, label, embedding
  FROM embeddings WHERE vec_id < 20
),
d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM aug),
p AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(
           list_sum(list_transform(range(1, 65),
                                   i -> a.v[i] * b.v[i]))::DOUBLE
           / (sqrt(list_sum(list_transform(a.v, x -> x * x))::DOUBLE)
              * sqrt(list_sum(list_transform(b.v, x -> x * x))::DOUBLE)), 6)
         AS cos
  FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id1, id2, cos FROM p WHERE cos >= 0.95
"""

# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _qvec(spark, sf_dir):
    # GATE-ONLY driver-side fetch: the gate derives its query vector
    # from the corpus for determinism; a production ANN query arrives
    # as a literal — the engine paths (cosine_topk/ivf_query) never
    # collect vectors
    row = (_emb(spark, sf_dir).filter(F.col("vec_id") == 0)
           .select("embedding").first())
    return [float(x) for x in row["embedding"]]


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return SIM.cosine_topk(emb, _qvec(spark, sf_dir), k=10)


_SQL_ANN_BRUTE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vec_id,
         round(
           list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))::DOUBLE
           / (sqrt(list_sum(list_transform(v, x -> x * x))::DOUBLE)
              * sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE)), 6)
         AS cos
  FROM d CROSS JOIN q
)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-IVF through the PERSISTED index: centroids + cell-partitioned
    vectors are built once (build_ivf) and the query reads them back —
    the query plan scans the probed cell partitions only, with no
    posexplode over the embedding table."""
    import tempfile
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    path = tempfile.mkdtemp(prefix="entry_ivf_")
    SIM.build_ivf(emb, path)
    return SIM.ivf_query(spark, path, _qvec(spark, sf_dir), k=10, nprobe=2)


_SQL_ANN_IVF = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT label, i, avg(v[i]) AS m
  FROM d, range(1, 65) t(i) GROUP BY label, i
),
cent AS (
  SELECT label, list(m ORDER BY i) AS c FROM dims GROUP BY label
),
probe AS (
  SELECT label,
         list_sum(list_transform(range(1, 65), i -> c[i] * qv[i]))::DOUBLE
         / (sqrt(list_sum(list_transform(c, x -> x * x))::DOUBLE)
            * sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE)) AS ccos
  FROM cent CROSS JOIN q
  ORDER BY ccos DESC, label ASC LIMIT 2
),
cand AS (SELECT d.* FROM d JOIN probe USING (label)),
s AS (
  SELECT vec_id,
         round(
           list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))::DOUBLE
           / (sqrt(list_sum(list_transform(v, x -> x * x))::DOUBLE)
              * sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE)), 6)
         AS cos
  FROM cand CROSS JOIN q
)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
"""

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        TS.lang_id(F.col("text")).alias("lang_guess"),
        TS.quality_score(F.col("text")).alias("quality"),
        TS.token_count_ws(F.col("text")).alias("n_ws"),
        TS.token_count_bpe_ish(F.col("text")).alias("n_bpe"),
        TS.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def _text_metrics_sql() -> str:
    en = ", ".join(f"'{w}'" for w in TS.EN_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
                     x -> x <> '') AS toks,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws,
         CASE WHEN length(text) > 0
              THEN (length(text)
                    - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')))::DOUBLE
                   / length(text)
              ELSE 0.0 END AS cyr,
         CASE WHEN length(text) > 0
              THEN (length(text)
                    - length(regexp_replace(text, '[\\p{{L}}]', '', 'g')))::DOUBLE
                   / length(text)
              ELSE 0.0 END AS alpha
  FROM documents
),
m AS (
  SELECT doc_id, text, toks, n_ws, cyr, alpha,
         len(list_filter(toks, x -> x IN ({en}))) AS en_hits,
         CASE WHEN n_ws > 0
              THEN length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / n_ws
              ELSE 0.0 END AS mean_wl
  FROM base
)
SELECT doc_id,
       CASE WHEN cyr > 0.3 THEN 'ru'
            WHEN en_hits >= 2 THEN 'en'
            WHEN cyr > 0.05 THEN 'mixed'
            ELSE 'unknown' END AS lang_guess,
       round(0.4 * least(1.0, n_ws / 100.0) + 0.4 * alpha
             + 0.2 * (CASE WHEN mean_wl >= 3 AND mean_wl <= 12
                           THEN 1.0 ELSE 0.0 END), 6) AS quality,
       n_ws::BIGINT AS n_ws,
       len(regexp_extract_all(text,
           '(\\p{{L}}+|\\p{{Nd}}+|[^\\p{{L}}\\p{{Nd}}\\s])'))::BIGINT AS n_bpe,
       CASE WHEN len(toks) = 0 THEN 0
            ELSE list_sum(list_transform(range(1, len(toks) + 1),
                 i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT * i))
       END::BIGINT AS fingerprint
FROM m
"""


# ---------------------------------------------------------------------------
# multimodal: binary media columns through the real decode/sample
# operators (sources/multimodal.py), over bytes derived deterministically
# from the documents table so the DuckDB oracle reproduces every byte
# ---------------------------------------------------------------------------

def _media_from_docs(docs: DataFrame) -> DataFrame:
    """Media table derived from the corpus: header = b'FIMG' +
    u16le(width) + u16le(height) with width = doc_id % 496 + 16,
    height = (doc_id·7) % 496 + 16; payload = the utf-8 text bytes.
    (fake_media_df's RNG payloads can't be mirrored in SQL — this
    builder exists so the multimodal operators get an ORACLE-checkable
    input; the operators under test are unchanged.)"""
    import pandas as pd

    from .sources.multimodal import MEDIA_SCHEMA

    def gen(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                w = did % 496 + 16
                h = (did * 7) % 496 + 16
                data = (b"FIMG" + w.to_bytes(2, "little")
                        + h.to_bytes(2, "little")
                        + (text or "").encode("utf-8"))
                rows.append({"media_id": did, "kind": "image",
                             "data": data, "mime": "image/fake",
                             "source_url": f"https://img.test/{did}"})
            yield pd.DataFrame(rows)
    return docs.select("doc_id", "text").mapInPandas(gen, MEDIA_SCHEMA)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary → typed metadata through decode_image_meta's Arrow
    kernel (header parse + byte stats); every output field is
    recomputed independently by the oracle from the same doc bytes."""
    from .sources import multimodal as MM
    meta = MM.decode_image_meta(_media_from_docs(_docs(spark, sf_dir)))
    return meta.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "mode",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("sha").cast("bigint").alias("sha"))


# sha = u64le(first 8 header bytes) mod the prime 2^31−1; the first 8
# bytes are 'FIMG' + u16le(w) + u16le(h) → 1196247366 + w·2^32 + h·2^48
_SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       (doc_id % 496 + 16)::BIGINT AS width,
       ((doc_id * 7) % 496 + 16)::BIGINT AS height,
       'RGB' AS mode,
       (8 + octet_length(encode(text)))::BIGINT AS n_bytes,
       ((1196247366 + (doc_id % 496 + 16) * 4294967296
         + ((doc_id * 7) % 496 + 16) * 281474976710656)
        % 2147483647)::BIGINT AS sha
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling (sample_frames): one media row →
    ≤ max_frames (frame_idx, byte-range) rows."""
    from .sources import multimodal as MM
    fr = MM.sample_frames(_media_from_docs(_docs(spark, sf_dir)))
    return fr.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("offset_bytes").cast("bigint").alias("offset_bytes"),
        F.col("n_bytes").cast("bigint").alias("n_bytes"))


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end in this container: closed-form
    pixels (value(x,y,c) = (doc_id + 17y + 7x + 11c) mod 256, w =
    doc_id%24+8, h = (doc_id·7)%24+8, RGB) are encoded into genuine
    PNG bytes (sources/png.py: zlib deflate + per-row filters cycling
    through all five types + multi-chunk IDAT), then decode_image_meta
    routes them through the vendored decoder — actual inflate +
    unfilter. The oracle recomputes width/height/sha from the FORMULA
    alone (it never sees the PNG bytes), so any decode defect — wrong
    filter reversal, bad chunk reassembly, off-by-one stride — flips
    the pixel-sum hash. n_bytes is excluded: the compressed size is
    zlib-version-dependent, not SQL-derivable."""
    import numpy as np
    import pandas as pd

    from .sources import multimodal as MM
    from .sources.multimodal import MEDIA_SCHEMA
    from .sources.png import encode_png

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 24 + 8, (did * 7) % 24 + 8
                ys, xs, cs = np.indices((h, w, 3))
                px = ((did + 17 * ys + 7 * xs + 11 * cs) % 256
                      ).astype(np.uint8).tobytes()
                rows.append({"media_id": did, "kind": "image",
                             "data": encode_png(w, h, px),
                             "mime": "image/png",
                             "source_url": f"https://img.test/{did}.png"})
            yield pd.DataFrame(rows)

    media = (_docs(spark, sf_dir).select("doc_id")
             .mapInPandas(gen, MEDIA_SCHEMA))
    meta = MM.decode_image_meta(media)
    return meta.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "mode",
        F.col("sha").cast("bigint").alias("sha"))


# sha = (Σ over decoded samples) mod 2^31−1, recomputed from the pixel
# formula: sample i (c fastest) has y = (i//3)//w, x = (i//3)%w, c = i%3
_SQL_MULTIMODAL_PNG = """
WITH m AS (
  SELECT doc_id AS media_id,
         doc_id % 24 + 8 AS w,
         (doc_id * 7) % 24 + 8 AS h
  FROM documents
),
px AS (
  SELECT media_id, w, h,
         unnest(range(0, w * h * 3)) AS i
  FROM m
)
SELECT media_id,
       any_value(w)::BIGINT AS width,
       any_value(h)::BIGINT AS height,
       'RGB' AS mode,
       (sum((media_id + 17 * ((i // 3) // w) + 7 * ((i // 3) % w)
             + 11 * (i % 3)) % 256) % 2147483647)::BIGINT AS sha
FROM px
GROUP BY media_id
"""


_SQL_MULTIMODAL_FRAMES = """
WITH m AS (
  SELECT doc_id AS media_id,
         8 + octet_length(encode(text)) AS total
  FROM documents
),
f AS (
  SELECT media_id, total,
         unnest(range(0, least(8, greatest(1, total // 256)))) AS fi
  FROM m
)
SELECT media_id,
       fi::BIGINT AS frame_idx,
       (fi * 256)::BIGINT AS offset_bytes,
       least(256, total - fi * 256)::BIGINT AS n_bytes
FROM f
"""


# ---------------------------------------------------------------------------
# physical index path: build → encode → write → read → decode → score,
# checked against the same SQL oracles as the logical path
# ---------------------------------------------------------------------------

_STORE_CACHE: dict = {}


def _build_store(spark: SparkSession, sf_dir: str, private: bool = False):
    """Physical test store over the sf documents corpus. Read-only gate
    queries SHARE one store per (session, sf_dir) — the build is
    deterministic, so sharing changes nothing semantically and cuts
    the parity/driver gate wall by one build per query. Queries that
    MUTATE their store (reindex/delete) pass private=True."""
    import tempfile

    from .operators.index_store import IndexStore
    from .sources.pages import prepare_pages
    # applicationId, not id(spark): a freed session object's id() can
    # be reused by a NEW session in the same process, which would hand
    # back a store whose cached DataFrames belong to the dead session
    key = (spark.sparkContext.applicationId, sf_dir)
    if not private and key in _STORE_CACHE:
        return _STORE_CACHE[key]
    docs = _docs(spark, sf_dir)
    raw = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".test/doc/"),
                 F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"), F.col("lang"))
    st = IndexStore(tempfile.mkdtemp(prefix="entry_idx_"), n_buckets=8,
                    salt_threshold=200)  # low threshold → salting exercised
    st.build(spark, prepare_pages(raw).persist(), checkpoint_groups=1)
    if not private:
        _STORE_CACHE[key] = (st, docs)
    return st, docs


def q_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full physical pipeline: salted block build + delta/varint codec,
    decoded back to flat postings. Oracle: identical SQL to
    postings_flat — any encode/decode/salt bug breaks the hash.
    doc_id is recovered from the engine's xxhash64 ids via the docs
    dimension (broadcast join)."""
    from .operators.wand import decoded_postings
    st, docs = _build_store(spark, sf_dir)
    dec = decoded_postings(st.blocks(spark)).drop("gen")
    url_doc = st.docs(spark).select(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long").alias("orig_id"))
    return (dec.join(F.broadcast(url_doc), "doc_id")
            .select(F.col("orig_id").alias("doc_id"), "term", "tf"))


def q_search_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-compat scoring THROUGH the physical index + block-max
    WAND pruning; oracle: the same TF-IDF SQL as search_tfidf_topk."""
    from .operators.wand import wand_topk
    st, docs = _build_store(spark, sf_dir)
    # GATE-ONLY over-fetch (k = corpus size, via a count() the gate
    # affords at sf0.01): lets the final tie-break use the ORIGINAL
    # doc_id (the engine's xxhash64 ids order ties differently);
    # production callers pass a small k
    top = wand_topk(spark, st, QUERY_TERMS_W, int(docs.count()))
    url_doc = st.docs(spark).select(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long").alias("orig_id"))
    out = (top.join(F.broadcast(url_doc), "doc_id")
           .select(F.col("orig_id").alias("doc_id"),
                   F.round("score", 4).alias("score")))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOPK_W)


def q_search_site_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9/J2 over the PHYSICAL index: site-filtered top-k answered from
    the built posting blocks joined to the (doc_id, host) docs
    projection, with df/N recomputed within the site (wand.site_topk) —
    NO per-site index rebuild. Oracle: the same within-site TF-IDF SQL
    as the logical search_tfidf_site query."""
    from .operators.wand import site_topk
    st, docs = _build_store(spark, sf_dir)
    # over-fetch the full candidate set so the final tie-break can use
    # the ORIGINAL doc_id (engine ids are xxhash64 of the url)
    # GATE-ONLY over-fetch: k = corpus size via count() (see q_ann note)
    top = site_topk(spark, st, QUERY_TERMS_W, int(docs.count()), "src3.test")
    url_doc = st.docs(spark).select(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long").alias("orig_id"))
    out = (top.join(F.broadcast(url_doc), "doc_id")
           .select(F.col("orig_id").alias("doc_id"),
                   F.round("score", 4).alias("score")))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOPK_W)


def q_search_after_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 through the DRIVER GATE (round-2 VERDICT #6): build the
    physical index, reindex_page doc 5 with CHANGED text (appended
    ' merge merge spark'), delete_page doc 7, then run the pruned
    search over the mutated store — tombstones, generational appends
    and exact dictionary deltas all on the scored path. Oracle: the
    same TF-IDF SQL recomputed from scratch over the POST-EDIT corpus
    (doc 5 text replaced, doc 7 absent) — any drift in df/cf/N/avgdl
    maintenance or tombstone filtering breaks the hash."""
    import datetime as dt

    from .operators.incremental import delete_page, reindex_page
    from .operators.wand import wand_topk
    st, docs = _build_store(spark, sf_dir, private=True)  # mutates
    # GATE-ONLY setup reads: fetch two rows to fabricate the reindex/
    # delete payloads — not an engine pattern (incremental callers
    # bring their own page dicts)
    r5 = (docs.filter(F.col("doc_id") == 5)
          .select("source", "text", "lang").first())
    r7 = docs.filter(F.col("doc_id") == 7).select("source").first()
    reindex_page(spark, st, {
        "url": f"https://{r5['source']}.test/doc/5",
        "warc_ts": dt.datetime(2025, 1, 1), "html": None,
        "text": r5["text"] + " merge merge spark", "lang": r5["lang"]})
    delete_page(spark, st, f"https://{r7['source']}.test/doc/7")
    # GATE-ONLY over-fetch: k = corpus size via count() (see q_ann note)
    top = wand_topk(spark, st, QUERY_TERMS_W, int(docs.count()))
    url_doc = st.docs(spark).select(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long").alias("orig_id"))
    out = (top.join(F.broadcast(url_doc), "doc_id")
           .select(F.col("orig_id").alias("doc_id"),
                   F.round("score", 4).alias("score")))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOPK_W)


def q_search_after_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming ingest through the driver gate (the
    stream ≡ batch claim, previously pytest-only): the even-doc_id half
    of the corpus is batch-built, the odd half arrives as a file-source
    stream folded in by foreachBatch(reindex_batch) micro-batches
    (streaming/ingest.py:37 — maxFilesPerTrigger=4 over 8 files → ≥2
    generational append batches), then the standard pruned TF-IDF
    search runs over the resulting store. Oracle: the SAME full-corpus
    SQL as search_wand_topk — any divergence between streamed and
    batch-built state (postings, df/cf, N) breaks the hash."""
    import tempfile

    from .operators.index_store import IndexStore
    from .operators.wand import wand_topk
    from .sources.pages import prepare_pages
    from .streaming.ingest import stream_pages
    docs = _docs(spark, sf_dir)
    raw = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".test/doc/"),
                 F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id").alias("orig_id"))
    st = IndexStore(tempfile.mkdtemp(prefix="entry_sidx_"), n_buckets=8,
                    salt_threshold=200)
    st.build(spark,
             prepare_pages(raw.filter(F.col("orig_id") % 2 == 0)
                           .drop("orig_id")).persist(),
             checkpoint_groups=1)
    sdir = tempfile.mkdtemp(prefix="entry_stream_src_")
    (raw.filter(F.col("orig_id") % 2 == 1).drop("orig_id")
     .repartition(8).write.mode("overwrite").parquet(sdir))
    stream_pages(spark, st, sdir,
                 tempfile.mkdtemp(prefix="entry_stream_ckpt_"))
    # GATE-ONLY over-fetch: k = corpus size via count() (see q_ann note)
    top = wand_topk(spark, st, QUERY_TERMS_W, int(docs.count()))
    url_doc = st.docs(spark).select(
        "doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long").alias("orig_id"))
    out = (top.join(F.broadcast(url_doc), "doc_id")
           .select(F.col("orig_id").alias("doc_id"),
                   F.round("score", 4).alias("score")))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOPK_W)


def q_search_site_match_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The service layer's total-match count within a site (the
    reference returns TOTAL matches for pagination,
    service/SearchServiceImpl.java count semantics) through BOTH
    engine paths — the driver-side serving count (serve_match_count:
    per-term decode-or-point-lookup against the host slice) and the
    distributed block-coverage-pruned plan (wand.site_match_count) —
    returned as one row per path so the gate pins path-equality AND
    the DuckDB oracle in one hash."""
    from .operators.serving import serve_match_count
    from .operators.wand import site_match_count
    st, _docs = _build_store(spark, sf_dir)
    host = "src3.test"
    n_dist = site_match_count(spark, st, QUERY_TERMS_W, host)
    n_serve = serve_match_count(st, QUERY_TERMS_W, host)
    if n_serve is None:  # cap breach → the same fallback the service uses
        n_serve = n_dist
    return spark.createDataFrame(
        [("serving", int(n_serve)), ("distributed", int(n_dist))],
        "path string, n long")


QUERY_TERMS_W = ["spark", "join", "merge"]
TOPK_W = 10

_SQL_TOKS_PLAIN = """
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+')) AS term
  FROM documents
),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
)
"""

_SQL_ROUNDTRIP = f"WITH {_SQL_TOKS_PLAIN} SELECT doc_id, term, tf FROM postings"

_SQL_WAND_SITE = f"""WITH
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^\\p{{L}}]+')) AS term
  FROM documents WHERE source = 'src3'
),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM postings),
qdf AS (
  SELECT term, count(*) AS df FROM postings
  WHERE term IN ('spark', 'join', 'merge') GROUP BY term
),
scores AS (
  SELECT p.doc_id,
         sum(p.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) AS raw
  FROM postings p JOIN qdf d USING (term) CROSS JOIN n
  GROUP BY p.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scores
ORDER BY round(raw, 4) DESC, doc_id ASC
LIMIT {TOPK_W}"""

_SQL_AFTER_REINDEX = f"""WITH
base AS (
  SELECT doc_id,
         CASE WHEN doc_id = 5 THEN text || ' merge merge spark'
              ELSE text END AS text
  FROM documents WHERE doc_id <> 7
),
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^\\p{{L}}]+')) AS term
  FROM base
),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
postings AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM postings),
qdf AS (
  SELECT term, count(*) AS df FROM postings
  WHERE term IN ('spark', 'join', 'merge') GROUP BY term
),
scores AS (
  SELECT p.doc_id,
         sum(p.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) AS raw
  FROM postings p JOIN qdf d USING (term) CROSS JOIN n
  GROUP BY p.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scores
ORDER BY round(raw, 4) DESC, doc_id ASC
LIMIT {TOPK_W}"""

_SQL_SITE_MATCH_COUNT = """WITH
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+')) AS term
  FROM documents WHERE source = 'src3'
),
tok AS (SELECT doc_id, term FROM toks WHERE term <> ''),
cnt AS (
  SELECT count(DISTINCT doc_id) AS n FROM tok
  WHERE term IN ('spark', 'join', 'merge')
)
SELECT 'serving' AS path, n FROM cnt
UNION ALL
SELECT 'distributed' AS path, n FROM cnt"""

_SQL_WAND = f"""WITH {_SQL_TOKS_PLAIN},
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM postings),
qdf AS (
  SELECT term, count(*) AS df FROM postings
  WHERE term IN ('spark', 'join', 'merge') GROUP BY term
),
scores AS (
  SELECT p.doc_id,
         sum(p.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) AS raw
  FROM postings p JOIN qdf d USING (term) CROSS JOIN n
  GROUP BY p.doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scores
ORDER BY round(raw, 4) DESC, doc_id ASC
LIMIT {TOPK_W}"""


# ---------------------------------------------------------------------------
# training-data pipeline: decontamination, sampling, PII redaction
# (operators/pipeline.py)
# ---------------------------------------------------------------------------

DECONTAM_MOD = 97       # bench set = documents with doc_id % 97 == 0
SAMPLE_RATE = 0.25      # global keep rate for the sampling gate query
SAMPLE_STRATA = {"ru": 1.0, "zh": 0.0}  # keep all ru, drop all zh
PII_MOD = 7             # docs with doc_id % 7 == 0 get injected PII


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every corpus doc sharing an 8-token
    n-gram with the 'benchmark' set (here: a deterministic slice of the
    corpus itself, doc_id % 97 — so the expected hits are the bench
    docs at contamination 1.0 plus any natural n-gram reuse)."""
    from .operators import pipeline as P
    docs = _docs(spark, sf_dir)
    bench = (docs.filter(F.col("doc_id") % DECONTAM_MOD == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    out = P.decontaminate(docs, bench, n=8)
    return out.select("doc_id", "n_hits", "n_ngrams",
                      F.round("contamination", 6).alias("contamination"))


_SQL_DECONTAM = f"""
WITH {_ngram_hash_sql('documents', 8, 'd')},
bench AS (SELECT DISTINCT __h FROM dg WHERE doc_id % {DECONTAM_MOD} = 0),
fl AS (
  SELECT g.doc_id, CASE WHEN b.__h IS NULL THEN 0 ELSE 1 END AS hit
  FROM dg g LEFT JOIN bench b USING (__h)
),
res AS (
  SELECT doc_id, sum(hit)::BIGINT AS n_hits, count(*)::BIGINT AS n_ngrams
  FROM fl GROUP BY doc_id
)
SELECT doc_id, n_hits, n_ngrams,
       round(n_hits::DOUBLE / n_ngrams, 6) AS contamination
FROM res WHERE n_hits > 0
"""


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample (md5-keyed — the kept
    set is a pure function of doc_id, reproducible across engines):
    25% global, 100% of ru, 0% of zh."""
    from .operators import pipeline as P
    return P.sample_by_hash(_docs(spark, sf_dir), SAMPLE_RATE,
                            strata=SAMPLE_STRATA).select("doc_id", "lang")


def _sample_sql() -> str:
    from .operators.pipeline import _SAMPLE_DOMAIN
    t_glob = int(SAMPLE_RATE * _SAMPLE_DOMAIN)
    cases = " ".join(
        f"WHEN '{v}' THEN {min(_SAMPLE_DOMAIN, max(0, int(r * _SAMPLE_DOMAIN)))}"
        for v, r in sorted(SAMPLE_STRATA.items()))
    return f"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      < CASE lang {cases} ELSE {t_glob} END
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over docs with deterministically injected emails/phone
    numbers (doc_id % 7 — the synthetic corpus has no natural PII, so
    the injection is mirrored in the oracle and the redacted TEXT is
    hash-compared, pinning regexp semantics across engines)."""
    from .operators import pipeline as P
    docs = _docs(spark, sf_dir)
    injected = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@example.com or call +1 555 010"),
        (F.col("doc_id") % 90 + 10).cast("string"))
    aug = docs.withColumn(
        "text", F.when(F.col("doc_id") % PII_MOD == 0,
                       injected).otherwise(F.col("text")))
    return P.pii_redact(aug)


def _pii_sql() -> str:
    from .operators.pipeline import EMAIL_RE, PHONE_RE
    return f"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || ' contact user' || doc_id
                   || '@example.com or call +1 555 010'
                   || (doc_id % 90 + 10)
              ELSE text END AS text
  FROM documents
),
e AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
         regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g') AS t2
  FROM p
)
SELECT doc_id,
       regexp_replace(t2, '{PHONE_RE}', '[PHONE]', 'g') AS clean_text,
       n_emails::BIGINT AS n_emails,
       len(regexp_extract_all(t2, '{PHONE_RE}'))::BIGINT AS n_phones
FROM e
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 §A1.1 as
    reproduced by FineWeb/Dolma): per-doc signals + composite pass
    flag, one codegen'd projection."""
    return _docs(spark, sf_dir).select(
        "doc_id", *TS.gopher_quality(F.col("text")))


def _gopher_sql() -> str:
    stops = ", ".join(f"'{w}'" for w in
                      (TS.EN_STOPWORDS + TS.RU_STOPWORDS))
    return f"""
WITH w AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         CASE WHEN len(words) > 0
              THEN (list_sum(list_transform(words, x -> length(x)))::BIGINT)::DOUBLE
                   / len(words) ELSE 0.0 END AS mean_word_len,
         CASE WHEN len(words) > 0
              THEN ((len(regexp_split_to_array(text, '#')) - 1)
                    + (len(regexp_split_to_array(text, '…')) - 1)
                    + (len(regexp_split_to_array(text, '\\.\\.\\.')) - 1))::DOUBLE
                   / len(words) ELSE 0.0 END AS symbol_ratio,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, x -> regexp_matches(x, '\\p{{L}}')))::DOUBLE
                   / len(words) ELSE 0.0 END AS alpha_word_frac,
         len(list_distinct(list_filter(
             list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}]+'),
                         x -> x <> ''),
             t -> t IN ({stops}))))::BIGINT AS stopword_hits
  FROM w
)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       stopword_hits,
       (n_words >= {TS.GOPHER_MIN_WORDS} AND n_words <= {TS.GOPHER_MAX_WORDS}
        AND mean_word_len >= {TS.GOPHER_MIN_MEAN_WL}
        AND mean_word_len <= {TS.GOPHER_MAX_MEAN_WL}
        AND symbol_ratio <= {TS.GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_word_frac >= {TS.GOPHER_MIN_ALPHA_WORD_FRAC}
        AND stopword_hits >= {TS.GOPHER_MIN_STOPWORD_HITS}) AS gopher_pass
FROM m
"""


# ---------------------------------------------------------------------------
# the composed cleaning chain as ONE gate row (VERDICT r6 #3): the six
# stages of operators/pipeline.default_clean_stages chained lazily and
# hash-compared against a DuckDB oracle that composes the six stage
# SQLs — every stage already has its own green row; this row pins the
# COMPOSITION (each stage consuming the previous stage's survivors)
# ---------------------------------------------------------------------------

CHAIN_BENCH_MOD = 997  # default self-derived bench slice (doc 0 at sf0.01)


def q_clean_corpus_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher(structural) → exact dedup → minhash-LSH(0.8) →
    decontaminate(self-bench %997, shuffle/h60 plan) → sample 50% →
    PII redact, composed exactly as clean_corpus runs them (same
    default_clean_stages factory), minus the parquet barriers the gate
    can't express. Stage outputs are persist()ed: three stages
    reference their input more than once and an unpersisted lazy chain
    recomputes the whole upstream per reference.

    Cache hygiene (VERDICT r7 #5): each stage is eagerly count()ed and
    only then is its predecessor unpersisted — the predecessor's last
    consumer has run, so at most two stages are cached at once, and
    ONE cached frame (the returned result) rides through the rest of
    the 36-query gate session instead of six corpus-sized ones."""
    from .operators.pipeline import default_clean_stages
    df = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    prev = None
    for _name, fn in default_clean_stages(gopher_structural_only=True):
        df = fn(df).persist()
        df.count()  # materialize so the predecessor's last consumer ran
        if prev is not None:
            prev.unpersist()
        prev = df
    return df.select("doc_id", "lang", "text", "n_emails", "n_phones")


def _chain_sql() -> str:
    from .functions import textstats as TS
    from .operators.pipeline import EMAIL_RE, PHONE_RE, _SAMPLE_DOMAIN
    mins = ", ".join(
        f"min((h * {2 * i + 1} + {1000003 * i}) % {M}) AS mh_{i}"
        for i in range(NMH))
    r = NMH // BANDS
    bandrows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS key"
        " FROM csig".format(
            b=bi, cols=", ".join(f"mh_{bi * r + j}" for j in range(r)))
        for bi in range(BANDS))
    eqs = " + ".join(f"(x.mh_{i} = y.mh_{i})::INT" for i in range(NMH))
    half = _SAMPLE_DOMAIN // 2  # int(0.5 * 2^60), exact
    tok = ("list_filter(regexp_split_to_array(lower(text),"
           " '[^\\p{L}]+'), x -> x <> '')")
    return f"""
WITH s0 AS (SELECT doc_id, text, lang FROM documents),
gw AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
  FROM s0
),
gm AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         CASE WHEN len(words) > 0
              THEN (list_sum(list_transform(words, x -> length(x)))::BIGINT)::DOUBLE
                   / len(words) ELSE 0.0 END AS mean_word_len,
         CASE WHEN len(words) > 0
              THEN ((len(regexp_split_to_array(text, '#')) - 1)
                    + (len(regexp_split_to_array(text, '…')) - 1)
                    + (len(regexp_split_to_array(text, '\\.\\.\\.')) - 1))::DOUBLE
                   / len(words) ELSE 0.0 END AS symbol_ratio,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, x -> regexp_matches(x, '\\p{{L}}')))::DOUBLE
                   / len(words) ELSE 0.0 END AS alpha_word_frac
  FROM gw
),
s1 AS (
  SELECT s0.* FROM s0 JOIN gm USING (doc_id)
  WHERE gm.n_words >= {TS.GOPHER_MIN_WORDS}
    AND gm.n_words <= {TS.GOPHER_MAX_WORDS}
    AND gm.mean_word_len >= {TS.GOPHER_MIN_MEAN_WL}
    AND gm.mean_word_len <= {TS.GOPHER_MAX_MEAN_WL}
    AND gm.symbol_ratio <= {TS.GOPHER_MAX_SYMBOL_RATIO}
    AND gm.alpha_word_frac >= {TS.GOPHER_MIN_ALPHA_WORD_FRAC}
),
keep AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
s2 AS (SELECT s1.* FROM s1 SEMI JOIN keep USING (doc_id)),
ctoks AS (SELECT doc_id, {tok} AS t FROM s2),
{_minhash_window_sql('ctoks')},
cbase AS (SELECT doc_id, unnest(hs) AS h FROM hsl),
csig AS (SELECT doc_id, {mins} FROM cbase GROUP BY doc_id),
cbandrows AS (
{bandrows}
),
cbandcap AS (
  SELECT b.* FROM cbandrows b
  JOIN (SELECT band, key FROM cbandrows GROUP BY band, key
        HAVING count(*) <= {MAX_LSH_BUCKET}) ok USING (band, key)
),
ccand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM cbandcap a JOIN cbandcap b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
closers AS (
  SELECT DISTINCT c.doc2 AS doc_id
  FROM ccand c
  JOIN csig x ON x.doc_id = c.doc1
  JOIN csig y ON y.doc_id = c.doc2
  WHERE ({eqs}) / {float(NMH)} >= 0.8
),
s3 AS (SELECT s2.* FROM s2 ANTI JOIN closers USING (doc_id)),
{_ngram_hash_sql('s3', 8, 'd')},
bh AS (SELECT DISTINCT __h FROM dg WHERE doc_id % {CHAIN_BENCH_MOD} = 0),
dfl AS (
  SELECT g.doc_id, CASE WHEN b.__h IS NULL THEN 0 ELSE 1 END AS hit
  FROM dg g LEFT JOIN bh b USING (__h)
),
dres AS (
  SELECT doc_id, sum(hit)::BIGINT AS n_hits, count(*)::BIGINT AS n_ngrams
  FROM dfl GROUP BY doc_id
),
contam AS (
  SELECT doc_id FROM dres
  WHERE n_hits > 0 AND n_hits::DOUBLE / n_ngrams >= 0.8
),
s4 AS (SELECT s3.* FROM s3 ANTI JOIN contam USING (doc_id)),
s5 AS (SELECT * FROM s4
       WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT < {half}),
e AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
         regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g') AS t2
  FROM s5
)
SELECT doc_id, lang,
       regexp_replace(t2, '{PHONE_RE}', '[PHONE]', 'g') AS text,
       n_emails::BIGINT AS n_emails,
       len(regexp_extract_all(t2, '{PHONE_RE}'))::BIGINT AS n_phones
FROM e
"""


SESSION_GAP_MIN = 240


@contextmanager
def _utc_analysis(spark: SparkSession):
    """Pin spark.sql.session.timeZone=UTC for the duration of the
    with-block, restoring the previous value (or unsetting) on exit.
    Timezone-aware expressions (date_format, timestamp casts, window)
    get their timeZoneId STAMPED at analysis time — which PySpark runs
    eagerly at DataFrame construction — so building the plan inside
    this block bakes UTC semantics in while later queries in the same
    session see their own timezone again (ADVICE r5: the old
    set-and-never-restore made timestamp-sensitive gate results
    ordering-dependent). Pinned by
    tests/test_streaming::test_gate_queries_restore_session_timezone,
    which also re-verifies the analysis-time-baking assumption."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "UTC")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization of the events table (window
    functions end to end — lag/running-sum/rollup on one user_id
    shuffle). The streaming twin (applyInPandasWithState) is pinned
    stream ≡ batch in tests/test_streaming."""
    from .operators.pipeline import sessionize
    with _utc_analysis(spark):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return sessionize(ev, gap_minutes=SESSION_GAP_MIN)


def q_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whale-bound-safe sessionizer (per-(user, time-bucket)
    windows + session-level chain merge, operators/pipeline.
    sessionize_salted) on the same events table — result-identical to
    sessionize() by construction, so it shares the SAME SQL oracle:
    the gate pins that the salted two-phase assembly reproduces the
    single-window semantics on real data, not just the pytest
    fixtures. bucket_days=1 forces many bucket boundaries at sf
    scale (the corpus spans weeks), so boundary merging is actually
    exercised."""
    from .operators.pipeline import sessionize_salted
    with _utc_analysis(spark):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return sessionize_salted(ev, gap_minutes=SESSION_GAP_MIN,
                                 bucket_days=1)


_SQL_SESSIONIZE = f"""
WITH lagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts, value,
         (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) + 1)::BIGINT
         AS session_idx
  FROM lagged
)
SELECT user_id, session_idx,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM numbered
GROUP BY user_id, session_idx
"""


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING sessionizer (applyInPandasWithState,
    streaming/sessions.py) against the batch DuckDB oracle — the
    stream ≡ batch claim as a hash-checked gate row, not just a pytest.

    The events table is staged as micro-batch 0 (FileStreamSource
    orders the backlog by file mtime — staggered explicitly), followed
    by two sentinel files for a synthetic user −1: the first drives the
    watermark past every real session's timeout deadline (end + gap),
    the second provides the batch in which those timeouts FIRE, so
    every real session is finalized and emitted. The sentinel user is
    excluded from the result; the oracle is the SAME _SQL_SESSIONIZE
    the batch gate row uses — identical output means the stateful
    kernel (merge, gap-split, timeout flush, counter residue)
    reproduces the window-function semantics event for event."""
    import os
    import tempfile
    import time
    import uuid

    from .streaming.sessions import sessionize_stream

    with _utc_analysis(spark):  # NTZ parquet read as LTZ: epochs must
        # be wall-clock (sessions.py reads them as such), and streams
        # EXECUTE inside this block (awaitTermination below)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        # GATE-ONLY scalar collect: the staged-backlog harness needs
        # the corpus max event time to place its two watermark
        # sentinels; a real stream has no such lookahead (watermarks
        # advance from live data)
        max_ts = ev.agg(F.max(F.col("ts").cast("timestamp")
                              .cast("long"))).collect()[0][0]
        gap_s, wm_s = SESSION_GAP_MIN * 60, 600
        work = tempfile.mkdtemp(prefix="sess_stream_gate_")
        src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")

        def _stage(df, mtime):
            before = (set(os.listdir(src)) if os.path.isdir(src)
                      else set())
            df.coalesce(1).write.mode("append").parquet(src)
            for fn in set(os.listdir(src)) - before:
                os.utime(os.path.join(src, fn), (mtime, mtime))

        now = time.time()
        _stage(ev, now - 7200)
        s1 = max_ts + gap_s + wm_s + 3600
        for i, ep in enumerate((s1, s1 + 3600)):
            sent = spark.createDataFrame(
                [(-(i + 1), ep, -1, "zz", 0.0, "{}")],
                "event_id long, ts long, user_id long, "
                "event_type string, value double, props string"
            ).withColumn("ts", F.timestamp_seconds("ts"))
            _stage(sent.select("event_id", "ts", "user_id",
                               "event_type", "value", "props"),
                   now - 3600 + i * 1800)

        name = f"sess_gate_{uuid.uuid4().hex[:8]}"
        sessionize_stream(spark, src, ckpt,
                          gap_minutes=SESSION_GAP_MIN,
                          watermark=f"{wm_s // 60} minutes",
                          query_name=name)
        return (spark.table(name)
                .where(F.col("user_id") >= 0)
                .select("user_id", "session_idx", "n_events",
                        F.round("total_value", 4).alias("total_value"),
                        "session_start", "session_end"))


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (streaming/windows.py —
    the SAME expression the watermarked stream runs; stream ≡ batch and
    late-data drop are pinned in tests/test_streaming)."""
    from .streaming.windows import windowed_event_stats
    with _utc_analysis(spark):  # window + day alignment must match the
        # oracle's date_trunc regardless of the session timezone
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return windowed_event_stats(ev)


_SQL_EVENTS_WINDOW = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


QUERIES = {
    "index_block_roundtrip": q_index_roundtrip,
    "search_wand_topk": q_search_wand_topk,
    "search_tfidf_site_physical": q_search_site_physical,
    "search_site_match_count": q_search_site_match_count,
    "search_after_reindex": q_search_after_reindex,
    "search_after_stream": q_search_after_stream,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_png": q_multimodal_png,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding,
    "dedup_embedding_blocked": q_dedup_embedding_blocked,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "text_metrics": q_text_metrics,
    "decontaminate": q_decontaminate,
    "clean_corpus_chain": q_clean_corpus_chain,
    "sample_hash": q_sample_hash,
    "pii_redact": q_pii_redact,
    "events_window": q_events_window,
    "sessionize": q_sessionize,
    "sessionize_salted": q_sessionize_salted,
    "sessionize_stream": q_sessionize_stream,
    "gopher_quality": q_gopher_quality,
}

ORACLES = {
    "index_block_roundtrip": _SQL_ROUNDTRIP,
    "search_wand_topk": _SQL_WAND,
    "search_tfidf_site_physical": _SQL_WAND_SITE,
    "search_site_match_count": _SQL_SITE_MATCH_COUNT,
    "search_after_reindex": _SQL_AFTER_REINDEX,
    "search_after_stream": _SQL_WAND,
    "multimodal_meta": _SQL_MULTIMODAL_META,
    "multimodal_frames": _SQL_MULTIMODAL_FRAMES,
    "multimodal_png": _SQL_MULTIMODAL_PNG,
    "dedup_exact": _SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": _SQL_DEDUP_NGRAM,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_embedding_cosine": _SQL_DEDUP_EMB,
    "dedup_embedding_blocked": _SQL_DEDUP_EMB_BLOCKED,
    "ann_cosine_topk": _SQL_ANN_BRUTE,
    "ann_ivf_topk": _SQL_ANN_IVF,
    "text_metrics": _text_metrics_sql(),
    "decontaminate": _SQL_DECONTAM,
    "clean_corpus_chain": _chain_sql(),
    "sample_hash": _sample_sql(),
    "pii_redact": _pii_sql(),
    "events_window": _SQL_EVENTS_WINDOW,
    "sessionize": _SQL_SESSIONIZE,
    "sessionize_salted": _SQL_SESSIONIZE,
    # the stream gate compares against the SAME batch oracle — that IS
    # the stream ≡ batch claim
    "sessionize_stream": _SQL_SESSIONIZE,
    "gopher_quality": _gopher_sql(),
}
