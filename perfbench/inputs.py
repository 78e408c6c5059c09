"""Seeded inputs for every workload.

The engine only ever sees what these functions generate; the seed
is the benchmark's argument. Pages come from the engine's own
synthetic corpus (sources/corpus.py) with one change: the four
round-robin hosts are rewritten to a heavy tail, host rank =
floor(HOST_RANKS ** u) with u uniform in [0, 1). P(rank = r) is
log(1 + 1/r) / log(HOST_RANKS), so a few hosts hold thousands of
pages and most hold one or two — the shape that makes per-host
state (meta.json dicts, site queries) cost what it costs on a
crawl.
"""

from __future__ import annotations

import random

from search_engine_skillbox_spark.sources import corpus as C

HOST_RANKS = 10_000
# df strata over the generator's Zipf ranks (VOCAB is in rank order;
# its first N_STOPWORDS entries are the stopwords)
HEAVY_TERMS = C.VOCAB[:20]
MID_TERMS = C.VOCAB[100:600]
RARE_TERMS = C.VOCAB[2000:]
BLOCK = 50
SITE_PER_BLOCK = 10


def host_rank(seed: int, doc_id: int) -> int:
    u = random.Random(f"host:{seed}:{doc_id}").random()
    return int(HOST_RANKS ** u)


def host_name(rank: int) -> str:
    return f"site{rank}.test"


def make_page(seed: int, doc_id: int) -> dict:
    """corpus.make_page with the heavy-tail host rewrite."""
    page = C.make_page(seed, doc_id)
    old = C.HOSTS[doc_id % len(C.HOSTS)]
    new = host_name(host_rank(seed, doc_id))
    page["url"] = page["url"].replace(old, new, 1)
    return page


def updated_page(seed: int, doc_id: int) -> dict:
    """A newer version of page doc_id: same url, other body, later
    crawl time."""
    import datetime as dt
    page = make_page(seed, doc_id)
    page["html"] = C.make_page(seed + 7919, doc_id)["html"]
    page["warc_ts"] = page["warc_ts"] + dt.timedelta(days=1)
    return page


def _pages_batches(seed: int):
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = [make_page(seed, int(i)) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["html"] = out["html"].map(bytes)
            yield out
    return gen


def pages_frame(spark, seed: int, start: int, count: int, partitions: int):
    """Pages doc_id in [start, start + count) as a Spark frame in the
    engine's raw input schema."""
    return (spark.range(start, start + count, 1, partitions)
            .mapInPandas(_pages_batches(seed), C.PAGES_SCHEMA))


def indexed_page_count(seed: int, n_pages: int) -> int:
    """Pages that carry at least one letter token, i.e. the n_docs an
    index build over pages [0, n_pages) must report."""
    from search_engine_skillbox_spark.functions.textprep import \
        distinct_query_terms
    return sum(1 for d in range(n_pages)
               if distinct_query_terms(" ".join(C.doc_tokens(seed, d))))


class _Deck:
    """Draws without replacement from a seeded shuffle, reshuffling
    when spent: over a run every term of a stratum comes up about
    equally often, so runs with different seeds ask for similar work."""

    def __init__(self, rng: random.Random, items):
        self.rng, self.items, self.left = rng, list(items), []

    def draw(self):
        if not self.left:
            self.left = self.items[:]
            self.rng.shuffle(self.left)
        return self.left.pop()


def _site_hosts(seed: int, n_pages: int, rng: random.Random) -> list[str]:
    """SITE_PER_BLOCK hosts weighted by page count, one page drawn from
    each page-count decile of the host-rank order: each block queries
    one of the largest sites, one of the smallest and the range
    between."""
    by_rank = sorted(range(n_pages), key=lambda d: host_rank(seed, d))
    cut = [n_pages * k // SITE_PER_BLOCK for k in range(SITE_PER_BLOCK + 1)]
    return [host_name(host_rank(seed, rng.choice(by_rank[a:b])))
            for a, b in zip(cut, cut[1:])]


def search_requests(seed: int, n_pages: int, count: int) -> list[dict]:
    """The `search` traffic mix, in shuffled blocks of BLOCK requests
    with a fixed composition, so every seed asks for the same kinds of
    work: one statistics call (2 %), SITE_PER_BLOCK site searches
    (~20 %, host weighted by page count) and plain searches; 1-3 terms
    from the heavy (stopwords included), mid and rare df strata;
    compat and bm25; offsets 0/10/20. The seed picks the terms, hosts
    and order."""
    rng = random.Random(f"requests:{seed}")
    heavy, mid, rare = (_Deck(rng, t) for t in
                        (HEAVY_TERMS, MID_TERMS, RARE_TERMS))
    strata = (heavy, mid, mid, rare)
    out: list[dict] = []
    while len(out) < count:
        block = [{"kind": "stats"}]
        hosts = _site_hosts(seed, n_pages, rng)
        for j in range(BLOCK - 1):
            words = [strata[(j + w) % 4].draw()
                     for w in range((1, 1, 2, 2, 3)[j % 5])]
            block.append({"kind": "search", "query": " ".join(words),
                          "mode": ("compat", "bm25")[j % 2],
                          "offset": (0, 0, 10, 20)[j % 4],
                          "site": hosts[j] if j < SITE_PER_BLOCK else None})
        rng.shuffle(block)
        out += block
    return out[:count]


def open_loop_schedule(seed: int, rate: float, seconds: float) -> list[float]:
    """Due times (s from phase start) of round(rate * seconds) requests
    from a Poisson process conditioned on that count (sorted uniform
    times): requests go out at these times whether or not earlier ones
    have returned, and every seed sends the same number."""
    rng = random.Random(f"schedule:{seed}:{rate}")
    return sorted(rng.uniform(0.0, seconds)
                  for _ in range(round(rate * seconds)))


def edit_ops(seed: int, n_pages: int, count: int) -> list[dict]:
    """The first `count` ops of the closed-loop sequence of the
    `search` workload's edit phase. Op 0 folds the stream micro-batch,
    whose updates supersede existing pages, so every later search runs
    on a tombstoned store; then searches (two mid-df terms each, so
    runs compare like with like) alternate with single writes on
    distinct pages. The writes cycle update, delete, new page from a
    seed-chosen start, so runs that stop after one write still cover
    every kind across seeds."""
    rng = random.Random(f"edits:{seed}")
    targets = rng.sample(range(2, n_pages), count)

    def search() -> dict:
        return {"kind": "search", "offset": 0, "site": None,
                "query": f"{rng.choice(MID_TERMS)} {rng.choice(MID_TERMS)}",
                "mode": rng.choice(("compat", "bm25"))}

    ops = [{"kind": "stream"}]
    nxt_new = n_pages + 10_000  # clear of the stream batch's ids
    for k in range(count):
        ops.append(search())
        w = ("update", "delete", "new")[(seed + k) % 3]
        if w == "new":
            ops.append({"kind": "new", "doc_id": nxt_new})
            nxt_new += 1
        else:
            ops.append({"kind": w, "doc_id": targets[k]})
    ops.append(search())
    return ops[:count]


def clean_docs_batches(seed: int):
    """Documents for the cleaning chain: corpus bodies with planted
    exact duplicates (every 100th doc repeats doc - 7) and planted
    near-duplicates (every 50th doc is doc - 3 with its last word
    dropped)."""
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf["id"].tolist()
            texts = []
            for d in ids:
                if d % 100 == 7 and d >= 7:
                    words = C.doc_tokens(seed, d - 7)
                elif d % 50 == 3 and d >= 3:
                    words = C.doc_tokens(seed, d - 3)[:-1]
                else:
                    words = C.doc_tokens(seed, d)
                texts.append(" ".join(words))
            yield pd.DataFrame({
                "doc_id": ids, "text": texts,
                "lang": [["ru", "en", "mixed"][d % 3] for d in ids]})
    return gen


def clean_frame(spark, seed: int, count: int, partitions: int):
    return (spark.range(0, count, 1, partitions)
            .mapInPandas(clean_docs_batches(seed),
                         "doc_id long, text string, lang string"))
