"""Posting-list codec: delta + varint (PForDelta-style) with per-block
max-score metadata (north_rule: compressed postings + block-max WAND).

The reference stores one MySQL row per (page, lemma) pair
(model/IndexEntity.java:10-26) — no physical posting layout at all.
Here a term's posting list is chunked into blocks of BLOCK_SIZE docs;
each block stores

    doc_ids : varint(delta(sorted doc_ids))   (binary)
    tfs     : varint(tfs)                     (binary)
    n, max_tf, first_doc, last_doc            (metadata for pruning)

All encode/decode is numpy-vectorized (no per-row Python), runs inside
Arrow-batched mapInPandas during the build, and typically compresses
doc_id+tf pairs ~6-10× vs raw int64+int32.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_encode_with_sizes(a: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128 encode an unsigned int64 array, fully vectorized.
    Returns (bytes, per-value byte counts) — the counts let a caller
    slice the stream at value boundaries (batch block encode)."""
    a = np.ascontiguousarray(a, dtype=np.uint64)
    if a.size == 0:
        return b"", np.empty(0, np.int64)
    nb = np.ones(a.size, np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += (v > 0)
        v >>= np.uint64(7)
    out = np.zeros(int(nb.sum()), np.uint8)
    idx = np.zeros(a.size, np.int64)
    idx[1:] = np.cumsum(nb)[:-1]
    cur = a.copy()
    active = np.ones(a.size, bool)
    while active.any():
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        more = (cur >> np.uint64(7)) > 0
        out[idx[active]] = byte[active] | (more[active].astype(np.uint8) << 7)
        cur >>= np.uint64(7)
        idx += 1
        active &= more
    return out.tobytes(), nb


def varint_encode(a: np.ndarray) -> bytes:
    """LEB128 encode an unsigned int64 array, fully vectorized."""
    return varint_encode_with_sizes(a)[0]


def varint_decode(b: bytes | bytearray | memoryview) -> np.ndarray:
    """Inverse of varint_encode → uint64 array, vectorized.

    All-1-byte streams (tf runs are overwhelmingly < 128) skip the
    general path entirely — a plain widen, ~7× on real tf streams.
    The general path is the byte-position masked loop: flat-pass
    alternatives measured SLOWER on real streams (np.add.reduceat pays
    per-segment reduce overhead over 4M 2-6-byte segments: 4.2 s vs
    0.38 s for a 4M-value xxhash-delta stream; a cumsum/boundary-diff
    formulation touches 3× the bytes: 0.50 s) — doc-delta varints
    average ~6 bytes (xxhash64 ids), so the loop runs ~6 gathers over
    a shrinking active set and wins on memory traffic."""
    raw = np.frombuffer(b, np.uint8)
    if raw.size == 0:
        return np.empty(0, np.uint64)
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    n = ends.size
    if n == raw.size:  # every varint is one byte
        return raw.astype(np.uint64)
    starts = np.empty(n, np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(n, np.uint64)
    idx = starts.copy()
    shift = np.uint64(0)
    active = np.ones(n, bool)
    while active.any():
        vals[active] |= (raw[idx[active]]
                         & np.uint64(0x7F)).astype(np.uint64) << shift
        done = idx >= ends
        active &= ~done
        idx += 1
        shift += np.uint64(7)
    return vals


from .score import B_DEFAULT, K1_DEFAULT  # single source for BM25 params


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray,
                    dls: np.ndarray | None = None,
                    avgdl: float | None = None,
                    start_id: int = 0):
    """Split one (term[, salt]) posting run into encoded blocks.

    doc_ids must be sorted ascending (sortWithinPartitions guarantees it).
    doc_ids are signed int64 (xxhash64 output) — zigzag the FIRST value,
    plain deltas after (sorted ⇒ deltas ≥ 0).

    dls: per-posting document length (the doc's dl repeated for each of
    its terms). Carrying dl IN the posting block makes BM25 scoring
    join-free at query time — at 10^12 docs a per-query doclens join
    shuffles a trillion-row table; a ~1-byte varint per posting does not
    (Lucene stores per-doc norms with the index for the same reason).

    avgdl: average doc length at encode time — the basis for the stored
    per-block `max_imp` = max over postings of the BM25 tf-norm
    tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)). max_tf alone cannot prune BM25
    blocks when tf correlates with dl (a hash-ordered block of random
    docs then always contains a near-max tf but its IMPACT varies);
    max_imp is the exact per-block score bound (up to idf), pushable as
    a plain parquet comparison. The basis is recorded store-wide
    (meta min_imp_basis) so drifted avgdl stays a sound bound.

    start_id: first block_id to assign — lets a caller encode one run
    as several consecutive segments (impact tiers) with unique ids.

    Yields dicts: block_id, n, max_tf, first_doc, last_doc, docs, tfs,
    dls, max_imp (dls/max_imp None when dls not provided).
    """
    doc_ids = np.asarray(doc_ids, np.int64)
    tfs = np.asarray(tfs, np.int64)
    for bid, off in enumerate(range(0, doc_ids.size, BLOCK_SIZE),
                              start=start_id):
        d = doc_ids[off:off + BLOCK_SIZE]
        t = tfs[off:off + BLOCK_SIZE]
        deltas = np.empty(d.size, np.uint64)
        # zigzag the base so negative xxhash ids encode compactly
        first = int(d[0])
        deltas[0] = np.uint64((first << 1) ^ (first >> 63)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        deltas[1:] = np.diff(d).astype(np.uint64)
        dls_b = None
        max_imp = None
        if dls is not None:
            dl = np.asarray(dls[off:off + BLOCK_SIZE], np.int64)
            dls_b = varint_encode(dl.astype(np.uint64))
            if avgdl and avgdl > 0:
                tf = t.astype(np.float64)
                norm = (tf * (K1_DEFAULT + 1.0)
                        / (tf + K1_DEFAULT
                           * (1.0 - B_DEFAULT
                              + B_DEFAULT * dl.astype(np.float64) / avgdl)))
                max_imp = float(norm.max())
        yield {
            "block_id": bid,
            "n": int(d.size),
            "max_tf": int(t.max()),
            "first_doc": int(d[0]),
            "last_doc": int(d[-1]),
            "docs": varint_encode(deltas),
            "tfs": varint_encode(t.astype(np.uint64)),
            "dls": dls_b,
            "max_imp": max_imp,
        }


def encode_runs_batch(ids: np.ndarray, tfs: np.ndarray,
                      dls: np.ndarray | None,
                      run_starts: np.ndarray, run_ends: np.ndarray,
                      run_block_base: np.ndarray,
                      avgdl: float | None):
    """Encode MANY posting runs into blocks in THREE vectorized varint
    passes total (one per column) — the encode-side twin of
    decode_blocks_batch. `encode_postings` pays its fixed numpy-call
    cost per 128-posting block (3 varint calls each); at build scale
    (~10^2 blocks per vocabulary term partition, millions of blocks per
    corpus) that fixed cost IS the encode stage. Here every run is laid
    out contiguously in `ids`/`tfs`/`dls` (doc-sorted within each run),
    `run_starts`/`run_ends` delimit runs, and the whole batch shares
    one delta pass, one varint pass per column and one reduceat per
    block statistic; per-block byte strings are O(1) slices of the
    column stream at value boundaries.

    Per-block output is BIT-IDENTICAL to encode_postings over each run
    (pinned by tests/test_codec_property.py): block boundaries every
    BLOCK_SIZE postings within a run, each block's first doc_id
    zigzagged and followed by plain deltas, per-block max_tf /
    first_doc / last_doc / n, and (with dls+avgdl) the exact BM25
    tf-norm bound max_imp.

    run_block_base: first block_id of each run (impact tiers encode a
    term's hot and cold segments as two runs with consecutive ids).

    Precondition: the runs TILE the arrays — run_starts[1:] ==
    run_ends[:-1] and run_ends[-1] == ids.size — because the per-block
    statistics are reduceat segments, each ending where the next block
    starts (a gap would fold foreign postings into a block's max).

    Returns a dict of per-block numpy/object arrays:
    {block_id, n, max_tf, first_doc, last_doc, docs, tfs, dls, max_imp,
    run_idx} — run_idx maps each block back to its run so the caller
    can attach term/salt/tier columns.
    """
    n_rows = int(ids.size)
    run_starts = np.asarray(run_starts, np.int64)
    run_ends = np.asarray(run_ends, np.int64)
    sizes = run_ends - run_starts
    nb_r = -(-sizes // BLOCK_SIZE)  # blocks per run (ceil)
    total_b = int(nb_r.sum())
    if total_b == 0:
        empty_i = np.empty(0, np.int64)
        return {"block_id": empty_i, "n": empty_i, "max_tf": empty_i,
                "first_doc": empty_i, "last_doc": empty_i,
                "docs": [], "tfs": [], "dls": None, "max_imp": None,
                "run_idx": empty_i}
    assert (np.array_equal(run_starts[1:], run_ends[:-1])
            and run_ends[-1] == n_rows), "runs must tile the arrays"
    # expand runs → blocks: j = block index within its run
    run_idx = np.repeat(np.arange(nb_r.size, dtype=np.int64), nb_r)
    excl = np.zeros(nb_r.size, np.int64)
    np.cumsum(nb_r[:-1], out=excl[1:])
    j = np.arange(total_b, dtype=np.int64) - excl[run_idx]
    bstart = run_starts[run_idx] + j * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, run_ends[run_idx])
    n_col = bend - bstart
    block_id = np.asarray(run_block_base, np.int64)[run_idx] + j

    # per-posting delta stream with per-block zigzagged first values.
    # Runs tile the arrays contiguously and every run start is a block
    # start, so cross-run "deltas" are always overwritten below.
    deltas = np.empty(n_rows, np.uint64)
    iu = ids.astype(np.uint64)  # two's-complement bit pattern
    deltas[1:] = iu[1:] - iu[:-1]  # mod-2^64; equals diff where sorted
    firsts = ids[bstart]
    deltas[bstart] = ((firsts.astype(np.uint64) << np.uint64(1))
                      ^ (firsts >> np.int64(63)).astype(np.uint64))

    docs_bytes, docs_nb = varint_encode_with_sizes(deltas)
    tfs_bytes, tfs_nb = varint_encode_with_sizes(tfs.astype(np.uint64))

    def _slices(buf: bytes, nb: np.ndarray) -> list:
        off = np.zeros(n_rows + 1, np.int64)
        np.cumsum(nb, out=off[1:])
        bs = off[bstart]
        be = off[bend]
        return [buf[int(s):int(e)] for s, e in zip(bs, be)]

    out = {"block_id": block_id, "n": n_col,
           "max_tf": np.maximum.reduceat(tfs, bstart),
           "first_doc": firsts, "last_doc": ids[bend - 1],
           "docs": _slices(docs_bytes, docs_nb),
           "tfs": _slices(tfs_bytes, tfs_nb),
           "dls": None, "max_imp": None, "run_idx": run_idx}
    if dls is not None:
        dls_bytes, dls_nb = varint_encode_with_sizes(dls.astype(np.uint64))
        out["dls"] = _slices(dls_bytes, dls_nb)
        if avgdl and avgdl > 0:
            tff = tfs.astype(np.float64)
            norm = (tff * (K1_DEFAULT + 1.0)
                    / (tff + K1_DEFAULT
                       * (1.0 - B_DEFAULT
                          + B_DEFAULT * dls.astype(np.float64) / avgdl)))
            out["max_imp"] = np.maximum.reduceat(norm, bstart)
    return out


def decode_blocks_batch(docs_bufs: list, tfs_bufs: list,
                        dls_bufs: list | None,
                        ns) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY posting blocks in three vectorized varint passes
    (one per column) instead of 3·n_blocks `varint_decode` calls.

    A full-list decode (large-site serving: blocks hold ~BLOCK_SIZE
    postings, so a stopword is tens of thousands of blocks) is
    varint-CALL-bound per-block — the per-call fixed cost dominates the
    byte volume. Concatenating the buffers amortizes it: one pass over
    the joined docs stream, then a segmented cumsum rebuilds absolute
    doc ids (each block's first value is zigzagged; deltas after).

    ns: posting count per block, in buffer order (block metadata `n`).
    Returns CONCATENATED (doc_ids, tfs, dls); equality with per-block
    `decode_block` is pinned by tests/test_codec_property.py.

    dls_bufs=None skips the dl stream entirely (returned dls is None):
    compat-mode scoring and match counts never read document lengths,
    so a large-site full-list decode drops a third of its varint work
    (and its callers a third of the parquet binary reads).
    """
    ns = np.asarray(ns, np.int64)
    total = int(ns.sum())
    docs_all = varint_decode(b"".join(docs_bufs))
    tfs_all = varint_decode(b"".join(tfs_bufs)).astype(np.int64)
    dls_all = (varint_decode(b"".join(dls_bufs)).astype(np.int64)
               if dls_bufs is not None else None)
    if (docs_all.size != total or tfs_all.size != total
            or (dls_all is not None and dls_all.size != total)):
        raise ValueError("block `n` metadata disagrees with varint stream")
    starts = np.zeros(ns.size, np.int64)
    if ns.size > 1:
        np.cumsum(ns[:-1], out=starts[1:])
    # zigzag-decode each block's first value in uint64 (modular), then
    # REINTERPRET the whole stream as int64: deltas are small positive
    # (bit pattern unchanged), firsts land on their two's-complement
    # signed value — same semantics as decode_block's scalar path
    z = docs_all[starts]
    docs_all[starts] = (z >> np.uint64(1)) ^ (~(z & np.uint64(1))
                                              + np.uint64(1))
    d = docs_all.view(np.int64)
    with np.errstate(over="ignore"):  # wraps cancel in the correction
        c = np.cumsum(d)
        corr = np.zeros(ns.size, np.int64)
        corr[1:] = c[starts[1:] - 1]
        doc_ids = c - np.repeat(corr, ns)
    return doc_ids, tfs_all, dls_all


# chunked-threaded decode: numpy RELEASES the GIL inside the large
# element-wise loops that dominate decode_blocks_batch, so plain
# threads scale it nearly linearly (measured on the 4M-posting seko
# list, min-of-5 reps: 1 thread 0.76 s, 2 → 0.36, 4 → 0.21, 8 →
# 0.12 — this box's rep-to-rep variance for the same kernel is ~2×,
# hence min-of-reps). Blocks are independent (each buffer's first
# value is absolute via zigzag), so chunking at block granularity and
# concatenating preserves exact output order.
DECODE_KERNEL_THREADS = 8
# don't spin up threads for small decodes: the pool + concat overhead
# (~1 ms) only pays off when the stream is hundreds of thousands of
# postings
DECODE_THREAD_MIN_POSTINGS = 200_000


def decode_blocks_batch_threaded(docs_bufs: list, tfs_bufs: list,
                                 dls_bufs: list | None, ns,
                                 threads: int = DECODE_KERNEL_THREADS):
    """decode_blocks_batch sharded across `threads` block-chunks —
    bit-identical output (pinned in tests/test_codec_property.py),
    ~6× faster on stopword-scale lists. Falls through to the
    sequential kernel below DECODE_THREAD_MIN_POSTINGS."""
    ns = np.asarray(ns, np.int64)
    nb = ns.size
    if threads <= 1 or nb < 2 * threads \
            or int(ns.sum()) < DECODE_THREAD_MIN_POSTINGS:
        return decode_blocks_batch(docs_bufs, tfs_bufs, dls_bufs, ns)
    from concurrent.futures import ThreadPoolExecutor
    size = -(-nb // threads)

    def _chunk(c):
        return decode_blocks_batch(
            docs_bufs[c:c + size], tfs_bufs[c:c + size],
            dls_bufs[c:c + size] if dls_bufs is not None else None,
            ns[c:c + size])
    with ThreadPoolExecutor(threads) as pool:
        outs = list(pool.map(_chunk, range(0, nb, size)))
    return (np.concatenate([o[0] for o in outs]),
            np.concatenate([o[1] for o in outs]),
            (np.concatenate([o[2] for o in outs])
             if dls_bufs is not None else None))


def decode_block(docs_bytes: bytes, tfs_bytes: bytes,
                 dls_bytes: bytes | None = None):
    """→ (doc_ids int64 sorted, tfs int64) or, with dls_bytes,
    (doc_ids, tfs, dls)."""
    deltas = varint_decode(docs_bytes)
    z = deltas[0]
    with np.errstate(over="ignore"):  # intentional modular two's-complement
        first = np.int64((z >> np.uint64(1)) ^ (~(z & np.uint64(1)) + np.uint64(1)))
    d = deltas.astype(np.int64)
    d[0] = first
    doc_ids = np.cumsum(d)
    tfs = varint_decode(tfs_bytes).astype(np.int64)
    if dls_bytes is None:
        return doc_ids, tfs
    return doc_ids, tfs, varint_decode(dls_bytes).astype(np.int64)
