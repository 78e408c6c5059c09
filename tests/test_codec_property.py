"""Property-based codec tests: varint/delta roundtrip over adversarial
doc_id distributions (hypothesis; no Spark needed)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_skillbox_spark.operators.codec import (
    BLOCK_SIZE, decode_block, encode_postings, varint_decode, varint_encode)

i64 = st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)


@given(st.lists(st.integers(0, 2 ** 64 - 1), min_size=0, max_size=300))
@settings(max_examples=200)
def test_varint_roundtrip(vals):
    arr = np.array(vals, np.uint64)
    assert (varint_decode(varint_encode(arr)) == arr).all()


@given(st.lists(i64, min_size=1, max_size=500, unique=True),
       st.lists(st.integers(1, 10 ** 6), min_size=1, max_size=500))
@settings(max_examples=100)
def test_block_roundtrip(ids, tfs):
    n = min(len(ids), len(tfs))
    doc_ids = np.sort(np.array(ids[:n], np.int64))
    tf = np.array(tfs[:n], np.int64)
    out_ids, out_tfs = [], []
    for b in encode_postings(doc_ids, tf):
        d, t = decode_block(b["docs"], b["tfs"])
        assert b["n"] == len(d) <= BLOCK_SIZE
        assert b["max_tf"] == int(t.max())
        assert b["first_doc"] == int(d[0]) and b["last_doc"] == int(d[-1])
        out_ids.append(d)
        out_tfs.append(t)
    assert (np.concatenate(out_ids) == doc_ids).all()
    assert (np.concatenate(out_tfs) == tf).all()


@given(st.lists(i64, min_size=1, max_size=800, unique=True),
       st.data())
@settings(max_examples=100)
def test_batch_decode_equals_per_block(ids, data):
    """decode_blocks_batch (one vectorized varint pass over the joined
    streams + segmented cumsum) must be bit-identical to per-block
    decode_block — including negative/extreme first-doc zigzag values
    that exercise the modular-wrap correction."""
    from search_engine_skillbox_spark.operators.codec import (
        decode_blocks_batch)
    doc_ids = np.sort(np.array(ids, np.int64))
    n = doc_ids.size
    tf = np.array(data.draw(st.lists(st.integers(1, 10 ** 6),
                                     min_size=n, max_size=n)), np.int64)
    dl = np.array(data.draw(st.lists(st.integers(1, 10 ** 5),
                                     min_size=n, max_size=n)), np.int64)
    blocks = list(encode_postings(doc_ids, tf, dls=dl, avgdl=100.0))
    # batch over a SHUFFLED block order too: serving decodes blocks in
    # (file, row-group, row) order, not necessarily doc order
    for order in (list(range(len(blocks))),
                  data.draw(st.permutations(list(range(len(blocks)))))):
        bs = [blocks[i] for i in order]
        got_d, got_t, got_l = decode_blocks_batch(
            [b["docs"] for b in bs], [b["tfs"] for b in bs],
            [b["dls"] for b in bs], [b["n"] for b in bs])
        exp = [decode_block(b["docs"], b["tfs"], b["dls"]) for b in bs]
        assert (got_d == np.concatenate([e[0] for e in exp])).all()
        assert (got_t == np.concatenate([e[1] for e in exp])).all()
        assert (got_l == np.concatenate([e[2] for e in exp])).all()
        # dls_bufs=None (compat/count fast path): identical ids/tfs,
        # dls comes back None instead of a decoded stream
        nd_d, nd_t, nd_l = decode_blocks_batch(
            [b["docs"] for b in bs], [b["tfs"] for b in bs],
            None, [b["n"] for b in bs])
        assert nd_l is None
        assert (nd_d == got_d).all() and (nd_t == got_t).all()


@given(st.lists(i64, min_size=1, max_size=800, unique=True),
       st.data())
@settings(max_examples=40)
def test_threaded_batch_decode_equals_sequential(ids, data):
    """decode_blocks_batch_threaded (block-chunked thread-pool shards)
    must be bit-identical to the sequential kernel for any thread
    count and chunk boundary, with and without the dl stream. The
    threshold is forced to 0 so tiny hypothesis cases still exercise
    the threaded path."""
    import search_engine_skillbox_spark.operators.codec as codec
    from search_engine_skillbox_spark.operators.codec import (
        decode_blocks_batch, decode_blocks_batch_threaded)
    doc_ids = np.sort(np.array(ids, np.int64))
    n = doc_ids.size
    tf = np.array(data.draw(st.lists(st.integers(1, 10 ** 6),
                                     min_size=n, max_size=n)), np.int64)
    dl = np.array(data.draw(st.lists(st.integers(1, 10 ** 5),
                                     min_size=n, max_size=n)), np.int64)
    bs = list(encode_postings(doc_ids, tf, dls=dl, avgdl=100.0))
    docs_b = [b["docs"] for b in bs]
    tfs_b = [b["tfs"] for b in bs]
    dls_b = [b["dls"] for b in bs]
    ns = [b["n"] for b in bs]
    want = decode_blocks_batch(docs_b, tfs_b, dls_b, ns)
    old = codec.DECODE_THREAD_MIN_POSTINGS
    codec.DECODE_THREAD_MIN_POSTINGS = 0
    try:
        for threads in (1, 2, 3, 8):
            got = decode_blocks_batch_threaded(docs_b, tfs_b, dls_b, ns,
                                               threads=threads)
            assert (got[0] == want[0]).all()
            assert (got[1] == want[1]).all()
            assert (got[2] == want[2]).all()
            nd = decode_blocks_batch_threaded(docs_b, tfs_b, None, ns,
                                              threads=threads)
            assert nd[2] is None and (nd[0] == want[0]).all()
    finally:
        codec.DECODE_THREAD_MIN_POSTINGS = old


def _reference_encode_rows(terms, salts, ids, tfs, dls, avgdl, tier0):
    """The pre-round-8 per-group encoder, kept as the equality oracle
    for the vectorized batch path: stream-group by (term, salt), split
    oversized runs into impact tiers, encode each run with
    encode_postings."""
    rows = []
    order = np.lexsort((ids, salts, terms))
    terms, salts = terms[order], salts[order]
    ids, tfs, dls = ids[order], tfs[order], dls[order]
    bounds = [0] + [i for i in range(1, len(terms))
                    if terms[i] != terms[i - 1]
                    or salts[i] != salts[i - 1]] + [len(terms)]
    for s, e in zip(bounds[:-1], bounds[1:]):
        g_ids, g_tfs, g_dls = ids[s:e], tfs[s:e], dls[s:e]
        if g_ids.size > 2 * tier0:
            o = np.lexsort((g_ids, -g_tfs))
            hot = np.sort(o[:tier0])
            cold = np.sort(o[tier0:])
            segments = ((0, g_ids[hot], g_tfs[hot], g_dls[hot]),
                        (1, g_ids[cold], g_tfs[cold], g_dls[cold]))
        else:
            segments = ((0, g_ids, g_tfs, g_dls),)
        next_id = 0
        for tier, s_ids, s_tfs, s_dls in segments:
            for blk in encode_postings(s_ids, s_tfs, s_dls, avgdl,
                                       start_id=next_id):
                rows.append({"term": terms[s], "salt": int(salts[s]),
                             "tier": tier, **blk})
                next_id = blk["block_id"] + 1
    return rows


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_vectorized_encoder_equals_per_group(data):
    """make_block_encoder's round-8 vectorized batch path must emit
    blocks BIT-identical to the per-group encode_postings reference —
    across group boundaries, Arrow-batch splits (group carry), impact
    tiers (oversized groups) and the no-avgdl (null max_imp) mode."""
    import pandas as pd

    from search_engine_skillbox_spark.operators.index_store import (
        make_block_encoder)

    tier0 = 8  # small tier size so hypothesis-sized runs exercise tiers
    n_groups = data.draw(st.integers(1, 12))
    parts = []
    for g in range(n_groups):
        size = data.draw(st.integers(1, 40))
        ids = np.sort(np.array(
            data.draw(st.lists(i64, min_size=size, max_size=size,
                               unique=True)), np.int64))
        parts.append(pd.DataFrame({
            "term": f"t{g:03d}",
            "salt": data.draw(st.integers(0, 2)),
            "doc_id": ids,
            "tf": np.array(data.draw(st.lists(
                st.integers(1, 1000), min_size=size, max_size=size)),
                np.int64),
            "dl": np.array(data.draw(st.lists(
                st.integers(1, 5000), min_size=size, max_size=size)),
                np.int64)}))
    pdf = (pd.concat(parts, ignore_index=True)
           .sort_values(["term", "salt", "doc_id"], kind="stable")
           .reset_index(drop=True))
    avgdl = data.draw(st.sampled_from([None, 0.0, 321.5]))
    want = _reference_encode_rows(
        pdf["term"].to_numpy(object), pdf["salt"].to_numpy(np.int64),
        pdf["doc_id"].to_numpy(np.int64), pdf["tf"].to_numpy(np.int64),
        pdf["dl"].to_numpy(np.int64), avgdl, tier0)

    # split the sorted frame into arbitrary consecutive Arrow batches
    # (groups may straddle batch boundaries → exercises the carry)
    n = len(pdf)
    n_cuts = data.draw(st.integers(0, 4))
    cuts = sorted(set(data.draw(st.lists(
        st.integers(1, max(1, n - 1)), min_size=n_cuts,
        max_size=n_cuts))))
    batches = [pdf.iloc[a:b].reset_index(drop=True)
               for a, b in zip([0] + cuts, cuts + [n])]
    enc = make_block_encoder(avgdl, tier0=tier0)
    got = pd.concat(list(enc(iter(batches))), ignore_index=True)

    assert len(got) == len(want)
    for i, w in enumerate(want):
        r = got.iloc[i]
        for k in ("term", "salt", "tier", "block_id", "n", "max_tf",
                  "first_doc", "last_doc", "docs", "tfs", "dls"):
            assert r[k] == w[k], (i, k, r[k], w[k])
        if w["max_imp"] is None:
            # a null bound, not NaN: Spark must write SQL NULL
            assert r["max_imp"] is None, i
        else:
            assert float(r["max_imp"]) == w["max_imp"], i


def test_vectorized_encoder_empty_partition():
    from search_engine_skillbox_spark.operators.index_store import (
        make_block_encoder)
    import pandas as pd
    enc = make_block_encoder(100.0)
    out = list(enc(iter([pd.DataFrame(
        {"term": [], "salt": [], "doc_id": [], "tf": [], "dl": []})])))
    assert len(out) == 1 and out[0].empty
    assert list(out[0].columns) == [
        "term", "salt", "tier", "block_id", "n", "max_tf",
        "first_doc", "last_doc", "docs", "tfs", "dls", "max_imp"]
