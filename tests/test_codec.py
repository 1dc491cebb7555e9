"""Codec round-trip + property tests (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ckanext_extractor_spark.operators.codec import (
    GenDocs,
    decode_posting_list,
    encode_posting_list,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf = varbyte_encode(arr)
    out, off = varbyte_decode(buf, 0, len(values))
    assert off == len(buf)
    assert np.array_equal(out, arr)


def test_varbyte_known_bytes():
    # 0 -> 0x00; 127 -> 0x7f; 128 -> 0x80 0x01 (LEB128 little-endian)
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varbyte_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),  # doc_id (xxhash64-like)
            st.integers(min_value=1, max_value=500),  # tf
            st.integers(min_value=1, max_value=10_000),  # doc_len
        ),
        min_size=1,
        max_size=400,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=100, deadline=None)
def test_posting_list_roundtrip(rows):
    rng = np.random.RandomState(7)
    doc_ids = np.array([r[0] for r in rows], dtype=np.int64)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    doc_lens = np.array([r[2] for r in rows], dtype=np.int64)
    positions = [np.cumsum(rng.randint(1, 50, size=tf)) for tf in tfs]
    docs = GenDocs.of(doc_ids, doc_lens)
    enc = encode_posting_list(doc_ids, tfs, positions, docs, avgdl=100.0)
    got_ids, got_tfs, got_dls, got_pos = decode_posting_list(
        enc["blob"], docs, with_positions=True
    )
    order = np.argsort(doc_ids, kind="stable")
    assert np.array_equal(got_ids, doc_ids[order])
    assert np.array_equal(got_tfs, tfs[order])
    assert np.array_equal(got_dls, doc_lens[order])
    for i, oi in enumerate(order):
        assert np.array_equal(got_pos[i], positions[oi])


def test_encoding_is_order_independent():
    """Segment bytes must not depend on input (shuffle) order."""
    rng = np.random.RandomState(0)
    doc_ids = rng.permutation(1000).astype(np.int64) * 7 - 3500
    tfs = rng.randint(1, 50, size=1000).astype(np.int64)
    doc_lens = rng.randint(10, 500, size=1000).astype(np.int64)
    perm = rng.permutation(1000)
    docs = GenDocs.of(doc_ids, doc_lens)
    e1 = encode_posting_list(doc_ids, tfs, None, docs, avgdl=50.0)
    e2 = encode_posting_list(doc_ids[perm], tfs[perm], None, docs, avgdl=50.0)
    assert e1["blob"] == e2["blob"]
    assert np.array_equal(e1["block_last_doc"], e2["block_last_doc"])
    assert np.allclose(e1["block_max_tfn"], e2["block_max_tfn"])


def test_block_max_bounds_scores():
    rng = np.random.RandomState(3)
    n = 1000
    doc_ids = np.cumsum(rng.randint(1, 10**6, size=n)).astype(np.int64)
    tfs = rng.randint(1, 100, size=n).astype(np.int64)
    doc_lens = rng.randint(5, 2000, size=n).astype(np.int64)
    k1, b, avgdl = 1.2, 0.75, 321.5
    docs = GenDocs.of(doc_ids, doc_lens)
    enc = encode_posting_list(doc_ids, tfs, None, docs, avgdl, k1=k1, b=b)
    tfn = tfs / (tfs + k1 * (1 - b + b * doc_lens / avgdl))
    from ckanext_extractor_spark.operators.codec import BLOCK_SIZE

    assert len(enc["block_last_doc"]) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    for bi, (last, mx) in enumerate(zip(enc["block_last_doc"], enc["block_max_tfn"])):
        sl = slice(bi * BLOCK_SIZE, (bi + 1) * BLOCK_SIZE)
        # block_last_doc holds the block's last doc ORDINAL
        assert docs.doc_ids[last] == doc_ids[sl][-1]
        assert tfn[sl].max() <= mx + 1e-15


def test_grouped_encoder_matches_single():
    """encode_posting_lists_grouped must produce byte-identical blobs and
    block metadata to per-term encode_posting_list (the format contract),
    with lists of more than one block only carrying block arrays."""
    from ckanext_extractor_spark.operators.codec import (
        encode_posting_lists_grouped,
        varbyte_encode,
    )

    rng = np.random.RandomState(11)
    n_terms, avgdl = 50, 77.0
    all_ids = np.sort(rng.choice(10**6, size=5000, replace=False)) - 500_000
    docs = GenDocs.of(all_ids, rng.randint(5, 500, size=all_ids.size))
    rows_ords, rows_tf, rows_pos, gs, ge = [], [], [], [], []
    cursor = 0
    singles = []
    for t in range(n_terms):
        df = rng.randint(1, 300)
        ids = np.sort(rng.choice(all_ids, size=df, replace=False))
        tfs = rng.randint(1, 9, size=df).astype(np.int64)
        positions = [np.cumsum(rng.randint(1, 30, size=tf)) for tf in tfs]
        pos_blobs = []
        for p in positions:
            d = np.empty_like(p)
            d[0] = p[0]
            d[1:] = np.diff(p)
            pos_blobs.append(varbyte_encode(d.astype(np.uint64)))
        singles.append(
            encode_posting_list(ids, tfs, None, docs, avgdl, positions_blobs=pos_blobs)
        )
        rows_ords.append(docs.ordinals(ids))
        rows_tf.append(tfs)
        rows_pos.extend(pos_blobs)
        gs.append(cursor)
        ge.append(cursor + df)
        cursor += df
    ords = np.concatenate(rows_ords)
    blobs, ns, blk_cum, last, max_tfn, offs = encode_posting_lists_grouped(
        ords,
        np.concatenate(rows_tf),
        docs.doc_lens[ords],
        np.array(rows_pos, dtype=object),
        np.array(gs),
        np.array(ge),
        avgdl,
    )
    for t in range(n_terms):
        assert blobs[t] == singles[t]["blob"], f"term {t} blob mismatch"
        assert ns[t] == singles[t]["n_postings"]
        b0, b1 = blk_cum[t], blk_cum[t + 1]
        assert (b1 > b0) == (ns[t] > 128)
        assert last[b0:b1].tolist() == singles[t]["block_last_doc"].tolist()
        assert np.allclose(max_tfn[b0:b1], singles[t]["block_max_tfn"])
        assert offs[2 * b0:2 * b1].tolist() == singles[t]["block_offs"].tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.integers(min_value=1, max_value=50),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_selective_decode_matches_full(rows, rnd):
    """decode_posting_list_selective (the phrase-verify prune, VERDICT
    r4 #8) returns byte-identical position arrays to the full decode,
    for any candidate subset — including absent ids and the empty set."""
    from ckanext_extractor_spark.operators.codec import (
        decode_posting_list_selective,
    )

    rng = np.random.RandomState(11)
    doc_ids = np.array([r[0] for r in rows], dtype=np.int64)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    doc_lens = np.array([r[2] for r in rows], dtype=np.int64)
    positions = [np.cumsum(rng.randint(1, 50, size=tf)) for tf in tfs]
    docs = GenDocs.of(doc_ids, doc_lens)
    enc = encode_posting_list(doc_ids, tfs, positions, docs, avgdl=80.0)
    f_ids, f_tfs, f_dls, f_pos = decode_posting_list(
        enc["blob"], docs, with_positions=True
    )
    full = {int(d): p for d, p in zip(f_ids, f_pos)}
    subset = [int(d) for d in doc_ids if rnd.random() < 0.4]
    subset += [999_999_999_999]  # an id the list does not contain
    wanted = np.unique(np.array(subset, dtype=np.int64))
    s_ids, s_tfs, s_dls, posmap = decode_posting_list_selective(
        enc["blob"], docs, wanted
    )
    assert np.array_equal(s_ids, f_ids)
    assert np.array_equal(s_tfs, f_tfs)
    assert np.array_equal(s_dls, f_dls)
    want_keys = {int(d) for d in doc_ids} & {int(x) for x in wanted}
    assert set(posmap) == want_keys
    for d in want_keys:
        assert np.array_equal(posmap[d], full[d])
    # empty selection
    _, _, _, empty = decode_posting_list_selective(
        enc["blob"], docs, np.array([], dtype=np.int64)
    )
    assert empty == {}


def test_block_decode_matches_full_decode():
    """decode_posting_blocks restarts each run's ordinal chain from the
    previous block's last ordinal and resolves it through the
    generation's doc set; a list of at most one block has no blocks."""
    from ckanext_extractor_spark.operators.codec import (
        BLOCK_SIZE,
        decode_posting_blocks,
    )

    rng = np.random.RandomState(5)
    gen_ids = np.unique(rng.randint(-(2**62), 2**62, size=3000))
    docs = GenDocs.of(gen_ids, rng.randint(1, 900, size=gen_ids.size))
    small = encode_posting_list(gen_ids[:BLOCK_SIZE], np.ones(BLOCK_SIZE),
                                None, docs, avgdl=50.0)
    for key in ("block_last_doc", "block_max_tfn", "block_offs"):
        assert len(small[key]) == 0
    ids = np.sort(rng.choice(gen_ids, size=1000, replace=False))
    tfs = rng.randint(1, 30, size=ids.size)
    enc = encode_posting_list(ids, tfs, None, docs, avgdl=50.0)
    full_ids, full_tfs, full_dls = decode_posting_list(enc["blob"], docs)
    nb = len(enc["block_last_doc"])
    assert nb == 8 and len(enc["block_offs"]) == 2 * nb
    for sel in ([0], [nb - 1], [1, 2, 5], list(range(nb))):
        got = decode_posting_blocks(
            enc["blob"], ids.size, np.array(sel), enc["block_offs"],
            enc["block_last_doc"], docs,
        )
        rows = np.concatenate(
            [np.arange(b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, ids.size))
             for b in sel]
        )
        for g, f in zip(got, (full_ids, full_tfs, full_dls)):
            assert np.array_equal(g, f[rows])
