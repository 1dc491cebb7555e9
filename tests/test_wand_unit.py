"""Spark-free unit tests for the top-k kernels: boundary ties, pruning
correctness on adversarial score distributions."""

from __future__ import annotations

import numpy as np
import pytest

from ckanext_extractor_spark.operators.codec import BLOCK_SIZE
from ckanext_extractor_spark.operators.wand import (
    TermPostings,
    exact_topk,
    maxscore_topk,
    wand_topk,
)

K1, B = 1.2, 0.75


def make_tp(term, doc_ids, tfs, doc_lens, n_docs, avgdl):
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(doc_ids)
    doc_ids = doc_ids[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    doc_lens = np.asarray(doc_lens, dtype=np.int64)[order]
    df = len(doc_ids)
    idf = float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
    tfn = tfs / (tfs + K1 * (1.0 - B + B * doc_lens / avgdl))
    nb = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
    bl = np.array(
        [doc_ids[min((i + 1) * BLOCK_SIZE, df) - 1] for i in range(nb)],
        dtype=np.int64,
    )
    bm = np.array(
        [tfn[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE].max() for i in range(nb)]
    )
    return TermPostings(term, idf, doc_ids, tfs, doc_lens, bl, bm)


def brute(term_lists, k, avgdl, conjunctive):
    scores: dict[int, float] = {}
    counts: dict[int, int] = {}
    for tp in term_lists:
        for d, tf, dl in zip(tp.doc_ids, tp.tfs, tp.doc_lens):
            s = tp.idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + s
            counts[d] = counts.get(d, 0) + 1
    items = [
        (d, s)
        for d, s in scores.items()
        if not conjunctive or counts[d] == len(term_lists)
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items[:k]


@pytest.mark.parametrize("conjunctive", [True, False])
def test_boundary_ties_resolved_by_doc_id(conjunctive):
    """Many docs with IDENTICAL (tf, dl) -> identical scores; the k-th
    boundary must keep the smallest doc_ids. k=150 is the case of fewer
    candidates than k: every doc comes back, doc_id ascending."""
    n_docs, avgdl = 1000, 50.0
    doc_ids = np.arange(100, 0, -1) * 7  # descending insert order
    tp = make_tp("t", doc_ids, np.ones(100), np.full(100, 50), n_docs, avgdl)
    for k in (10, 150):
        want = brute([tp], k, avgdl, conjunctive)
        assert [d for d, _ in exact_topk([tp], k, avgdl, conjunctive)] == [
            d for d, _ in want
        ]
        assert [d for d, _ in wand_topk([tp], k, avgdl, conjunctive)] == [
            d for d, _ in want
        ]
        assert [d for d, _ in maxscore_topk([tp], k, avgdl, conjunctive)] == [
            d for d, _ in want
        ]


@pytest.mark.parametrize("conjunctive", [True, False])
@pytest.mark.parametrize("seed", range(8))
def test_random_lists_match_bruteforce(seed, conjunctive):
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 5000, 80.0
    tls = []
    for t in range(3):
        df = rng.randint(50, 800)
        ids = rng.choice(5000, size=df, replace=False)
        # quantized tf/dl -> plenty of exact score ties
        tfs = rng.randint(1, 4, size=df)
        dls = rng.choice([40, 80, 120], size=df)
        tls.append(make_tp(f"t{t}", ids, tfs, dls, n_docs, avgdl))
    want = brute(tls, 10, avgdl, conjunctive)
    got_e = exact_topk(tls, 10, avgdl, conjunctive)
    got_w = wand_topk(tls, 10, avgdl, conjunctive)
    got_m = maxscore_topk(tls, 10, avgdl, conjunctive)
    assert [d for d, _ in got_e] == [d for d, _ in want]
    assert [d for d, _ in got_w] == [d for d, _ in want]
    assert [d for d, _ in got_m] == [d for d, _ in want]
    assert np.allclose([s for _, s in got_m], [s for _, s in want], rtol=1e-12)
    assert np.allclose([s for _, s in got_e], [s for _, s in want], rtol=1e-12)
    assert np.allclose([s for _, s in got_w], [s for _, s in want], rtol=1e-12)


@pytest.mark.parametrize("conjunctive", [True, False])
@pytest.mark.parametrize("seed", range(20))
def test_skewed_tf_lists_match_bruteforce(seed, conjunctive):
    """Spiky tf distributions make block-max bounds vary sharply between
    blocks — this is the regime that exercises the skip branch (the r1
    disjunctive bug: skipping past true top-k docs). Heavier fuzz than the
    uniform-tf cases, which never trigger that branch."""
    rng = np.random.RandomState(1000 + seed)
    n_docs, avgdl = 5000, 80.0
    tls = []
    for t in range(rng.randint(2, 5)):
        df = rng.randint(30, 1500)
        ids = rng.choice(5000, size=df, replace=False)
        # zipf-ish tf: mostly 1s, occasional huge spikes
        tfs = np.minimum(rng.zipf(1.3, size=df), 500)
        dls = rng.choice([20, 80, 300], size=df)
        tls.append(make_tp(f"t{t}", ids, tfs, dls, n_docs, avgdl))
    k = rng.choice([1, 5, 10, 50])
    want = brute(tls, k, avgdl, conjunctive)
    got_w = wand_topk(tls, k, avgdl, conjunctive)
    got_e = exact_topk(tls, k, avgdl, conjunctive)
    got_m = maxscore_topk(tls, k, avgdl, conjunctive)
    assert [d for d, _ in got_w] == [d for d, _ in want]
    assert [d for d, _ in got_e] == [d for d, _ in want]
    assert [d for d, _ in got_m] == [d for d, _ in want]
    assert np.allclose([s for _, s in got_w], [s for _, s in want], rtol=1e-12)


def test_zero_and_single_lists():
    assert exact_topk([], 10, 50.0) == []
    assert wand_topk([], 10, 50.0) == []
    assert maxscore_topk([], 10, 50.0) == []
    tp = make_tp("t", [5], [2], [30], 100, 50.0)
    e = exact_topk([tp], 10, 50.0)
    w = wand_topk([tp], 10, 50.0)
    m = maxscore_topk([tp], 10, 50.0)
    assert e == w == m and len(e) == 1 and e[0][0] == 5


@pytest.mark.parametrize("seed", range(6))
def test_maxscore_skewed_idf_matches_bruteforce(seed):
    """MaxScore's winning regime: one rare high-idf term + common
    low-idf mega-lists. Pins (a) rank identity with exact, (b) that the
    essential prefix actually excludes the common lists (the skip is
    exercised, not degenerate)."""
    rng = np.random.RandomState(7000 + seed)
    n_docs, avgdl, k = 200_000, 80.0, 10
    rare_ids = rng.choice(n_docs, size=60, replace=False)
    tls = [make_tp("rare", rare_ids, rng.randint(2, 9, 60),
                   rng.choice([40, 80], 60), n_docs, avgdl)]
    for t in range(3):
        df = 30_000
        ids = rng.choice(n_docs, size=df, replace=False)
        tls.append(make_tp(f"common{t}", ids, np.ones(df, dtype=np.int64),
                           np.full(df, 80), n_docs, avgdl))
    want = exact_topk(tls, k, avgdl, conjunctive=False)
    got = maxscore_topk(tls, k, avgdl, conjunctive=False)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert np.allclose([s for _, s in got], [s for _, s in want], rtol=1e-12)
    # skip is real: the rare list's bound dominates the common tails
    ubs = sorted((tp.upper_bound for tp in tls), reverse=True)
    assert ubs[0] > sum(ubs[1:])  # sanity of the constructed skew


# ---------------------------------------------------------------------------
# lazy block decode (block_offs) — LazyTermPostings / maxscore_topk_lazy
# ---------------------------------------------------------------------------

def _lazy_rows(doc_ids, tfs, doc_lens, avgdl, n_shards=1):
    """Encode postings into 1..n segment-row dicts (salt-shard shaped)."""
    from ckanext_extractor_spark.operators.codec import (
        GenDocs,
        encode_posting_list,
    )

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    docs = GenDocs.of(doc_ids, doc_lens)
    rows = []
    for s in range(n_shards):
        m = np.arange(len(doc_ids)) % n_shards == s
        if not m.any():
            continue
        enc = encode_posting_list(doc_ids[m], tfs[m], None, docs,
                                  avgdl=avgdl)
        rows.append({
            "blob": enc["blob"],
            "n_postings": enc["n_postings"],
            "block_last_doc": enc["block_last_doc"],
            "block_max_tfn": enc["block_max_tfn"],
            "block_offs": enc["block_offs"],
            "docs": docs,
        })
    return rows


def test_lazy_materialize_and_probe_match_eager():
    from ckanext_extractor_spark.operators.wand import LazyTermPostings

    rng = np.random.RandomState(11)
    n_docs, avgdl = 50_000, 90.0
    ids = np.sort(rng.choice(40_000, 3_000, replace=False))
    tfs = rng.randint(1, 12, ids.size)
    dls = rng.randint(20, 400, ids.size)
    tp = make_tp("t", ids, tfs, dls, n_docs, avgdl)
    for shards in (1, 3):
        lazy = LazyTermPostings(
            "t", _lazy_rows(ids, tfs, dls, avgdl, shards), n_docs, avgdl
        )
        assert len(lazy) == len(tp.doc_ids)
        assert abs(lazy.idf - tp.idf) < 1e-12
        assert abs(lazy.upper_bound - tp.upper_bound) < 1e-12
        mat = lazy.materialize()
        assert (mat.doc_ids == tp.doc_ids).all()
        assert (mat.tfs == tp.tfs).all()
        assert (mat.doc_lens == tp.doc_lens).all()
        # probe at a scattered candidate set: present + absent docs
        cand = np.unique(np.concatenate([
            ids[rng.choice(ids.size, 40, replace=False)],
            np.array([1, 39_999, 45_000], dtype=np.int64),
        ]))
        got = lazy.probe_scores(cand, K1, B)
        idx = np.searchsorted(tp.doc_ids, cand)
        idxc = np.minimum(idx, len(tp.doc_ids) - 1)
        hit = tp.doc_ids[idxc] == cand
        want = np.zeros(cand.size)
        tf = tp.tfs[idxc[hit]].astype(float)
        dl = tp.doc_lens[idxc[hit]].astype(float)
        want[hit] = tp.idf * tf * (K1 + 1.0) / (
            tf + K1 * (1.0 - B + B * dl / avgdl)
        )
        assert np.allclose(got, want, rtol=1e-12)


@pytest.mark.parametrize("seed", range(6))
def test_maxscore_lazy_rank_identical_fuzz(seed):
    from ckanext_extractor_spark.operators.wand import (
        LazyTermPostings,
        maxscore_topk_lazy,
    )

    rng = np.random.RandomState(seed)
    n_docs, avgdl, k = 20_000, 70.0, 10
    term_lists, lazy_lists = [], []
    # skewed: one rare term + two common terms (the lazy win case)
    for t, df in enumerate([rng.randint(5, 40),
                            rng.randint(2_000, 6_000),
                            rng.randint(2_000, 6_000)]):
        ids = np.sort(rng.choice(n_docs, df, replace=False))
        tfs = rng.randint(1, 8, df)
        dls = rng.randint(10, 300, df)
        term_lists.append(make_tp(f"t{t}", ids, tfs, dls, n_docs, avgdl))
        lazy_lists.append(LazyTermPostings(
            f"t{t}", _lazy_rows(ids, tfs, dls, avgdl, n_shards=1 + t % 2),
            n_docs, avgdl,
        ))
    want = exact_topk(term_lists, k, avgdl, conjunctive=False)
    got = maxscore_topk_lazy(lazy_lists, k, avgdl, conjunctive=False)
    assert [d for d, _ in got] == [d for d, _ in want], seed
    assert np.allclose([s for _, s in got], [s for _, s in want], rtol=1e-12)
    # conjunctive routes through materialize + exact
    want_c = exact_topk(term_lists, k, avgdl, conjunctive=True)
    got_c = maxscore_topk_lazy(lazy_lists, k, avgdl, conjunctive=True)
    assert [d for d, _ in got_c] == [d for d, _ in want_c]
