"""BM25 impacts: the per-posting contributions memoized on a decoded
list. Every driver kernel must return the same bits whether it scores
from a memo filled at decode, from no memo, or from a memo keyed by
another avgdl; the list edits (exclude, restrict, boost) must keep the
memo in step with the postings; and an engine's decoded lists must carry
the memo of the current avgdl through extract, delete and compaction."""

from __future__ import annotations

import dataclasses
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from ckanext_extractor_spark.analysis.tokenizer import (
    INDEX_CONFIG,
    analyze_query,
    query_config_for,
)
from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf
from ckanext_extractor_spark.operators.boolquery import Or, Term, eval_topk
from ckanext_extractor_spark.operators.build import BM25_B, BM25_K1
from ckanext_extractor_spark.operators.codec import GenDocs, encode_posting_list
from ckanext_extractor_spark.operators.wand import (
    LazyTermPostings,
    bm25_impacts,
    boost_postings,
    exact_topk,
    exclude_docs,
    maxscore_topk,
    maxscore_topk_lazy,
    restrict_docs,
    term_postings_from_rows,
    wand_topk_daat,
)

N_DOCS, AVGDL = 20_000, 80.0
KEY = (AVGDL, BM25_K1, BM25_B)


def _formula(tp, avgdl=AVGDL):
    """The BM25 expression written out, in the kernels' operand order."""
    tf = tp.tfs.astype(np.float64)
    dl = tp.doc_lens.astype(np.float64)
    k1, b = BM25_K1, BM25_B
    return tp.idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _segment_rows(seed):
    """term -> salt-shard-shaped segment rows over one generation whose
    docs all have seeded lengths: a rare term, a mid one, two common."""
    rng = np.random.default_rng(seed)
    docs = GenDocs.of(np.arange(N_DOCS), rng.integers(5, 400, N_DOCS))
    out = {}
    dfs = [rng.integers(5, 40), rng.integers(300, 2000),
           rng.integers(3000, 8000), rng.integers(3000, 8000)]
    for t, df in enumerate(dfs):
        ids = np.sort(rng.choice(N_DOCS, int(df), replace=False))
        tfs = rng.integers(1, 9, ids.size)
        rows = []
        for s in range(1 + t % 3):
            m = np.arange(ids.size) % (1 + t % 3) == s
            enc = encode_posting_list(ids[m], tfs[m], None, docs, avgdl=AVGDL)
            rows.append(dict(enc, docs=docs))
        out[f"t{t}"] = rows
    return out


def _decoded(rows):
    return [term_postings_from_rows(t, r, N_DOCS, AVGDL) for t, r in rows.items()]


def _variants(lists):
    """The same lists three ways: memo from decode, no memo, and a memo
    keyed by another avgdl (which must never be served)."""
    bare = [dataclasses.replace(tp, impacts=None) for tp in lists]
    stale = [dataclasses.replace(tp, impacts=None) for tp in lists]
    for tp in stale:
        bm25_impacts(tp, AVGDL * 1.5)
    return lists, bare, stale


def _edited(lists, edit, seed):
    rng = np.random.default_rng(seed)
    if edit == "plain":
        return lists
    if edit == "boosted":
        return [boost_postings(tp, float(rng.uniform(0.3, 3.0))) for tp in lists]
    some = np.unique(rng.choice(N_DOCS, N_DOCS // 3, replace=False))
    if edit == "excluded":
        return [exclude_docs(tp, some) for tp in lists]
    return [restrict_docs(tp, some) for tp in lists]


def _kernel_runs(lists):
    page1 = exact_topk(lists, 5, AVGDL, False)
    return [
        exact_topk(lists, 20, AVGDL, True),
        exact_topk(lists[1:], 20, AVGDL, True),
        exact_topk(lists, 20, AVGDL, False),
        exact_topk(lists, 20, AVGDL, False, min_match=2),
        exact_topk(lists, 20, AVGDL, False, after=page1[-1]),
        exact_topk(lists[2:], 20, AVGDL, True, after=page1[0]),
        maxscore_topk(lists, 10, AVGDL, False),
        maxscore_topk(lists, 10, AVGDL, True),
        wand_topk_daat(lists[:2], 10, AVGDL, False),
    ]


@pytest.mark.parametrize("edit", ["plain", "boosted", "excluded", "restricted"])
@pytest.mark.parametrize("seed", range(3))
def test_kernels_equal_with_and_without_memo(seed, edit):
    base = _decoded(_segment_rows(seed))
    assert all(tp.impacts[0] == KEY for tp in base)
    runs = [
        _kernel_runs(_edited(lists, edit, seed)) for lists in _variants(base)
    ]
    assert runs[0] == runs[1] == runs[2]
    assert any(runs[0])


@pytest.mark.parametrize("seed", range(3))
def test_maxscore_lazy_equal_with_and_without_memo(seed, monkeypatch):
    rows = _segment_rows(seed)

    def lazy():
        return [LazyTermPostings(t, r, N_DOCS, AVGDL) for t, r in rows.items()]

    got = [maxscore_topk_lazy(lazy(), 10, AVGDL, conj) for conj in (False, True)]
    materialize = LazyTermPostings.materialize
    monkeypatch.setattr(
        LazyTermPostings, "materialize",
        lambda self: dataclasses.replace(materialize(self), impacts=None),
    )
    bare = [maxscore_topk_lazy(lazy(), 10, AVGDL, conj) for conj in (False, True)]
    assert got == bare
    assert got[0]


def test_impacts_are_the_formula_and_edits_keep_them_aligned():
    lists = _decoded(_segment_rows(7))
    some = np.arange(0, N_DOCS, 3, dtype=np.int64)
    for tp in lists:
        assert np.array_equal(tp.impacts[1], _formula(tp))
        for edited in (exclude_docs(tp, some), restrict_docs(tp, some),
                       restrict_docs(tp, some[:0])):
            assert edited.impacts[0] == KEY
            assert np.array_equal(edited.impacts[1], _formula(edited))
        boosted = boost_postings(tp, 2.0)
        assert boosted.impacts is None
        assert np.array_equal(bm25_impacts(boosted, AVGDL), _formula(boosted))
        # a key miss replaces the memo instead of serving the old array
        other = bm25_impacts(tp, AVGDL * 2)
        assert tp.impacts[0] == (AVGDL * 2, BM25_K1, BM25_B)
        assert np.array_equal(other, _formula(tp, AVGDL * 2))


def test_or_merge_matches_unique_bincount():
    """The run-merging union sums each doc's contributions in list order,
    exactly as a unique + bincount over the concatenation does."""
    lists = _decoded(_segment_rows(3))
    ids = np.concatenate([tp.doc_ids for tp in lists])
    docs, inv = np.unique(ids, return_inverse=True)
    total = np.bincount(inv, weights=np.concatenate([_formula(tp) for tp in lists]))
    got = exact_topk(lists, docs.size, AVGDL, False)
    want = sorted(zip(docs.tolist(), total.tolist()), key=lambda x: (-x[1], x[0]))
    assert got == want


def test_probe_and_boolean_scores_come_from_the_same_expression():
    rows = _segment_rows(5)
    for t, r in rows.items():
        lazy = LazyTermPostings(t, r, N_DOCS, AVGDL)
        tp = lazy.materialize()
        cand = np.arange(N_DOCS, dtype=np.int64)
        want = np.zeros(N_DOCS)
        want[tp.doc_ids] = _formula(tp)
        assert np.array_equal(lazy.probe_scores(cand), want)
    lists = _decoded(rows)
    postings = {tp.term: tp for tp in lists}
    bare = {t: dataclasses.replace(tp, impacts=None) for t, tp in postings.items()}
    one = eval_topk(Term(["t1"], boost=2.5), postings, N_DOCS, AVGDL)
    assert one == sorted(
        zip(postings["t1"].doc_ids.tolist(), (2.5 * _formula(postings["t1"])).tolist()),
        key=lambda x: (-x[1], x[0]),
    )
    node = Or([Term(["t0"], boost=3.0), Term(["t2"]), Term(["t3"], boost=0.5)])
    assert eval_topk(node, postings, 50, AVGDL) == eval_topk(node, bare, 50, AVGDL)


def test_query_config_is_memoized_per_index_config():
    q = query_config_for(INDEX_CONFIG)
    assert q is query_config_for(INDEX_CONFIG)
    assert q == dataclasses.replace(INDEX_CONFIG, mode="query")
    simple = dataclasses.replace(INDEX_CONFIG, mode="simple")
    assert query_config_for(simple) is simple


def _assert_same_ranking(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], label
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(b)), label


def test_engine_memo_follows_avgdl_through_mutations(spark, tmp_path):
    """extract, a second extract (edits + new docs), delete, compact:
    after each, searches through the decoded lists match the DataFrame
    oracle, and every decoded list's memo is keyed by the current avgdl
    and holds exactly the formula's values."""
    pdf = corpus_pdf(60)
    qconf = query_config_for(INDEX_CONFIG)
    df = Counter(
        t for c in pdf["content"] for t in set(analyze_query(c, config=qconf))
    )
    ranked = [t for t, _ in df.most_common() if t.isalpha()]
    hot, mid = ranked[:3], ranked[len(ranked) // 20: len(ranked) // 20 + 3]
    queries = [f"{hot[0]} {mid[0]}", f"{hot[1]} {hot[2]}",
               f"{hot[0]} {mid[1]} {mid[2]}"]
    eng = ExtractorEngine(
        spark, str(tmp_path / "idx"), indexed_langs=("*",), n_buckets=8,
        salt_threshold=20,
    )

    def check(step):
        eng.warm()
        for q in queries:
            for conj in (True, False):
                want = eng.search(q, k=10, conjunctive=conj, mode="slow")
                for mode in ("auto", "exact", "maxscore"):
                    got = eng.search(q, k=10, conjunctive=conj, mode=mode)
                    _assert_same_ranking(got, want, (step, q, conj, mode))
        q = queries[2]
        for extra in ({"min_match": 2}, {"exclude": mid[0]}):
            want = eng.search(q, k=10, conjunctive=False, mode="slow", **extra)
            got = eng.search(q, k=10, conjunctive=False, **extra)
            _assert_same_ranking(got, want, (step, q, extra))
        st = eng.corpus_stats()
        assert eng._decoded_cache, step
        for tp in eng._decoded_cache.values():
            assert tp.impacts[0] == (st["avgdl"], BM25_K1, BM25_B), step
            assert np.array_equal(
                tp.impacts[1], _formula(tp, st["avgdl"])
            ), step
        return st["avgdl"]

    eng.extract(spark.createDataFrame(pdf.head(40)))
    avgdls = [check("extract")]
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[3], "content"] = f"{hot[0]} {hot[0]} {mid[0]} edited"
    eng.extract(spark.createDataFrame(pd.concat([pdf2.head(40), pdf.tail(20)])))
    avgdls.append(check("second extract"))
    victims = [d for d, _ in eng.search(hot[0], k=5)]
    eng.delete(victims)
    avgdls.append(check("delete"))
    assert eng.compact(max_gens=1)  # merges both generations
    avgdls.append(check("compact"))
    assert len(set(avgdls[:3])) == 3  # each mutation moved avgdl
