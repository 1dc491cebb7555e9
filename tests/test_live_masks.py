"""Per-generation live masks: one rule for "is this posting live?".

A doc's postings in a generation are live iff no tombstone names the doc
at a later seq and no newer generation holds the doc. The driver builds
every generation's mask once per index state (``codec.live_masks``), the
codec's decodes drop dead postings through it, and the broadcast of the
masks carries the same rule to every distributed plan. Pinned here: the
rule itself, the decodes, the duplicate-generation scenario on the
driver kernel and the slow path, a failed build that must not hide the
old copies of its docs, and a delete that must reach the broadcast.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf
from ckanext_extractor_spark.operators.codec import (
    GenDocs,
    decode_posting_blocks,
    decode_posting_list,
    decode_posting_list_selective,
    encode_posting_list,
    live_masks,
)
from ckanext_extractor_spark.operators.wand import (
    exact_topk,
    term_postings_from_rows,
)

NONE = np.array([], dtype=np.int64)
SCHEMA = "repo string, path string, commit string, lang string, content string"


def test_live_mask_rule():
    g1 = GenDocs.of([1, 2, 3, 4], [5, 5, 5, 5])
    g2 = GenDocs.of([2, 5], [6, 6])
    g3 = GenDocs.of([6], [7])
    # doc 3 deleted at seq 2, doc 4 named by a tombstone at its own seq
    # (no kill), doc 5 deleted after the generation that holds it
    out = live_masks(
        [(1, g1), (2, g2), (3, g3)],
        np.array([3, 4, 5]), np.array([2, 1, 3]),
    )
    assert out[0].live.tolist() == [True, False, False, True]
    assert out[1].live.tolist() == [True, False]
    assert out[2].live is None  # all live: no mask
    assert out[0].doc_ids is g1.doc_ids and out[0].doc_lens is g1.doc_lens
    # one generation and no tombstone: nothing to build
    assert live_masks([(1, g1)], NONE, NONE)[0] is g1


def test_decodes_drop_dead_ordinals():
    ids = np.arange(0, 3000, 3, dtype=np.int64)  # 1000 docs, 8 blocks
    rng = np.random.RandomState(7)
    tfs = rng.randint(1, 4, size=ids.size)
    pos = [np.sort(rng.choice(50, size=t, replace=False)) for t in tfs]
    docs = GenDocs.of(ids, rng.randint(10, 90, size=ids.size))
    enc = encode_posting_list(ids, tfs, pos, docs, avgdl=50.0)
    live = rng.rand(ids.size) > 0.3
    masked = docs._replace(live=live)

    full = decode_posting_list(enc["blob"], docs, with_positions=True)
    got = decode_posting_list(enc["blob"], masked, with_positions=True)
    for a, b in zip(got[:3], full[:3]):
        assert np.array_equal(a, b[live])
    assert all(
        np.array_equal(p, q)
        for p, q in zip(got[3], [p for p, k in zip(full[3], live) if k])
    )
    assert all(
        np.array_equal(a, b[live])
        for a, b in zip(decode_posting_list(enc["blob"], masked),
                        decode_posting_list(enc["blob"], docs))
    )

    wanted = ids[::7]
    s_ids, s_tfs, s_dls, posmap = decode_posting_list_selective(
        enc["blob"], masked, wanted
    )
    assert np.array_equal(s_ids, full[0][live])
    assert np.array_equal(s_tfs, full[1][live])
    assert np.array_equal(s_dls, full[2][live])
    want_map = {
        int(d): p for d, p, k in zip(full[0], full[3], live)
        if k and d in set(wanted.tolist())
    }
    assert sorted(posmap) == sorted(want_map)
    assert all(np.array_equal(posmap[d], want_map[d]) for d in want_map)

    sel = np.array([1, 2, 5], dtype=np.int64)
    blk = decode_posting_blocks(
        enc["blob"], enc["n_postings"], sel, enc["block_offs"],
        enc["block_last_doc"], masked,
    )
    rows = np.concatenate([np.arange(b * 128, (b + 1) * 128) for b in sel])
    keep = rows[live[rows]]
    for a, b in zip(blk, full[:3]):
        assert np.array_equal(a, b[keep])


def _bm25(tf, dl, avgdl, idf=1.0, k1=1.2, b=0.75):
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_duplicate_generation_driver_kernel():
    """The duplicate-generation scenario of the distributed test
    (tests/test_review_r5c.py) through the driver decode + kernel: doc 1
    is held by generations 0 and 1, and only generation 1's postings
    count."""
    avgdl = 10.0
    gen_docs = [GenDocs.of([1, 2], [10, 8]), GenDocs.of([1], [10])]
    masked = live_masks([(0, gen_docs[0]), (1, gen_docs[1])], NONE, NONE)

    def row(gen, ids, tfs):
        e = encode_posting_list(
            np.asarray(ids, dtype=np.int64), np.asarray(tfs, dtype=np.int64),
            None, gen_docs[gen], avgdl,
        )
        return {"blob": e["blob"], "docs": masked[gen]}

    rows = {
        "alpha": [row(0, [1, 2], [3, 1]), row(1, [1], [5])],
        "beta": [row(0, [1, 2], [2, 2]), row(1, [1], [2])],
    }
    tls = [term_postings_from_rows(t, r, 2, avgdl) for t, r in rows.items()]
    assert [tp.doc_ids.tolist() for tp in tls] == [[1, 2], [1, 2]]
    got = dict(exact_topk(tls, 10, avgdl, conjunctive=True))
    idf = tls[0].idf
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(
        _bm25(5, 10, avgdl, idf) + _bm25(2, 10, avgdl, idf), rel=1e-12
    )
    assert got[2] == pytest.approx(
        _bm25(1, 8, avgdl, idf) + _bm25(2, 8, avgdl, idf), rel=1e-12
    )


def test_duplicate_generation_slow_path(spark, tmp_path):
    """The same scenario in an index: an update re-indexes doc A into a
    second generation, then the tombstone table is removed, so only the
    newest-generation rule keeps A's first copy out. The slow and exact
    paths rank exactly as they did with the tombstone."""
    root = str(tmp_path / "dup")
    doc_a = ("r/a", "a.md", "c0", "markdown", "alpha beta")
    doc_b = ("r/a", "b.md", "c0", "markdown", "alpha beta delta")
    doc_a2 = ("r/a", "a.md", "c0", "markdown",
              "alpha alpha alpha beta gamma")
    eng = ExtractorEngine(spark, root, n_buckets=4, salt_threshold=50)
    eng.DEAD_FRAC = 2.0  # keep both generations
    eng.extract(spark.createDataFrame([doc_a, doc_b], SCHEMA), build_id="d1")
    eng.extract(spark.createDataFrame([doc_a2, doc_b], SCHEMA), build_id="d2")
    assert len(eng._gens) == 2 and eng._tombstone_count() == 1
    queries = [("alpha beta", True), ("alpha gamma", False), ("beta", True)]
    want = {q: eng.search(q, k=10, conjunctive=c, mode="slow")
            for q, c in queries}
    assert all(want.values())

    shutil.rmtree(os.path.join(root, "tombstones"))
    dup = ExtractorEngine(spark, root)
    assert dup.index_stats()["tombstones"] == 0
    for q, c in queries:
        assert dup.search(q, k=10, conjunctive=c, mode="slow") == want[q], q
        got = dup.search(q, k=10, conjunctive=c, mode="exact")
        assert [d for d, _ in got] == [d for d, _ in want[q]], q
        assert np.allclose([s for _, s in got], [s for _, s in want[q]],
                           rtol=1e-9), q
        # search_distributed scores idf with the pre-merge df, which
        # counts A's first copy: only its match set is comparable
        dist = dup.search_distributed(q, k=10, conjunctive=c)
        assert {d for d, _ in dist} == {d for d, _ in want[q]}, q


def test_failed_build_keeps_the_old_copies_of_its_docs(
    spark, tmp_path, monkeypatch
):
    """A build appends its tombstones before it commits. When its encode
    fails, the old copies of the docs it was replacing stay live: the
    masks apply only rows at or below the committed seq, and the next
    committing mutation drops the failed build's rows first."""
    pdf = corpus_pdf(40)
    root = str(tmp_path / "fail")
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=50)
    eng.extract(spark.createDataFrame(pdf), build_id="f1")
    word = "golden000005x"
    [(doc, _)] = eng.search(word, k=5)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[5], "content"] = "rewritten zzfresh text"

    def boom(*a, **kw):
        raise RuntimeError("encode failed")

    monkeypatch.setattr(ExtractorEngine, "_encode_and_write_segments", boom)
    with pytest.raises(RuntimeError, match="encode failed"):
        eng.extract(spark.createDataFrame(pdf2), build_id="f2")
    monkeypatch.undo()

    def found(e):
        return ([d for d, _ in e.search(word, k=5)],
                [d for d, _ in e.search(word, k=5, mode="slow")])

    assert found(eng) == found(ExtractorEngine(spark, root)) == ([doc], [doc])
    # the original corpus again: every doc unchanged, nothing commits
    again = ExtractorEngine(spark, root)
    assert again.extract(spark.createDataFrame(pdf), build_id="f3").n_indexed == 0
    # a delete commits the seq the failed build had claimed
    [(other, _)] = again.search("golden000007x", k=5)
    again.delete([other])
    for e in (again, ExtractorEngine(spark, root)):
        assert found(e) == ([doc], [doc])
        assert e.search("golden000007x", k=5) == []
        assert e.index_stats()["tombstones"] == 1


def test_failed_build_counts_no_tombstones(spark, tmp_path, monkeypatch):
    """The tombstone row a failed build appended sits above the committed
    seq and applies to nothing, so ``index_stats()`` counts none, on the
    same and on a reopened engine."""
    pdf = corpus_pdf(20)
    root = str(tmp_path / "failcount")
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=50)
    eng.extract(spark.createDataFrame(pdf), build_id="t1")
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[3], "content"] = "rewritten zzfresh text"

    def boom(*a, **kw):
        raise RuntimeError("encode failed")

    monkeypatch.setattr(ExtractorEngine, "_encode_and_write_segments", boom)
    with pytest.raises(RuntimeError, match="encode failed"):
        eng.extract(spark.createDataFrame(pdf2), build_id="t2")
    monkeypatch.undo()
    _, seqs = eng._read_tombstones()
    assert (seqs > eng._seq).sum() == 1  # the failed build's row is there
    for e in (eng, ExtractorEngine(spark, root)):
        assert e.index_stats()["tombstones"] == 0


def test_failed_build_leaves_the_committed_side_tables(
    spark, tmp_path, monkeypatch
):
    """A build whose encode fails publishes none of its side tables, so
    a reopened engine reads the committed doc_stats, corpus_stats, field
    tables, manifest and doc store: its stats, the edited doc's row and
    every exact and slow score are the committed ones. The next build
    that commits publishes them and leaves no staged dir behind."""
    pdf = corpus_pdf(40)
    schema = (
        "repo string, path string, commit string, lang string, "
        "content string, metadata map<string, array<string>>"
    )

    def frame(df, groups):
        return spark.createDataFrame(
            [tuple(r) + ({"group": [g]},)
             for r, g in zip(df.itertuples(index=False), groups)],
            schema,
        )

    groups = [f"g{i % 3}" for i in range(len(pdf))]
    root = str(tmp_path / "failside")
    kw = dict(n_buckets=8, salt_threshold=50, store_content=True,
              indexed_fields=("group",))
    eng = ExtractorEngine(spark, root, **kw)
    eng.extract(frame(pdf, groups), build_id="c1")
    [(doc, _)] = eng.search("golden000005x", k=5)
    queries = [("data value", True), ("data value", False),
               ("golden000005x", True), ("vector stream batch", False)]

    def state(e):
        st = e.corpus_stats()
        return (
            (int(st["n_docs"]), float(st["avgdl"])),
            e.show(doc),
            e.search_field("group", "g2"),
            {(q, c, m): e.search(q, k=10, conjunctive=c, mode=m)
             for q, c in queries for m in ("exact", "slow")},
        )

    def same(got, want):
        assert got[:3] == want[:3]
        for key, ref in want[3].items():
            assert [d for d, _ in got[3][key]] == [d for d, _ in ref], key
            assert np.allclose([s for _, s in got[3][key]],
                               [s for _, s in ref], rtol=1e-9), key

    before = state(eng)
    assert doc in before[2] and before[1]["doc_len"] > 3
    pdf2 = pdf.copy()
    pdf2.loc[5, "content"] = "rewritten zzfresh text"
    groups2 = list(groups)
    groups2[5] = "g1"

    def boom(*a, **kw):
        raise RuntimeError("encode failed")

    monkeypatch.setattr(ExtractorEngine, "_encode_and_write_segments", boom)
    with pytest.raises(RuntimeError, match="encode failed"):
        eng.extract(frame(pdf2, groups2), build_id="c2")
    monkeypatch.undo()
    same(state(ExtractorEngine(spark, root, **kw)), before)

    again = ExtractorEngine(spark, root, **kw)
    assert again.extract(frame(pdf2, groups2), build_id="c3").n_indexed == 1
    assert not [d for d in os.listdir(root) if ".tmp-" in d]
    reopened = ExtractorEngine(spark, root, **kw)
    assert reopened.show(doc)["doc_len"] == 3
    assert doc not in reopened.search_field("group", "g2")
    assert [d for d, _ in reopened.search("zzfresh", k=5)] == [doc]


def test_delete_reaches_the_distributed_paths(spark, tmp_path):
    """On one engine object, distributed queries run before a delete
    (building the mask broadcast), and after it none returns the
    deleted doc: the broadcast is keyed by the index state, which a
    delete changes although the generation list does not."""
    eng = ExtractorEngine(spark, str(tmp_path / "stale"), n_buckets=8,
                          salt_threshold=50)
    eng.DEAD_FRAC = 2.0  # the delete must not compact (new generation list)
    eng.extract(spark.createDataFrame(corpus_pdf(60)), build_id="s1")
    phrase = eng.phrase_search("data value", k=50, distributed=True)
    assert phrase, "fixture corpus should contain the phrase"
    victim = phrase[0][0]
    assert victim in {d for d, _ in eng.search_distributed("data value", k=50)}
    assert victim in {
        d for d, _ in eng.search_expr_distributed("data AND value", k=50)
    }
    gens = list(eng._gens)
    eng.delete([victim])
    assert eng._gens == gens
    for got in (
        eng.search_distributed("data value", k=50),
        eng.phrase_search("data value", k=50, distributed=True),
        eng.search_expr_distributed("data AND value", k=50),
    ):
        assert got and victim not in {d for d, _ in got}
