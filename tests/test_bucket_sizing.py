"""Per-generation term buckets.

A generation is split into one term bucket per
``ExtractorEngine.TOKENS_PER_BUCKET`` of its tokens, at most the
index-level ``n_buckets``, and its meta entry records the count every
reader hashes with. The corpora here are tiny, so each test lowers
``TOKENS_PER_BUCKET`` to give the generations several buckets. Pinned:
rank identity of every query path over generations of different bucket
counts, an index whose generations carry no count (read through the
index-level count, not rewritten by the next build), and compaction
writing exactly what a fresh build of the live docs writes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.dataset as pads

from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf

QUERIES = [
    ("data value", True),
    ("data value", False),
    ("thread posting cache", False),
    ("merge writer", True),
    ("golden000007x", True),
    ("golden000071x zzabsent", False),
]


def _engine(spark, root: str, **kw) -> ExtractorEngine:
    eng = ExtractorEngine(spark, root, salt_threshold=kw.pop("salt", 50), **kw)
    eng.DEAD_FRAC = 2.0  # keep every generation until the test compacts
    return eng


def _bucket_dirs(eng: ExtractorEngine, g: dict) -> list[str]:
    return sorted(
        d for d in os.listdir(eng._gen_segments_path(g))
        if d.startswith("term_bucket=")
    )


def _mtimes(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path) for f in fs
    }


def _same(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], label
    assert np.allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-9
    ), label


def _phrases(pdf) -> list[str]:
    """Two-word phrases that occur in the corpus (the pairs of words at
    positions 2 and 3 of a few docs)."""
    return [" ".join(pdf["content"].iloc[i].split()[2:4]) for i in (0, 3, 41)]


def test_paths_rank_identical_over_multi_bucket_generations(
    spark, tmp_path, monkeypatch
):
    """Three generations of 60, 30 and 15 new docs get different bucket
    counts; exact, MaxScore, slow, search_distributed and phrase results
    over them equal those of a one-generation, one-bucket index of the
    same docs (no update or delete, so the distributed path's pre-merge
    df is the live df)."""
    pdf = corpus_pdf(105)
    ref = _engine(spark, str(tmp_path / "ref"))
    ref.extract(spark.createDataFrame(pdf), build_id="r1")
    assert [g["n_buckets"] for g in ref._gens] == [1]

    monkeypatch.setattr(ExtractorEngine, "TOKENS_PER_BUCKET", 1000)
    eng = _engine(spark, str(tmp_path / "multi"))
    for i, (lo, hi) in enumerate([(0, 60), (60, 90), (90, 105)]):
        eng.extract(spark.createDataFrame(pdf.iloc[lo:hi]), build_id=f"m{i}")
    counts = [g["n_buckets"] for g in eng._gens]
    assert len(counts) == 3 and len(set(counts)) == 3 and min(counts) > 1
    assert counts == sorted(counts, reverse=True)
    for g in eng._gens:
        assert 1 < len(_bucket_dirs(eng, g)) <= g["n_buckets"]
    # the count is the meta's, for this and a reopened engine
    meta = json.loads(open(eng._meta_path()).read())
    assert [g["n_buckets"] for g in meta["generations"]] == counts

    for e in (eng, ExtractorEngine(spark, eng.root)):
        for q, conj in QUERIES:
            want = ref.search(q, k=10, conjunctive=conj, mode="exact")
            for mode in ("exact", "maxscore", "slow"):
                _same(e.search(q, k=10, conjunctive=conj, mode=mode), want,
                      (q, conj, mode))
            _same(e.search_distributed(q, k=10, conjunctive=conj), want,
                  (q, conj, "distributed"))
        hits = 0
        for p in _phrases(pdf):
            want = ref.phrase_search(p, k=10)
            hits += len(want)
            _same(e.phrase_search(p, k=10), want, (p, "phrase"))
            _same(e.phrase_search(p, k=10, distributed=True), want,
                  (p, "phrase distributed"))
        assert hits > 0
    # warm serving reads every row at once and must agree too
    eng.warm()
    for q, conj in QUERIES:
        _same(eng.search(q, k=10, conjunctive=conj),
              ref.search(q, k=10, conjunctive=conj), (q, conj, "warm"))


def test_generation_without_bucket_count_reads_through_index_level(
    spark, tmp_path, monkeypatch
):
    """An index written before the count was recorded per generation has
    every generation split into the index-level ``n_buckets``. Its meta
    entries without ``n_buckets`` read through that count; the next build
    records its own count and leaves the old generation's files alone."""
    pdf = corpus_pdf(60)
    root = str(tmp_path / "legacy")
    monkeypatch.setattr(ExtractorEngine, "TOKENS_PER_BUCKET", 1)
    eng = _engine(spark, root)
    eng.extract(spark.createDataFrame(pdf.iloc[:40]), build_id="old")
    [old] = eng._gens
    assert old["n_buckets"] == eng.n_buckets == 64
    assert len(_bucket_dirs(eng, old)) > 32
    want = {(q, c): eng.search(q, k=10, conjunctive=c, mode="slow")
            for q, c in QUERIES}

    meta = json.loads(open(eng._meta_path()).read())
    for g in meta["generations"]:
        del g["n_buckets"]
    with open(eng._meta_path(), "w") as f:
        json.dump(meta, f)
    seg_dir = eng._gen_segments_path(old)
    files_before = _mtimes(seg_dir)

    legacy = _engine(spark, root)
    assert legacy.n_buckets == 64
    assert legacy._gen_buckets(legacy._gens[0]) == 64
    for (q, c), w in want.items():
        for mode in ("exact", "maxscore", "slow"):
            _same(legacy.search(q, k=10, conjunctive=c, mode=mode), w,
                  (q, c, mode))
        _same(legacy.search_distributed(q, k=10, conjunctive=c), w,
              (q, c, "distributed"))

    monkeypatch.setattr(ExtractorEngine, "TOKENS_PER_BUCKET", 1000)
    legacy.extract(spark.createDataFrame(pdf), build_id="new")
    meta = json.loads(open(legacy._meta_path()).read())
    assert "n_buckets" not in meta["generations"][0]
    new = meta["generations"][1]
    assert new["gen"] == "new" and 1 < new["n_buckets"] < 64
    assert len(_bucket_dirs(legacy, new)) <= new["n_buckets"]
    assert _mtimes(seg_dir) == files_before
    for e in (legacy, ExtractorEngine(spark, root)):
        for q, c in QUERIES:
            slow = e.search(q, k=10, conjunctive=c, mode="slow")
            _same(e.search(q, k=10, conjunctive=c, mode="exact"), slow,
                  (q, c, "exact"))
            _same(e.search(q, k=10, conjunctive=c, mode="maxscore"), slow,
                  (q, c, "maxscore"))
            _same(e.search_distributed(q, k=10, conjunctive=c), slow,
                  (q, c, "distributed"))
        assert e.search("golden000055x", k=5)  # a doc of the new generation


def _segment_rows(eng: ExtractorEngine, g: dict) -> list[tuple]:
    tbl = pads.dataset(
        eng._gen_segments_path(g), format="parquet", partitioning="hive"
    ).to_table()
    return sorted(
        (r["term"], r["term_bucket"], r["salt_id"], r["n_postings"],
         bytes(r["blob"]), tuple(r["block_last_doc"]),
         tuple(r["block_max_tfn"]), tuple(r["block_offs"]))
        for r in tbl.to_pylist()
    )


def _doc_rows(eng: ExtractorEngine, g: dict) -> list[tuple]:
    tbl = pads.dataset(eng._gen_docs_path(g), format="parquet").to_table()
    return sorted(zip(tbl.column("doc_id").to_pylist(),
                      tbl.column("doc_len").to_pylist()))


def test_compaction_writes_what_a_fresh_build_writes(
    spark, tmp_path, monkeypatch
):
    """``compact(max_gens=1)`` over an update generation, deletes and
    salted terms writes the segment rows and doc set a fresh build of the
    live docs writes, with the same bucket count."""
    monkeypatch.setattr(ExtractorEngine, "TOKENS_PER_BUCKET", 1000)
    pdf = corpus_pdf(80)
    eng = _engine(spark, str(tmp_path / "merged"), salt=20)
    eng.extract(spark.createDataFrame(pdf), build_id="c1")
    edited = pdf.copy()
    for i in range(5, 65, 5):
        edited.loc[i, "content"] = (
            edited.loc[i, "content"] + f" zzedit{i} data value"
        )
    eng.extract(spark.createDataFrame(edited), build_id="c2")
    gone = [eng.search(f"golden0000{i:02d}x", k=1)[0][0] for i in (2, 3, 8)]
    eng.delete(gone)
    assert len(eng._gens) == 2 and eng.index_stats()["tombstones"] > 0
    eng.compact(max_gens=1)
    [merged] = eng._gens

    live = edited.drop(index=[2, 3, 8])
    fresh = _engine(spark, str(tmp_path / "fresh"), salt=20)
    fresh.extract(spark.createDataFrame(live), build_id="f1")
    [built] = fresh._gens

    assert merged["n_buckets"] == built["n_buckets"] > 1
    assert merged["n_docs"] == built["n_docs"] == len(live)
    rows = _segment_rows(eng, merged)
    terms = [r[0] for r in rows]
    assert len(terms) > len(set(terms))  # some hot term is salted
    assert rows == _segment_rows(fresh, built)
    assert _doc_rows(eng, merged) == _doc_rows(fresh, built)
