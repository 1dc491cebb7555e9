"""Engine lifecycle: status machine, incremental rebuild, delete, resume,
hooks (SURVEY.md §5.2 items 5-7; reference analogs logic/test_action.py:79-247,
test_plugin.py:92-106, test_interfaces.py:135-178)."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ckanext_extractor_spark.api import EngineHooks, ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf

N_DOCS = 80


def make_corpus(spark, pdf):
    return spark.createDataFrame(pdf)


@pytest.fixture()
def engine(spark, tmp_path):
    root = str(tmp_path / "index")
    return ExtractorEngine(
        spark, root, indexed_langs=("*",), n_buckets=8, salt_threshold=50
    )


@pytest.fixture(scope="module")
def base_pdf():
    return corpus_pdf(N_DOCS)


def seg_digest(engine):
    seg = engine._segments_union()
    rows = seg.select("term", "salt_id", "blob").collect() if seg is not None else []
    items = sorted((r["term"], r["salt_id"], bytes(r["blob"])) for r in rows)
    h = hashlib.sha256()
    for term, salt, blob in items:
        h.update(term.encode())
        h.update(blob)
    return h.hexdigest()


def test_full_lifecycle(spark, engine, base_pdf):
    corpus = make_corpus(spark, base_pdf)

    # ---- initial build: everything 'new' ------------------------------
    rep1 = engine.extract(corpus)
    assert rep1.status_counts == {"new": N_DOCS}
    assert rep1.n_indexed == N_DOCS
    assert engine.list_indexed().count() == N_DOCS

    # golden token search hits exactly its doc (search-visible assertion,
    # helpers.py:239-258 analog), wand and slow paths agree
    hits_wand = engine.search("golden00003x".replace("3x", "3x"), k=5)
    hits_wand = engine.search("golden000003x", k=5)
    hits_slow = engine.search("golden000003x", k=5, mode="slow")
    assert len(hits_wand) == 1
    assert hits_wand[0][0] == hits_slow[0][0]
    assert abs(hits_wand[0][1] - hits_slow[0][1]) < 1e-9

    # ---- no-op rebuild: everything 'unchanged' ------------------------
    rep2 = engine.extract(corpus)
    assert rep2.status_counts == {"unchanged": N_DOCS}
    assert rep2.n_indexed == 0

    # ---- force rebuild ------------------------------------------------
    rep3 = engine.extract(corpus, force=True)
    assert rep3.status_counts == {"update": N_DOCS}

    # ---- one edited doc + one new doc ---------------------------------
    pdf = base_pdf.copy()
    pdf.loc[pdf.index[5], "content"] = "freshzzztoken data value"
    extra = corpus_pdf(1, start=N_DOCS)
    import pandas as pd

    pdf2 = pd.concat([pdf, extra], ignore_index=True)
    rep4 = engine.extract(make_corpus(spark, pdf2))
    assert rep4.status_counts.get("update") == 1
    assert rep4.status_counts.get("new") == 1
    assert rep4.status_counts.get("unchanged") == N_DOCS - 1
    hits = engine.search("freshzzztoken", k=5)
    assert len(hits) == 1
    # the edited doc's old golden token must be gone
    assert engine.search("golden000005x", k=5) == []
    # the new doc findable
    assert len(engine.search(f"golden{N_DOCS:06d}x", k=5)) == 1

    # ---- delete -------------------------------------------------------
    victim = hits[0][0]
    engine.delete([victim])
    assert engine.search("freshzzztoken", k=5) == []
    listed = {r["doc_id"] for r in engine.list_indexed().collect()}
    assert victim not in listed
    # provenance still shows the deletion
    assert engine.show(victim).get("status") == "deleted"


def test_delete_then_reextract_reindexes(spark, tmp_path, base_pdf):
    """A deleted doc whose content sha is unchanged must be re-extracted on
    the next build, not silently flipped back to 'indexed' with no postings
    (r1 resurrection bug; reference re-extracts after delete since metadata
    is purged, logic/action.py:129-133)."""
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxd"), n_buckets=8, salt_threshold=50
    )
    corpus = make_corpus(spark, base_pdf.head(10))
    eng.extract(corpus)
    victim = eng.search("golden000004x", k=1)[0][0]
    eng.delete([victim])
    assert eng.search("golden000004x", k=5) == []
    rep = eng.extract(corpus)  # same corpus, sha unchanged
    assert rep.status_counts.get("new", 0) == 1  # the deleted doc re-tokenized
    hits = eng.search("golden000004x", k=5)
    assert [d for d, _ in hits] == [victim]
    assert eng.show(victim)["status"] == "indexed"


def test_ignored_lang_purged(spark, tmp_path, base_pdf):
    root = str(tmp_path / "idx2")
    eng = ExtractorEngine(
        spark, root, indexed_langs=("python", "java", "go", "js"),
        n_buckets=8, salt_threshold=50,
    )
    corpus = make_corpus(spark, base_pdf)
    rep = eng.extract(corpus)
    n_md = int((base_pdf["lang"] == "markdown").sum())
    assert rep.status_counts.get("ignored", 0) == n_md
    assert eng.list_indexed().count() == N_DOCS - n_md
    # markdown docs unfindable even by their golden token
    md_idx = base_pdf.index[base_pdf["lang"] == "markdown"][0]
    assert eng.search(f"golden{md_idx:06d}x", k=5) == []


def test_query_cache_hit_and_invalidation(spark, tmp_path, base_pdf):
    """search() memoizes per (query, k, conjunctive, mode); any index
    mutation (extract/delete) invalidates via cool()."""
    eng = ExtractorEngine(
        spark, str(tmp_path / "qcache"), n_buckets=8, salt_threshold=50
    )
    corpus = make_corpus(spark, base_pdf)
    eng.extract(corpus, build_id="c1")
    q = "golden000003x"
    first = eng.search(q, k=5)
    assert len(first) == 1
    assert eng._query_cache  # populated
    assert eng.search(q, k=5) == first  # cache hit, same result
    victim = first[0][0]
    eng.delete([victim])
    assert not eng._query_cache  # mutation cleared it
    assert eng.search(q, k=5) == []  # fresh answer, not the stale hit


def test_doc_store_and_snippets(spark, tmp_path, base_pdf):
    """store_content=True keeps the fulltext (reference stores extracted
    text, tasks.py:99-104; extractor_show returns it) and snippets()
    windows the first query-term hit."""
    eng = ExtractorEngine(
        spark, str(tmp_path / "snip"), n_buckets=8, salt_threshold=50,
        store_content=True,
    )
    corpus = make_corpus(spark, base_pdf)
    eng.extract(corpus, build_id="s1")
    hits = eng.search("golden000003x", k=5)
    assert len(hits) == 1
    doc = hits[0][0]
    # show() returns the stored fulltext
    assert "golden000003x" in eng.show(doc)["fulltext"]
    snips = eng.snippets("golden000003x", k=5, width=30)
    assert len(snips) == 1 and snips[0][0] == doc
    assert "golden000003x" in snips[0][2]
    assert len(snips[0][2]) <= 2 * 30 + len("golden000003x") + 2
    # flag survives reopen (persisted in index_meta)
    eng2 = ExtractorEngine(spark, str(tmp_path / "snip"))
    assert eng2.store_content
    assert "golden000003x" in eng2.show(doc)["fulltext"]
    # delete purges the stored text
    eng.delete([doc])
    assert "fulltext" not in eng.show(doc)
    # incremental update replaces the stored text
    pdf2 = base_pdf.copy()
    pdf2.loc[pdf2.index[1], "content"] = "replacedzz token body"
    eng.extract(make_corpus(spark, pdf2), build_id="s2")
    d2 = eng.search("replacedzz", k=1)[0][0]
    assert "replacedzz" in eng.show(d2)["fulltext"]


def test_resume_identical_segments(spark, tmp_path, base_pdf):
    """Kill-and-rerun (B3): a second extract with the same build_id reuses
    the staged tokenize output and produces byte-identical segments."""
    corpus = make_corpus(spark, base_pdf)
    rootA = str(tmp_path / "idxA")
    rootB = str(tmp_path / "idxB")
    engA = ExtractorEngine(spark, rootA, n_buckets=8, salt_threshold=50)
    engB = ExtractorEngine(spark, rootB, n_buckets=8, salt_threshold=50)
    # keep A's tokenize checkpoint past its commit, to stage it on B
    engA._gc_staging = lambda: None
    repA = engA.extract(corpus, build_id="bfixed")
    assert not repA.resumed

    # simulate a crash AFTER tokenize staging but BEFORE publish on B:
    # run tokenize staging manually by copying A's staged output
    os.makedirs(engB._p("staging", "raw_postings"), exist_ok=True)
    shutil.copytree(
        engA._p("staging", "raw_postings", "bfixed"),
        engB._p("staging", "raw_postings", "bfixed"),
    )
    repB = engB.extract(corpus, build_id="bfixed")
    assert repB.resumed  # tokenize stage skipped
    assert seg_digest(engA) == seg_digest(engB)


def test_hooks_called(spark, tmp_path, base_pdf):
    calls = []
    hooks = EngineHooks(
        before_tokenize=lambda df: (calls.append("before_tokenize"), df)[1],
        after_extract=lambda df: (calls.append("after_extract"), df)[1],
        after_save=lambda df: (calls.append("after_save"), df)[1],
        after_index=lambda eng: calls.append("after_index"),
    )
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxh"), n_buckets=8, hooks=hooks
    )
    eng.extract(make_corpus(spark, base_pdf.head(10)))
    assert calls == ["before_tokenize", "after_extract", "after_save", "after_index"]


def test_show_and_fidelity(spark, tmp_path, base_pdf):
    eng = ExtractorEngine(spark, str(tmp_path / "idxs"), n_buckets=8)
    corpus = make_corpus(spark, base_pdf.head(10))
    eng.extract(corpus)
    doc = (
        eng.spark.read.parquet(eng._p("doc_stats")).limit(1).collect()[0]
    )
    info = eng.show(doc["doc_id"])
    assert info["status"] == "indexed"
    assert info["doc_len"] > 0
    # fidelity invariant: stored sha equals recomputed sha of source content
    src = corpus.where(F.col("repo") == doc["repo"]).where(
        F.col("path") == doc["path"]
    ).collect()[0]
    assert (
        hashlib.sha256(src["content"].encode()).hexdigest()
        == info["content_sha256"]
    )
