"""Deletes on the distributed paths and in compaction accounting:

* ``maybe_compact`` chooses its victims from the live masks the driver
  holds for serving: no Spark job runs for the choice (pinned by
  counting jobs), and results are unchanged after compaction;
* on a tombstoned index the distributed query, phrase and expression
  plans, which decode through the same broadcast live masks, agree
  with the driver paths.
"""

from __future__ import annotations

import numpy as np
import pytest

from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf
from ckanext_extractor_spark.operators.wand import query_segments_distributed


def make_corpus(spark, pdf):
    return spark.createDataFrame(pdf)


def _job_ids(spark) -> set:
    """Ids of every Spark job so far, once the listener bus has delivered
    every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}


@pytest.fixture(scope="module")
def engine_with_tombstones(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dtomb") / "idx")
    pdf = corpus_pdf(120)
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=50)
    eng.extract(make_corpus(spark, pdf), build_id="t1")
    # second generation: change a handful of docs
    pdf2 = pdf.copy()
    for i in range(10):
        pdf2.loc[pdf2.index[i], "content"] = f"regen{i:03d} data value extra"
    eng.extract(make_corpus(spark, pdf2), build_id="t2")
    # bulk delete a slice (creates a tombstone backlog, no compaction yet:
    # MAX_GENS is high and the dead fraction stays under DEAD_FRAC)
    victims = [d for d, _ in eng.search("data", k=200, conjunctive=False)][:25]
    eng.DEAD_FRAC = 0.99
    eng.delete(victims)
    return eng


def test_compaction_victim_choice_runs_no_spark_job(spark, tmp_path):
    """maybe_compact picks the dead-heavy generation from the live masks
    without a Spark job, even on a freshly opened engine (masks built
    from the stored doc sets and tombstones), and results are unchanged
    after compaction."""
    pdf = corpus_pdf(80)
    root = str(tmp_path / "idxc")
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=50)
    eng.DEAD_FRAC = 2.0  # no compaction inside the builds
    eng.extract(make_corpus(spark, pdf), build_id="c1")
    pdf2 = pdf.copy()
    for i in range(40):
        pdf2.loc[pdf2.index[i], "content"] = f"churn{i:03d} data value"
    eng.extract(make_corpus(spark, pdf2), build_id="c2")
    before = eng.search("data value", k=10)
    assert before

    cold = ExtractorEngine(spark, root)
    chosen = []
    cold._compact = chosen.extend
    jobs = _job_ids(spark)
    assert cold._acquire_lock("compact-test")
    try:
        merged = cold.maybe_compact(dead_frac=0.25)
    finally:
        cold._release_lock()
    assert _job_ids(spark) == jobs, "victim choice ran a Spark job"
    assert merged == ["c1"] and [g["gen"] for g in chosen] == ["c1"]

    assert eng._acquire_lock("compact-test")
    try:
        merged = eng.maybe_compact(dead_frac=0.25, max_gens=1)
    finally:
        eng._release_lock()
    assert merged, "expected the dead-heavy generations to merge"
    assert eng.search("data value", k=10) == before


def test_distributed_phrase_matches_driver_under_tombstones(
    engine_with_tombstones,
):
    eng = engine_with_tombstones
    assert eng._tombstone_count() > 0
    dist = eng.phrase_search("data value", k=10, distributed=True)
    driver = eng.phrase_search("data value", k=10)
    assert dist
    assert [d for d, _ in dist] == [d for d, _ in driver]
    assert np.allclose([s for _, s in dist], [s for _, s in driver],
                       rtol=1e-9)


def test_distributed_query_matches_driver_under_tombstones(
    engine_with_tombstones,
):
    eng = engine_with_tombstones
    st = eng.corpus_stats()
    terms = ["data", "value"]
    tls = eng._term_postings(terms, st)
    terms_idf = {tp.term: tp.idf for tp in tls}
    seg = eng._segments_union(terms)
    got = query_segments_distributed(
        eng.spark, seg, eng._gen_docs_broadcast(), terms_idf, st["avgdl"], 10,
        conjunctive=True, n_query_terms=len(terms),
    ).collect()
    # agrees with the driver-side exact merge
    driver = eng.search("data value", k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in driver]
    assert np.allclose(
        [r["score"] for r in got], [s for _, s in driver], rtol=1e-9
    )


def test_distributed_expr_matches_driver_under_tombstones(
    engine_with_tombstones,
):
    """search_expr_distributed reads the same decode plan: with k above
    the match count, it matches exactly the docs the driver evaluator
    matches (its idf is the pre-merge df, so only the match SETS are
    compared)."""
    eng = engine_with_tombstones
    assert eng._tombstone_count() > 0
    exprs = ['data AND value', '(data OR regen003) AND -extra',
             '"data value" OR regen001']
    for e in exprs:
        dist = eng.search_expr_distributed(e, k=1000)
        assert dist, e
        assert {d for d, _ in dist} == {
            d for d, _ in eng.search_expr(e, k=1000)
        }, e


def test_distributed_phrase_rows_spanning_arrow_batches(spark, tmp_path):
    """A doc's slot rows can arrive in different Arrow batches of the same
    partition (maxRecordsPerBatch); the verify kernel must accumulate the
    partition before grouping or those docs silently fail the conjunctive
    gate. Pinned by forcing 8-row batches."""
    pdf = corpus_pdf(150)
    eng = ExtractorEngine(spark, str(tmp_path / "idxb"), n_buckets=8,
                          salt_threshold=50)
    eng.extract(make_corpus(spark, pdf), build_id="b1")
    driver = eng.phrase_search("data value", k=50)
    assert driver, "fixture corpus should contain the phrase"
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
        dist = eng.phrase_search("data value", k=50, distributed=True)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert [d for d, _ in dist] == [d for d, _ in driver]
    assert np.allclose([s for _, s in dist], [s for _, s in driver],
                       rtol=1e-9)
