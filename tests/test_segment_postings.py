"""Segments are the only stored copy of the postings: the decode plan
every slow/oracle reader uses (``postings_frame``) against the tokenizer
kernel, staging as a resume checkpoint only, an index whose meta still
names a per-generation postings table, and the after_extract hook."""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pytest

from ckanext_extractor_spark.analysis.tokenizer import postings_for_batch
from ckanext_extractor_spark.api import EngineHooks, ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf
from ckanext_extractor_spark.operators.build import prepare_corpus
from ckanext_extractor_spark.operators.codec import varbyte_decode

QUERIES = ("data value", "data", "value index", "the of")


def _engine(spark, root, **kw):
    return ExtractorEngine(
        spark, root, indexed_langs=("*",), n_buckets=8, salt_threshold=20,
        **kw,
    )


def _staging(eng):
    p = eng._p("staging", "raw_postings")
    return sorted(os.listdir(p)) if os.path.isdir(p) else []


def test_postings_frame_equals_tokenizer_kernel(spark, tmp_path):
    """Every segment row decoded through ``postings_frame`` holds exactly
    the (term, doc_id, tf, positions) multiset the tokenizer kernel emits
    for the same corpus: the slow path and the kernels share the codec,
    so the codec is checked against the analysis output itself."""
    pdf = corpus_pdf(60)
    eng = _engine(spark, str(tmp_path / "idx"))
    corpus = spark.createDataFrame(pdf)
    eng.extract(corpus, build_id="o1")
    got = Counter(
        (r["term"], int(r["doc_id"]), int(r["tf"]), tuple(r["positions"]))
        for r in eng.postings_frame(with_positions=True).collect()
    )

    docs = prepare_corpus(corpus).select("doc_id", "content", "lang").toPandas()
    agg = postings_for_batch(docs["content"], docs["lang"], eng.analyzer)
    ids = docs["doc_id"].to_numpy()
    want = Counter()
    for idx, term, tf, pos in zip(
        agg["idx"], agg["term"], agg["tf"], agg["positions"]
    ):
        gaps, _ = varbyte_decode(bytes(pos))
        want[(term, int(ids[idx]), int(tf),
              tuple(np.cumsum(gaps.astype(np.int64)).tolist()))] += 1
    assert sum(want.values()) > 1000
    assert got == want


def test_commit_leaves_no_staging(spark, tmp_path):
    eng = _engine(spark, str(tmp_path / "idx"))
    pdf = corpus_pdf(40)
    eng.extract(spark.createDataFrame(pdf.head(30)), build_id="c1")
    assert _staging(eng) == []
    eng.extract(spark.createDataFrame(pdf), build_id="c2")
    assert _staging(eng) == []
    for g in eng._gens:
        assert sorted(os.listdir(eng._p("gens", g["gen"]))) == [
            "docs", "segments"]
        assert "postings_rel" not in g


def test_meta_with_postings_rel_serves_and_gcs_its_copy(spark, tmp_path):
    """An index written while every generation kept its tokenize staging
    table as ``postings_rel`` opens and serves from its segments
    (rank-identical slow search), and its next commit drops the copy."""
    root = str(tmp_path / "idx")
    eng = _engine(spark, root)
    eng._gc_staging = lambda: None
    pdf = corpus_pdf(60)
    eng.extract(spark.createDataFrame(pdf.head(40)), build_id="p1")
    eng.extract(spark.createDataFrame(pdf), build_id="p2")
    assert _staging(eng) == ["p1", "p2"]
    meta_path = os.path.join(root, "index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    for g in meta["generations"]:
        g["postings_rel"] = os.path.join("staging", "raw_postings", g["gen"])
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    old = _engine(spark, root)
    for q in QUERIES:
        for conj in (True, False):
            fast = old.search(q, k=20, conjunctive=conj, mode="exact")
            slow = old.search(q, k=20, conjunctive=conj, mode="slow")
            assert [d for d, _ in slow] == [d for d, _ in fast]
            assert [s for _, s in slow] == pytest.approx(
                [s for _, s in fast], rel=1e-9)
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[0], "content"] = "freshzz token body"
    old.extract(spark.createDataFrame(pdf2), build_id="p3")
    assert _staging(old) == []
    assert old.search("freshzz", k=5, mode="slow") == old.search(
        "freshzz", k=5)


def test_after_extract_hook_changes_what_is_indexed(spark, tmp_path):
    """The hook's output is what the segments encode and what doc_stats
    counts; its materialized copy lives under staging and goes with it."""
    pdf = corpus_pdf(40)
    plain = _engine(spark, str(tmp_path / "plain"))
    plain.extract(spark.createDataFrame(pdf), build_id="h1")
    assert plain.search("data", k=5)

    def drop_data(postings):
        return postings.where(postings["term"] != "data")

    hooked = _engine(
        spark, str(tmp_path / "hooked"),
        hooks=EngineHooks(after_extract=drop_data),
    )
    hooked.extract(spark.createDataFrame(pdf), build_id="h1")
    assert _staging(hooked) == []
    for mode in ("auto", "slow"):
        assert hooked.search("data", k=5, mode=mode) == []
        got = hooked.search("value", k=5, mode=mode)
        assert got and [d for d, _ in got] == [
            d for d, _ in plain.search("value", k=5, mode=mode)]
    assert "data" not in {t for t, _, _ in hooked.term_vectors(got[0][0])}
