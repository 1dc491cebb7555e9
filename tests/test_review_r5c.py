"""Round-5 third self-review pass (code-review findings over
operators/ + analysis/, each fixed):

1. glob_filter_expr / filter_metadata_fields anchored: rlike has
   search semantics and fnmatch.translate only emits \\Z, so a SUFFIX
   match passed ('numpy' vs pattern 'py'; 'my-lang' vs 'lang').
2. bm25_search_synonyms takes config= and the engine passes its own
   query chain, so synonym search works on simple/stemmed indexes.
3. A field named only in pf2/pf3 (not qf) now contributes its phrase
   clauses (fields_all spans every phrase-field map — Solr parity).
4. Negated pure-stopword clauses drop (Lucene parity) instead of
   raising 'dangling NOT'.
5. bm25_search clamps k to the corpus (the fetch-everything OOM
   class; the synonyms sibling already had the clamp).
6. query_segments_distributed counts a doc held by two generations
   once — the live masks keep only the newest generation's postings.
7. LazyTermPostings.materialize delegates to term_postings_from_rows
   (single copy of the merge/block-max rebuild).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ---- 1: fnmatch anchoring -------------------------------------------------

def test_glob_filter_is_full_match(spark):
    from ckanext_extractor_spark.operators.build import glob_filter_expr

    df = spark.createDataFrame(
        [("py",), ("numpy",), ("pyx",), ("PY",), ("markdown",)],
        "lang string",
    )
    kept = {r["lang"] for r in
            df.where(glob_filter_expr(F.col("lang"), ["py"])).collect()}
    assert kept == {"py", "PY"}  # suffix 'numpy' must NOT pass
    kept = {r["lang"] for r in
            df.where(glob_filter_expr(F.col("lang"), ["py*"])).collect()}
    assert kept == {"py", "PY", "pyx"}


def test_metadata_field_filter_is_full_match(spark):
    from ckanext_extractor_spark.operators.normalize import (
        filter_metadata_fields,
    )

    df = spark.createDataFrame(
        [({"lang": "en", "my-lang": "x", "language": "y"},)],
        "meta map<string,string>",
    )
    out = df.select(
        filter_metadata_fields(F.col("meta"), ("lang",)).alias("m")
    ).collect()[0]["m"]
    assert set(out) == {"lang"}


# ---- 2: synonyms honor the engine analyzer --------------------------------

def test_synonyms_on_simple_analyzer_engine(spark, tmp_path):
    from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
    from ckanext_extractor_spark.api import ExtractorEngine

    eng = ExtractorEngine(spark, str(tmp_path / "idx"), n_buckets=4,
                          analyzer=SIMPLE_CONFIG)
    docs = spark.createDataFrame(
        [("r", "p0", "c", "text", "the mergesort routine"),
         ("r", "p1", "c", "text", "the quicksort routine")],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    eng.extract(docs, build_id="syn")
    # under the default code chain 'MergeSort' analyzes to
    # ['merge','sort'] and misses the simple-mode vocabulary; with the
    # engine's own chain it stays 'mergesort' and the synonym group
    # {mergesort, quicksort} matches BOTH docs
    hits = eng.search("MergeSort", k=10,
                      synonyms={"mergesort": ["quicksort"]},
                      conjunctive=True)
    assert len(hits) == 2


# ---- 3: pf2-only field contributes ----------------------------------------

def test_pf2_field_outside_qf_boosts(spark, tmp_path):
    from ckanext_extractor_spark.api import ExtractorEngine

    eng = ExtractorEngine(spark, str(tmp_path / "idx"), n_buckets=4,
                          indexed_fields=("title", "tags"))
    docs = spark.createDataFrame(
        [("r", "p0", "c", "md", "alpha",
          {"Title": ["spark join basics"], "Tags": ["spark"]}),
         ("r", "p1", "c", "md", "alpha",
          {"Title": ["spark streams join"], "Tags": ["spark"]})],
        "repo string, path string, commit string, lang string, "
        "content string, metadata map<string, array<string>>",
    )
    eng.extract(docs, build_id="pf2")
    qf = {"tags": 1.0}
    base = dict(eng.dismax_search("spark join", qf, k=10))
    boosted = dict(eng.dismax_search("spark join", qf, k=10,
                                     pf2={"title": 2.0}))
    ids = {r["path"]: r["doc_id"]
           for r in spark.read.parquet(eng._p("doc_stats"))
           .select("path", "doc_id").collect()}
    # p0 has the adjacent bigram 'spark join' in title (a field NOT in
    # qf) -> must gain; p1 (words apart) must not
    assert boosted[ids["p0"]] > base[ids["p0"]]
    assert boosted[ids["p1"]] == pytest.approx(base[ids["p1"]],
                                               rel=1e-12)


# ---- 4: negated stopword drops --------------------------------------------

def test_negated_stopword_clause_drops():
    from ckanext_extractor_spark.operators.boolquery import (
        QuerySyntaxError,
        parse_query,
    )

    analyze = lambda s: [] if s.lower() == "the" else [s.lower()]  # noqa
    node = parse_query("foo -the", analyze)
    # degrades to just 'foo' — same as the non-negated stopword
    same = parse_query("foo the", analyze)
    assert repr(node) == repr(same)
    # a genuinely dangling NOT still errors
    with pytest.raises(QuerySyntaxError):
        parse_query("foo -", analyze)


# ---- 5: bm25_search huge-k clamp ------------------------------------------

def test_bm25_search_huge_k_clamped(spark):
    from ckanext_extractor_spark.operators.query import bm25_search

    postings = spark.createDataFrame(
        [(1, "alpha", 2, 10), (2, "alpha", 1, 8)],
        "doc_id long, term string, tf long, doc_len long",
    )
    dictionary = spark.createDataFrame(
        [("alpha", 2)], "term string, df long"
    )
    big = bm25_search(postings, dictionary, n_docs=2, avgdl=9.0,
                      query="alpha", k=10**9).collect()
    ten = bm25_search(postings, dictionary, n_docs=2, avgdl=9.0,
                      query="alpha", k=10).collect()
    assert [r["doc_id"] for r in big] == [r["doc_id"] for r in ten]


# ---- 6: duplicate live generations dedup (distributed query) --------------

def test_distributed_query_dedupes_duplicate_generations(spark):
    """Two generations both carrying postings for the same (doc, term)
    must not double-count the score or inflate n_matched past nq (which
    would evict a true conjunctive match): the newest generation's
    postings are the live ones."""
    import numpy as np

    from ckanext_extractor_spark.operators.codec import (
        GenDocs,
        encode_posting_list,
        live_masks,
    )
    from ckanext_extractor_spark.operators.wand import (
        query_segments_distributed,
    )

    avgdl = 10.0
    # generation 1 re-indexed doc 1; its doc set holds only that doc
    gen_docs = {0: GenDocs.of([1, 2], [10, 8]), 1: GenDocs.of([1], [10])}

    def seg_row(term, gen, ids, tfs, dls):
        e = encode_posting_list(
            np.asarray(ids, dtype=np.int64),
            np.asarray(tfs, dtype=np.int64), None, gen_docs[gen], avgdl,
        )
        return (term, e["blob"], int(gen), f"g{gen}")

    # doc 1 matches both terms; its postings appear in generations 0
    # AND 1 (gen-1 alpha tf differs so the newest-wins rule is
    # observable); doc 2 matches both terms once.
    rows = [
        seg_row("alpha", 0, [1, 2], [3, 1], [10, 8]),
        seg_row("alpha", 1, [1], [5], [10]),
        seg_row("beta", 0, [1, 2], [2, 2], [10, 8]),
        seg_row("beta", 1, [1], [2], [10]),
    ]
    seg = spark.createDataFrame(
        rows, "term string, blob binary, gen_seq long, gen string"
    )
    # no tombstones: the newest-generation rule alone masks gen 0's doc 1
    masked = live_masks(
        [(0, gen_docs[0]), (1, gen_docs[1])],
        np.array([], dtype=np.int64), np.array([], dtype=np.int64),
    )
    idf = {"alpha": 1.0, "beta": 1.0}
    got = {r["doc_id"]: r for r in query_segments_distributed(
        spark, seg, spark.sparkContext.broadcast(
            {"g0": masked[0], "g1": masked[1]}
        ),
        idf, avgdl, 10,
        conjunctive=True,
        n_query_terms=2,
    ).collect()}
    # doc 1 must SURVIVE the conjunctive gate (n_matched == 2, not 3)
    assert set(got) == {1, 2}
    k1, b = 1.2, 0.75

    def bm25(tf, dl):
        return 1.0 * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    # and its alpha contribution is the NEWEST generation's (tf=5),
    # counted once
    assert got[1]["score"] == pytest.approx(bm25(5, 10) + bm25(2, 10),
                                            rel=1e-12)
    assert got[2]["score"] == pytest.approx(bm25(1, 8) + bm25(2, 8),
                                            rel=1e-12)
