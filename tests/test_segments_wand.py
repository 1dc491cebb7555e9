"""Segment encode/read + WAND fast path vs slow path (SURVEY.md §5.2
items 3 and the Q2-Q4 fast-path rank-identity hard part #2)."""

from __future__ import annotations

import hashlib
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from ckanext_extractor_spark.analysis.tokenizer import analyze_query
from ckanext_extractor_spark.corpus import corpus_df
from ckanext_extractor_spark.operators.build import (
    build_corpus_stats,
    build_dictionary,
    build_doc_stats,
    prepare_corpus,
    tokenize_postings,
)
from ckanext_extractor_spark.operators.codec import GenDocs
from ckanext_extractor_spark.operators.query import bm25_search
from ckanext_extractor_spark.operators.segments import (
    encode_segments,
    read_segments,
    salted_postings,
    write_segments,
)
from ckanext_extractor_spark.operators.wand import (
    exact_topk,
    load_term_postings,
    query_segments_distributed,
    wand_topk,
)

N_DOCS = 300
N_BUCKETS = 16

WAND_QUERIES = [
    ("data value", True),
    ("data value", False),
    ("parseBuffer", True),
    ("vector cache stream", True),
    ("vector cache stream", False),
    ("golden000011x", True),
    ("zzznothing", True),
    ("data", True),
]


@pytest.fixture(scope="module")
def ctx(spark):
    prepared = prepare_corpus(corpus_df(spark, N_DOCS)).cache()
    postings = tokenize_postings(prepared).cache()
    dictionary = build_dictionary(postings, n_buckets=N_BUCKETS).cache()
    doc_stats = build_doc_stats(prepared, postings)
    stats = build_corpus_stats(doc_stats).collect()[0]
    seg_dir = tempfile.mkdtemp(prefix="segtest_")
    lens = postings.select("doc_id", "doc_len").distinct().collect()
    docs = GenDocs.of([r["doc_id"] for r in lens], [r["doc_len"] for r in lens])
    salted = salted_postings(postings, dictionary, n_buckets=N_BUCKETS,
                             salt_threshold=50)  # low threshold -> salting real
    segments = encode_segments(salted, docs, with_positions=True,
                               n_buckets=N_BUCKETS)
    write_segments(segments, seg_dir)
    yield spark, prepared, postings, dictionary, stats, seg_dir, docs
    shutil.rmtree(seg_dir, ignore_errors=True)


def test_segments_cover_dictionary(ctx):
    spark, _, _, dictionary, _, seg_dir, _ = ctx
    segs = read_segments(spark, seg_dir)
    n_terms_seg = segs.select("term").distinct().count()
    n_terms_dict = dictionary.count()
    assert n_terms_seg == n_terms_dict
    # per-term posting counts must match df
    per_term = segs.groupBy("term").agg(F.sum("n_postings").alias("n"))
    joined = per_term.join(dictionary, "term")
    bad = joined.where(F.col("n") != F.col("df")).count()
    assert bad == 0


def test_hot_terms_are_salted(ctx):
    spark, _, _, dictionary, _, seg_dir, _ = ctx
    hot = [
        r["term"]
        for r in dictionary.where(F.col("df") > 50).select("term").collect()
    ]
    assert hot, "corpus should contain hot terms"
    segs = read_segments(spark, seg_dir).where(F.col("term").isin(hot))
    shard_counts = {
        r["term"]: r["n"]
        for r in segs.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    assert any(n > 1 for n in shard_counts.values())


def test_segment_checksums_deterministic(ctx):
    """Rebuild from a differently-partitioned postings frame -> byte-identical
    segment blobs (SURVEY.md §5.2 item 3 / hard part #1)."""
    spark, prepared, postings, dictionary, stats, seg_dir, docs = ctx
    seg_dir2 = tempfile.mkdtemp(prefix="segtest2_")
    try:
        repartitioned = postings.repartition(7)
        salted = salted_postings(repartitioned, dictionary,
                                 n_buckets=N_BUCKETS, salt_threshold=50)
        segments2 = encode_segments(salted, docs, with_positions=True,
                                    n_buckets=N_BUCKETS)
        write_segments(segments2, seg_dir2)

        def blob_digest(path):
            rows = (
                read_segments(spark, path)
                .select("term", "salt_id", "blob")
                .collect()
            )
            items = sorted((r["term"], r["salt_id"], bytes(r["blob"])) for r in rows)
            h = hashlib.sha256()
            for term, salt, blob in items:
                h.update(term.encode())
                h.update(salt.to_bytes(4, "little"))
                h.update(blob)
            return h.hexdigest()

        assert blob_digest(seg_dir) == blob_digest(seg_dir2)
    finally:
        shutil.rmtree(seg_dir2, ignore_errors=True)


@pytest.mark.parametrize("query,conj", WAND_QUERIES)
def test_wand_and_exact_match_slow_path(ctx, query, conj):
    spark, _, postings, dictionary, stats, seg_dir, docs = ctx
    k = 10
    slow = bm25_search(
        postings, dictionary, stats["n_docs"], stats["avgdl"], query,
        k=k, conjunctive=conj,
    ).collect()
    expected = [(r["doc_id"], r["score"]) for r in slow]

    terms = list(dict.fromkeys(analyze_query(query)))
    tls = load_term_postings(
        spark, seg_dir, docs, terms, stats["n_docs"], stats["avgdl"], N_BUCKETS
    )
    if conj and len(tls) < len(terms):
        tls_for_and = []  # missing term -> empty result
    else:
        tls_for_and = tls
    for fn in (exact_topk, wand_topk):
        got = fn(tls_for_and if conj else tls, k, stats["avgdl"], conjunctive=conj)
        assert [d for d, _ in got] == [d for d, _ in expected], (
            f"{fn.__name__} rank mismatch for {query!r}"
        )
        assert np.allclose(
            [s for _, s in got], [s for _, s in expected], rtol=1e-9, atol=1e-12
        )


def test_distributed_segment_scoring_matches(ctx):
    spark, _, postings, dictionary, stats, seg_dir, docs = ctx
    query, conj, k = "data value", True, 10
    slow = bm25_search(
        postings, dictionary, stats["n_docs"], stats["avgdl"], query,
        k=k, conjunctive=conj,
    ).collect()
    terms = list(dict.fromkeys(analyze_query(query)))
    drows = dictionary.where(F.col("term").isin(terms)).collect()
    terms_idf = {
        r["term"]: float(
            np.log(1.0 + (stats["n_docs"] - r["df"] + 0.5) / (r["df"] + 0.5))
        )
        for r in drows
    }
    segs = read_segments(spark, seg_dir, terms, N_BUCKETS).withColumn(
        "gen", F.lit("g")
    )
    got = query_segments_distributed(
        spark, segs, spark.sparkContext.broadcast({"g": docs}), terms_idf,
        stats["avgdl"], k, conjunctive=conj,
        n_query_terms=len(terms),
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in slow]
    assert np.allclose(
        [r["score"] for r in got], [r["score"] for r in slow], rtol=1e-9
    )
