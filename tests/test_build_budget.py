"""Build-path accounting: a fresh build stays within its Spark job budget,
every build job carries its stage label, the encode shuffle is sized
from the exact staged posting count, and posting blobs stay compact."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf

# Spark jobs of one fresh build of a corpus without a metadata column or
# doc store (README, "Incremental builds, lineage, resume").
FRESH_BUILD_JOB_BUDGET = 14


def _jobs(spark) -> dict[int, str]:
    """job id -> description, from the status store (works with the UI
    off) once the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(sc._jvm.java.util.ArrayList())
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        d = j.description()
        out[int(j.jobId())] = d.get() if d.isDefined() else ""
    return out


def test_fresh_build_job_budget(spark, tmp_path):
    corpus = spark.createDataFrame(corpus_pdf(120))
    eng = ExtractorEngine(
        spark, str(tmp_path / "budget"), n_buckets=8, salt_threshold=50
    )
    before = set(_jobs(spark))
    rep = eng.extract(corpus, build_id="budget1")
    after = _jobs(spark)
    new = {j: d for j, d in after.items() if j not in before}
    assert rep.n_indexed == 120
    # every job of the build is labelled with its stage
    assert all(d.startswith("build budget1: ") for d in new.values()), new
    assert len(new) <= FRESH_BUILD_JOB_BUDGET, sorted(new.values())


def test_resumed_build_sizes_encode_from_staged_rows(
    spark, tmp_path, monkeypatch
):
    """A resumed build whose corpus changed since staging sizes the encode
    shuffle by the postings actually staged, not by this run's status
    counts."""
    pdf = corpus_pdf(60)
    engA = ExtractorEngine(
        spark, str(tmp_path / "A"), n_buckets=8, salt_threshold=50
    )
    # keep A's tokenize checkpoint past its commit, to stage it on B
    monkeypatch.setattr(engA, "_gc_staging", lambda: None)
    engA.extract(spark.createDataFrame(pdf), build_id="bres")
    staged = engA._p("staging", "raw_postings", "bres")
    want = (
        spark.read.parquet(staged).where(F.col("term").isNotNull()).count()
    )

    engB = ExtractorEngine(
        spark, str(tmp_path / "B"), n_buckets=8, salt_threshold=50
    )
    os.makedirs(engB._p("staging", "raw_postings"), exist_ok=True)
    shutil.copytree(staged, engB._p("staging", "raw_postings", "bres"))
    sized = []
    real = engB._encode_tasks
    monkeypatch.setattr(
        engB, "_encode_tasks", lambda n: (sized.append(n), real(n))[1]
    )
    # the corpus lost ten docs since the crashed run staged it
    rep = engB.extract(spark.createDataFrame(pdf.iloc[10:]), build_id="bres")
    assert rep.resumed and rep.n_indexed == 50
    assert sized == [want]
    assert engB.index_stats()["n_postings"] == want


# Upper bound on posting-blob bytes per posting of the fixture build. Blobs
# store doc ordinals (1-byte gaps here) and no per-posting doc_len; 64-bit
# doc-id gaps or per-posting norms would put it back near 14 B.
BLOB_BYTES_PER_POSTING_MAX = 6.0


def test_blob_bytes_per_posting(spark, tmp_path):
    import pyarrow.dataset as pads

    eng = ExtractorEngine(
        spark, str(tmp_path / "bpp"), n_buckets=8, salt_threshold=50
    )
    eng.extract(spark.createDataFrame(corpus_pdf(120)), build_id="bpp1")
    blob_bytes = n_postings = 0
    for g in eng._gens:
        tbl = pads.dataset(
            eng._gen_segments_path(g), format="parquet", partitioning="hive"
        ).to_table(columns=["blob", "n_postings"])
        blob_bytes += sum(len(b) for b in tbl.column("blob").to_pylist())
        n_postings += sum(tbl.column("n_postings").to_pylist())
    assert n_postings == eng.index_stats()["n_postings"] > 0
    assert blob_bytes / n_postings <= BLOB_BYTES_PER_POSTING_MAX, (
        blob_bytes / n_postings
    )


# Upper bound on the whole fixture index's bytes per input content byte,
# every table and footer included. zstd pages and blob columns without
# min/max statistics give ~1.23; snappy pages with blob statistics ~1.49.
INDEX_BYTES_PER_INPUT_BYTE_MAX = 1.30


def test_index_bytes_per_input_byte(spark, tmp_path):
    pdf = corpus_pdf(120)
    eng = ExtractorEngine(
        spark, str(tmp_path / "ibb"), n_buckets=8, salt_threshold=50
    )
    eng.extract(spark.createDataFrame(pdf), build_id="ibb1")
    index_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(eng.root)
        for f in files
    )
    ratio = index_bytes / int(pdf["content"].str.len().sum())
    assert ratio <= INDEX_BYTES_PER_INPUT_BYTE_MAX, ratio
