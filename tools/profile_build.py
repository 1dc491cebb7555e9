"""Per-phase build profiler at a given parallelism (diagnosis harness for
the scaling-efficiency work). Mirrors ExtractorEngine.extract stage
boundaries with wall timers.

Usage: python tools/profile_build.py <cores> <n_docs>
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from ckanext_extractor_spark.corpus import corpus_df
from ckanext_extractor_spark.fsio import write_table
from ckanext_extractor_spark.manifest import (
    compute_statuses,
    empty_doc_manifest,
    lineage_from_raw,
    tokenize_with_lineage,
)
from ckanext_extractor_spark.operators.build import (
    build_corpus_stats,
    build_dictionary,
    build_doc_stats,
    prepare_corpus,
)
from ckanext_extractor_spark.operators.codec import GenDocs
from ckanext_extractor_spark.operators.segments import (
    encode_segments,
    salted_postings,
    write_segments,
)
from ckanext_extractor_spark.session import get_spark


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 40_000
    nsp = int(sys.argv[3]) if len(sys.argv) > 3 else cores
    spark = get_spark(f"profile-{cores}", cores=cores, shuffle_partitions=nsp)
    t = {}

    def tick(name, t0):
        t[name] = round(time.time() - t0, 2)
        print(name, t[name], flush=True)
        return time.time()

    t0 = time.time()
    synth = corpus_df(spark, n_docs).cache()
    synth.count()
    t0 = tick("corpus_gen_cached", t0)

    root = tempfile.mkdtemp(prefix=f"profb{cores}_")
    try:
        prepared = prepare_corpus(synth, ("*",))
        meta_slim = prepared.drop("content").cache()
        statused = compute_statuses(meta_slim, empty_doc_manifest(spark), None)
        counts = statused.groupBy("status").count().collect()
        t0 = tick("status_counts", t0)

        ids = statused.where(F.col("status").isin("new", "update")).select(
            "doc_id"
        )
        to_index = prepared.join(ids, "doc_id", "left_semi").select(
            "doc_id", "content", "lang"
        )
        raw = tokenize_with_lineage(to_index)
        staging = os.path.join(root, "staging")
        raw.write.mode("overwrite").parquet(staging)
        t0 = tick("tokenize_stage_write", t0)

        raw = spark.read.parquet(staging)
        postings = raw.where(F.col("term").isNotNull())
        lineage = lineage_from_raw(raw, "prof")
        write_table(lineage, os.path.join(root, "lineage"), mode="append")
        t0 = tick("lineage_append", t0)

        dictionary = build_dictionary(postings, 32)
        dictionary.write.mode("overwrite").parquet(os.path.join(root, "dict"))
        dictionary = spark.read.parquet(os.path.join(root, "dict"))
        t0 = tick("dictionary", t0)

        doc_stats = build_doc_stats(meta_slim, postings)
        write_table(doc_stats, os.path.join(root, "ds"))
        ds = spark.read.parquet(os.path.join(root, "ds"))
        build_corpus_stats(ds).collect()
        t0 = tick("doc_stats+corpus_stats", t0)

        lens = ds.select("doc_id", "doc_len").collect()
        docs = GenDocs.of([r[0] for r in lens], [r[1] for r in lens])
        salted = salted_postings(postings, dictionary, 32, 50_000)
        segs = encode_segments(salted, docs, with_positions=True, n_buckets=64)
        write_segments(segs, os.path.join(root, "segments"))
        t0 = tick("segments", t0)

        manifest = statused.select(
            "doc_id", "content_sha256", "lang",
            F.lit("indexed").alias("status"), F.lit("prof").alias("build_id"),
        )
        write_table(manifest, os.path.join(root, "manifest"))
        t0 = tick("manifest", t0)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print({"cores": cores, "n_docs": n_docs, "phases": t}, flush=True)


if __name__ == "__main__":
    main()
