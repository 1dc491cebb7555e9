"""Sub-step scaling profile of the encode stage.

Builds (or reuses) a staging postings table for an n-doc synthetic corpus,
then times each encode sub-plan separately at the given core count:

  scan_exchange   staging scan -> salted -> repartition(tasks) -> noop sink
  plus_kernel     ... -> mapInArrow encode -> noop sink
  full_write      ... -> repartition(bucket) -> sort -> partitioned write

Run in a fresh process per core count (JVM core count is fixed at start):
  python tools/profile_encode.py <cores> <n_docs>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from ckanext_extractor_spark.corpus import corpus_df  # noqa: E402
from ckanext_extractor_spark.manifest import tokenize_with_lineage  # noqa: E402
from ckanext_extractor_spark.operators.segments import (  # noqa: E402
    encode_segments,
    salted_postings_auto,
)
from ckanext_extractor_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 350_000
    staging = sys.argv[3] if len(sys.argv) > 3 else None

    spark = get_spark(f"prof-encode-{cores}", cores=cores, shuffle_partitions=cores)
    out: dict[str, float] = {"cores": cores, "n_docs": n_docs}

    if staging is None or not os.path.exists(staging):
        staging = staging or tempfile.mkdtemp(prefix="prof_staging_", dir="/dev/shm")
        from ckanext_extractor_spark.operators.build import prepare_corpus

        synth = prepare_corpus(corpus_df(spark, n_docs), ("*",))
        raw = tokenize_with_lineage(synth.select("doc_id", "content", "lang"))
        t = time.time()
        raw.write.mode("overwrite").parquet(staging)
        out["tokenize_write"] = round(time.time() - t, 1)

    raw = spark.read.parquet(staging)
    postings = raw.where(F.col("term").isNotNull())
    n_rows = postings.count()
    out["n_posting_rows"] = n_rows
    n_tasks = max(cores, n_rows // 500_000 + 1)

    def noop_sink(df) -> float:
        t = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t, 1)

    t = time.time()
    hot = (
        postings.groupBy("term").agg(F.count("*").alias("df"))
        .where(F.col("df") > 50_000).collect()
    )
    out["hot_groupby"] = round(time.time() - t, 1)
    out["n_hot"] = len(hot)

    t = time.time()
    postings.write.format("noop").mode("overwrite").save()
    out["scan_only"] = round(time.time() - t, 1)

    salted = salted_postings_auto(postings, 128, 50_000)
    cols = ["term_bucket", "salt_id", "term", "doc_id", "tf", "doc_len",
            "positions"]
    arranged = salted.select(*cols).repartition(n_tasks, "term_bucket", "salt_id")
    out["scan_exchange"] = noop_sink(arranged)

    # session-default Arrow batch size (1024): the production path uses it
    # and A/B showed 65536 slower for the encode kernel (NOTES.md)
    hash_terms = len(sys.argv) > 4 and sys.argv[4] == "hash"
    out["hash_terms"] = hash_terms
    seg = encode_segments(salted, 120.0, n_tasks=n_tasks, n_buckets=128,
                          hash_terms=hash_terms)
    out["plus_kernel"] = noop_sink(seg)

    dest = tempfile.mkdtemp(prefix="prof_seg_", dir="/dev/shm")
    t = time.time()
    seg.write.mode("overwrite").partitionBy("term_bucket").parquet(dest)
    out["full_write"] = round(time.time() - t, 1)
    shutil.rmtree(dest, ignore_errors=True)
    print("PROFILE " + json.dumps(out))


if __name__ == "__main__":
    main()
