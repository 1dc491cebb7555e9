"""Build manifest: status machine, incremental change detection, lineage
(SURVEY.md B3/B4; reference analog: ResourceMetadata `last_url`/
`last_format`/`task_id` provenance columns, model.py:92-111, and the
new/update/unchanged/inprogress/ignored status machine, logic/action.py:114-150).

Two tables, both plain Parquet under the index root:

* ``doc_manifest`` — one row per known doc:
    (doc_id, content_sha256, lang, status, build_id)
  `status` ∈ {indexed, ignored, deleted}; change detection compares the
  stored sha against the incoming corpus (the Spark-native version of
  "did last_url/last_format change", action.py:129-133).

* ``lineage`` — one row per (build_id, stage, partition_id):
    (build_id, stage, partition_id, n_docs, n_postings, bytes_in,
     wall_sec, files_per_sec, bytes_per_sec)
  per-partition lineage + throughput metrics required by the north rule,
  captured inside the tokenize kernel itself (zero extra passes).
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ckanext_extractor_spark.fsio import write_table

STATUS_NEW = "new"
STATUS_UPDATE = "update"
STATUS_UNCHANGED = "unchanged"
STATUS_IGNORED = "ignored"
STATUS_INPROGRESS = "inprogress"
STATUS_DELETED = "deleted"

DOC_MANIFEST_SCHEMA = (
    "doc_id long, content_sha256 string, lang string, status string, "
    "build_id string"
)
LINEAGE_SCHEMA = (
    "build_id string, stage string, partition_id int, n_docs long, "
    "n_postings long, bytes_in long, wall_sec double, "
    "files_per_sec double, bytes_per_sec double"
)


def empty_doc_manifest(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], DOC_MANIFEST_SCHEMA)


def read_doc_manifest(spark: SparkSession, path: str) -> DataFrame:
    p = os.path.join(path, "doc_manifest")
    try:  # location-agnostic (URI roots): probe by reading, not os.path
        return spark.read.parquet(p)
    except Exception:
        return empty_doc_manifest(spark)


def write_doc_manifest(manifest: DataFrame, path: str) -> None:
    write_table(manifest, os.path.join(path, "doc_manifest"))


def append_lineage(lineage: DataFrame, path: str) -> None:
    write_table(lineage, os.path.join(path, "lineage"), mode="append")


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    p = os.path.join(path, "lineage")
    try:  # location-agnostic (URI roots): probe by reading, not os.path
        return spark.read.parquet(p)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def compute_statuses(
    prepared: DataFrame,
    doc_manifest: DataFrame | None,
    indexed_langs_pred=None,
    force: bool = False,
) -> DataFrame:
    """Join incoming corpus vs manifest -> per-doc status column.

    Semantics (mirrors action.py:114-150):
      no manifest row                  -> new
      sha differs                      -> update
      sha equal                        -> unchanged (force -> update)
      lang not indexed                 -> ignored (stored metadata purged by
                                          the caller, action.py:124-128)
    The join is doc_id-equi, manifest side is the small/compacted table;
    broadcast when it fits, else a shuffled join AQE handles.
    ``doc_manifest=None`` (a fresh index) skips the join: every indexable
    doc is new, and no shuffle of the corpus side runs for it.
    """
    lang_ok = indexed_langs_pred if indexed_langs_pred is not None else F.lit(True)
    if doc_manifest is None:
        status = F.when(~lang_ok, F.lit(STATUS_IGNORED)).otherwise(
            F.lit(STATUS_NEW)
        )
        return prepared.withColumn("status", status)
    m = doc_manifest.select(
        F.col("doc_id"),
        F.col("content_sha256").alias("_m_sha"),
        F.col("status").alias("_m_status"),
    )
    joined = prepared.join(m, "doc_id", "left")
    status = (
        F.when(~lang_ok, F.lit(STATUS_IGNORED))
        .when(F.col("_m_sha").isNull(), F.lit(STATUS_NEW))
        # a previously deleted/ignored doc has no postings/metadata left —
        # it must be re-extracted even if the stored sha still matches
        # (reference re-extracts after delete/private-flip since metadata
        # is purged, action.py:124-133)
        .when(
            F.col("_m_status").isin(STATUS_DELETED, STATUS_IGNORED),
            F.lit(STATUS_NEW),
        )
        .when(F.col("_m_sha") != F.col("content_sha256"), F.lit(STATUS_UPDATE))
        .otherwise(
            F.lit(STATUS_UPDATE) if force else F.lit(STATUS_UNCHANGED)
        )
    )
    return joined.withColumn("status", status).drop("_m_sha", "_m_status")


def tokenize_with_lineage(corpus: DataFrame, config=None) -> DataFrame:
    """tokenize_postings variant that also emits per-partition lineage rows.

    Returns ``raw``, the single mapInPandas output (postings + marker
    rows). Callers checkpoint it (write to staging parquet) and split the
    re-read table with :func:`lineage_from_raw` / ``term IS NOT NULL``, so
    tokenization runs once — that staging write doubles as the build's
    resume point (B3).  Metrics are measured executor-side, where the work
    happens, not estimated driver-side.
    """
    from ckanext_extractor_spark.analysis.tokenizer import (
        INDEX_CONFIG,
        postings_for_batch,
    )

    config = config or INDEX_CONFIG

    # Marker rows (term IS NULL) reuse the postings schema so normal rows
    # carry ZERO extra bytes through the shuffle. Two marker kinds, split
    # by tf sign (real posting rows always have tf >= 1):
    #   partition lineage (one per partition, tf >= 0):
    #     doc_id   = partition_id
    #     tf       = n_postings emitted by the partition
    #     doc_len  = n_docs seen
    #     positions= pack('>qq', wall_ms, bytes_in) (big-endian for SQL hex)
    #   per-doc length (one per input doc, tf == -1):
    #     doc_id   = the doc, doc_len = its token count (0 for empty docs).
    # The per-doc rows make doc_stats a ~N_docs-row scan instead of a
    # groupBy over the FULL posting table (measured as a non-scaling
    # ~25 s re-scan of staging at 350k docs — the doc_len is already in
    # the kernel's hands here, so emitting it costs nothing).
    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        import numpy as np

        tc = TaskContext.get()
        pid = tc.partitionId() if tc else -1
        t0 = time.time()
        n_docs = 0
        n_postings = 0
        bytes_in = 0
        doc_ids: list[np.ndarray] = []
        doc_lens: list[np.ndarray] = []
        for pdf in it:
            if len(pdf) == 0:
                continue
            agg = postings_for_batch(pdf["content"], pdf["lang"], config)
            n_docs += len(pdf)
            bytes_in += int(pdf["content"].str.len().sum())
            lens = np.zeros(len(pdf), dtype=np.int64)
            if not agg.empty:
                n_postings += len(agg)
                idx = agg["idx"].to_numpy()
                agg["doc_id"] = pdf["doc_id"].to_numpy()[idx]
                lens[idx] = agg["doc_len"].to_numpy()
                yield agg[["doc_id", "term", "tf", "positions", "doc_len"]]
            doc_ids.append(pdf["doc_id"].to_numpy())
            doc_lens.append(lens)
        wall_ms = int((time.time() - t0) * 1000)
        import struct

        yield pd.DataFrame(
            {
                "doc_id": [pid],
                "term": [None],
                "tf": [n_postings],
                "positions": [struct.pack(">qq", wall_ms, bytes_in)],
                "doc_len": [n_docs],
            }
        )
        if doc_ids:
            ids = np.concatenate(doc_ids)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "term": pd.Series([None] * len(ids), dtype=object),
                    "tf": np.full(len(ids), -1, dtype=np.int64),
                    "positions": pd.Series([None] * len(ids), dtype=object),
                    "doc_len": np.concatenate(doc_lens),
                }
            )

    from ckanext_extractor_spark.operators.build import POSTINGS_SCHEMA

    schema = POSTINGS_SCHEMA
    return corpus.select("doc_id", "content", "lang").mapInPandas(kernel, schema)


def lineage_from_raw(raw: DataFrame, build_id: str) -> DataFrame:
    """The lineage rows of a raw tokenize output (possibly re-read from
    staging parquet): one per partition marker, decoded."""
    return raw.where(F.col("term").isNull() & (F.col("tf") >= 0)).select(
        F.lit(build_id).alias("build_id"),
        F.lit("tokenize").alias("stage"),
        F.col("doc_id").cast("int").alias("partition_id"),
        F.col("doc_len").alias("n_docs"),
        F.col("tf").alias("n_postings"),
        F.conv(F.hex(F.expr("substring(positions, 9, 8)")), 16, 10)
        .cast("long")
        .alias("bytes_in"),
        (
            F.conv(F.hex(F.expr("substring(positions, 1, 8)")), 16, 10).cast("long")
            / 1000.0
        ).alias("wall_sec"),
    ).withColumn(
        "files_per_sec", F.col("n_docs") / F.greatest(F.col("wall_sec"), F.lit(1e-3))
    ).withColumn(
        "bytes_per_sec", F.col("bytes_in") / F.greatest(F.col("wall_sec"), F.lit(1e-3))
    )

