"""Segment build: skew-aware shuffle + compressed posting-list encoding
(SURVEY.md B1/B2; reference analog: Lucene segment writes triggered by
`search.rebuild`, tasks.py:110 — here owned natively).

B1 — postings shuffle.  Postings repartition by `term_bucket =
pmod(xxhash64(term), n_buckets)`, where `n_buckets` is the generation's
own bucket count: the engine sizes it to the generation's tokens (one
bucket per `ExtractorEngine.TOKENS_PER_BUCKET`, capped by the index-level
`n_buckets`) and records it in the generation's `index_meta.json` entry,
so a small generation writes a few files, not one per bucket of the cap.
Hot terms (df above `salt_threshold`) additionally split by
`pmod(xxhash64(doc_id), salt_factor)` so no single task owns a whole hot
posting list while encoding: the north rule's
"repartition by term hash with salting for skewed terms".  The salt factor
per term comes from the dictionary (a broadcast join — dictionary
cardinality ≪ postings).

B2 — per-(bucket, salt) `mapInArrow` encodes each term's postings with
the delta+varbyte codec + block-max metadata (operators/codec.py). Postings
store doc ORDINALS into the generation's sorted doc-id array, which the
kernel receives by broadcast together with the doc lengths.  A
salted hot term yields one segment row per salt shard; shards carry
`salt_id` and are merged at read time (doc-id ranges of shards may
interleave; the decoder re-sorts — determinism comes from the codec's
internal doc_id sort, pinned by test_encoding_is_order_independent).

Output table `segments`:
    (term, term_bucket, salt_id, n_postings, blob binary,
     block_last_doc array<long>, block_max_tfn array<double>,
     block_offs array<long>)
block_last_doc holds doc ordinals; all three block arrays are empty for a
list of at most one block (codec.py).
written by `write_segments` as Parquet partitioned by term_bucket ->
query-time partition pruning reads only the buckets of the query's terms,
hashed with the generation's bucket count.
Pages are zstd and `blob` carries no column statistics (fsio's
PARQUET_WRITE_OPTIONS); `term` keeps min/max for row-group pruning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ckanext_extractor_spark.fsio import write_table
from ckanext_extractor_spark.operators.build import BM25_B, BM25_K1
from ckanext_extractor_spark.operators.codec import (
    GenDocs,
    _position_blobs,
    encode_posting_lists_grouped,
)

SEGMENT_SCHEMA = (
    "term string, term_bucket int, salt_id int, n_postings long, "
    "blob binary, block_last_doc array<long>, block_max_tfn array<double>, "
    "block_offs array<long>"
)
# kernel output before Catalyst re-attaches term_bucket (see encode_segments)
KERNEL_SCHEMA = (
    "term string, salt_id int, n_postings long, "
    "blob binary, block_last_doc array<long>, block_max_tfn array<double>, "
    "block_offs array<long>"
)

DEFAULT_SALT_THRESHOLD = 100_000  # df above which a term's encode is sharded


def salted_postings(
    postings: DataFrame,
    dictionary: DataFrame,
    n_buckets: int = 64,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
) -> DataFrame:
    """Attach (term_bucket, salt_id) using df-driven salt factors."""
    salt = dictionary.select(
        "term",
        F.greatest(
            F.lit(1), F.ceil(F.col("df") / F.lit(salt_threshold)).cast("int")
        ).alias("salt_factor"),
    )
    return (
        postings.join(F.broadcast(salt), "term")
        .withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
        .withColumn(
            "salt_id",
            F.pmod(F.xxhash64("doc_id"), F.col("salt_factor")).cast("int"),
        )
    )


def salted_postings_auto(
    postings: DataFrame,
    n_buckets: int = 64,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
) -> DataFrame:
    """salted_postings without a precomputed dictionary: the broadcast
    side is ONLY the hot terms (df > salt_threshold — usually a handful),
    cold terms default to salt_factor 1 via the left join, and the
    salt_factor column is dropped before the big exchange (it would ride
    every posting row through the shuffle otherwise)."""
    hot = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > salt_threshold)
        .select(
            "term",
            F.ceil(F.col("df") / F.lit(salt_threshold)).cast("int").alias(
                "_salt_factor"
            ),
        )
    )
    return (
        postings.join(F.broadcast(hot), "term", "left")
        .withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
        .withColumn(
            "salt_id",
            F.pmod(
                F.xxhash64("doc_id"),
                F.coalesce(F.col("_salt_factor"), F.lit(1)),
            ).cast("int"),
        )
        .drop("_salt_factor")
    )


def with_position_blobs(postings: DataFrame) -> DataFrame:
    """``postings`` with its ``positions`` arrays (sorted in-doc
    positions, as a segment decode returns them) turned into the varbyte
    gap blobs of ``POSTINGS_SCHEMA``, the form the encode kernel reads."""
    schema = T.StructType([
        T.StructField("positions", T.BinaryType()) if f.name == "positions"
        else f
        for f in postings.schema
    ])

    def blobs(batches):
        for pdf in batches:
            yield pdf.assign(positions=_position_blobs(pdf["positions"]))

    return postings.mapInPandas(blobs, schema)


def encode_segments(
    salted: DataFrame,
    docs: GenDocs,
    k1: float = BM25_K1,
    b: float = BM25_B,
    with_positions: bool = True,
    n_tasks: int | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Encode posting blobs: repartition by (term_bucket, salt_id), then a
    mapInArrow kernel that sorts and encodes each partition in one
    vectorized pass. ``docs`` is the generation's doc set (every posting's
    doc must be in it); it is broadcast once, and the kernel maps doc ids
    to ordinals by ``searchsorted`` and takes doc lengths from it. Block
    maxima use the generation's own avgdl (``docs.avgdl``), so segment
    bytes depend on nothing but the generation.

    The exchange payload is SLIM by design: term_bucket and salt_id act
    only as repartition KEY EXPRESSIONS (projected away before the
    shuffle), and doc_len stays out of it (the broadcast doc set carries
    it) — the post-shuffle UnsafeRow->Arrow transpose that feeds
    mapInArrow costs per CELL, so 4 columns (term, doc_id, tf,
    positions) instead of 7 is the single biggest lever on the encode
    stage's wall time AND its multi-worker scaling (the transpose is
    memory-bandwidth-bound). The kernel recovers grouping from the term
    column alone; `salt_id` in the output becomes the task's partition id
    (deterministic under fixed partitioning) — shards of a hot term land
    in different tasks via the salt key expression, and read-time shard
    merging (wand.term_postings_from_rows) already accepts any sharding.
    `term_bucket` is re-attached by Catalyst AFTER the kernel, on the
    ~#groups-sized output, with the same pmod(xxhash64(term), n_buckets)
    the query-time pruner uses.

    Why the term STRING rides every posting row: an exchange keyed by
    xxhash64(term), with each term string shipped once per shard as a
    sentinel row, wrote the same segment rows but was slower on a 4-vCPU
    host (encode + write: 1.77 s vs 2.29 s at 4k files, 7.55 s vs 9.24 s
    at 40k), and it needed an in-kernel collision check and a retry.

    Why not groupBy().applyInPandas: it materializes each group as ONE
    pandas frame of python objects — measured to thrash the allocator and
    anti-scale with workers.

    Why the kernel sorts (numpy lexsort over int arrays), not
    sortWithinPartitions: Spark's UnsafeRow sort copies every row into
    sort buffers and back, then re-serializes to Arrow — measured as the
    dominant, memory-bandwidth-bound, WORST-scaling stage of the whole
    build. Rows leave the kernel term-lexically sorted, so the engine
    writes partitionBy(term_bucket) with NO further exchange while
    keeping row-group min/max pruning on `term`.

    Why Arrow, not pandas: positions stay ONE contiguous buffer sliced per
    term by offsets (codec pos_data/pos_offsets path); only the ~#terms
    group heads ever become python strings. No per-row python objects
    exist anywhere in the kernel.

    Partition memory is bounded by construction: _encode_tasks sizes the
    exchange to ~ENCODE_ROWS_PER_TASK rows/task and df-driven salting
    caps any single (bucket, salt) key, so "the whole partition" is tens
    of MB, same order as one sort buffer.

    ``n_buckets`` is the generation's bucket count and MUST equal the
    one given to salted_postings and to query-time pruning
    (read_segments, segread.read_segment_rows) — it re-derives the
    term_bucket partition column on the kernel output."""

    docs_bc = salted.sparkSession.sparkContext.broadcast(docs)
    avgdl = docs.avgdl

    def encode_stream(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("term", pa.string()),
                ("salt_id", pa.int32()),
                ("n_postings", pa.int64()),
                ("blob", pa.binary()),
                ("block_last_doc", pa.list_(pa.int64())),
                ("block_max_tfn", pa.list_(pa.float64())),
                ("block_offs", pa.list_(pa.int64())),
            ]
        )

        def binary_buffer(arr: "pa.Array"):
            """(data memoryview, absolute per-row offsets) of a
            Binary/LargeBinary chunk, honoring the chunk's slice offset."""
            odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
            off = arr.offset
            offsets = np.frombuffer(arr.buffers()[1], dtype=odt)[
                off : off + len(arr) + 1
            ].astype(np.int64)
            data = memoryview(arr.buffers()[2])
            return data, offsets

        acc = []
        for rb in batches:
            if rb.num_rows:
                acc.append(rb)
        if not acc:
            return
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc else 0
        tbl = pa.Table.from_batches(acc)
        acc = None
        # 32-bit-offset string/binary columns cap a single chunk's payload
        # at ~2 GiB — combine_chunks on a partition whose term/positions
        # bytes exceed that either errors or stays multi-chunk, and the
        # kernel's chunk(0) reads would then silently drop rows (ADVICE
        # r2, segments.py:210). Casting to 64-bit-offset large types makes
        # combine_chunks single-chunk by construction — but the cast
        # rebuilds offset arrays for every row, so it runs ONLY when a
        # column is actually near the limit (ordinary data-sized
        # partitions are ~64 MB and never pay it).
        LARGE_CUTOFF = 1_800_000_000  # < 2^31, with offset-array headroom
        if any(
            (pa.types.is_string(f.type) or pa.types.is_binary(f.type))
            and tbl.column(f.name).nbytes > LARGE_CUTOFF
            for f in tbl.schema
        ):
            tbl = tbl.cast(
                pa.schema(
                    [
                        pa.field(f.name, pa.large_string())
                        if pa.types.is_string(f.type)
                        else pa.field(f.name, pa.large_binary())
                        if pa.types.is_binary(f.type)
                        else f
                        for f in tbl.schema
                    ]
                )
            )
        tbl = tbl.combine_chunks()
        import pyarrow.compute as pc

        gd = docs_bc.value
        docs_all = tbl.column("doc_id").chunk(0).to_numpy()
        tfs_all = tbl.column("tf").chunk(0).to_numpy()
        denc = tbl.column("term").chunk(0).dictionary_encode()
        # LEXICAL term codes (not raw dictionary codes): the kernel's
        # output is written partitionBy(term_bucket) with no further
        # exchange, so the row order here IS the file order — lexical
        # order gives parquet row-group min/max pruning on `term` at
        # read time. Ranking costs one string sort over the ~#unique
        # terms of the partition, never over the posting rows.
        dict_order = pc.sort_indices(denc.dictionary)
        rank = np.empty(len(denc.dictionary), dtype=np.int64)
        rank[dict_order.to_numpy()] = np.arange(len(denc.dictionary))
        codes = rank[denc.indices.to_numpy()]
        # grouped sort: term (lexical), doc ordinal within. Shards of the
        # same term that hash-collide into this task merge into one
        # group — read-time shard merging makes that equivalent (and
        # the codec sorts per group, so the blob is deterministic
        # either way).
        ords = gd.ordinals(docs_all)
        order = np.lexsort((ords, codes))
        ords_s = ords[order]
        codes = codes[order]
        sorted_dict = pc.take(denc.dictionary, dict_order).cast(pa.string())
        # per-column numpy gathers instead of a full-table Arrow take:
        # a table take would copy EVERY posting row's term string, but
        # only group heads ever need one — positions is the lone column
        # whose bytes genuinely must be gathered (memory bandwidth is
        # this kernel's scaling ceiling at >1 concurrent worker)
        tfs_s = tfs_all[order].astype(np.int64)
        change = codes[1:] != codes[:-1]
        bounds = np.flatnonzero(change) + 1
        g_starts = np.concatenate(([0], bounds))
        g_ends = np.concatenate((bounds, [len(ords_s)]))
        if with_positions:
            pos_data, pos_offsets = binary_buffer(
                tbl.column("positions").chunk(0).take(
                    pa.array(order, type=pa.int64())
                )
            )
        else:
            pos_data, pos_offsets = None, None
        blobs, ns, blk_cum, last, max_tfn, offs = encode_posting_lists_grouped(
            ords_s, tfs_s, gd.doc_lens[ords_s],
            None,
            g_starts, g_ends, avgdl, k1=k1, b=b,
            pos_data=pos_data, pos_offsets=pos_offsets,
        )
        blk_off = pa.array(blk_cum, type=pa.int32())
        # group-head term strings: codes are lexical ranks into the
        # sorted dictionary, so one ~#groups-sized take resolves them
        yield pa.record_batch(
            [
                pc.take(
                    sorted_dict, pa.array(codes[g_starts], type=pa.int64())
                ),
                pa.array(
                    np.full(len(g_starts), pid, dtype=np.int32),
                    type=pa.int32(),
                ),
                pa.array(ns, type=pa.int64()),
                pa.array(blobs, type=pa.binary()),
                pa.ListArray.from_arrays(blk_off, pa.array(last)),
                pa.ListArray.from_arrays(blk_off, pa.array(max_tfn)),
                pa.ListArray.from_arrays(
                    pa.array(2 * blk_cum, type=pa.int32()), pa.array(offs)
                ),
            ],
            schema=out_schema,
        )

    nt = n_tasks or salted.sparkSession.conf.get("spark.sql.shuffle.partitions")
    cols = [F.col("term"), F.col("doc_id"), F.col("tf").cast("long").alias("tf")]
    if with_positions:
        cols.append(F.col("positions"))
    arranged = salted.repartition(int(nt), "term_bucket", "salt_id").select(*cols)
    encoded = arranged.mapInArrow(encode_stream, schema=KERNEL_SCHEMA)
    return encoded.withColumn(
        "term_bucket",
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
    )


def write_segments(segments: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist `encode_segments` output partitioned by term_bucket
    (query-time partition pruning), under the index's Parquet write policy.

    The engine's only segment writer. It writes straight from the encode
    tasks, with no second exchange: the encode shuffle is keyed by
    (term_bucket, salt_id), so a bucket gets one file per encode task that
    holds any of its (bucket, salt) keys — at most (generation bucket
    count × encode tasks) files, each with a fixed open/footer cost, which
    is why the engine sizes the bucket count to the generation. Rows leave
    the kernel term-lexical within each task, so min/max on `term` prunes
    row groups at read."""
    write_table(segments, path, mode=mode, partition_by="term_bucket")


def read_segments(spark, path: str, terms: list[str] | None = None,
                  n_buckets: int = 64) -> DataFrame:
    """Read back, pruning to the buckets of `terms` when given;
    ``n_buckets`` is the bucket count the generation was written with.

    Only the ``term_bucket=<b>`` directories of the terms' buckets are
    read, as explicit paths under ``basePath`` with the schema given: the
    other buckets are never listed and no footer is read for schema
    inference. A bucket with no directory holds none of the terms. The
    residual term IN filter prunes row groups via parquet min/max on
    `term`.
    """
    reader = spark.read.schema(SEGMENT_SCHEMA)
    if not terms:
        return reader.parquet(path)
    from ckanext_extractor_spark.fsio import FsIO

    fs = FsIO(spark, path)
    hashes = _xxhash64_strs(list(terms))
    dirs = [
        d for d in (
            f"{path.rstrip('/')}/term_bucket={b}"
            for b in sorted({hashes[t] % n_buckets for t in terms})
        )
        if fs.exists(d)
    ]
    if not dirs:
        return spark.createDataFrame([], SEGMENT_SCHEMA)
    return (
        reader.option("basePath", path).parquet(*dirs)
        .where(F.col("term").isin(terms))
    )


_XXHASH_CACHE: dict[str, int] = {}


def _xxhash64_strs(strings: list[str]) -> dict[str, int]:
    """Driver-side xxhash64 matching Spark's `xxhash64(string)` (seed 42).

    Computes bucket ids for partition pruning at query time. Optimization
    r6: pure-python XXH64 (analysis/xxh64.py, identity vs the JVM
    expression pinned by tests/test_xxh64.py) replaces the per-batch
    createDataFrame+collect Spark job — the hash is on every cold query's
    critical path and the JVM round-trip dominated it."""
    missing = [s for s in strings if s not in _XXHASH_CACHE]
    if missing:
        from ckanext_extractor_spark.analysis.xxh64 import xxh64_str

        for s in missing:
            _XXHASH_CACHE[s] = xxh64_str(s)
    return {s: _XXHASH_CACHE[s] for s in strings}
