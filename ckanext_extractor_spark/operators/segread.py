"""Driver-side parquet reads for the serving point-lookup paths.

Optimization r6 (guide §1/§5): the engine's cold/lazy query paths end in
a driver-side ``collect()`` of a FEW bucket-pruned segment rows (or a
1-row stats table) — the data volume is point-lookup sized by
construction, but each lookup paid a full Spark job (plan + schedule +
collect ≈ 0.2-0.3 s on local[32]); measured, the cold-query latency was
~95% job overhead, ~5% read. When the index root is on a LOCAL
filesystem, these lookups are served by pyarrow directly: the same
files, the same partition/row-group pruning (only the ``term_bucket=N``
directories of the query terms' buckets are listed and opened, with the
bucket count the generation was written with; then parquet min/max
stats on the lexically-sorted ``term`` column), no JVM round-trip.
Non-local roots (hdfs://, s3a://) keep the Spark path — FsIO.is_local
is the single routing predicate.

This is an I/O-path swap, not a semantic change: rows come back as
dicts with exactly the columns the Spark ``collect()`` produced, and the
warm/cold parity tests plus the oracle battery pin result identity.

Scale note: every consumer of these reads was ALREADY bounded
(per-term segment rows, 1-row corpus_stats, the tombstone table the
live masks are built from) — the big match sets travel the distributed
DataFrame paths, which are untouched. The driver reads exactly the
bytes it previously collected.
"""

from __future__ import annotations

import os
from typing import Iterable

from ckanext_extractor_spark.analysis.xxh64 import xxh64_str


def _local_path(path: str) -> str:
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path or path
    return path


def buckets_for_terms(terms: Iterable[str], n_buckets: int) -> list[int]:
    """pmod(xxhash64(term), n_buckets) per term — pure driver, no JVM."""
    return sorted({xxh64_str(t) % n_buckets for t in terms})


def _bucket_dataset(lp: str, buckets: Iterable[int]):
    """A dataset over the part files of the ``term_bucket=<b>``
    directories of ``buckets`` only — the generation's other buckets are
    never listed — with ``term_bucket`` parsed from the directory names,
    as a hive-discovered read of the whole table returns it. None when
    no bucket has a directory (it holds no rows)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    files = []
    for b in buckets:
        d = os.path.join(lp, f"term_bucket={b}")
        if os.path.isdir(d):
            files.extend(
                os.path.join(d, f) for f in sorted(os.listdir(d))
                if not f.startswith(("_", "."))
            )
    if not files:
        return None
    return pads.dataset(
        files,
        format="parquet",
        partitioning=pads.partitioning(
            pa.schema([("term_bucket", pa.int32())]), flavor="hive"
        ),
        partition_base_dir=lp,
    )


def read_segment_rows(
    path: str,
    terms: list[str] | None,
    n_buckets: int,
    columns: list[str] | None = None,
) -> list[dict]:
    """One generation's segment rows as dicts (pyarrow, local FS only).

    Mirrors ``read_segments(...).collect()``: with ``terms``, only the
    files of the terms' buckets are opened (``n_buckets`` is the bucket
    count the generation was written with), and a residual exact
    ``term IN`` filter prunes row groups via parquet min/max on the
    lexically-sorted term column. Without terms, the whole table.
    """
    import pyarrow.dataset as pads

    lp = _local_path(path)
    if not os.path.isdir(lp):
        return []
    if not terms:
        dataset = pads.dataset(lp, format="parquet", partitioning="hive")
        return dataset.to_table(columns=columns).to_pylist()
    dataset = _bucket_dataset(lp, buckets_for_terms(terms, n_buckets))
    if dataset is None:
        return []
    return dataset.to_table(
        filter=pads.field("term").isin(list(terms)), columns=columns
    ).to_pylist()


def count_non_null(path: str, column: str) -> int:
    """Non-null values of ``column`` from parquet footer statistics: the
    sum over row groups of (rows - null count) — zero data pages read.
    Raises ValueError when a row group lacks the column's null count."""
    import pyarrow.dataset as pads

    total = 0
    ds = pads.dataset(_local_path(path), format="parquet", partitioning="hive")
    for frag in ds.get_fragments():
        md = frag.metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            cols = [rg.column(j) for j in range(rg.num_columns)]
            st = next(
                (c.statistics for c in cols if c.path_in_schema == column),
                None,
            )
            if st is None or not st.has_null_count:
                raise ValueError(f"no null count for {column!r} in {path}")
            total += rg.num_rows - st.null_count
    return total


def read_bucket_term_stats(path: str, bucket: int = 0) -> list[tuple]:
    """(term, n_postings) pairs of ONE term_bucket partition — metadata
    columns only, zero blob pages (serves warm()'s warming-term pick)."""
    lp = _local_path(path)
    dataset = _bucket_dataset(lp, [bucket]) if os.path.isdir(lp) else None
    if dataset is None:
        return []
    tbl = dataset.to_table(columns=["term", "n_postings"])
    return list(zip(tbl.column("term").to_pylist(),
                    tbl.column("n_postings").to_pylist()))


def read_small_table(path: str, columns: list[str] | None = None) -> list[dict]:
    """A whole (small) parquet table as dicts — corpus_stats.

    Only for tables the engine already materializes on the driver in
    full; bounded by the same budgets/thresholds as before.
    """
    import pyarrow.parquet as pq

    lp = _local_path(path)
    tbl = pq.read_table(lp, columns=columns)
    return tbl.to_pylist()


def read_tombstones(path: str):
    """The tombstone table's ``doc_id`` and ``seq`` columns as arrays."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(_local_path(path), columns=["doc_id", "seq"])
    return tbl.column("doc_id").to_numpy(), tbl.column("seq").to_numpy()


def read_gen_docs(path: str):
    """A generation's ``gens/<g>/docs`` table as a GenDocs."""
    import pyarrow.parquet as pq

    from ckanext_extractor_spark.operators.codec import GenDocs

    tbl = pq.read_table(_local_path(path), columns=["doc_id", "doc_len"])
    return GenDocs.of(
        tbl.column("doc_id").to_numpy(), tbl.column("doc_len").to_numpy()
    )


def read_doc_markers(staging: str):
    """The per-doc marker rows (``tf == -1``: doc_id, doc_len) of a
    tokenize staging dir as a GenDocs. Batches stream through the filter,
    so only the marker rows are ever held, never the posting rows."""
    import numpy as np
    import pyarrow.dataset as pads

    from ckanext_extractor_spark.operators.codec import GenDocs

    ds = pads.dataset(_local_path(staging), format="parquet")
    ids, lens = [], []
    for rb in ds.to_batches(
        columns=["doc_id", "doc_len"], filter=pads.field("tf") == -1
    ):
        ids.append(rb.column("doc_id").to_numpy())
        lens.append(rb.column("doc_len").to_numpy())
    if not ids:
        return GenDocs.of([], [])
    return GenDocs.of(np.concatenate(ids), np.concatenate(lens))
