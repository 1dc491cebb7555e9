"""Driver-side parquet reads for the serving point-lookup paths.

Optimization r6 (guide §1/§5): the engine's cold/lazy query paths end in
a driver-side ``collect()`` of a FEW bucket-pruned segment rows (or a
1-row stats table) — the data volume is point-lookup sized by
construction, but each lookup paid a full Spark job (plan + schedule +
collect ≈ 0.2-0.3 s on local[32]); measured, the cold-query latency was
~95% job overhead, ~5% read. When the index root is on a LOCAL
filesystem, these lookups are served by pyarrow directly: the same
files, the same partition/row-group pruning (hive ``term_bucket=N``
directories + parquet min/max stats on the lexically-sorted ``term``
column), no JVM round-trip. Non-local roots (hdfs://, s3a://) keep the
Spark path — FsIO.is_local is the single routing predicate.

This is an I/O-path swap, not a semantic change: rows come back as
dicts with exactly the columns the Spark ``collect()`` produced, and the
warm/cold parity tests plus the oracle battery pin result identity.

Scale note: every consumer of these reads was ALREADY bounded
(per-term segment rows, 1-row corpus_stats, tombstone backlog below the
closure threshold) — the big match sets travel the distributed
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


def read_segment_rows(
    path: str,
    terms: list[str] | None,
    n_buckets: int,
    gen_seq: int,
    columns: list[str] | None = None,
) -> list[dict]:
    """One generation's segment rows as dicts (pyarrow, local FS only).

    Mirrors ``read_segments(...).collect()``: hive partition pruning on
    ``term_bucket`` for the query terms' buckets, residual exact
    ``term IN`` filter (row-group pruned via parquet min/max on the
    lexically-sorted term column), ``gen_seq`` attached. Generations
    written before ``block_offs`` existed yield ``block_offs=None`` rows
    (the allowMissingColumns contract of the Spark union).
    """
    import pyarrow.dataset as pads

    lp = _local_path(path)
    if not os.path.isdir(lp):
        return []
    dataset = pads.dataset(lp, format="parquet", partitioning="hive")
    filt = None
    if terms:
        buckets = buckets_for_terms(terms, n_buckets)
        filt = pads.field("term_bucket").isin(buckets) & pads.field(
            "term"
        ).isin(list(terms))
    names = dataset.schema.names
    want = columns if columns is not None else names
    present = [c for c in want if c in names]
    tbl = dataset.to_table(filter=filt, columns=present)
    rows = tbl.to_pylist()
    missing = [c for c in want if c not in names]
    for r in rows:
        for c in missing:
            r[c] = None
        r["gen_seq"] = gen_seq
    return rows


def count_rows(path: str) -> int:
    """Row count from parquet footer metadata — zero data pages read."""
    import pyarrow.dataset as pads

    lp = _local_path(path)
    return int(
        pads.dataset(lp, format="parquet", partitioning="hive").count_rows()
    )


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
    import pyarrow.dataset as pads

    lp = _local_path(path)
    if not os.path.isdir(lp):
        return []
    dataset = pads.dataset(lp, format="parquet", partitioning="hive")
    tbl = dataset.to_table(
        filter=pads.field("term_bucket") == bucket,
        columns=["term", "n_postings"],
    )
    return list(zip(tbl.column("term").to_pylist(),
                    tbl.column("n_postings").to_pylist()))


def read_small_table(path: str, columns: list[str] | None = None) -> list[dict]:
    """A whole (small) parquet table as dicts — corpus_stats, tombstones.

    Only for tables the engine already materializes on the driver in
    full; bounded by the same budgets/thresholds as before.
    """
    import pyarrow.parquet as pq

    lp = _local_path(path)
    tbl = pq.read_table(lp, columns=columns)
    return tbl.to_pylist()
