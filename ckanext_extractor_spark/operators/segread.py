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

A warmed engine holds its segment rows in one :class:`SegmentStore` per
index state: every generation's segment table read as Arrow, stable-
sorted by term and kept columnar (numpy columns, one blob buffer, flat
block arrays with offsets). Only the rows of the terms a query asks for
ever become dicts, with the same fields a cold read returns; the
vocabulary-wide reads (expansions, df sums, ``terms()``) go through its
sorted term array and per-term df. The engine sizes it from the footers
(``FsIO.parquet_data_bytes``) before loading it.
"""

from __future__ import annotations

import os
from bisect import bisect_left
from typing import Iterable

import numpy as np

from ckanext_extractor_spark.analysis.xxh64 import xxh64_str

#: the columns of a segment row as the driver-side reads return them
SEGMENT_ROW_COLUMNS = (
    "term", "salt_id", "n_postings", "blob", "block_last_doc",
    "block_max_tfn", "block_offs", "term_bucket",
)


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
        return read_segment_table(lp, columns).to_pylist()
    dataset = _bucket_dataset(lp, buckets_for_terms(terms, n_buckets))
    if dataset is None:
        return []
    return dataset.to_table(
        filter=pads.field("term").isin(list(terms)), columns=columns
    ).to_pylist()


def read_segment_table(path: str, columns: "list[str] | None" = None):
    """One generation's whole segment table as one Arrow table (pyarrow,
    local FS only), ``term_bucket`` parsed from the hive dir names."""
    import pyarrow.dataset as pads

    dataset = pads.dataset(
        _local_path(path), format="parquet", partitioning="hive"
    )
    return dataset.to_table(columns=columns)


def _prefix_upper(prefix: str) -> "str | None":
    """The least string above every string that starts with ``prefix``
    (None: no bound)."""
    p = prefix.rstrip("\U0010ffff")
    return p[:-1] + chr(ord(p[-1]) + 1) if p else None


class SegmentStore:
    """One index state's segment rows, held columnar on the driver.

    Built from each generation's segment table as Arrow, in generation
    order. The rows are stable-sorted by term, so a term's rows keep their
    generation-then-file order. ``terms`` is the sorted vocabulary (a
    list: a term lookup is one C-level bisection, cheaper than a numpy
    search on strings); term ``i`` owns rows ``offsets[i]:offsets[i + 1]``,
    and ``df[i]`` is its ``n_postings`` summed over them (dead postings
    included, as in the rows' own metadata). Blobs live in one buffer and
    the three block arrays as flat values, each cut by per-row offsets.

    :meth:`rows` builds dicts for one term only, by numpy indexing: the
    fields of a cold read (``SEGMENT_ROW_COLUMNS``; block arrays as
    read-only numpy slices, blobs as bytes) plus the generation's
    ``gen_seq`` and live-masked GenDocs under ``docs``. Nothing here
    changes after construction; a new index state gets a new store."""

    _LISTS = ("block_last_doc", "block_max_tfn", "block_offs")

    def __init__(self, parts: "Iterable[tuple]"):
        """``parts``: one ``(table, gen_seq, docs)`` per generation, the
        table holding ``SEGMENT_ROW_COLUMNS``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = pa.schema([
            ("term", pa.large_string()),
            ("salt_id", pa.int32()),
            ("n_postings", pa.int64()),
            ("blob", pa.large_binary()),
            ("block_last_doc", pa.large_list(pa.int64())),
            ("block_max_tfn", pa.large_list(pa.float64())),
            ("block_offs", pa.large_list(pa.int64())),
            ("term_bucket", pa.int32()),
        ])
        tables, gens, self._gen_seq, self._docs = [], [], [], []
        for table, gen_seq, docs in parts:
            gens.append(np.full(table.num_rows, len(tables), np.int32))
            tables.append(table.select(schema.names).cast(schema))
            self._gen_seq.append(int(gen_seq))
            self._docs.append(docs)
        table = pa.concat_tables(tables) if tables else schema.empty_table()
        # Arrow's sort is stable: equal terms keep their input order
        order = pc.sort_indices(table, sort_keys=[("term", "ascending")])
        table = table.take(order)
        self._gen = (
            np.concatenate(gens)[order.to_numpy()] if gens
            else np.empty(0, np.int32)
        )

        def col(name):
            return table.column(name).combine_chunks()

        term = col("term")
        n = len(term)
        starts = np.empty(0, np.int64)
        if n:
            new_run = pc.not_equal(term[1:], term[:-1]).to_numpy(
                zero_copy_only=False
            )
            starts = np.concatenate(([0], np.flatnonzero(new_run) + 1))
        self.terms = term.take(pa.array(starts)).to_pylist()
        self.offsets = np.append(starts, n).astype(np.int64)
        self._salt_id = col("salt_id").to_numpy()
        self._n_postings = col("n_postings").fill_null(0).to_numpy()
        self._term_bucket = col("term_bucket").to_numpy()
        self.df = (
            np.add.reduceat(self._n_postings, starts) if n
            else np.empty(0, np.int64)
        )
        blob = col("blob")
        _, offs, data = blob.buffers()
        self._blob_offs = np.frombuffer(offs, np.int64)[
            blob.offset:blob.offset + n + 1
        ]
        self._blob = (
            np.frombuffer(data, np.uint8) if data is not None
            else np.empty(0, np.uint8)
        )
        self._lists = {}
        for name in self._LISTS:
            arr = col(name)
            self._lists[name] = (
                arr.offsets.to_numpy(),
                arr.values.to_numpy(zero_copy_only=False),
            )

    def index(self, term: str) -> int:
        """Position of ``term`` in ``terms``; -1 when absent."""
        i = bisect_left(self.terms, term)
        return i if i < len(self.terms) and self.terms[i] == term else -1

    def prefix_range(self, prefix: str) -> "tuple[int, int]":
        """The ``terms`` slice bounds of the terms starting with
        ``prefix``: two binary searches."""
        up = _prefix_upper(prefix)
        hi = len(self.terms) if up is None else bisect_left(self.terms, up)
        return bisect_left(self.terms, prefix), hi

    def df_of(self, terms: "Iterable[str]") -> "dict[str, int]":
        """Summed ``n_postings`` per term, 0 for a term with no row."""
        out = {}
        for t in terms:
            i = self.index(t)
            out[t] = int(self.df[i]) if i >= 0 else 0
        return out

    def rows(self, term: str) -> list[dict]:
        """``term``'s rows as dicts, in the store's row order."""
        i = self.index(term)
        if i < 0:
            return []
        out = []
        for j in range(self.offsets[i], self.offsets[i + 1]):
            g = self._gen[j]
            row = {
                "term": term,
                "salt_id": int(self._salt_id[j]),
                "n_postings": int(self._n_postings[j]),
                "blob": self._blob[
                    self._blob_offs[j]:self._blob_offs[j + 1]
                ].tobytes(),
            }
            for name, (offs, vals) in self._lists.items():
                row[name] = vals[offs[j]:offs[j + 1]]
            row["term_bucket"] = int(self._term_bucket[j])
            row["gen_seq"] = self._gen_seq[g]
            row["docs"] = self._docs[g]
            out.append(row)
        return out


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
