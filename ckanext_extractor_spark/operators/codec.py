"""Delta + varbyte posting-list codec with block-max metadata (SURVEY.md B2).

Reference analog: the Lucene segment format ckanext-extractor relies on via
Solr (postings live inside Lucene after `search.rebuild`, tasks.py:110).
Here the codec is a vectorized numpy kernel used inside `mapInArrow`
per term bucket — no per-row Python.

Doc ordinals and norms (Lucene's segment-local docIDs and per-doc norms):
each generation keeps its sorted doc-id array and the doc lengths aligned
with it (:class:`GenDocs`, stored as ``gens/<g>/docs``). A posting stores
its doc's ORDINAL in that array, so gaps between postings are small
integers instead of ~2^52 gaps between xxhash64 ids, and ``doc_len`` is
stored once per doc instead of once per posting. Ordinals follow doc-id
order, so decoded lists come back sorted by doc id, exactly as before.

Layout of one encoded posting list (all little-endian):
    varbyte( n_postings )
    varbyte( ord_gap_0 ... ord_gap_{n-1} )   # ord_0, then deltas
    varbyte( tf_0 ... tf_{n-1} )
    varbyte( n_positions_total )
    varbyte( position-gaps, per doc, positions delta-encoded within doc )

Block-max metadata is kept OUTSIDE the blob as arrays, one entry per
BLOCK_SIZE postings: ``block_last_doc`` (the block's last doc ORDINAL),
``block_max_tfn`` and ``block_offs`` (the byte offsets of the block's
first gap and first tf in the blob, flattened pairs), where
tfn = tf / (tf + k1*(1-b+b*dl/avgdl)) is the doc-length-normalized tf
part of BM25 — max over the block gives the WAND upper bound when
multiplied by idf*(k1+1) at query time. A list of at most one block
writes all three arrays EMPTY: readers treat it as one block and decode
it whole.

Determinism: encoding is a pure function of the (doc_id-sorted) posting
list and its generation's doc set, so segment bytes are independent of
partitioning/shuffle order — pinned by checksum tests.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK_SIZE = 128


class GenDocs(NamedTuple):
    """One generation's doc ids (sorted ascending, unique) and the doc
    lengths aligned with them. Posting ordinals index both arrays.

    ``live`` is the generation's live-docs mask over its ordinals
    (Lucene's per-segment liveDocs): a bool per doc, or None when every
    doc is live. The ordinal-resolving decodes below drop the postings
    of dead ordinals themselves; :func:`live_masks` builds the masks."""

    doc_ids: np.ndarray
    doc_lens: np.ndarray
    live: "np.ndarray | None" = None

    @classmethod
    def of(cls, doc_ids, doc_lens) -> "GenDocs":
        """From unsorted (doc_id, doc_len) pairs; a repeated id keeps its
        first length."""
        ids, first = np.unique(
            np.asarray(doc_ids, dtype=np.int64), return_index=True
        )
        return cls(ids, np.asarray(doc_lens, dtype=np.int64)[first])

    @property
    def avgdl(self) -> float:
        """Mean doc length of the generation (1.0 when it has no tokens):
        the avgdl its block-max metadata is encoded with."""
        total = float(self.doc_lens.sum())
        return total / self.doc_lens.size if total > 0 else 1.0

    def ordinals(self, ids: np.ndarray) -> np.ndarray:
        """Ordinals of ``ids``; raises ValueError when one is not a doc of
        this generation (a posting with no per-doc entry)."""
        ids = np.asarray(ids, dtype=np.int64)
        ords = np.searchsorted(self.doc_ids, ids)
        if ids.size and (
            int(ords.max()) >= self.doc_ids.size
            or not np.array_equal(self.doc_ids[ords], ids)
        ):
            raise ValueError("posting for a doc outside its generation's doc set")
        return ords

    def live_at(self, ords: np.ndarray) -> "np.ndarray | None":
        """Mask of the live entries of ``ords``; None when all are live."""
        if self.live is None:
            return None
        keep = self.live[ords]
        return None if keep.all() else keep


def live_masks(
    gens: "list[tuple[int, GenDocs]]",
    tomb_ids: np.ndarray,
    tomb_seqs: np.ndarray,
) -> "list[GenDocs]":
    """``gens`` ((seq, GenDocs) per generation) with their live masks set.

    A doc ``d`` of a generation with seq ``s`` is live iff no tombstone
    ``(d, t)`` has ``t > s`` and no generation with a seq above ``s``
    holds ``d`` (the newest generation holding a doc owns it). Both are
    one rule: every generation contributes ``(d, seq)`` for its docs
    beside the tombstone rows, and ``d`` is dead in every generation
    older than its largest such seq. Masks that would be all True stay
    None."""
    tomb_ids = np.asarray(tomb_ids, dtype=np.int64)
    if len(gens) <= 1 and tomb_ids.size == 0:
        return [docs for _, docs in gens]
    ids = np.concatenate([tomb_ids] + [docs.doc_ids for _, docs in gens])
    seqs = np.concatenate(
        [np.asarray(tomb_seqs, dtype=np.int64)]
        + [np.full(docs.doc_ids.size, s, dtype=np.int64) for s, docs in gens]
    )
    order = np.lexsort((seqs, ids))
    ids, seqs = ids[order], seqs[order]
    last = np.ones(ids.size, dtype=bool)
    last[:-1] = ids[1:] != ids[:-1]
    owner_ids, owner_seqs = ids[last], seqs[last]
    out = []
    for s, docs in gens:
        idx = np.searchsorted(owner_ids, docs.doc_ids)
        live = owner_seqs[idx] <= s
        out.append(docs._replace(live=None if live.all() else live))
    return out


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128-style varbyte encode of a uint64 array."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """varbyte encode + per-value byte lengths (for callers that slice the
    buffer into sub-ranges, e.g. per-group position blobs)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.array([], dtype=np.int64)
    # byte length per value: number of 7-bit groups, at least 1
    lengths = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        lengths += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    total = int(lengths.sum())
    out = np.empty(total, dtype=np.uint8)
    # write each value's bytes: low 7 bits first, continuation bit on all
    # but the last byte of each value
    ends = np.cumsum(lengths)
    starts = ends - lengths
    max_len = int(lengths.max())
    shifted = v.copy()
    for b in range(max_len):
        mask = lengths > b
        idx = starts[mask] + b
        byte = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        is_last = lengths[mask] == b + 1
        byte = byte | np.where(is_last, 0, 0x80).astype(np.uint8)
        out[idx] = byte
        shifted[mask] = shifted[mask] >> np.uint64(7)
    return out.tobytes(), lengths


def varbyte_decode(buf: bytes, offset: int = 0, count: int | None = None):
    """Decode `count` varbyte values (or all) from buf[offset:].
    Returns (values: np.ndarray[uint64], next_offset)."""
    raw = np.frombuffer(buf, dtype=np.uint8, offset=offset)
    if count is not None:
        # a uint64 takes at most 10 bytes: never scan the streams after
        # the requested values (a list's position bytes dwarf its header)
        raw = raw[: 10 * count]
    if raw.size == 0:
        return np.array([], dtype=np.uint64), offset
    is_last = (raw & 0x80) == 0
    # positions of value terminators; the n-th terminator bounds our read.
    # A short read returns what's there (callers that need an exact count
    # check the returned size)
    last_idx = np.flatnonzero(is_last)
    if count is not None:
        last_idx = last_idx[:count]
    n = last_idx.size
    if n == 0:
        return np.array([], dtype=np.uint64), offset
    end = int(last_idx[-1]) + 1
    seg = raw[:end]
    if end == n:  # every value is one byte
        return seg.astype(np.uint64), offset + end
    # value id per byte = number of terminators strictly before the byte
    vid = np.zeros(end, dtype=np.int64)
    vid[1:] = np.cumsum(is_last[: end - 1])
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = last_idx[:-1] + 1
    # byte significance within its value; the 7-bit groups of one value
    # never overlap, so their sum is their OR
    sig = np.arange(end, dtype=np.int64) - starts[vid]
    contrib = (seg.astype(np.uint64) & np.uint64(0x7F)) << (7 * sig).astype(
        np.uint64
    )
    return np.add.reduceat(contrib, starts), offset + end


def _position_blobs(positions: "list[np.ndarray]") -> list[bytes]:
    """Per-posting varbyte blobs of within-doc position gaps (the form the
    tokenize kernel emits)."""
    out = []
    for p in positions:
        p = np.asarray(p, dtype=np.int64)
        d = np.empty_like(p)
        if p.size:
            d[0] = p[0]
            d[1:] = np.diff(p)
        out.append(varbyte_encode(d.astype(np.uint64)))
    return out


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: list[np.ndarray] | None,
    docs: GenDocs,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
    positions_blobs: list[bytes] | None = None,
):
    """Encode ONE term's postings (sorted internally by doc_id ascending)
    against its generation's ``docs``. Returns dict with blob + block-max
    arrays.

    Positions come in either as raw arrays (``positions``: re-encoded
    here) or as PRE-ENCODED per-posting varbyte gap blobs
    (``positions_blobs``, the form the tokenize kernel produces). This is
    the one-group case of :func:`encode_posting_lists_grouped`."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    ords = docs.ordinals(doc_ids[order])
    if positions_blobs is None and positions is not None and len(positions):
        positions_blobs = _position_blobs(positions)
    pos = (
        None if positions_blobs is None
        else [positions_blobs[i] for i in order]
    )
    n = len(ords)
    blobs, _, blk_cum, last, max_tfn, offs = encode_posting_lists_grouped(
        ords,
        np.asarray(tfs, dtype=np.int64)[order],
        docs.doc_lens[ords],
        pos,
        np.array([0]),
        np.array([n]),
        avgdl,
        k1=k1,
        b=b,
        block_size=block_size,
    )
    return {
        "blob": blobs[0],
        "n_postings": n,
        "block_last_doc": last,
        "block_max_tfn": max_tfn,
        "block_offs": offs,
    }


def encode_posting_lists_grouped(
    ords: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    pos_blobs: np.ndarray | None,
    g_starts: np.ndarray,
    g_ends: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = BLOCK_SIZE,
    pos_data: "bytes | memoryview | None" = None,
    pos_offsets: np.ndarray | None = None,
):
    """Encode MANY terms' posting lists in one vectorized pass.

    Inputs are row arrays sorted by (term, doc ordinal); term i owns rows
    [g_starts[i], g_ends[i]) and groups are contiguous+covering.
    ``doc_lens`` are the rows' doc lengths (block-max metadata only; the
    blob does not store them). Each varbyte stream (ordinal gaps, tfs,
    counts) is encoded ONCE for the whole task and sliced per term by
    byte-length prefix sums — the per-term python work is byte
    concatenation only.

    Why: per-term encoding costs ~0.8 ms/term in numpy fixed overhead
    (several tiny varbyte calls); a segment task owns 10^4..10^5 terms,
    so per-term overhead dominated the entire segment stage.

    Position payloads come in one of two forms:
      * ``pos_blobs``: object array of per-row bytes;
      * ``pos_data`` + ``pos_offsets``: ONE contiguous byte buffer and
        absolute per-row byte offsets (len n_rows+1) — the Arrow-native
        zero-copy path (mapInArrow hands the BinaryArray's data buffer
        straight through; no per-row python objects exist at all).

    Returns ``(blobs, ns, blk_cum, block_last_doc, block_max_tfn,
    block_offs)``: term i's block arrays are ``block_last_doc[blk_cum[i]:
    blk_cum[i+1]]`` and the same range of ``block_max_tfn``, and
    ``block_offs[2*blk_cum[i]:2*blk_cum[i+1]]``; the range is empty for a
    list of at most one block."""
    n_terms = len(g_starts)
    has_pos = pos_blobs is not None or pos_data is not None
    ns = (g_ends - g_starts).astype(np.int64)
    u = np.asarray(ords, dtype=np.int64).astype(np.uint64)
    gaps = np.empty_like(u)
    gaps[1:] = u[1:] - u[:-1]
    gaps[g_starts] = u[g_starts]

    buf_ns, len_ns = varbyte_encode_with_lengths(ns.astype(np.uint64))
    buf_gaps, len_gaps = varbyte_encode_with_lengths(gaps)
    buf_tfs, len_tfs = varbyte_encode_with_lengths(tfs.astype(np.uint64))
    if has_pos:
        npos = np.add.reduceat(tfs, g_starts)
    else:
        npos = np.zeros(n_terms, dtype=np.int64)
    buf_npos, len_npos = varbyte_encode_with_lengths(npos.astype(np.uint64))

    def prefix(lengths):
        return np.concatenate(([0], np.cumsum(lengths)))

    cum_gaps, cum_tfs = prefix(len_gaps), prefix(len_tfs)
    cum_ns, cum_np = prefix(len_ns), prefix(len_npos)
    gs_b, ge_b = cum_gaps[g_starts], cum_gaps[g_ends]
    ts_b, te_b = cum_tfs[g_starts], cum_tfs[g_ends]
    if pos_data is not None:
        # Arrow zero-copy path: slice the shared buffer by row offsets
        pos_buf = pos_data if isinstance(pos_data, memoryview) else memoryview(pos_data)
        ps_b = pos_offsets[g_starts]
        pe_b = pos_offsets[g_ends]
    elif pos_blobs is not None:
        # ONE join of all per-row position blobs, sliced per term by byte
        # prefix sums — the alternative (a bytes() call per posting row in
        # the per-term loop) was the single hottest line of the whole
        # build at 33M rows (measured ~60% of the encode stage).
        pos_lens = np.fromiter(
            (len(p) for p in pos_blobs), dtype=np.int64, count=len(pos_blobs)
        )
        pos_buf = b"".join(pos_blobs)
        cum_pos = prefix(pos_lens)
        ps_b, pe_b = cum_pos[g_starts], cum_pos[g_ends]

    # block-max metadata, vectorized across all terms; only lists of more
    # than one block keep it
    tfn = tfs / (tfs + k1 * (1.0 - b + b * doc_lens / float(avgdl)))
    nb = (ns + block_size - 1) // block_size
    term_of_block = np.repeat(np.arange(n_terms), nb)
    nb_cum = prefix(nb)
    within = np.arange(nb_cum[-1]) - nb_cum[term_of_block]
    blk_start = g_starts[term_of_block] + within * block_size
    blk_end = np.minimum(blk_start + block_size, g_ends[term_of_block])
    keep = nb[term_of_block] > 1
    blk_cum = prefix(np.where(nb > 1, nb, 0))
    t_k = term_of_block[keep]
    b_k = blk_start[keep]
    blk_last = ords[blk_end[keep] - 1].astype(np.int64)
    blk_max = (
        np.maximum.reduceat(tfn, blk_start)[keep]
        if len(blk_start) else np.array([], dtype=np.float64)
    )
    # per-block byte offsets into each term's blob (flattened [gap, tf]
    # pairs) — lazy block decode at query time. All prefix sums are over
    # the task-wide length arrays; per-term work is slicing.
    hdr = len_ns[t_k]
    gap_len = (ge_b - gs_b)[t_k]
    blk_offs = np.empty(2 * len(b_k), dtype=np.int64)
    blk_offs[0::2] = hdr + cum_gaps[b_k] - gs_b[t_k]
    blk_offs[1::2] = hdr + gap_len + cum_tfs[b_k] - ts_b[t_k]

    blobs = []
    for i in range(n_terms):
        parts = [
            buf_ns[cum_ns[i] : cum_ns[i + 1]],
            buf_gaps[gs_b[i] : ge_b[i]],
            buf_tfs[ts_b[i] : te_b[i]],
            buf_npos[cum_np[i] : cum_np[i + 1]],
        ]
        if has_pos:
            parts.append(pos_buf[ps_b[i] : pe_b[i]])
        blobs.append(b"".join(parts))
    return blobs, ns, blk_cum, blk_last, blk_max, blk_offs


def _decode_head(blob: bytes):
    """(ordinals, tfs, offset of the position count) of one blob."""
    nvals, off = varbyte_decode(blob, 0, 1)
    n = int(nvals[0])
    # gaps and tfs are adjacent streams: one decode call reads both
    vals, off = varbyte_decode(blob, off, 2 * n)
    ords = np.cumsum(vals[:n], dtype=np.uint64).astype(np.int64)
    return ords, vals[n:].astype(np.int64), off


def decode_posting_blocks(
    blob: bytes,
    n_postings: int,
    sel_blocks: np.ndarray,
    block_offs,
    block_last_doc,
    docs: GenDocs,
    block_size: int = BLOCK_SIZE,
):
    """Decode ONLY the selected blocks of a multi-block posting list
    (sorted ascending block indices) using the per-block byte offsets
    emitted at encode time. Returns (doc_ids, tfs, doc_lens) of those
    blocks' live postings concatenated — the same values a full decode
    yields for those ranges (pinned by round-trip tests).

    The ordinal delta chain restarts from block_last_doc[bi-1] (the
    previous block's last ordinal, which the block metadata already
    carries — no extra state in the blob).

    Consecutive selected blocks collapse into one varbyte_decode call per
    stream (runs), so a dense selection costs the same as a full decode."""
    block_offs = np.asarray(block_offs, dtype=np.int64)
    block_last_doc = np.asarray(block_last_doc, dtype=np.int64)
    sel = np.asarray(sel_blocks, dtype=np.int64)
    if sel.size == 0:
        z = np.array([], dtype=np.int64)
        return z, z.copy(), z.copy()
    ord_parts, tf_parts = [], []
    # split the selection into runs of consecutive blocks
    run_bounds = np.flatnonzero(np.diff(sel) != 1) + 1
    run_starts = np.concatenate(([0], run_bounds))
    run_ends = np.concatenate((run_bounds, [sel.size]))
    for rs, re in zip(run_starts, run_ends):
        b0 = int(sel[rs])
        b1 = int(sel[re - 1])
        cnt = min((b1 + 1) * block_size, n_postings) - b0 * block_size
        gaps, _ = varbyte_decode(blob, int(block_offs[2 * b0]), cnt)
        ords = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
        if b0 > 0:
            ords += block_last_doc[b0 - 1]
        ord_parts.append(ords)
        tfs, _ = varbyte_decode(blob, int(block_offs[2 * b0 + 1]), cnt)
        tf_parts.append(tfs.astype(np.int64))
    ords = np.concatenate(ord_parts)
    tfs = np.concatenate(tf_parts)
    keep = docs.live_at(ords)
    if keep is not None:
        ords, tfs = ords[keep], tfs[keep]
    return docs.doc_ids[ords], tfs, docs.doc_lens[ords]


def _position_spans(blob: bytes, off: int, tfs: np.ndarray, keep):
    """(flat position gaps, starts, ends): posting i's gaps are
    ``flat[starts[i]:ends[i]]``, for the postings ``keep`` leaves."""
    npos, off = varbyte_decode(blob, off, 1)
    flat, _ = varbyte_decode(blob, off, int(npos[0]))
    ends = np.cumsum(tfs)
    starts = ends - tfs
    if keep is not None:
        starts, ends = starts[keep], ends[keep]
    return flat.astype(np.int64), starts, ends


def decode_posting_list_selective(
    blob: bytes, docs: GenDocs, wanted_ids: np.ndarray
):
    """Positions decode restricted to ``wanted_ids`` (the block-max-
    style phrase prune, VERDICT r4 #8): doc ids / tfs / doc_lens decode
    vectorized as usual, the flat position-gap stream decodes in ONE
    vectorized varbyte pass, but per-doc position arrays — the python-
    loop-per-posting part of the full decode — materialize ONLY for the
    candidate docs. On a hot term (millions of postings) verified
    against a top-k candidate set (~100 docs), this turns the
    O(n_postings) python loop + array churn into O(n_candidates).

    Returns (doc_ids, tfs, doc_lens, posmap) of the live postings, where
    posmap maps doc_id -> positions array for ids present in
    ``wanted_ids`` only (byte-identical to the full decode's arrays —
    pinned by test)."""
    ords, tfs, off = _decode_head(blob)
    keep = docs.live_at(ords)
    flat, starts, ends = _position_spans(blob, off, tfs, keep)
    if keep is not None:
        ords, tfs = ords[keep], tfs[keep]
    doc_ids = docs.doc_ids[ords]
    sel = np.flatnonzero(
        np.isin(doc_ids, np.asarray(wanted_ids, dtype=np.int64))
    )
    posmap = {
        int(doc_ids[i]): np.cumsum(flat[starts[i]:ends[i]]) for i in sel
    }
    return doc_ids, tfs, docs.doc_lens[ords], posmap


def decode_posting_list(blob: bytes, docs: GenDocs, with_positions: bool = False):
    """Inverse of encode_posting_list, ordinals resolved through the
    generation's ``docs``; postings of dead ordinals are dropped.
    Returns (doc_ids, tfs, doc_lens[, positions])."""
    ords, tfs, off = _decode_head(blob)
    keep = docs.live_at(ords)
    if with_positions:
        flat, starts, ends = _position_spans(blob, off, tfs, keep)
    if keep is not None:
        ords, tfs = ords[keep], tfs[keep]
    doc_ids, doc_lens = docs.doc_ids[ords], docs.doc_lens[ords]
    if not with_positions:
        return doc_ids, tfs, doc_lens
    positions = [
        np.cumsum(flat[a:b]) for a, b in zip(starts.tolist(), ends.tolist())
    ]
    return doc_ids, tfs, doc_lens, positions
