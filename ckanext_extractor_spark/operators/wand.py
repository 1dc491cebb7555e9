"""Query fast path: BM25 top-k over encoded segments (SURVEY.md Q2-Q4),
rank-identical to the slow path (operators/query.py); ties by doc_id asc.

Driver side, over decoded posting lists: ``exact_topk`` is a vectorized
brute merge (sorted intersection for AND, a run-merging stable argsort +
bincount for OR) over each list's memoized BM25 contributions
(:func:`bm25_impacts`);
``maxscore_topk``/``maxscore_topk_lazy`` are batch MaxScore, probing the
lists that cannot reach the k-th score only at the candidates (the lazy
form decodes only the blocks it probes); ``wand_topk`` routes AND to
``exact_topk`` and OR to ``maxscore_topk``, and ``wand_topk_daat`` keeps
the literal document-at-a-time block-max WAND loop as a reference.

Cluster side, for lists too large to collect: ``decode_segments`` is the
one per-partition decode of segment rows into live postings, and
``query_segments_distributed``, ``scored_terms_distributed`` and
``phrase.phrase_matched_df`` are Catalyst plans over its rows.

Deletes and updates are applied in one place on both sides: every
generation's ``GenDocs`` carries its live-docs mask
(``codec.live_masks``), and the codec's decodes drop dead postings, so
no kernel here takes a tombstone argument.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ckanext_extractor_spark.operators.build import BM25_B, BM25_K1
from ckanext_extractor_spark.operators.codec import (
    BLOCK_SIZE,
    GenDocs,
    decode_posting_blocks,
    decode_posting_list,
)


@dataclass
class TermPostings:
    """One term's decoded live postings, doc_ids sorted asc.

    ``impacts`` memoizes the list's per-posting BM25 contributions
    (Anh & Moffat's impacts; Lucene's precomputed norms) as one tuple
    ``((avgdl, k1, b), float64 array aligned with doc_ids)``, so a reader
    can never pair one key with another key's array. It is filled at
    decode and read through :func:`bm25_impacts`, which recomputes on a
    key miss; the list edits below slice it (exclude/restrict) or drop
    it (boost changes idf)."""

    term: str
    idf: float
    doc_ids: np.ndarray  # sorted asc
    tfs: np.ndarray
    doc_lens: np.ndarray
    block_last_doc: np.ndarray
    block_max_tfn: np.ndarray
    impacts: "tuple | None" = field(default=None, repr=False, compare=False)

    @property
    def upper_bound(self) -> float:
        if len(self.block_max_tfn) == 0:
            return 0.0
        return self.idf * (BM25_K1 + 1.0) * float(self.block_max_tfn.max())


def load_term_postings(
    spark,
    segments: "str | DataFrame",
    docs: GenDocs,
    terms: list[str],
    n_docs: int,
    avgdl: float,
    n_buckets: int = 64,
) -> list[TermPostings]:
    """Read the query terms' segment rows of ONE generation (doc set
    ``docs``), decode, and merge salt shards per term. idf from the
    decoded df (= n live postings).

    ``segments`` is a parquet path (cold: bucket-pruned directory read) or
    an already-cached segments DataFrame (warm: in-memory term filter —
    the 'warm dictionary' serving mode of BASELINE.md's query protocol)."""
    from ckanext_extractor_spark.operators.segments import read_segments

    if isinstance(segments, str):
        seg_df = read_segments(spark, segments, terms, n_buckets)
    else:
        seg_df = segments.where(F.col("term").isin(terms))
    by_term: dict[str, list] = {}
    for r in seg_df.collect():
        by_term.setdefault(r["term"], []).append(dict(r.asDict(), docs=docs))
    return [
        term_postings_from_rows(term, shard_rows, n_docs, avgdl)
        for term, shard_rows in by_term.items()
    ]


def term_postings_from_rows(
    term: str,
    shard_rows: list,
    n_docs: int,
    avgdl: float,
) -> TermPostings:
    """Decode one term's segment rows (salt shards and/or generation
    shards) into a merged TermPostings of live postings, with its BM25
    impacts memoized for ``avgdl``. Each row carries its generation's
    :class:`GenDocs` under ``"docs"``: ordinals resolve through it, and
    its live mask drops dead postings. Pure driver-side numpy."""
    ids, tfs, dls = [], [], []
    for r in shard_rows:
        i, t, d = decode_posting_list(bytes(r["blob"]), r["docs"])
        ids.append(i)
        tfs.append(t)
        dls.append(d)
    doc_ids = np.concatenate(ids)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order]
    tfv = np.concatenate(tfs)[order]
    dlv = np.concatenate(dls)[order]
    # shard block metadata stays valid as per-shard upper bounds; for the
    # merged list rebuild block-max at BLOCK_SIZE granularity
    k1, b = BM25_K1, BM25_B
    df = len(doc_ids)
    idf = float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
    tfn = tfv / (tfv + k1 * (1.0 - b + b * dlv / avgdl))
    starts = np.arange(0, df, BLOCK_SIZE)
    bl = doc_ids[np.minimum(starts + BLOCK_SIZE, df) - 1]
    bm = np.maximum.reduceat(tfn, starts) if df else tfn
    tp = TermPostings(term, idf, doc_ids, tfv, dlv, bl, bm)
    bm25_impacts(tp, avgdl)
    return tp


class LazyTermPostings:
    """Segment-row-backed postings that decode ON DEMAND, per block.

    Holds only the rows' metadata (n_postings, block_last_doc,
    block_max_tfn, block_offs) plus the raw blobs; ``materialize()``
    fully decodes (for essential MaxScore lists), ``probe_scores()``
    decodes only the blocks that can contain the given candidate docs
    (for non-essential lists — the common-term case where most of a huge
    list is skipped; VERDICT r2 next #3; Lucene analog: impact-sorted
    skip data lets scorers seek without scanning the postings file).
    A row of at most one block carries no block metadata; it is decoded
    whole here (at most BLOCK_SIZE postings).

    Upper bounds: a row's block_max_tfn was encoded with its
    generation's avgdl (``GenDocs.avgdl``). tfn grows with avgdl, at
    most in proportion, so the stored maxima scaled by
    max(1, avgdl / generation avgdl) bound the scores at the current
    avgdl.

    Valid ONLY when no generation has a dead ordinal: df (hence idf)
    comes from the rows' n_postings metadata, which counts dead postings
    too — callers route any other index to the eager decode path.
    """

    __slots__ = ("term", "n", "idf", "avgdl", "_rows", "_shards", "_small",
                 "_max_tfn", "_n_docs")

    def __init__(self, term: str, shard_rows: list, n_docs: int,
                 avgdl: float):
        self.term = term
        self.avgdl = avgdl
        self._rows = [r for r in shard_rows if int(r["n_postings"])]
        shards, small = [], []
        max_tfn = 0.0
        for r in self._rows:
            docs = r["docs"]
            if len(r["block_offs"]):
                bm = np.asarray(r["block_max_tfn"], dtype=np.float64)
                scale = max(1.0, avgdl / docs.avgdl)
                max_tfn = max(max_tfn, float(bm.max()) * scale)
                shards.append((
                    bytes(r["blob"]),
                    int(r["n_postings"]),
                    np.asarray(r["block_last_doc"], dtype=np.int64),
                    np.asarray(r["block_offs"], dtype=np.int64),
                    docs,
                ))
            else:
                ids, tfs, dls = decode_posting_list(bytes(r["blob"]), docs)
                tfn = tfs / (
                    tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / avgdl)
                )
                max_tfn = max(max_tfn, float(tfn.max()))
                small.append((ids, tfs, dls))
        self._shards = shards
        self._small = small
        self.n = sum(int(r["n_postings"]) for r in self._rows)
        self._n_docs = n_docs
        self.idf = float(
            np.log(1.0 + (n_docs - self.n + 0.5) / (self.n + 0.5))
        )
        self._max_tfn = max_tfn

    def __len__(self) -> int:
        return self.n

    @property
    def doc_ids(self):  # len()-compat with TermPostings call sites
        raise AttributeError("LazyTermPostings: materialize() first")

    @property
    def upper_bound(self) -> float:
        return self.idf * (BM25_K1 + 1.0) * self._max_tfn

    def materialize(self) -> TermPostings:
        """Full decode + shard merge — delegates to
        term_postings_from_rows so the merge/argsort/block-max-rebuild
        logic exists exactly once and cannot drift between the lazy and
        eager paths (code-review r5 finding)."""
        return term_postings_from_rows(
            self.term, self._rows, self._n_docs, self.avgdl)

    def probe_scores(self, cand: np.ndarray, k1: float = BM25_K1,
                     b: float = BM25_B) -> np.ndarray:
        """BM25 contributions of this term at the sorted candidate docs
        (0.0 where absent), decoding only blocks whose ordinal range
        holds a candidate of the block's generation. Each doc lives in
        exactly one shard, so per-shard contributions sum without
        overlap."""
        total = np.zeros(cand.size, dtype=np.float64)
        parts = list(self._small)
        for blob, n_post, bl, bo, docs in self._shards:
            ords = np.searchsorted(docs.doc_ids, cand)
            in_gen = docs.doc_ids[np.minimum(ords, docs.doc_ids.size - 1)] == cand
            sel = np.unique(np.searchsorted(bl, ords[in_gen]))
            sel = sel[sel < bl.size]
            if sel.size:
                parts.append(
                    decode_posting_blocks(blob, n_post, sel, bo, bl, docs)
                )
        for ids, tfs, dls in parts:
            idx = np.searchsorted(ids, cand)
            idxc = np.minimum(idx, ids.size - 1)
            hit = ids[idxc] == cand
            if hit.any():
                total[hit] += _bm25(
                    self.idf, tfs[idxc[hit]], dls[idxc[hit]], self.avgdl,
                    k1, b,
                )
        return total


def maxscore_topk_lazy(
    lazy_lists: "list[LazyTermPostings]",
    k: int,
    avgdl: float,
    conjunctive: bool = False,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[tuple[int, float]]:
    """MaxScore over lazily-decoded lists: essential lists materialize,
    non-essential lists decode ONLY the blocks their candidates touch.
    Rank-identical to maxscore_topk/exact_topk (pinned by tests); the win
    is skew — a rare term + huge common lists stops paying the common
    lists' full decode (the dominant cost once blobs are large).

    Conjunctive queries materialize everything and route to exact_topk
    (the progressive intersection already touches only candidates after
    the smallest list is decoded — a block-skipping AND is possible but
    the smallest-list decode dominates either way)."""
    lists = [tp for tp in lazy_lists if len(tp)]
    if not lists:
        return []
    if conjunctive:
        if len(lists) < len(lazy_lists):
            return []
        return exact_topk([tp.materialize() for tp in lists], k, avgdl,
                          True, k1, b)
    order = sorted(lists, key=lambda tp: -tp.upper_bound)
    ubs = np.array([tp.upper_bound for tp in order])
    first = order[0].materialize()
    s0 = bm25_impacts(first, avgdl, k1, b)
    if s0.size >= k:
        theta = float(np.partition(s0, s0.size - k)[s0.size - k])
    else:
        theta = -np.inf
    suffix = np.cumsum(ubs[::-1])[::-1]
    n_essential = len(order)
    for e in range(1, len(order) + 1):
        tail = float(suffix[e]) if e < len(order) else 0.0
        if tail < theta:
            n_essential = e
            break
    essential = [first] + [tp.materialize() for tp in order[1:n_essential]]
    cand = essential[0].doc_ids
    for tp in essential[1:]:
        cand = np.union1d(cand, tp.doc_ids)
    total = np.zeros(cand.size, dtype=np.float64)
    for tp in essential:
        idx = np.searchsorted(tp.doc_ids, cand)
        idxc = np.minimum(idx, len(tp.doc_ids) - 1)
        hit = tp.doc_ids[idxc] == cand
        if hit.any():
            total[hit] += _scores(tp, idxc[hit], avgdl, k1, b)
    for tp in order[n_essential:]:
        total += tp.probe_scores(cand, k1, b)
    return _topk_select(cand, total, k)


def _bm25(idf: float, tfs: np.ndarray, dls: np.ndarray, avgdl: float,
          k1: float, b: float) -> np.ndarray:
    """The one driver-side BM25 expression: per-posting contributions
    for term frequencies ``tfs`` in documents of lengths ``dls``. Every
    kernel's scores come from here, in this operand order, so all paths
    agree to the last bit."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_impacts(tp: TermPostings, avgdl: float, k1: float = BM25_K1,
                 b: float = BM25_B) -> np.ndarray:
    """``tp``'s BM25 contribution per posting at ``(avgdl, k1, b)``,
    memoized on ``tp.impacts``. A key miss (boosted or test-built lists,
    another avgdl) computes the array with :func:`_bm25` and replaces
    the memo, so a stale array is never served."""
    key = (avgdl, k1, b)
    memo = tp.impacts
    if memo is None or memo[0] != key:
        memo = (key, _bm25(tp.idf, tp.tfs, tp.doc_lens, avgdl, k1, b))
        tp.impacts = memo
    return memo[1]


def _scores(tp: TermPostings, idx: np.ndarray, avgdl: float,
            k1: float, b: float) -> np.ndarray:
    """``tp``'s BM25 contributions at posting positions ``idx``."""
    return bm25_impacts(tp, avgdl, k1, b)[idx]


def _sliced_impacts(tp: TermPostings, keep: np.ndarray) -> "tuple | None":
    memo = tp.impacts
    return None if memo is None else (memo[0], memo[1][keep])


def exclude_docs(tp: TermPostings, ex_ids: "np.ndarray") -> TermPostings:
    """``tp`` minus postings of ``ex_ids`` (sorted asc) — Lucene MUST_NOT
    as a pre-score filter. idf and the block-max arrays are KEPT:
    exclusion is a filter, so surviving docs score exactly as in the
    unfiltered query (Lucene parity — a prohibited clause never changes
    scoring), and block maxima remain valid (possibly loose) upper
    bounds after row removal — WAND/MaxScore pruning only needs an
    over-estimate. The impacts memo is sliced with the postings."""
    n = len(tp.doc_ids)
    if ex_ids.size == 0 or n == 0:
        return tp
    idx = np.searchsorted(ex_ids, tp.doc_ids)
    hit = np.zeros(n, dtype=bool)
    inb = idx < ex_ids.size
    hit[inb] = ex_ids[idx[inb]] == tp.doc_ids[inb]
    if not hit.any():
        return tp
    keep = ~hit
    return TermPostings(
        tp.term, tp.idf, tp.doc_ids[keep], tp.tfs[keep],
        tp.doc_lens[keep], tp.block_last_doc, tp.block_max_tfn,
        _sliced_impacts(tp, keep),
    )


def boost_postings(tp: TermPostings, boost: float) -> TermPostings:
    """``tp`` with every score contribution multiplied by ``boost``.
    BM25 is linear in idf, so scaling idf scales the term's whole score
    exactly — the same mechanism the boolean-query evaluator uses for
    ``term^boost`` and the blended fuzzy rewrite uses for Lucene's
    distance boost (FuzzyTermsEnum: 1 - edit/min(|term|, |query|)).
    block_max_tfn is tf-normalized (idf-free), so the block-max upper
    bound ``idf * (k1+1) * max_tfn`` stays exact under the scaled idf —
    WAND/MaxScore pruning remains sound without touching the blocks.
    The impacts memo is dropped: it was computed with the unscaled idf."""
    return TermPostings(
        tp.term, tp.idf * boost, tp.doc_ids, tp.tfs,
        tp.doc_lens, tp.block_last_doc, tp.block_max_tfn,
    )


def restrict_docs(tp: TermPostings, allowed: "np.ndarray") -> TermPostings:
    """``tp`` restricted to postings of ``allowed`` (sorted asc) — the
    filter-query (Solr fq / Lucene FILTER clause) pre-score restriction.
    Like :func:`exclude_docs`, idf and block-max arrays are KEPT: a
    filter clause never changes surviving docs' scores (idf stays the
    full-corpus value), and block maxima remain valid loose upper bounds
    after row removal, so WAND/MaxScore pruning stays sound. The
    impacts memo is sliced with the postings."""
    n = len(tp.doc_ids)
    if n == 0:
        return tp
    keep = np.zeros(n, dtype=bool)
    if allowed.size:
        idx = np.searchsorted(allowed, tp.doc_ids)
        inb = idx < allowed.size
        keep[inb] = allowed[idx[inb]] == tp.doc_ids[inb]
        if keep.all():
            return tp
    return TermPostings(
        tp.term, tp.idf, tp.doc_ids[keep], tp.tfs[keep],
        tp.doc_lens[keep], tp.block_last_doc, tp.block_max_tfn,
        _sliced_impacts(tp, keep),
    )


def exact_topk(
    term_lists: list[TermPostings],
    k: int,
    avgdl: float,
    conjunctive: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
    min_match: int | None = None,
    after: "tuple[float, int] | None" = None,
) -> list[tuple[int, float]]:
    """Vectorized brute-force merge; exact, the distributed kernel.
    Every list scores from its memoized impacts (:func:`bm25_impacts`).

    AND intersects progressively, smallest list first. OR merges the
    lists, each already sorted, with one stable argsort of their
    concatenation (timsort merges the presorted runs instead of sorting
    from scratch) and sums each doc's contributions with ``np.bincount``
    over the concatenation in ``term_lists`` order. Both paths add a
    doc's contributions in ``term_lists`` order, so the scores do not
    depend on the merge.

    ``min_match`` (Solr mm / Lucene minimumNumberShouldMatch): in the
    disjunctive path, keep only docs matching at least that many DISTINCT
    query terms. ``min_match=len(term_lists)`` degenerates to conjunctive;
    ignored when ``conjunctive=True`` (already the strictest form).

    ``after=(score, doc_id)`` — Lucene searchAfter: only docs strictly
    after the cursor in (score desc, doc_id asc) order are eligible for
    the k-selection (exact-float comparison; scores here are
    numpy-deterministic, so a page-1 score round-trips exactly)."""
    if not term_lists:
        return []
    if conjunctive:
        # progressive sorted intersection, smallest list first.
        # searchsorted, not np.isin: doc_ids are sorted-unique by the
        # codec contract, and isin pays a concat + O((n+m) log(n+m))
        # sort per step where a binary probe of the larger list is
        # O(n log m). The probe positions double as each list's gather
        # indices for scoring, so no list is probed twice
        # (optimization r6, guide §1.2).
        n = len(term_lists)
        perm = sorted(range(n), key=lambda i: len(term_lists[i].doc_ids))
        lists = [term_lists[i] for i in perm]
        cand = lists[0].doc_ids
        sel = [np.arange(cand.size, dtype=np.int64)]
        for tp in lists[1:]:
            idx = np.searchsorted(tp.doc_ids, cand)
            hit = np.zeros(cand.size, dtype=bool)
            inb = idx < tp.doc_ids.size
            hit[inb] = tp.doc_ids[idx[inb]] == cand[inb]
            cand = cand[hit]
            if cand.size == 0:
                return []
            sel = [s[hit] for s in sel]
            sel.append(idx[hit])
        # float summation stays in term_lists order — bit-identical
        # scores to the pre-r6 kernel (addition is not associative)
        pos_of = [0] * n
        for j, i in enumerate(perm):
            pos_of[i] = j
        total = np.zeros(cand.size, dtype=np.float64)
        for i, tp in enumerate(term_lists):
            total += _scores(tp, sel[pos_of[i]], avgdl, k1, b)
        docs = cand
    else:
        all_ids = np.concatenate([tp.doc_ids for tp in term_lists])
        all_scores = np.concatenate(
            [bm25_impacts(tp, avgdl, k1, b) for tp in term_lists]
        )
        order = np.argsort(all_ids, kind="stable")
        merged = all_ids[order]
        new = np.empty(merged.size, dtype=bool)
        new[:1] = True
        np.not_equal(merged[1:], merged[:-1], out=new[1:])
        docs = merged[new]
        inv = np.empty(merged.size, dtype=np.intp)
        inv[order] = np.cumsum(new) - 1
        total = np.bincount(inv, weights=all_scores)
        if min_match is not None and min_match > 1:
            # postings are per-(term, doc) unique, so the occurrence count
            # of a doc across lists IS its distinct-matched-term count
            nm = np.bincount(inv)
            keep = nm >= min_match
            docs, total = docs[keep], total[keep]
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        keep = (total < s0) | ((total == s0) & (docs > d0))
        docs, total = docs[keep], total[keep]
    return _topk_select(docs, total, k)


def _topk_select(
    docs: np.ndarray, total: np.ndarray, k: int
) -> list[tuple[int, float]]:
    """Top-k by (-score, doc_id). With more than k docs, candidates =
    every doc scoring >= the k-th score (argpartition alone could keep
    the wrong member of a boundary tie — doc_id must break ties, not
    partition order); with at most k, every doc is one."""
    if docs.size > k:
        kth_score = np.partition(total, docs.size - k)[docs.size - k]
        cand = total >= kth_score
        docs, total = docs[cand], total[cand]
    order = np.lexsort((docs, -total))[:k]
    return [(int(docs[i]), float(total[i])) for i in order]


def maxscore_topk(
    term_lists: list[TermPostings],
    k: int,
    avgdl: float,
    conjunctive: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[tuple[int, float]]:
    """Batch MaxScore (Turtle & Flood-style essential lists), fully
    vectorized — the scale-path alternative to the document-at-a-time
    python loop in ``wand_topk``.

    Disjunctive semantics, rank-identical to ``exact_topk``:

    1. order lists by upper bound desc; score the top-UB list alone —
       its k-th partial score is a LOWER bound ``theta`` of the final
       k-th score (partial sums only grow);
    2. the maximal suffix of lists whose upper bounds sum to < theta is
       non-essential: a doc appearing ONLY there totals < theta, i.e.
       strictly below the final k-th score — safely excluded even under
       the doc_id tiebreak;
    3. candidates = union of the essential lists' doc_ids; gather each
       list's contribution for the candidates via searchsorted (log-time
       skips into the non-essential lists — no decode-order scan).

    Skewed queries (a rare high-idf term + common low-idf terms) reduce to
    candidates ≈ the rare list, turning the common lists' O(df) scoring
    into O(|cand| log df) gathers. Conjunctive queries route to
    ``exact_topk`` — its progressive smallest-first intersection already
    touches only candidate postings.
    """
    lists = [tp for tp in term_lists if len(tp.doc_ids)]
    if not lists:
        return []
    if conjunctive:
        if len(lists) < len(term_lists):
            return []  # AND with a zero-df term matches nothing
        return exact_topk(lists, k, avgdl, True, k1, b)
    order = sorted(lists, key=lambda tp: -tp.upper_bound)
    ubs = np.array([tp.upper_bound for tp in order])
    s0 = bm25_impacts(order[0], avgdl, k1, b)
    if s0.size >= k:
        theta = float(np.partition(s0, s0.size - k)[s0.size - k])
    else:
        theta = -np.inf
    # suffix_sum(e) = sum of upper bounds of lists e..end (0 past the end);
    # essential count = smallest e >= 1 whose tail is safely prunable
    suffix = np.cumsum(ubs[::-1])[::-1]
    n_essential = len(order)
    for e in range(1, len(order) + 1):
        tail = float(suffix[e]) if e < len(order) else 0.0
        if tail < theta:
            n_essential = e
            break
    cand = order[0].doc_ids
    for tp in order[1:n_essential]:
        cand = np.union1d(cand, tp.doc_ids)
    total = np.zeros(cand.size, dtype=np.float64)
    for tp in order:
        idx = np.searchsorted(tp.doc_ids, cand)
        idxc = np.minimum(idx, len(tp.doc_ids) - 1)
        hit = tp.doc_ids[idxc] == cand
        if hit.any():
            total[hit] += _scores(tp, idxc[hit], avgdl, k1, b)
    return _topk_select(cand, total, k)


def wand_topk(
    term_lists: list[TermPostings],
    k: int,
    avgdl: float,
    conjunctive: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[tuple[int, float]]:
    """Block-max WAND entry point — vectorized kernels (optimization r6).

    BMW's machinery (pivot selection, block-max bounds, cursor
    galloping) exists to avoid *touching* postings that cannot reach the
    top-k. Here every list is already a decoded, memory-resident numpy
    array, so per-doc python-loop bookkeeping costs far more than the
    scoring it avoids — measured on the bench's 2-term AND at sf1.0, the
    doc-at-a-time loop took 0.73 s where the vectorized intersection
    kernel computes the identical ranking in ~4 ms (guide §1.2: fix the
    per-task algorithm before tuning its constants). Routing:

      * conjunctive: ``exact_topk`` — progressive smallest-first sorted
        intersection; it touches exactly the candidate docs BMW's
        aligned-pivot walk would evaluate, then scores them in one
        vectorized pass;
      * disjunctive: ``maxscore_topk`` — the vectorized essential-list
        skipper (same upper-bound pruning idea as WAND, batch form).

    All kernels are rank-identical (score desc, doc_id asc) — pinned by
    the parity fuzz in tests/test_segments_wand.py and the
    ``wand_topk_daat`` ≡ ``wand_topk`` identity fuzz added this round.
    The literal document-at-a-time BMW loop is preserved below as
    :func:`wand_topk_daat` (reference implementation; also the shape a
    future disk-resident/streaming-decode serving mode would need).
    """
    lists = [tp for tp in term_lists if len(tp.doc_ids)]
    if not lists:
        return []
    if conjunctive:
        if len(lists) < len(term_lists):
            return []  # AND with a zero-df term matches nothing
        return exact_topk(lists, k, avgdl, True, k1, b)
    return maxscore_topk(lists, k, avgdl, False, k1, b)


def wand_topk_daat(
    term_lists: list[TermPostings],
    k: int,
    avgdl: float,
    conjunctive: bool = True,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[tuple[int, float]]:
    """Document-at-a-time block-max WAND (the literal BMW algorithm).

    Heap holds (score, -doc_id) so the threshold tie-break matches
    (score desc, doc_id asc): a new doc replaces an equal-score incumbent
    only if its doc_id is smaller.
    """
    lists = [tp for tp in term_lists if len(tp.doc_ids)]
    if not lists:
        return []
    if conjunctive and len(lists) < len(term_lists):
        return []  # AND with a zero-df term matches nothing
    n_req = len(lists) if conjunctive else 1
    cursors = {tp.term: 0 for tp in lists}
    ubs = {tp.term: tp.upper_bound for tp in lists}
    heap: list[tuple[float, int]] = []  # (score, -doc_id), min-heap of top-k

    def theta() -> tuple[float, int]:
        if len(heap) < k:
            return (-np.inf, 0)
        return heap[0]

    live = list(lists)
    while True:
        live = [tp for tp in live if cursors[tp.term] < len(tp.doc_ids)]
        if len(live) < n_req:
            break
        order = sorted(live, key=lambda tp: tp.doc_ids[cursors[tp.term]])
        th, _ = theta()
        # pivot selection on full-list upper bounds
        acc = 0.0
        pivot_i = None
        # Pruning uses STRICT < against the threshold score: a candidate
        # whose bound equals th can still win on the doc_id tiebreak, so
        # equality must be evaluated, not skipped.
        if conjunctive:
            # every term required -> pivot is the max of current cursor docs
            pivot_i = len(order) - 1
            acc = sum(ubs[tp.term] for tp in order)
            if acc < th and len(heap) >= k:
                break
        else:
            for i, tp in enumerate(order):
                acc += ubs[tp.term]
                if acc >= th:
                    pivot_i = i
                    break
            if pivot_i is None:
                break  # no doc can beat or tie the threshold
        pivot_doc = int(order[pivot_i].doc_ids[cursors[order[pivot_i].term]])
        # extend the pivot prefix over post-pivot lists whose current doc
        # ties pivot_doc: they contribute to pivot_doc's score, so the
        # block-max bound (and the aligned-prefix test) must include them
        while (
            pivot_i + 1 < len(order)
            and int(order[pivot_i + 1].doc_ids[cursors[order[pivot_i + 1].term]])
            == pivot_doc
        ):
            pivot_i += 1

        # block-max refinement: tighter bound at pivot's blocks
        bacc = 0.0
        for tp in order[: pivot_i + 1]:
            ci = cursors[tp.term]
            bi = int(np.searchsorted(tp.block_last_doc, pivot_doc))
            if bi < len(tp.block_max_tfn):
                bacc += tp.idf * (k1 + 1.0) * float(tp.block_max_tfn[bi])
        if bacc < th and len(heap) >= k:
            # skip past the earliest block boundary among the pivot terms
            nxt = pivot_doc + 1
            bounds = []
            for tp in order[: pivot_i + 1]:
                bi = int(np.searchsorted(tp.block_last_doc, pivot_doc))
                if bi < len(tp.block_last_doc):
                    bounds.append(int(tp.block_last_doc[bi]))
            if bounds:
                nxt = max(nxt, min(bounds) + 1)
            # never skip past the first post-pivot list's current doc —
            # it could be the true next competitive pivot
            if pivot_i + 1 < len(order):
                nxt_list = order[pivot_i + 1]
                nxt = min(
                    nxt, int(nxt_list.doc_ids[cursors[nxt_list.term]])
                )
                nxt = max(nxt, pivot_doc + 1)
            for tp in order[: pivot_i + 1]:
                c = cursors[tp.term]
                cursors[tp.term] = c + int(
                    np.searchsorted(tp.doc_ids[c:], nxt, side="left")
                )
            continue

        if int(order[0].doc_ids[cursors[order[0].term]]) == pivot_doc:
            # fully aligned prefix -> evaluate pivot_doc exactly
            score = 0.0
            n_present = 0
            for tp in lists:
                c = cursors[tp.term]
                if c < len(tp.doc_ids) and int(tp.doc_ids[c]) == pivot_doc:
                    score += float(_scores(tp, np.array([c]), avgdl, k1, b)[0])
                    n_present += 1
            if (not conjunctive or n_present == n_req):
                entry = (score, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
            for tp in lists:
                c = cursors[tp.term]
                if c < len(tp.doc_ids) and int(tp.doc_ids[c]) == pivot_doc:
                    cursors[tp.term] = c + 1
        else:
            # gallop the earlier cursors up to the pivot
            for tp in order[:pivot_i]:
                c = cursors[tp.term]
                cursors[tp.term] = c + int(
                    np.searchsorted(tp.doc_ids[c:], pivot_doc, side="left")
                )
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-d, s) for s, d in out]


def decode_segments(
    segments: DataFrame,
    docs_bc,
    slot_of: "dict[str, int] | None",
    with_positions: bool = False,
) -> DataFrame:
    """The one cluster-side segment decode: live postings of the segment
    rows whose term is in ``slot_of``, as rows ``(doc_id, slot, tf,
    doc_len[, positions])`` with ``slot = slot_of[term]``; one
    ``decode_posting_list`` call per segment row. With ``slot_of=None``
    every row decodes and carries its ``term`` in place of ``slot`` (no
    term map ships in the closure). ``docs_bc`` broadcasts
    ``{generation id: GenDocs}``; a row's ordinals resolve through its
    ``gen`` column's entry, whose live mask drops dead postings, so
    deletes and updates apply here and nowhere else."""
    import pandas as pd

    key, key_type, key_sql = (
        ("term", object, "string") if slot_of is None
        else ("slot", np.int32, "int")
    )

    def decode_part(batches):
        gen_docs = docs_bc.value
        for pdf in batches:
            decoded, slots = [], []
            for term, blob, gen in zip(pdf["term"], pdf["blob"], pdf["gen"]):
                slot = term if slot_of is None else slot_of.get(term)
                if slot is None:
                    continue
                decoded.append(decode_posting_list(
                    bytes(blob), gen_docs[gen], with_positions
                ))
                slots.append(slot)
            if not decoded:
                continue
            lens = [len(cols[0]) for cols in decoded]
            out = {
                "doc_id": np.concatenate([cols[0] for cols in decoded]),
                key: np.repeat(np.asarray(slots, dtype=key_type), lens),
                "tf": np.concatenate([cols[1] for cols in decoded]),
                "doc_len": np.concatenate([cols[2] for cols in decoded]),
            }
            if with_positions:
                out["positions"] = pd.Series(
                    [p for cols in decoded for p in cols[3]], dtype=object
                )
            yield pd.DataFrame(out)

    schema = f"doc_id long, {key} {key_sql}, tf long, doc_len long"
    if with_positions:
        schema += ", positions array<long>"
    return segments.mapInPandas(decode_part, schema)


def _scored_rows(segments, docs_bc, terms_idf, avgdl) -> DataFrame:
    """(doc_id, slot, term_score) of the :func:`decode_segments` rows of
    ``terms_idf``'s terms (slot = position in it): BM25 as one
    Catalyst expression, in :func:`_bm25`'s operation order. It is
    built from SQL text because every Column call is a Py4J round trip,
    and there are dozens of them in one BM25 tree."""
    rows = decode_segments(
        segments, docs_bc, {t: i for i, t in enumerate(terms_idf)}
    )
    k1, b = BM25_K1, BM25_B
    idf = ", ".join(f"{float(v)!r}D" for v in terms_idf.values())
    score = F.expr(
        f"array({idf})[slot] * tf * {k1 + 1.0!r}D / (tf + {k1!r}D"
        f" * ({1.0 - b!r}D + {b!r}D * doc_len / {float(avgdl)!r}D))"
    )
    return rows.select("doc_id", "slot", score.alias("term_score"))


def scored_terms_distributed(
    segments: DataFrame,
    docs_bc,
    terms_idf: dict[str, float],
    avgdl: float,
) -> DataFrame:
    """Per-(doc, term) BM25 contributions, fully cluster-side: the
    scored decode rows of :func:`_scored_rows`. ``docs_bc`` is that of
    :func:`decode_segments`, the one decode plan. The distributed
    boolean-expression evaluator builds its per-leaf flag/score columns
    from this ONE scan: the whole AST then compiles to a single Catalyst
    expression over the per-doc pivot, so an arbitrarily nested query
    costs one segments scan + one shuffle regardless of clause count."""
    term = F.array(*[F.lit(t) for t in terms_idf])[F.col("slot")]
    return _scored_rows(segments, docs_bc, terms_idf, avgdl).select(
        "doc_id", term.alias("term"), "term_score"
    )


def query_segments_distributed(
    spark,
    segments: DataFrame,
    docs_bc,
    terms_idf: dict[str, float],
    avgdl: float,
    k: "int | None",
    conjunctive: bool = True,
    n_query_terms: int | None = None,
    min_match: int | None = None,
    include_df: "DataFrame | None" = None,
    exclude_df: "DataFrame | None" = None,
    after: "tuple[float, int] | None" = None,
) -> DataFrame:
    """Cluster-scale top-k for lists too large to collect: the scored
    decode rows of :func:`_scored_rows` summed per doc, then a global
    TakeOrdered. ``docs_bc`` is that of :func:`decode_segments`, the one
    decode plan, which leaves one live posting per (doc, term), so
    n_matched counts distinct query terms.

    ``after=(score, doc_id)`` is Lucene's searchAfter / Solr cursorMark:
    only docs STRICTLY after the cursor in (score desc, doc_id asc)
    order survive, so page N+1 costs one k-sized TakeOrdered. It compares
    the exact float score the previous page returned; a doc whose
    re-aggregated score differs in the last ulp could straddle the
    cursor, the noise floor Lucene accepts for searchAfter too."""
    nq = n_query_terms or len(terms_idf)
    scored = _scored_rows(segments, docs_bc, terms_idf, avgdl)
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score"),
        F.count("*").cast("int").alias("n_matched"),
    )
    if conjunctive:
        per_doc = per_doc.where(F.col("n_matched") == nq)
    elif min_match is not None and min_match > 1:
        per_doc = per_doc.where(F.col("n_matched") >= min_match)
    # full query-surface parity for the cluster-scale path (VERDICT r3
    # #2): fq (Lucene FILTER) is a left-semi join, exclude (MUST_NOT) a
    # left-anti join — both on the aggregated per-doc rows (doc-level
    # predicates; smaller left side than the per-term scored rows), both
    # score-neutral for surviving docs, and neither set ever touches the
    # driver. AQE broadcasts the small side.
    if exclude_df is not None:
        per_doc = per_doc.join(
            exclude_df.select("doc_id"), "doc_id", "left_anti"
        )
    if include_df is not None:
        per_doc = per_doc.join(
            include_df.select("doc_id"), "doc_id", "left_semi"
        )
    if after is not None:
        s0, d0 = float(after[0]), int(after[1])
        per_doc = per_doc.where(
            (F.col("score") < s0)
            | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
    if k is None:
        # all-matches form (facet counting): no rank materialization
        return per_doc
    return per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
