"""Positions-aware phrase retrieval (SURVEY.md §7 stretch item; the reason
the index stores positions at all — reference analog: Lucene phrase
queries enabled by the `text` fieldtype's position tracking,
schema.xml:51, positionIncrementGap).

Semantics: a doc matches the phrase if the query's analyzed terms occur
at strictly consecutive positions (pos, pos+1, ..); ``slop=n`` relaxes
each gap to an ordered per-gap window (up to n non-query tokens between
adjacent query terms — NEAR/n-ordered; see phrase_search for how this
deliberately differs from Lucene's total-move sloppy phrase). Stopword
removal leaves position gaps at index time, so a slop=0 phrase spanning
a removed stopword does NOT match — pinned by tests, consistent with how
the analyzer defines positions (slop>=1 can bridge it).

Catenated tokens are injected at posInc=0 (classic WordDelimiterFilter
parity, schema.xml:54; r1's own-position divergence closed in r3):
camelCase -> camel@0, case@1, camelcase@1 — so a phrase can span a split
identifier ('sort data' matches `mergeSort data`), and subsequent
positions are not shifted by catenation.

Execution: conjunctive BM25 candidate retrieval first (cheap, bounded),
then positions of the candidate docs are decoded from the already-loaded
term blobs and verified vectorized (numpy set intersection on offset
positions). Scores are the same BM25 the AND-query gives (phrase match is
a filter, not a different scoring model — pinned)."""

from __future__ import annotations

import numpy as np

from ckanext_extractor_spark.analysis.tokenizer import (
    QUERY_CONFIG,
    analyze_query,
    query_config_for,
)
from ckanext_extractor_spark.operators.codec import decode_posting_list


def _positions_by_doc(row, wanted=None) -> dict[int, np.ndarray]:
    """Live positions of one segment row (ordinals resolved, and dead
    postings dropped, through the row's ``"docs"``, its generation's
    GenDocs) as doc_id -> array. ``wanted`` (a sorted np.int64 array of
    candidate doc ids) switches to the selective decode
    (codec.decode_posting_list_selective): per-doc position arrays
    materialize only for candidates — the phrase verify prune (VERDICT
    r4 #8). Identical arrays either way (pinned by test); the full
    decode remains for callers that genuinely need every doc (term
    vectors, highlight offsets)."""
    if wanted is not None:
        from ckanext_extractor_spark.operators.codec import (
            decode_posting_list_selective,
        )

        return decode_posting_list_selective(
            bytes(row["blob"]), row["docs"], wanted
        )[3]
    ids, tfs, dls, pos = decode_posting_list(
        bytes(row["blob"]), row["docs"], with_positions=True
    )
    return {int(d): p for d, p in zip(ids, pos)}


def lucene_slop_match(pos_lists: "list[np.ndarray]", slop: int) -> bool:
    """Lucene sloppy-phrase match test for ONE doc: ``pos_lists[i]`` are
    the sorted positions of phrase slot i. A match exists iff one
    position per slot can be chosen so that the span of OFFSET-ADJUSTED
    positions (p_i - i) is <= slop — the classic SloppyPhraseScorer
    criterion (PhrasePositions stores position - offset; a match fires
    when max(adjusted) - min(adjusted) <= slop). Total-MOVE budget:
    "b a"~2 matches text "a b" (reversal costs 2), which the per-gap
    NEAR/n form never does.

    Exact via the smallest-range k-way sweep (advance the minimum
    adjusted cursor; O(total positions * n) worst case, n = phrase
    length). Callers must reject phrases with REPEATED terms first —
    Lucene's repeat handling (distinct-position constraint) is out of
    scope for this mode (pinned)."""
    n = len(pos_lists)
    adj = [p.astype(np.int64) - np.int64(i) for i, p in enumerate(pos_lists)]
    if any(a.size == 0 for a in adj):
        return False
    idx = [0] * n
    cur = [int(a[0]) for a in adj]
    while True:
        mn = min(cur)
        if max(cur) - mn <= slop:
            return True
        i = cur.index(mn)
        idx[i] += 1
        if idx[i] >= adj[i].size:
            return False
        cur[i] = int(adj[i][idx[i]])


def _merged_positions(
    term_shard_rows: dict[str, list],
    terms: list[str],
    wanted: np.ndarray,
) -> "list[dict[int, np.ndarray]]":
    """Per term (in order): doc -> sorted positions, merged across that
    term's segment shards, restricted to ``wanted`` docs."""
    out: list[dict[int, np.ndarray]] = []
    for t in terms:
        merged: dict[int, np.ndarray] = {}
        for row in term_shard_rows.get(t, []):
            merged.update(_positions_by_doc(row, wanted))
        out.append(merged)
    return out


def _ordered_chain(per_term_pos: "list[dict[int, np.ndarray]]", d: int):
    """Greedy earliest-next ordered chain for one doc: for every start
    position of term 1, pick the EARLIEST strictly-later position of
    each following term. Returns (start, last, keep) int64/bool arrays
    — the MINIMAL ordered window per start (earliest-next minimizes the
    chain's last position, so this is complete for any window-bound
    predicate) — or None when some term has no positions in the doc.
    Strictly-increasing chaining makes repeated terms consume distinct
    positions (Lucene's non-overlapping ordered spans). Shared by
    SpanNear(in_order=true) and SpanNot (r5 review #3: one kernel, not
    three drifting copies)."""
    start = per_term_pos[0].get(d)
    if start is None or start.size == 0:
        return None
    start = start.astype(np.int64)
    last = start
    keep = np.ones(len(start), dtype=bool)
    for pmap in per_term_pos[1:]:
        nxt = pmap.get(d)
        # empty arrays guarded too: np.where evaluates both branches,
        # so nxt[min(idx, len-1)] would index nxt[-1] on size 0
        # (ADVICE r4 #3 — unreachable via _positions_by_doc, which
        # drops whole docs, but the kernel stands alone)
        if nxt is None or nxt.size == 0:
            return None
        nxt = nxt.astype(np.int64)
        idx = np.searchsorted(nxt, last, side="right")
        ok = keep & (idx < len(nxt))
        last = np.where(ok, nxt[np.minimum(idx, len(nxt) - 1)], last)
        keep = ok
    return start, last, keep


def phrase_filter_docs(
    candidate_docs: list[int],
    term_shard_rows: dict[str, list],
    ordered_terms: list[str],
    slop: int = 0,
    slop_mode: str = "pergap",
) -> list[int]:
    """Keep candidate docs where `ordered_terms` occur in order within a
    per-gap window: term i+1 at a position q with p < q <= p + slop + 1
    for some match p of term i. ``slop=0`` is the strict consecutive
    phrase; ``slop=n`` allows up to n non-query tokens between adjacent
    query terms (ordered proximity, the NEAR/n-ordered operator — a
    deliberate simplification of Lucene's total-move sloppy phrase,
    documented in phrase_search).

    term_shard_rows: term -> list of segment rows (blobs include
    positions). Decodes only the query's terms (already fetched for
    scoring); verification propagates the feasible positions of the LAST
    matched term with one searchsorted per gap (greedy minimal chains —
    complete, since window constraints are upper bounds). The rows'
    live masks drop dead postings, so a stale generation can't shadow
    an updated doc's positions."""
    win = np.int64(slop + 1)
    wanted = np.unique(np.asarray(list(candidate_docs), dtype=np.int64))
    per_term_pos = _merged_positions(term_shard_rows, ordered_terms, wanted)
    if slop_mode == "lucene":
        # total-move budget (see lucene_slop_match); opt-in, so the
        # per-doc sweep loop is acceptable here — candidates are already
        # conjunctive-BM25 bounded
        out = []
        for d in candidate_docs:
            pls = [pm.get(d) for pm in per_term_pos]
            if all(p is not None for p in pls) and lucene_slop_match(
                pls, slop
            ):
                out.append(d)
        return out
    out = []
    for d in candidate_docs:
        base = per_term_pos[0].get(d)
        if base is None:
            continue
        ok = base.astype(np.int64)
        for pmap in per_term_pos[1:]:
            nxt = pmap.get(d)
            if nxt is None or ok.size == 0:
                ok = np.array([], dtype=np.int64)
                break
            nxt = nxt.astype(np.int64)
            # largest feasible p < q per q, then the window check
            idx = np.searchsorted(ok, nxt, side="left") - 1
            mask = idx >= 0
            mask[mask] = ok[idx[mask]] >= nxt[mask] - win
            ok = nxt[mask]
        if ok.size:
            out.append(d)
    return out


def phrase_tf_by_doc(
    term_shard_rows: dict[str, list],
    ordered_terms: list[str],
) -> "dict[int, tuple[int, int]]":
    """Exact (slop=0) phrase frequency per doc: doc_id -> (ptf, dl),
    ptf = count of DISTINCT start positions where ``ordered_terms``
    occur strictly consecutively (Lucene ExactPhraseMatcher counts
    every start, overlapping too), dl = the doc's token length (from
    the same postings decode). Used by query-time multi-word synonym
    expansion (PhraseWeight BM25 needs tf and dl per matching doc).

    Vectorized: positions of slot i shift by -i, the phrase starts are
    the running np.intersect1d of the adjusted sets — O(total
    positions log positions) per doc, no per-position loop. Two-pass
    decode (the VERDICT r4 #8 prune): pass one decodes only doc ids /
    doc lens per term (vectorized, no position churn) to compute the
    conjunctive candidate set; pass two materializes position arrays
    selectively for those candidates — a hot term's million postings
    never turn into a million python arrays."""
    live_ids: list[np.ndarray] = []
    dl_parts: "list[tuple[np.ndarray, np.ndarray]]" = []
    for slot, t in enumerate(ordered_terms):
        parts = []
        for row in term_shard_rows.get(t, []):
            ids, tfs, dls = decode_posting_list(
                bytes(row["blob"]), row["docs"]
            )
            parts.append(ids)
            if slot == 0:
                dl_parts.append((ids, dls))
        live_ids.append(
            np.unique(np.concatenate(parts))
            if parts else np.array([], dtype=np.int64)
        )
    wanted = live_ids[0]
    for arr in live_ids[1:]:
        wanted = np.intersect1d(wanted, arr)
    if wanted.size == 0:
        return {}
    doc_len: dict[int, int] = {}
    for ids, dls in dl_parts:
        mask = np.isin(ids, wanted)
        doc_len.update(
            (int(d), int(dl)) for d, dl in zip(ids[mask], dls[mask])
        )
    per_term = _merged_positions(term_shard_rows, ordered_terms, wanted)
    common = set(per_term[0])
    for pm in per_term[1:]:
        common &= set(pm)
    out: "dict[int, tuple[int, int]]" = {}
    for d in common:
        adj = per_term[0][d].astype(np.int64)
        for i, pm in enumerate(per_term[1:], start=1):
            if adj.size == 0:
                break
            adj = np.intersect1d(
                adj, pm[d].astype(np.int64) - np.int64(i)
            )
        if adj.size:
            out[d] = (int(adj.size), doc_len[d])
    return out


def span_near_filter_docs(
    candidate_docs: list[int],
    term_shard_rows: dict[str, list],
    ordered_terms: list[str],
    slop: int = 0,
    in_order: bool = True,
) -> list[int]:
    """Lucene SpanNearQuery(in_order=true, slop=n): keep candidate docs
    holding one position per term, strictly increasing in TERM ORDER,
    whose total gap budget fits — (last - first) - (k - 1) <= slop.
    This is the third proximity semantics beside the per-gap NEAR/n
    (each gap bounded) and the Lucene sloppy phrase (total-move budget,
    reordering allowed): ordered like per-gap, budgeted like sloppy.

    Vectorized greedy chain: for every start position of term 1, one
    searchsorted per following term picks the EARLIEST valid next
    position — earliest-next minimizes the chain's last position, so
    the greedy window is the minimal ordered window per start
    (complete). Strictly-increasing chaining means repeated terms
    consume distinct positions (Lucene's non-overlapping ordered
    spans).

    ``in_order=False`` is SpanNearQuery(in_order=false): the minimal
    window CONTAINING one position per term in any order (two-pointer
    sweep, :func:`span_near_unordered_match`). Repeated terms are
    rejected upstream for the unordered form (the distinct-position
    repeat machinery is pinned out of scope, like the sloppy-phrase
    mode); posInc=0-stacked distinct terms may legally share one
    position (pinned)."""
    k = len(ordered_terms)
    wanted = np.unique(np.asarray(list(candidate_docs), dtype=np.int64))
    per_term_pos = _merged_positions(term_shard_rows, ordered_terms, wanted)
    if not in_order:
        out = []
        for d in candidate_docs:
            pls = [pm.get(d) for pm in per_term_pos]
            if all(p is not None and p.size for p in pls) and \
                    span_near_unordered_match(pls, slop):
                out.append(d)
        return out
    budget = np.int64(slop + k - 1)
    out = []
    for d in candidate_docs:
        res = _ordered_chain(per_term_pos, d)
        if res is None:
            continue
        start, last, keep = res
        if keep.any() and np.any((last - start)[keep] <= budget):
            out.append(d)
    return out


def span_near_unordered_match(pos_lists: "list[np.ndarray]",
                              slop: int) -> bool:
    """Lucene SpanNearQuery(in_order=false) match test for ONE doc:
    does some window contain one position per slot (distinct
    positions, ANY order) with (max - min) - (k - 1) <= slop?
    Classic minimal-covering-window two-pointer sweep over the merged
    position stream; O(total positions) per doc. NOTE this differs
    from the sloppy-phrase criterion (q60 / lucene_slop_match): sloppy
    phrase measures the span of OFFSET-ADJUSTED positions (reordering
    costs moves), unordered SpanNear measures the raw window (order is
    free)."""
    k = len(pos_lists)
    merged = np.concatenate(pos_lists)
    slots = np.concatenate(
        [np.full(len(p), i, dtype=np.int64) for i, p in enumerate(pos_lists)]
    )
    order = np.argsort(merged, kind="stable")
    merged, slots = merged[order], slots[order]
    budget = slop + k - 1
    need = k
    count = np.zeros(k, dtype=np.int64)
    lo = 0
    for hi in range(len(merged)):
        if count[slots[hi]] == 0:
            need -= 1
        count[slots[hi]] += 1
        while need == 0:
            if merged[hi] - merged[lo] <= budget:
                return True
            count[slots[lo]] -= 1
            if count[slots[lo]] == 0:
                need += 1
            lo += 1
    return False


def span_not_filter_docs(
    candidate_docs: list[int],
    term_shard_rows: dict[str, list],
    include_terms: list[str],
    exclude_term: str,
    slop: int = 0,
    pre: int = 0,
    post: int = 0,
) -> list[int]:
    """Lucene SpanNotQuery(include=ordered SpanNear(slop),
    exclude=SpanTerm, pre, post): keep candidate docs holding an
    ordered include span — one position per include term, strictly
    increasing, total gap budget (last - first) - (k - 1) <= slop —
    such that NO exclude-term position e sits in the dilated window
    [first - pre, last + post] (inclusive positions; pre/post are
    Lucene's "within x tokens before / y after" knobs, 0/0 = plain
    overlap).

    Completeness via span dominance: the greedy earliest-next chain
    (same as :func:`span_near_filter_docs`) yields the MINIMAL-window
    span per start position; a wider span from the same start has a
    strictly larger kill zone [s - pre, l' + post] ⊇ [s - pre,
    l + post], so if the minimal span is killed every wider one is
    too — checking minimal spans per start is exact for "some include
    span survives". One searchsorted pair per doc tests all surviving
    windows against the sorted exclude positions at once.

    SpanOr as a top-level query is deliberately NOT a separate
    operator: a disjunction of spans that only changes the match set
    is exactly the boolean-OR the query language already provides
    (`search_expr`), per the same span-changes-match-set-never-scores
    contract."""
    k = len(include_terms)
    wanted = np.unique(np.asarray(list(candidate_docs), dtype=np.int64))
    per_term_pos = _merged_positions(term_shard_rows, include_terms, wanted)
    [excl] = _merged_positions(term_shard_rows, [exclude_term], wanted)
    budget = np.int64(slop + k - 1)
    out = []
    for d in candidate_docs:
        res = _ordered_chain(per_term_pos, d)
        if res is None:
            continue
        start, last, keep = res
        keep = keep & ((last - start) <= budget)
        if not keep.any():
            continue
        e = excl.get(d)
        if e is None or e.size == 0:
            out.append(d)
            continue
        e = np.sort(e.astype(np.int64))
        s, l = start[keep], last[keep]
        lo = np.searchsorted(e, s - np.int64(pre), side="left")
        hi = np.searchsorted(e, l + np.int64(post), side="right")
        if np.any(lo >= hi):  # some window holds no exclude position
            out.append(d)
    return out


def span_first_filter_docs(
    candidate_docs: list[int],
    term_shard_rows: dict[str, list],
    term: str,
    end: int,
) -> list[int]:
    """Lucene SpanFirstQuery for a single-term span: keep candidate
    docs whose FIRST occurrence of ``term`` sits at an analyzer
    position < ``end`` (a one-term span at position p has span end
    p + 1, and SpanFirstQuery admits spans with end <= its ``end``).
    Positions are the index-time analyzer positions (0-based; stopword
    removal leaves gaps, catenated identifier tokens stack at
    posInc=0 — same space every phrase operator uses)."""
    wanted = np.unique(np.asarray(list(candidate_docs), dtype=np.int64))
    [merged] = _merged_positions(term_shard_rows, [term], wanted)
    out = []
    for d in candidate_docs:
        p = merged.get(d)
        if p is not None and p.size and int(p[0]) < end:
            out.append(d)
    return out


def _check_slop_mode(slop_mode: str, terms: list, uniq: list) -> None:
    if slop_mode not in ("pergap", "lucene"):
        raise ValueError(
            f"slop_mode must be 'pergap' or 'lucene', got {slop_mode!r}"
        )
    if slop_mode == "lucene" and len(uniq) < len(terms):
        raise ValueError(
            "slop_mode='lucene' does not support repeated phrase terms "
            "(Lucene's distinct-position repeat machinery is out of "
            "scope — pinned); use slop_mode='pergap'"
        )


def phrase_search(
    engine, query: str, k: int = 10, slop: int = 0,
    slop_mode: str = "pergap",
) -> list[tuple[int, float]]:
    """Top-k docs containing the analyzed query as an ordered phrase,
    ranked by the conjunctive BM25 score (ties doc_id asc).

    ``slop=0``: strict consecutive phrase. ``slop=n`` with the default
    ``slop_mode="pergap"``: ordered proximity — up to n non-query tokens
    between each adjacent pair of query terms (PER-GAP window; a
    deliberate, documented simplification of Lucene's sloppy phrase —
    the ordered per-gap form is what code search wants and is
    SQL-expressible for the oracle gate). ``slop_mode="lucene"`` is the
    Lucene TOTAL-MOVE budget instead (SloppyPhraseScorer: some choice of
    one position per slot has offset-adjusted span <= slop), which
    permits reordering — ``"b a"~2`` matches text ``a b`` (reversal
    costs 2). Lucene mode rejects phrases with repeated terms (the
    distinct-position repeat machinery is pinned out of scope).
    Catenated identifier tokens stack at posInc=0 (classic-WDF parity),
    so a phrase/proximity query can span a split identifier.

    Uses the engine's warm/cold segment access; requires the index to
    have been built with positions (engine.with_positions)."""
    if not engine.with_positions:
        raise ValueError("index was built without positions; phrase search "
                         "needs with_positions=True")
    terms = analyze_query(query, config=query_config_for(engine.analyzer))
    if not terms:
        return []
    uniq = list(dict.fromkeys(terms))
    _check_slop_mode(slop_mode, terms, uniq)
    st = engine.corpus_stats()
    # over-fetch candidates: phrase filtering can only shrink the set
    overfetch = max(k * 10, 100)
    from ckanext_extractor_spark.operators.wand import exact_topk

    tls = engine._term_postings(uniq, st)
    if len(tls) < len(uniq):
        return []
    scored = exact_topk(tls, overfetch, st["avgdl"], conjunctive=True)
    if not scored:
        return []
    rows_by_term = {t: engine._segment_rows(t) for t in uniq}
    keep = set(
        phrase_filter_docs([d for d, _ in scored], rows_by_term, terms,
                           slop=slop, slop_mode=slop_mode)
    )
    out = [(d, s) for d, s in scored if d in keep][:k]
    if len(out) < k and len(scored) == overfetch:
        # rare: phrase matches beyond the over-fetch window. The
        # remaining work is a FULL conjunctive verify — route it to the
        # distributed kernel (vectorized doc-key/searchsorted verify,
        # rank-identical by test) instead of a per-doc python loop over
        # every conjunctive candidate: at 2M docs this is the
        # difference between ~50 s and the cluster plan (r5 prune
        # follow-up, BENCH/phrase_prune_r5_2m.json phrase_3term).
        return phrase_search_distributed(engine, query, k, slop=slop,
                                         slop_mode=slop_mode)
    return out


def phrase_search_distributed(engine, query: str, k: int = 10,
                              slop: int = 0, slop_mode: str = "pergap"):
    """Cluster-scale phrase: no driver collect of posting lists.

    Phrase terms hash to DIFFERENT term_buckets, so positions of one doc
    live in different partitions — the verify needs doc co-location:

      1. bucket/term-pruned segment scan (partition pruning on
         term_bucket, row-group min/max on term);
      2. the one decode plan (``wand.decode_segments``) -> live rows
         (doc_id, term slot, tf, doc_len, positions);
      3. ONE exchange keyed doc_id (repartition, not groupBy: the verify
         kernel does its own pandas groupby per partition);
      4. vectorized verify ACROSS docs: all query slots present AND
         positions consecutive, via (doc_ordinal << 32 | position) keys
         intersected with one searchsorted per phrase offset — no per-doc
         python loop (VERDICT r2 weak #3), and batch-spanning doc groups
         are handled by accumulating the partition before grouping;
      5. global TakeOrdered(score desc, doc_id asc) limit k.

    The shuffle carries only postings of the query's terms — bounded by
    their df, never the corpus. Rank-identical to phrase_search (pinned
    by test)."""
    from pyspark.sql import functions as F

    if not engine.with_positions:
        raise ValueError("index was built without positions; phrase search "
                         "needs with_positions=True")
    terms = analyze_query(query, config=query_config_for(engine.analyzer))
    if not terms:
        return []
    matched = phrase_matched_df(engine, terms, slop=slop,
                                slop_mode=slop_mode)
    if matched is None:
        return []
    if k <= 10_000:
        # TakeOrderedAndProject keeps a k-sized heap PER PARTITION —
        # only safe for interactive k
        rows = matched.orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k).collect()
    else:
        # huge k = "all matches": collect and rank driver-side (phrase
        # matches are conjunctive-bounded, far smaller than postings)
        rows = sorted(
            matched.collect(),
            key=lambda r: (-r["score"], r["doc_id"]),
        )[:k]
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def phrase_matched_df(engine, terms: list, slop: int = 0,
                      slop_mode: str = "pergap"):
    """The distributed phrase pipeline up to (and excluding) the top-k:
    returns the (doc_id, score) DataFrame of every phrase-matching doc
    (score = conjunctive BM25 sum of the phrase's slots — what a phrase
    leaf scores), or ``None`` when a term is unindexed / the index has
    no segments. ``terms`` are ALREADY analyzed, order preserved with
    repeats (callers own analysis: phrase_search_distributed passes the
    query chain's output, the distributed boolean evaluator its Phrase
    leaves' tokens). Shared by phrase_search_distributed and
    search_expr_distributed so phrase leaves stay cluster-side."""
    import pandas as pd

    from ckanext_extractor_spark.operators.build import BM25_B, BM25_K1
    from ckanext_extractor_spark.operators.wand import decode_segments

    uniq = list(dict.fromkeys(terms))
    _check_slop_mode(slop_mode, terms, uniq)
    seg = engine._segments_union(uniq)
    if seg is None:
        return None
    st = engine.corpus_stats()
    n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
    docs_bc = engine._gen_docs_broadcast()
    slot_of = {t: i for i, t in enumerate(uniq)}
    n_slots = len(uniq)
    k1, b = BM25_K1, BM25_B
    decoded = decode_segments(seg, docs_bc, slot_of, with_positions=True)
    # live df per slot -> idf (same formula as the driver path), counted
    # on a POSITIONS-FREE decode: `decoded` is lazy and its consumer
    # re-evaluates it, so counting on it would run the expensive
    # positions decode twice per query.
    dfs = {
        int(r["slot"]): int(r["count"])
        for r in decode_segments(seg, docs_bc, slot_of)
        .groupBy("slot").count().collect()
    }
    idf = {
        s: float(np.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)))
        for s, d in dfs.items()
    }
    if len(idf) < n_slots:
        return None  # a term matches nothing -> no phrase can
    term_order = [slot_of[t] for t in terms]  # phrase order, with repeats

    idf_by_slot = np.array([idf[s] for s in range(n_slots)])
    uniq_slots_in_order = sorted(set(term_order))

    def verify_part(batches):
        # Accumulate the partition's batches FIRST: Arrow feeds the rows
        # in ~1024-row batches and a doc's slot rows can span a batch
        # boundary — per-batch grouping would silently fail the
        # conjunctive gate for those docs. Partition size is bounded by
        # the query terms' df over n_partitions (the same bound the
        # driver path accepts for its full collect).
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        n = len(pdf)
        doc = pdf["doc_id"].to_numpy()
        slot = pdf["slot"].to_numpy().astype(np.int64)
        order = np.lexsort((slot, doc))
        doc, slot = doc[order], slot[order]
        # the live masks leave one posting per (doc, slot) across
        # generations; a segment row repeated within one generation
        # (which no mask can tell apart) keeps its first copy
        keep = np.ones(n, dtype=bool)
        keep[1:] = (doc[1:] != doc[:-1]) | (slot[1:] != slot[:-1])
        order, doc, slot = order[keep], doc[keep], slot[keep]
        n = int(order.size)
        tf = pdf["tf"].to_numpy()[order].astype(np.float64)
        dl = pdf["doc_len"].to_numpy()[order].astype(np.float64)
        pos_obj = pdf["positions"].to_numpy()[order]
        # group = consecutive rows of one doc (sorted by (doc, slot))
        change = np.flatnonzero(doc[1:] != doc[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [n]))
        # conjunctive gate, vectorized: with one row per (doc, slot), a
        # qualifying group has exactly n_slots rows whose slots are
        # 0..n_slots-1 in order
        cand = np.flatnonzero(ends - starts == n_slots)
        if cand.size == 0:
            return
        cand_rows = starts[cand][:, None] + np.arange(n_slots)[None, :]
        valid = (slot[cand_rows] == np.arange(n_slots)[None, :]).all(axis=1)
        cand = cand[valid]
        cand_rows = cand_rows[valid]
        m = cand.size
        if m == 0:
            return
        plen = np.fromiter(
            (len(p) for p in pos_obj), dtype=np.int64, count=n
        )

        def slot_keys(s):
            """Sorted (doc_ordinal << 32 | position) keys of slot s across
            all candidate docs — positions < 2^31 (the codec's packing
            bound), so the combined key fits int64 and position
            intersection with offsets becomes ONE searchsorted over all
            docs at once instead of a per-doc python loop."""
            rows = cand_rows[:, s]
            lens = plen[rows]
            flat = (
                np.concatenate(list(pos_obj[rows]))
                if m
                else np.empty(0, dtype=np.int64)
            ).astype(np.int64)
            docord = np.repeat(np.arange(m, dtype=np.int64), lens)
            return (docord << np.int64(32)) | flat

        if slop_mode == "lucene":
            # total-move budget (lucene_slop_match); opt-in, so a
            # per-candidate-doc sweep loop is acceptable — candidates
            # are already gated to docs carrying every slot
            matched = np.fromiter(
                (
                    j for j in range(m)
                    if lucene_slop_match(
                        [
                            np.asarray(
                                pos_obj[cand_rows[j, s]], dtype=np.int64
                            )
                            for s in term_order
                        ],
                        slop,
                    )
                ),
                dtype=np.int64,
            )
            if matched.size == 0:
                return
        else:
            keys = {s: slot_keys(s) for s in uniq_slots_in_order}
            # ordered per-gap window chain (slop=0 = strict phrase):
            # ``ok`` holds the feasible combined keys of the LAST matched
            # term; for each key q of the next term, the largest feasible
            # predecessor p < q (one searchsorted over ALL docs at once —
            # combined keys are doc-major) must be in the SAME doc and
            # within the window q - slop - 1 <= p
            win = np.int64(slop + 1)
            ok = keys[term_order[0]]
            for off in range(1, len(term_order)):
                tgt = keys[term_order[off]]
                if tgt.size == 0 or ok.size == 0:
                    ok = ok[:0]
                    break
                idx = np.searchsorted(ok, tgt, side="left") - 1
                mask = idx >= 0
                prev = ok[np.maximum(idx, 0)]
                mask &= (prev >> np.int64(32)) == (tgt >> np.int64(32))
                mask &= prev >= tgt - win
                ok = tgt[mask]
            if ok.size == 0:
                return
            matched = np.unique(ok >> np.int64(32))
        tf_c = tf[cand_rows]
        dl_c = dl[cand_rows]
        sc = (
            idf_by_slot[None, :] * tf_c * (k1 + 1.0)
            / (tf_c + k1 * (1.0 - b + b * dl_c / avgdl))
        ).sum(axis=1)
        yield pd.DataFrame({
            "doc_id": doc[starts[cand]][matched],
            "score": sc[matched],
        })

    return decoded.repartition("doc_id").mapInPandas(
        verify_part, "doc_id long, score double"
    )
