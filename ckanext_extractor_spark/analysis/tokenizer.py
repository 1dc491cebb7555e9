"""Code-aware text analysis chain — the engine's single tokenizer kernel.

Re-expresses the Solr `text` fieldtype analyzer the reference installs
(travis/solr/ckan-2.8/schema.xml:51-66):

  T1 WhitespaceTokenizer        -> str.split()
  T2 WordDelimiterFilter        -> subword regex: split on case change,
     (generateWordParts=1,         alpha<->digit boundary, punctuation;
      generateNumberParts=1,       index mode additionally emits catenated
      catenateWords=1,             alpha / digit runs (camelCase -> camel,
      catenateNumbers=1,           case, camelcase)
      splitOnCaseChange=1)
  T3 LowerCaseFilter            -> str.lower()
  T5 ASCIIFoldingFilter         -> NFKD fold, strip non-ascii
  T4 stemming                   -> replaced by per-lang stopword removal
                                   (code corpus; north rule "lang-specific
                                   stopping"); part of the frozen contract.

Kernel design (the hot path of a 100 TB index build — measured, not
guessed):
  * word-instance -> unique-word memoization: the regex pipeline (split,
    catenate, lower, fold) runs once per DISTINCT word in the Arrow
    batch, then results are gathered back to instances with numpy
    repeat/arange index math. Source-code corpora repeat identifiers
    heavily, so this removes ~90%+ of regex work.
  * zero pandas groupby in the hot path: per-(doc, term) aggregation is
    factorize + stable argsort + np.split — all C loops.
  * NFKD folding only touches tokens that are not pure ASCII.

The same functions serve index build (mapInPandas), query analysis
(driver-side, catenation off per the query analyzer schema.xml:59-66),
and the numpy test oracle — that shared kernel is what makes
rank-identity between engine and oracle achievable.

Position semantics (classic-WDF parity, pinned by tokenizer goldens):
positions are assigned BEFORE stopword removal (removal leaves gaps,
analogous to Lucene position increments); catenated forms are INJECTED
tokens with posInc=0 — they stack on the last part of their run, exactly
like solr.WordDelimiterFilterFactory (schema.xml:54), so a phrase can
span a split identifier ("sort data" matches `mergeSort data`).
Catenation joins maximal runs of ADJACENT same-type parts only (a digit
breaks an alpha run and vice versa): `wi-fi` -> wi@0 fi@1 wifi@1, while
`utf8Decode` emits no catenated form. A whitespace word that yields no
subwords (pure punctuation) still advances one position — the posInc the
swallowed original token accumulates in Lucene. ``doc_len`` counts
DISTINCT positions (Lucene discountOverlaps=true: injected posInc=0
tokens don't inflate the BM25 norm).
"""

from __future__ import annotations

import gc
import re
import unicodedata
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from functools import cached_property
from itertools import chain

import numpy as np
import pandas as pd


@contextmanager
def _gc_paused():
    """The kernel allocates millions of short-lived string objects per
    batch; CPython's generational GC rescans them repeatedly and dominates
    runtime (measured 20x slowdown at 8k docs). None of the allocations
    are cyclic, so pausing collection during a batch is safe and the
    memory is reclaimed by refcounting as usual."""
    was = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if was:
            gc.enable()

from ckanext_extractor_spark.analysis.stopwords import CODE_STOPWORDS

# Subword pattern for T2: maximal runs that WordDelimiterFilter would emit.
#   HTTPServer2 -> HTTP, Server, 2 ; camelCase -> camel, Case ;
#   snake_case -> snake, case ; utf8Decode -> utf, 8, Decode
ALPHA_PART_RE = (
    r"[A-ZÀ-Þ]+(?=[A-ZÀ-Þ][a-zß-öø-ɏ])"  # HTTP in HTTPServer
    r"|[A-ZÀ-Þ]?[a-zß-öø-ɏ]+"  # Server, camel, Case
    r"|[A-ZÀ-Þ]+"  # ALLCAPS run
)
DIGIT_RUN_RE = r"[0-9]+"
PART_RE = ALPHA_PART_RE + r"|[0-9]+"
_PART_C = re.compile(PART_RE)
_DIGITS = set("0123456789")


_SIMPLE_C = re.compile(r"[a-z0-9]+")


@dataclass(frozen=True)
class AnalyzerConfig:
    """Frozen analysis contract. Changing any field re-defines the index.

    mode "simple" is the SQL-expressible chain — lower + split on
    [^a-z0-9]+, no catenation / stopping / folding — identical to the
    DuckDB oracle tokenizer, so a full engine pipeline (kernel -> salted
    segments -> codec -> top-k) built with it can be hash-gated against
    an ANSI-SQL oracle (the driver-gate battery's strong check)."""

    mode: str = "index"  # "index" (catenate on) | "query" (catenate off) | "simple"
    lowercase: bool = True
    ascii_fold: bool = True
    remove_stopwords: bool = True
    # Optional T4 Porter stemming (reference schema.xml:56) for natural-
    # language content; OFF by default — the code-corpus contract keeps
    # identifiers verbatim. Applied to the post-stopword token stream,
    # memoized per distinct token (analysis/stem.py).
    stem: bool = False
    stopwords: dict[str, frozenset[str]] = field(
        default_factory=lambda: dict(CODE_STOPWORDS)
    )
    min_token_len: int = 1
    max_token_len: int = 64

    @property
    def catenate(self) -> bool:
        return self.mode == "index"

    @cached_property
    def _query_config(self) -> "AnalyzerConfig":
        # see query_config_for; cached in the instance __dict__, which
        # a frozen dataclass still has
        if self.mode == "simple":
            return self
        return replace(self, mode="query")


INDEX_CONFIG = AnalyzerConfig(mode="index")
QUERY_CONFIG = AnalyzerConfig(mode="query")
SIMPLE_CONFIG = AnalyzerConfig(
    mode="simple", remove_stopwords=False, max_token_len=1 << 30
)


def _fold(t: str) -> str:
    if t.isascii():
        return t
    return (
        unicodedata.normalize("NFKD", t).encode("ascii", "ignore").decode("ascii")
    )


def _expand_word(
    w: str, config: AnalyzerConfig
) -> tuple[list[str], list[int], int]:
    """T2+T3+T5 for one distinct word -> (tokens, pos_offsets, width).

    ``tokens`` are the final emitted tokens in classic-WDF emission order
    (each same-type run's parts, then that run's catenated form).
    ``pos_offsets[i]`` is the position of tokens[i] within the word:
    parts advance (offset = part index), catenated forms are injected at
    posInc=0 on their run's LAST part (WordDelimiterFilter semantics,
    schema.xml:54; catenateAll=0 so runs never join across a type
    change). ``width`` is how many positions the word occupies in the
    stream — len(parts), or 1 for a word with no subwords (the swallowed
    token's posInc still accumulates in Lucene, leaving a gap)."""
    if config.mode == "simple":
        # SQL-parity chain: lower + maximal [a-z0-9] runs, nothing else.
        # No injected tokens, no gaps — each token is its own position.
        toks = _SIMPLE_C.findall(w.lower())
        return toks, list(range(len(toks))), len(toks)
    parts = _PART_C.findall(w)
    if not parts:
        return [], [], 1
    toks: list[str] = []
    offs: list[int] = []
    npar = len(parts)
    i = 0
    while i < npar:
        is_digit = parts[i][0] in _DIGITS
        j = i
        while j < npar and (parts[j][0] in _DIGITS) == is_digit:
            j += 1
        for p in range(i, j):
            toks.append(parts[p])
            offs.append(p)
        if config.catenate and j - i >= 2:
            toks.append("".join(parts[i:j]))
            offs.append(j - 1)
        i = j
    if config.lowercase:
        toks = [t.lower() for t in toks]
    if config.ascii_fold:
        toks = [_fold(t) for t in toks]
    lo, hi = config.min_token_len, config.max_token_len
    if any(not (lo <= len(t) <= hi) for t in toks):
        kept = [(t, o) for t, o in zip(toks, offs) if lo <= len(t) <= hi]
        toks = [t for t, _ in kept]
        offs = [o for _, o in kept]  # dropped tokens leave gaps
    return toks, offs, npar


def _empty_tokens() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "idx": np.array([], dtype=np.int64),
            "pos": np.array([], dtype=np.int64),
            "term": np.array([], dtype=object),
        }
    )


def analyze_batch(
    texts: pd.Series,
    langs: pd.Series | None = None,
    config: AnalyzerConfig = INDEX_CONFIG,
) -> pd.DataFrame:
    """Run the full analysis chain over a batch of documents.

    Returns a DataFrame with columns ``(idx, pos, term)`` where ``idx`` is
    the positional index into ``texts`` (0..len-1) and ``pos`` the token
    position within the document (gaps where stopwords were removed).
    """
    n = len(texts)
    if n == 0:
        return _empty_tokens()
    with _gc_paused():
        return _analyze_batch_impl(texts, langs, config, n)


def _analyze_batch_impl(
    texts: pd.Series,
    langs: pd.Series | None,
    config: AnalyzerConfig,
    n: int,
) -> pd.DataFrame:
    s = texts.reset_index(drop=True).fillna("")

    # T1: whitespace split -> word instances in doc order
    word_lists = s.str.split().to_numpy()
    wlens = np.fromiter((len(x) for x in word_lists), dtype=np.int64, count=n)
    total_words = int(wlens.sum())
    if total_words == 0:
        return _empty_tokens()
    doc_of_word = np.repeat(np.arange(n, dtype=np.int64), wlens)
    words = np.fromiter(
        chain.from_iterable(word_lists), dtype=object, count=total_words
    )

    # memoized T2/T3/T5 on DISTINCT words only (hash-based factorize:
    # O(n) C-speed, vs np.unique's comparison sort on object strings)
    inv, uniq = pd.factorize(words, sort=False)
    expanded = [_expand_word(w, config) for w in uniq]
    exp_lens = np.fromiter((len(e[0]) for e in expanded), dtype=np.int64,
                           count=len(expanded))
    total_flat = int(exp_lens.sum())
    flat = np.fromiter(
        chain.from_iterable(e[0] for e in expanded), dtype=object,
        count=total_flat,
    )
    offs_flat = np.fromiter(
        chain.from_iterable(e[1] for e in expanded), dtype=np.int64,
        count=total_flat,
    )
    widths = np.fromiter((e[2] for e in expanded), dtype=np.int64,
                         count=len(expanded))
    starts = np.zeros(len(expanded), dtype=np.int64)
    np.cumsum(exp_lens[:-1], out=starts[1:])

    # word-instance start positions: per-doc exclusive cumsum of widths
    # (a word occupies `width` positions whether or not all its tokens
    # survive — injected/caught tokens stack, dropped tokens leave gaps)
    wwidth = widths[inv]
    wstart = np.zeros(total_words, dtype=np.int64)
    np.cumsum(wwidth[:-1], out=wstart[1:])
    doc_first_word = np.zeros(n, dtype=np.int64)
    np.cumsum(wlens[:-1], out=doc_first_word[1:])
    # base position of each doc's first word (clip: trailing empty docs
    # index past the end; their base is never read)
    base = wstart[np.minimum(doc_first_word, total_words - 1)]
    word_pos = wstart - base[doc_of_word]

    # gather back to instances: for word-instance i with u=inv[i],
    # tokens are flat[starts[u] : starts[u]+exp_lens[u]]
    inst_lens = exp_lens[inv]
    total_toks = int(inst_lens.sum())
    if total_toks == 0:
        return _empty_tokens()
    inst_starts = np.repeat(starts[inv], inst_lens)
    # within-instance offsets: arange(total) - repeat(cumsum starts of runs)
    run_starts = np.zeros(total_words, dtype=np.int64)
    np.cumsum(inst_lens[:-1], out=run_starts[1:])
    within = np.arange(total_toks, dtype=np.int64) - np.repeat(run_starts, inst_lens)
    tok = flat[inst_starts + within]
    tok_doc = np.repeat(doc_of_word, inst_lens)

    # positions: word start + the token's offset within its word
    pos = np.repeat(word_pos, inst_lens) + offs_flat[inst_starts + within]

    # T4': per-lang stopword removal (after position assignment)
    if config.remove_stopwords and langs is not None and config.stopwords:
        lang_arr = (
            langs.reset_index(drop=True).fillna("").str.lower().to_numpy()
        )
        tok_lang = lang_arr[tok_doc]
        keep = np.ones(total_toks, dtype=bool)
        tok_series = pd.Series(tok, dtype=object)
        for lg in pd.unique(tok_lang):
            stops = config.stopwords.get(lg)
            if stops:
                lmask = tok_lang == lg
                keep[lmask] &= ~tok_series[lmask].isin(stops).to_numpy()
        tok, tok_doc, pos = tok[keep], tok_doc[keep], pos[keep]

    # optional T4: Porter stem, memoized over distinct surviving tokens
    # (stopwords were removed first, matching the Lucene filter order)
    if config.stem and len(tok):
        from ckanext_extractor_spark.analysis.stem import porter_stem

        sinv, suniq = pd.factorize(pd.Series(tok, dtype=object), sort=False)
        stemmed = np.array([porter_stem(w) for w in suniq], dtype=object)
        tok = stemmed[sinv]

    return pd.DataFrame({"idx": tok_doc, "pos": pos, "term": tok})


def postings_for_batch(
    texts: pd.Series,
    langs: pd.Series | None = None,
    config: AnalyzerConfig = INDEX_CONFIG,
) -> pd.DataFrame:
    """Analyze a batch and pre-aggregate to per-doc postings.

    Returns columns ``(idx, term, tf, positions, doc_len)``; ``positions``
    is BYTES — the per-(doc, term) position list gap+varbyte encoded (the
    exact byte layout the segment codec stores, so segment assembly is
    pure concatenation). ``doc_len`` is the doc's total emitted-token
    count (post-stopword).

    Why bytes, measured: carrying positions as list<int> cost ~10x — every
    downstream hop (Arrow, parquet staging, shuffle rows, pandas) keeps
    millions of boxed ints alive (49 s of JVM GC in one 40k-doc shuffle
    stage). Encoded, a posting's positions are ~tf bytes, opaque to every
    layer until query-time decode.

    The in-batch (term, doc) aggregation is the map-side combine that
    keeps the Spark shuffle at posting granularity instead of token
    granularity. Aggregation is factorize + stable argsort + reduceat —
    no pandas groupby, no per-group python.
    """
    toks = analyze_batch(texts, langs, config)
    if toks.empty:
        return pd.DataFrame(
            {
                "idx": np.array([], dtype=np.int64),
                "term": np.array([], dtype=object),
                "tf": np.array([], dtype=np.int64),
                "positions": np.array([], dtype=object),
                "doc_len": np.array([], dtype=np.int64),
            }
        )
    with _gc_paused():
        return _postings_agg(toks)


def _postings_agg(toks: pd.DataFrame) -> pd.DataFrame:
    from ckanext_extractor_spark.operators.codec import (
        varbyte_encode_with_lengths,
    )

    doc = toks["idx"].to_numpy()
    pos = toks["pos"].to_numpy()
    term_codes, uniq_terms = pd.factorize(toks["term"], sort=False)
    key = doc * (len(uniq_terms) + 1) + term_codes
    order = np.argsort(key, kind="stable")  # positions stay ascending
    sk = key[order]
    bounds = np.flatnonzero(sk[1:] != sk[:-1]) + 1
    g_starts = np.concatenate(([0], bounds))
    tf = np.diff(np.concatenate((g_starts, [len(sk)])))
    g_doc = doc[order][g_starts]
    g_term = uniq_terms.to_numpy()[term_codes[order][g_starts]] if hasattr(
        uniq_terms, "to_numpy"
    ) else np.asarray(uniq_terms, dtype=object)[term_codes[order][g_starts]]

    # gap+varbyte encode positions: ONE vectorized encode over the whole
    # batch, then slice per group via byte-length prefix sums
    pos_sorted = pos[order]
    gaps = pos_sorted.copy()
    gaps[1:] = pos_sorted[1:] - pos_sorted[:-1]
    gaps[g_starts] = pos_sorted[g_starts]  # group-first is absolute
    buf, vlens = varbyte_encode_with_lengths(gaps.astype(np.uint64))
    byte_ends = np.cumsum(vlens)
    grp_end = byte_ends[np.concatenate((bounds, [len(sk)])) - 1]
    grp_start = np.concatenate(([0], grp_end[:-1]))
    pos_blobs = [buf[s:e] for s, e in zip(grp_start, grp_end)]

    # doc_len = DISTINCT surviving positions per doc (Lucene
    # discountOverlaps: injected posInc=0 tokens don't count toward the
    # BM25 norm). Rows arrive in emission order — doc-contiguous with
    # nondecreasing pos — so a distinct position is a row where doc or
    # pos changes.
    minlen = int(doc.max()) + 1 if len(doc) else 0
    head = np.ones(len(doc), dtype=bool)
    if len(doc) > 1:
        head[1:] = (doc[1:] != doc[:-1]) | (pos[1:] != pos[:-1])
    doc_len_by_doc = np.bincount(doc[head], minlength=minlen)
    return pd.DataFrame(
        {
            "idx": g_doc,
            "term": g_term,
            "tf": tf.astype(np.int64),
            "positions": pos_blobs,
            "doc_len": doc_len_by_doc[g_doc].astype(np.int64),
        }
    )


def query_config_for(index_config: AnalyzerConfig) -> AnalyzerConfig:
    """The query-side analyzer matching an index contract: catenation off
    (schema.xml:59-66), every other stage — stopping, folding, stemming,
    simple-mode — identical, or query terms would miss the index's
    vocabulary. Memoized: one query config per index config."""
    return index_config._query_config


def analyze_query(query: str, lang: str | None = None,
                  config: AnalyzerConfig = QUERY_CONFIG) -> list[str]:
    """Analyze a query string with the query-mode chain (catenation off,
    per the reference's query analyzer schema.xml:59-66). Returns the
    term bag in order; duplicates preserved.

    Scalar path (optimization r6, guide §1.2): the batch analyzer's
    pandas/numpy scaffolding (Series init, str.split, factorize,
    DataFrame build) cost ~1.3 ms per call — ~50% of warm-serving query
    latency for a 2-word query. One query is a handful of words, so the
    chain runs directly: split -> _expand_word (the same T2+T3+T5 the
    batch path memoizes per distinct word) -> per-lang stopping ->
    stemming, in the batch path's exact filter order. Identity with the
    batch analyzer is pinned by tests/test_analyze_query_scalar.py
    (fuzz over modes x stem x langs)."""
    toks: list[str] = []
    for w in (query or "").split():
        toks.extend(_expand_word(w, config)[0])
    if (
        config.remove_stopwords
        and lang is not None
        and config.stopwords
        and toks
    ):
        stops = config.stopwords.get((lang or "").lower())
        if stops:
            toks = [t for t in toks if t not in stops]
    if config.stem and toks:
        from ckanext_extractor_spark.analysis.stem import porter_stem

        toks = [porter_stem(t) for t in toks]
    return toks
