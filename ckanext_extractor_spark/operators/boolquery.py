"""Boolean query language: nested AND/OR/NOT with parentheses and term
boosts (the Lucene classic QueryParser subset Solr exposes as the
default ``lucene`` defType — the reference's index answers exactly this
syntax through CKAN's package_search q parameter).

Grammar (default operator AND, reference parity schema.xml:166)::

    expr    := andExpr (OR andExpr)*
    andExpr := unary (AND? unary)*          # juxtaposition = AND
    unary   := (NOT | '-') unary | atom
    atom    := '(' expr ')' | FIELD ':' RANGE ('^' NUMBER)?
             | FIELD ':' VALUE ('^' NUMBER)?
             | TERM ('~' EDITS? | contains '*'/'?')? ('^' NUMBER)?

A ``field:value`` clause targets one extracted-metadata field (the
reference's dynamic Solr fields, schema.xml:161): the value runs through
the FIELD analyzer (simple chain), all its tokens must occur in that
doc's field value (search_field semantics), and the clause scores
per-field BM25 times its boost. Unknown field = matches nothing (Lucene
parity). Fielded phrases ``f:"a b"`` are rejected (field postings carry
no positions — pinned; dismax pf covers phrase-in-field boosting).

Multi-term leaves follow Lucene's MultiTermQuery rewrite: a TERM
containing ``*``/``?`` is a WildcardQuery, ``term~n`` (n defaulting to
2, the LevenshteinAutomata ceiling) a FuzzyQuery — both are REWRITTEN
before evaluation (:func:`rewrite_expansions`) into an :class:`Expanded`
leaf holding the concrete index terms, which scores as a
scoring-boolean OR with each expansion's own idf (the engine's pinned
prefix/wildcard/fuzzy rewrite). ``field:[a TO b]`` / ``{a TO b}`` is a
range clause over the RAW metadata value (lexicographic, the engine's
fq-range semantics) scoring constant ``1.0 * boost`` per matching doc
(Lucene rewrites range queries constant-score). Wildcards, fuzzy
suffixes and ranges are NOT analyzed (Lucene parity: multi-term queries
bypass the analyzer, only case-normalized at expansion time).

Each TERM runs through the query-mode analyzer; a term that analyzes to
several tokens (``camelCase`` under the code analyzer) becomes a
conjunctive group, consistent with the engine's default-AND. Scoring is
Lucene BooleanQuery semantics: a matching doc's score is the sum of the
BM25 contributions of the scoring clauses it matches (an OR adds only
the matching side), each multiplied by its ``^boost``; NOT clauses
filter and never score. A query with no positive clause is rejected
(Lucene parity: pure negation has no result set to score).

Evaluation is a single vectorized pass, no per-doc Python: the candidate
universe is the union of the positive leaves' posting doc_ids (sorted,
deduped); every leaf materializes a (match-mask, score-vector) pair over
that universe via one searchsorted; AND/OR/NOT combine masks with numpy
boolean algebra while score vectors add (leaf vectors are zero outside
their own matches, so a non-matching clause contributes nothing). At
cluster scale the same leaf vectors come out of the per-bucket decode
kernel — the AST evaluation itself is O(universe) per node.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from ckanext_extractor_spark.operators.wand import (
    BM25_B,
    BM25_K1,
    TermPostings,
    _topk_select,
    bm25_impacts,
)


class QuerySyntaxError(ValueError):
    pass


# -- AST --------------------------------------------------------------------


@dataclass
class Term:
    tokens: list[str]  # >1 = conjunctive group from one surface term
    boost: float = 1.0


@dataclass
class Phrase:
    tokens: list[str]  # analyzed, order preserved (duplicates kept)
    slop: int = 0
    boost: float = 1.0


@dataclass
class FieldTerm:
    """Fielded clause ``field:value`` (Lucene classic QueryParser field
    syntax — the reference's dynamic metadata fields answer exactly this
    through Solr, schema.xml:161). ``tokens`` come from the FIELD
    analyzer (the simple chain field_postings is built with), not the
    main-index query analyzer; >1 token = conjunctive group, matching
    search_field's all-tokens-in-value semantics. Scores per-field BM25
    (Lucene keeps per-field statistics and norms). An unknown field
    matches nothing — Lucene parity: no postings, no matches."""

    field: str
    tokens: list[str]
    boost: float = 1.0


@dataclass
class Wildcard:
    """Unrewritten WildcardQuery leaf (``te*t`` / ``te?t``; a trailing
    ``*`` is Lucene's PrefixQuery special case). Must be rewritten to an
    :class:`Expanded` leaf via :func:`rewrite_expansions` before
    evaluation — expansion needs the index's terms dictionary, which the
    parser does not have."""

    pattern: str
    boost: float = 1.0


@dataclass
class Fuzzy:
    """Unrewritten FuzzyQuery leaf (``term~1``, ``term~`` = edits 2 —
    Lucene's default maxEdits / LevenshteinAutomata ceiling). Rewritten
    like :class:`Wildcard`."""

    term: str
    max_edits: int = 2
    boost: float = 1.0


@dataclass
class Expanded:
    """A multi-term leaf after rewrite: scoring-boolean OR over the
    concrete index terms (Lucene SCORING_BOOLEAN_REWRITE — each
    expansion keeps its own idf, a doc matching several expansions sums
    their contributions; the engine's pinned prefix/wildcard/fuzzy
    rewrite, SQL-expressible as LIKE / levenshtein() predicates inside
    the BM25 formulation). Empty ``tokens`` = a positive clause that
    matches nothing (a ``zz*`` query returns no docs, it is not a syntax
    error)."""

    tokens: list[str]
    boost: float = 1.0


@dataclass
class FieldRange:
    """Range clause ``field:[a TO b]`` / ``{a TO b}`` (Lucene
    TermRangeQuery over the reference's dynamic string fields —
    comparison is lexicographic on the RAW collapsed metadata value,
    exactly the engine's fq-range semantics). ``None`` bounds are open
    (``*``). Scores constant ``1.0 * boost`` on matching docs: Lucene
    rewrites multi-term range queries CONSTANT_SCORE."""

    field: str
    lo: "str | None"
    hi: "str | None"
    lo_inc: bool = True
    hi_inc: bool = True
    boost: float = 1.0


@dataclass
class And:
    parts: list


@dataclass
class Or:
    parts: list


@dataclass
class Not:
    child: object


_TOKEN_RE = re.compile(
    r"\s*(?:(?P<lp>\()|(?P<rp>\))|(?P<op>AND\b|OR\b|NOT\b|&&|\|\|)"
    r"|(?P<fpfx>[A-Za-z_][A-Za-z0-9_.\-]*:)(?=\")"
    r"|(?P<frange>[A-Za-z_][A-Za-z0-9_.\-]*:[\[\{][^\]\}]*[\]\}])"
    r"(?:\^(?P<frboost>\d+(?:\.\d+)?))?"
    r"|(?P<phrase>\"[^\"]*\")(?:~(?P<slop>\d+))?"
    r"(?:\^(?P<pboost>\d+(?:\.\d+)?))?"
    r"|(?P<neg>-)|(?P<term>[^\s()^-][^\s()^]*)(?:\^(?P<boost>\d+(?:\.\d+)?))?)"
)

# field:[a TO b] / {a TO b} with * open bounds (the fq-range grammar)
_FRANGE_RE = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_.\-]*):([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])$"
)

# term~N fuzzy suffix (N empty = Lucene default maxEdits 2)
_FUZZY_RE = re.compile(r"^(.+?)~(\d*)$")

# field:value inside one lexed TERM (Lucene field syntax; field names may
# carry the engine's cleaned-metadata-key dashes). No escape syntax —
# ``\:`` is not un-escaped (pinned; the reference's keys never contain
# colons, lib.py:55-65 cleaning strips them).
_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_.\-]*):(.*)$")


def _lex(q: str) -> list[tuple[str, object]]:
    out: list[tuple[str, object]] = []
    i = 0
    while i < len(q):
        if q[i:].isspace():
            break  # trailing whitespace/newline is not a lex error
        m = _TOKEN_RE.match(q, i)
        if not m or m.end() == i:
            raise QuerySyntaxError(f"cannot lex query at: {q[i:]!r}")
        i = m.end()
        if m.group("lp"):
            out.append(("(", None))
        elif m.group("rp"):
            out.append((")", None))
        elif m.group("op"):
            op = m.group("op")
            out.append(("OP", {"&&": "AND", "||": "OR"}.get(op, op)))
        elif m.group("fpfx"):
            out.append(("FPFX", m.group("fpfx")[:-1]))
        elif m.group("frange"):
            out.append((
                "FRANGE",
                (m.group("frange"), float(m.group("frboost") or 1.0)),
            ))
        elif m.group("phrase") is not None:
            out.append((
                "PHRASE",
                (
                    m.group("phrase")[1:-1],
                    int(m.group("slop") or 0),
                    float(m.group("pboost") or 1.0),
                ),
            ))
        elif m.group("neg"):
            out.append(("NEG", None))
        elif m.group("term"):
            out.append(("TERM", (m.group("term"), float(m.group("boost") or 1.0))))
    return out


class _Parser:
    def __init__(
        self, toks: list[tuple[str, object]], analyze, analyze_field=None
    ):
        self.toks = toks
        self.pos = 0
        self.analyze = analyze  # surface term -> list[str] analyzed tokens
        # field-value analyzer (the simple chain field_postings is built
        # with); None = fielded syntax disabled, colons stay in terms
        self.analyze_field = analyze_field

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.pos += 1
        return t

    def parse(self):
        node = self.or_expr()
        if self.peek()[0] is not None:
            raise QuerySyntaxError(
                f"unexpected trailing input at token {self.pos}"
            )
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self.peek() == ("OP", "OR"):
            self.next()
            parts.append(self.and_expr())
        if len(parts) == 1:
            return parts[0]
        # Lucene parity: a pure-negative SHOULD clause has no result set
        # of its own (BooleanQuery scores nothing for a MUST_NOT-only
        # clause), so evaluating it as a complement over the positive-leaf
        # universe would make `a OR -b` depend on which OTHER terms the
        # query happens to contain. Reject it loudly instead of guessing
        # (the same stance as the top-level pure-negation check below).
        for p in parts:
            if p is not None and not has_positive_clause(p):
                raise QuerySyntaxError(
                    "pure-negative OR operand has no result set; "
                    "rewrite `a OR -b` as `a` or use AND: `a -b`"
                )
        return Or(parts)

    def and_expr(self):
        parts = [self.unary()]
        while True:
            kind, val = self.peek()
            if kind == "OP" and val == "AND":
                self.next()
                parts.append(self.unary())
            elif kind in ("(", "NEG", "TERM", "PHRASE", "FRANGE",
                          "FPFX") or (
                kind == "OP" and val == "NOT"
            ):
                parts.append(self.unary())  # juxtaposition = default AND
            else:
                break
        parts = [p for p in parts if p is not None]
        if not parts:
            raise QuerySyntaxError("empty clause")
        return parts[0] if len(parts) == 1 else And(parts)

    def unary(self):
        kind, val = self.peek()
        if kind == "NEG" or (kind == "OP" and val == "NOT"):
            self.next()
            child = self.unary()
            if child is None:
                # the negated clause analyzed to nothing (pure
                # stopword/punctuation): drop it, exactly as the same
                # non-negated term drops — Lucene/Solr erase stopped
                # clauses rather than failing the query (code-review
                # r5 finding). A genuinely dangling NOT (no operand
                # token at all) still errors in atom().
                return None
            return Not(child)
        return self.atom()

    def atom(self):
        kind, val = self.next()
        if kind == "(":
            node = self.or_expr()
            if self.next()[0] != ")":
                raise QuerySyntaxError("unbalanced parenthesis")
            return node
        if kind == "FPFX":
            # field prefix directly before a quote: field:"a b"
            if self.analyze_field is None:
                # fielded syntax disabled: the prefix is a plain term
                # (colons stay in terms) and the quote parses as its
                # own phrase atom via juxtaposition
                tokens = self.analyze(val)
                if not tokens:
                    return None
                return Term(tokens, 1.0)
            raise QuerySyntaxError(
                "fielded phrases are not supported (field postings carry "
                "no positions); use dismax pf for phrase-in-field boosting"
            )
        if kind == "FRANGE":
            surface, boost = val
            if self.analyze_field is None:
                raise QuerySyntaxError(
                    "range clauses need a metadata-field-aware index "
                    "(no field resolver available)"
                )
            rm = _FRANGE_RE.match(surface)
            if not rm:
                raise QuerySyntaxError(
                    f"malformed range clause {surface!r}: expected "
                    "field:[a TO b] (or {a TO b}, * for open bounds)"
                )
            field, lb, lo, hi, rb = rm.groups()
            return FieldRange(
                field,
                None if lo == "*" else lo,
                None if hi == "*" else hi,
                lo_inc=lb == "[",
                hi_inc=rb == "]",
                boost=boost,
            )
        if kind == "TERM":
            surface, boost = val
            fm = _FIELD_RE.match(surface) if self.analyze_field else None
            if fm:
                field, value = fm.group(1), fm.group(2)
                if not value:
                    raise QuerySyntaxError(
                        f"field clause {field!r}: needs a value"
                    )
                if any(c in value for c in "*?~"):
                    raise QuerySyntaxError(
                        f"field clause {field!r}: wildcard/fuzzy field "
                        "values are not supported (field postings index "
                        "whole analyzed tokens; pinned)"
                    )
                ftokens = self.analyze_field(value)
                if not ftokens:
                    return None  # value analyzes away: clause drops
                return FieldTerm(field, ftokens, boost)
            zm = _FUZZY_RE.match(surface)
            if zm:
                base, edits = zm.groups()
                if any(c in base for c in "*?~"):
                    raise QuerySyntaxError(
                        f"cannot combine wildcard and fuzzy in {surface!r}"
                    )
                n = int(edits) if edits else 2  # Lucene default maxEdits
                if n > 0:
                    return Fuzzy(base, n, boost)
                surface = base  # term~0 = exact term, analyzed normally
            if "*" in surface or "?" in surface:
                return Wildcard(surface, boost)
            tokens = self.analyze(surface)
            if not tokens:
                return None  # pure-stopword term: drops out of its clause
            return Term(tokens, boost)
        if kind == "PHRASE":
            surface, slop, boost = val
            tokens = self.analyze(surface)  # ordered, duplicates kept
            if not tokens:
                return None
            if len(tokens) == 1:
                return Term(tokens, boost)  # one-word "phrase" = term
            return Phrase(tokens, slop, boost)
        raise QuerySyntaxError(f"unexpected token {kind!r}")


def parse_query(q: str, analyze, analyze_field=None) -> object:
    """Parse ``q`` into an AST; ``analyze`` maps one surface term to its
    analyzed tokens, ``analyze_field`` (optional) one field VALUE to its
    field-chain tokens — passing it enables Lucene ``field:value``
    clauses. Raises QuerySyntaxError on malformed input or when no
    positive (scoring) clause survives analysis."""
    if not isinstance(q, str) or not q.strip():
        raise QuerySyntaxError("empty query")
    node = _Parser(_lex(q), analyze, analyze_field).parse()
    if node is None or not has_positive_clause(node):
        raise QuerySyntaxError(
            "query needs at least one positive term (pure negation has "
            "no result set to score)"
        )
    return node


def has_positive_clause(node) -> bool:
    """True when at least one scoring (non-negated) leaf — term, phrase
    or fielded clause — survives; the universe is non-degenerate."""

    def walk(n, neg: bool) -> bool:
        if n is None:
            return False
        if isinstance(
            n, (Term, Phrase, FieldTerm, Wildcard, Fuzzy, Expanded,
                FieldRange)
        ):
            return not neg
        if isinstance(n, Not):
            return walk(n.child, not neg)
        return any(walk(p, neg) for p in n.parts)

    return walk(node, False)


def rewrite_expansions(node, expand_wildcard, expand_fuzzy):
    """Lucene MultiTermQuery rewrite: replace every :class:`Wildcard` /
    :class:`Fuzzy` leaf with an :class:`Expanded` leaf holding the
    concrete index terms. ``expand_wildcard(pattern) -> list[str]`` and
    ``expand_fuzzy(term, max_edits) -> list[str]`` own the terms-dict
    access (and its expansion cap — Lucene maxClauseCount). Runs BEFORE
    postings are fetched, so :func:`all_tokens` on the rewritten tree
    covers the expansions."""
    if node is None:
        return None
    if isinstance(node, Wildcard):
        return Expanded(list(expand_wildcard(node.pattern)), node.boost)
    if isinstance(node, Fuzzy):
        return Expanded(
            list(expand_fuzzy(node.term, node.max_edits)), node.boost
        )
    if isinstance(node, Not):
        return Not(rewrite_expansions(node.child, expand_wildcard,
                                      expand_fuzzy))
    if isinstance(node, And):
        return And([rewrite_expansions(p, expand_wildcard, expand_fuzzy)
                    for p in node.parts])
    if isinstance(node, Or):
        return Or([rewrite_expansions(p, expand_wildcard, expand_fuzzy)
                   for p in node.parts])
    return node


def has_multiterm(node) -> bool:
    """True while any unrewritten Wildcard/Fuzzy leaf remains."""
    if isinstance(node, (Wildcard, Fuzzy)):
        return True
    if isinstance(node, Not):
        return has_multiterm(node.child)
    if isinstance(node, (And, Or)):
        return any(has_multiterm(p) for p in node.parts)
    return False


def positive_tokens(node) -> list[str]:
    """Analyzed tokens of every scoring (non-negated) leaf, dedup-stable."""
    out: list[str] = []

    def walk(n, neg: bool):
        if n is None:
            return
        if isinstance(n, (Term, Phrase, Expanded)):
            if not neg:
                out.extend(n.tokens)
        elif isinstance(n, (FieldTerm, FieldRange)):
            pass  # resolved against metadata tables, not the main index
        elif isinstance(n, Not):
            walk(n.child, not neg)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, neg)

    walk(node, False)
    return list(dict.fromkeys(out))


def field_leaves(node) -> dict[tuple[str, tuple[str, ...]], bool]:
    """Distinct fielded leaves -> whether ANY occurrence is positive
    (non-negated). Positive field leaves contribute their match sets to
    the candidate universe; negated-only ones just need a mask."""
    out: dict[tuple[str, tuple[str, ...]], bool] = {}

    def walk(n, neg: bool):
        if n is None:
            return
        if isinstance(n, FieldTerm):
            key = (n.field, tuple(n.tokens))
            out[key] = out.get(key, False) or not neg
        elif isinstance(n, Not):
            walk(n.child, not neg)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, neg)

    walk(node, False)
    return out


def phrase_leaves(node) -> "dict[tuple, bool]":
    """Distinct phrase leaves -> whether ANY occurrence is positive.
    Key = (tuple(tokens), slop) — boost is per-occurrence, resolved at
    compile time; the match set is shared."""
    out: dict[tuple, bool] = {}

    def walk(n, neg: bool):
        if n is None:
            return
        if isinstance(n, Phrase):
            key = (tuple(n.tokens), n.slop)
            out[key] = out.get(key, False) or not neg
        elif isinstance(n, Not):
            walk(n.child, not neg)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, neg)

    walk(node, False)
    return out


def range_leaves(node) -> "dict[tuple, bool]":
    """Distinct range leaves -> whether ANY occurrence is positive.
    Key = (field, lo, hi, lo_inc, hi_inc); positive range leaves extend
    the candidate universe (a pure ``lang:[a TO b]`` query evaluates)."""
    out: dict[tuple, bool] = {}

    def walk(n, neg: bool):
        if n is None:
            return
        if isinstance(n, FieldRange):
            key = (n.field, n.lo, n.hi, n.lo_inc, n.hi_inc)
            out[key] = out.get(key, False) or not neg
        elif isinstance(n, Not):
            walk(n.child, not neg)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, neg)

    walk(node, False)
    return out


def all_tokens(node) -> list[str]:
    out: list[str] = []

    def walk(n):
        if n is None:
            return
        if isinstance(n, (Term, Phrase, Expanded)):
            out.extend(n.tokens)
        elif isinstance(n, (FieldTerm, FieldRange)):
            pass  # resolved against metadata tables, not main postings
        elif isinstance(n, Not):
            walk(n.child)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)

    walk(node)
    return list(dict.fromkeys(out))


# -- distributed (Catalyst) compilation --------------------------------------


def compile_columns(node, tok_col, phrase_col, field_col, range_col):
    """Compile the AST into a ``(match, score)`` pair of Spark Column
    expressions over a per-doc frame — the cluster-scale twin of
    :func:`eval_topk`. The caller supplies column resolvers:

    - ``tok_col(token)`` -> nullable double Column: the token's summed
      BM25 for the doc (null = token absent);
    - ``phrase_col((tokens, slop))`` -> nullable double: the phrase
      leaf's conjunctive BM25 (null = no phrase match);
    - ``field_col((field, tokens))`` -> nullable double: per-field BM25;
    - ``range_col((field, lo, hi, lo_inc, hi_inc))`` -> nullable flag.

    A resolver may return ``F.lit(None)`` for an unresolvable leaf (no
    segments / no metadata sidecar) — it then matches nothing, the same
    degradation the driver evaluator pins. BooleanQuery semantics are
    preserved exactly: every composite gates its children's score sum on
    its own match (``CASE WHEN``), so a non-matching AND subtree under
    an OR contributes nothing — and the whole tree lands in ONE
    whole-stage-codegen projection, no per-clause jobs."""
    import operator
    from functools import reduce

    from pyspark.sql import functions as F

    def gate(m, parts):
        s = reduce(operator.add, parts) if parts else F.lit(0.0)
        return F.when(m, s).otherwise(F.lit(0.0))

    def ev(n):
        if isinstance(n, (Wildcard, Fuzzy)):
            raise QuerySyntaxError(
                "wildcard/fuzzy clauses must be rewritten against the "
                "terms dictionary before evaluation (rewrite_expansions)"
            )
        if isinstance(n, Term):
            cols = [tok_col(t) for t in n.tokens]
            m = reduce(operator.and_, [c.isNotNull() for c in cols])
            return m, gate(
                m,
                [F.lit(float(n.boost)) * F.coalesce(c, F.lit(0.0))
                 for c in cols],
            )
        if isinstance(n, Expanded):
            if not n.tokens:
                return F.lit(False), F.lit(0.0)
            cols = [tok_col(t) for t in n.tokens]
            m = reduce(operator.or_, [c.isNotNull() for c in cols])
            return m, gate(
                m,
                [F.lit(float(n.boost)) * F.coalesce(c, F.lit(0.0))
                 for c in cols],
            )
        if isinstance(n, Phrase):
            c = phrase_col((tuple(n.tokens), n.slop))
            m = c.isNotNull()
            return m, gate(
                m, [F.lit(float(n.boost)) * F.coalesce(c, F.lit(0.0))]
            )
        if isinstance(n, FieldTerm):
            c = field_col((n.field, tuple(n.tokens)))
            m = c.isNotNull()
            return m, gate(
                m, [F.lit(float(n.boost)) * F.coalesce(c, F.lit(0.0))]
            )
        if isinstance(n, FieldRange):
            c = range_col((n.field, n.lo, n.hi, n.lo_inc, n.hi_inc))
            m = c.isNotNull()
            return m, gate(m, [F.lit(float(n.boost))])
        if isinstance(n, And):
            pairs = [ev(p) for p in n.parts]
            m = reduce(operator.and_, [pm for pm, _ in pairs])
            return m, gate(m, [ps for _, ps in pairs])
        if isinstance(n, Or):
            pairs = [ev(p) for p in n.parts]
            m = reduce(operator.or_, [pm for pm, _ in pairs])
            return m, gate(m, [ps for _, ps in pairs])
        if isinstance(n, Not):
            m, _ = ev(n.child)
            return ~m, F.lit(0.0)
        raise TypeError(f"bad node {n!r}")

    return ev(node)


# -- vectorized evaluation --------------------------------------------------


def has_phrase(node) -> bool:
    if isinstance(node, Phrase):
        return True
    if isinstance(node, Not):
        return has_phrase(node.child)
    if isinstance(node, (And, Or)):
        return any(has_phrase(p) for p in node.parts)
    return False


def eval_topk(
    node,
    postings: dict[str, TermPostings],
    k: int,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
    phrase_cb=None,
    field_cb=None,
    range_cb=None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for a parsed boolean query. ``postings``
    maps analyzed token -> TermPostings (absent token = empty list).

    ``phrase_cb(tokens, slop) -> sorted int64 doc_id array`` resolves
    quoted-phrase leaves (positions live in segment rows, not in
    TermPostings — the caller owns that access path). A phrase leaf
    scores like the engine's pinned phrase semantics: the conjunctive
    BM25 sum of its distinct terms, on phrase-matching docs only,
    times the leaf boost.

    ``field_cb(field, tokens) -> (sorted int64 doc_id array, float64
    score array)`` resolves ``field:value`` leaves with per-field BM25
    (the caller owns field_postings access); positive field leaves
    extend the candidate universe, so a pure fielded query evaluates
    too. Resolved once per distinct (field, tokens) leaf.

    ``range_cb(field, lo, hi, lo_inc, hi_inc) -> sorted int64 doc_id
    array`` resolves ``field:[a TO b]`` leaves (raw-metadata-value
    comparison — the caller owns the EAV scan); a range leaf scores
    constant ``1.0 * boost`` on its matches (Lucene constant-score
    rewrite). Wildcard/fuzzy leaves must have been rewritten with
    :func:`rewrite_expansions` first."""
    if has_multiterm(node):
        raise QuerySyntaxError(
            "wildcard/fuzzy clauses must be rewritten against the terms "
            "dictionary before evaluation (rewrite_expansions)"
        )
    pos = positive_tokens(node)
    arrs = [postings[t].doc_ids for t in pos if t in postings]
    arrs = [a for a in arrs if a.size]
    fres: dict[tuple[str, tuple[str, ...]], tuple] = {}
    for key, positive in field_leaves(node).items():
        if field_cb is None:
            raise QuerySyntaxError(
                "fielded clauses need a field-postings-aware index "
                "(no field resolver available)"
            )
        ids, scores = field_cb(key[0], list(key[1]))
        ids = np.asarray(ids, dtype=np.int64)
        scores = np.asarray(scores, dtype=np.float64)
        fres[key] = (ids, scores)
        if positive and ids.size:
            arrs.append(ids)
    rres: dict[tuple, np.ndarray] = {}
    for key, positive in range_leaves(node).items():
        if range_cb is None:
            raise QuerySyntaxError(
                "range clauses need a metadata-aware index "
                "(no range resolver available)"
            )
        rids = np.asarray(range_cb(*key), dtype=np.int64)
        rres[key] = rids
        if positive and rids.size:
            arrs.append(rids)
    arrs = [a for a in arrs if a.size]
    if not arrs:
        return []
    universe = np.unique(np.concatenate(arrs))

    def tok_mask_score(tok: str, boost: float):
        tp = postings.get(tok)
        mask = np.zeros(universe.size, dtype=bool)
        score = np.zeros(universe.size, dtype=np.float64)
        if tp is None or not len(tp.doc_ids):
            return mask, score
        idx = np.searchsorted(universe, tp.doc_ids)
        inb = idx < universe.size
        hit = inb.copy()
        hit[inb] = universe[idx[inb]] == tp.doc_ids[inb]
        uidx = idx[hit]
        mask[uidx] = True
        score[uidx] = boost * bm25_impacts(tp, avgdl, k1, b)[hit]
        return mask, score

    def ev(n):
        if isinstance(n, Phrase):
            if phrase_cb is None:
                raise QuerySyntaxError(
                    "phrase clauses need a positions-aware index "
                    "(no phrase resolver available)"
                )
            ids = np.asarray(phrase_cb(n.tokens, n.slop), dtype=np.int64)
            mask = np.zeros(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            if ids.size:
                idx = np.searchsorted(universe, ids)
                inb = idx < universe.size
                hit = inb.copy()
                hit[inb] = universe[idx[inb]] == ids[inb]
                mask[idx[hit]] = True
                for tok in dict.fromkeys(n.tokens):
                    _, s = tok_mask_score(tok, n.boost)
                    score += s
                score = np.where(mask, score, 0.0)
            return mask, score
        if isinstance(n, FieldTerm):
            ids, sc = fres[(n.field, tuple(n.tokens))]
            mask = np.zeros(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            if ids.size:
                idx = np.searchsorted(universe, ids)
                inb = idx < universe.size
                hit = inb.copy()
                hit[inb] = universe[idx[inb]] == ids[inb]
                mask[idx[hit]] = True
                score[idx[hit]] = n.boost * sc[hit]
            return mask, score
        if isinstance(n, Expanded):
            # scoring-boolean OR: a doc matching several expansions sums
            # their per-term contributions (each with its own idf)
            mask = np.zeros(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            for tok in n.tokens:
                m, s = tok_mask_score(tok, n.boost)
                mask |= m
                score += s  # zero outside each token's own matches
            return mask, score
        if isinstance(n, FieldRange):
            ids = rres[(n.field, n.lo, n.hi, n.lo_inc, n.hi_inc)]
            mask = np.zeros(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            if ids.size:
                idx = np.searchsorted(universe, ids)
                inb = idx < universe.size
                hit = inb.copy()
                hit[inb] = universe[idx[inb]] == ids[inb]
                mask[idx[hit]] = True
                score[idx[hit]] = n.boost  # ConstantScore(1.0) * boost
            return mask, score
        if isinstance(n, Term):
            mask = np.ones(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            for tok in n.tokens:  # conjunctive group from one surface term
                m, s = tok_mask_score(tok, n.boost)
                mask &= m
                score += s
            if len(n.tokens) > 1:
                score = np.where(mask, score, 0.0)
            return mask, score
        if isinstance(n, And):
            mask = np.ones(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            for p in n.parts:
                m, s = ev(p)
                mask &= m
                score += s
            return mask, np.where(mask, score, 0.0)
        if isinstance(n, Or):
            mask = np.zeros(universe.size, dtype=bool)
            score = np.zeros(universe.size, dtype=np.float64)
            for p in n.parts:
                m, s = ev(p)
                mask |= m
                score += s  # non-matching side is zero there already
            return mask, np.where(mask, score, 0.0)
        if isinstance(n, Not):
            m, _ = ev(n.child)
            return ~m, np.zeros(universe.size, dtype=np.float64)
        raise TypeError(f"bad node {n!r}")

    mask, score = ev(node)
    if not mask.any():
        return []
    return _topk_select(universe[mask], score[mask], k)
