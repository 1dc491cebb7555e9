"""Round-4 self-review regression pins: duplicate-generation scoring,
highlight overlap, fielded-syntax-disabled parsing, graph convergence
at the round cap, CLI hl-post gate, json-facet null ordering, and the
min_match/conjunctive contract on the distributed match head."""

from __future__ import annotations

import numpy as np
import pytest

from ckanext_extractor_spark.api import ExtractorEngine, ValidationError

DOCS = [
    ("r/a", "p0", "c0", "markdown", "alpha beta gamma",
     {"Lang": ["en"], "N": ["3"]}),
    ("r/a", "p1", "c1", "markdown", "alpha beta",
     {"Lang": ["de"]}),
    ("r/a", "p2", "c2", "markdown", "alpha delta",
     {"Lang": ["en"], "N": ["7"]}),
    ("r/a", "p3", "c3", "markdown", "beta gamma delta",
     {"Lang": ["en"], "N": ["1"]}),
]

SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, metadata map<string, array<string>>"
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("adv4"))
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=50,
                          indexed_fields=("lang", "n"))
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="a4")
    return eng


# ---- scored_terms_distributed: duplicate live generation is deduped


def _masked_docs_bc(spark, gens, tombs=()):
    """Broadcast {gen id: GenDocs with its live mask} for ``gens``
    ((gen id, seq, GenDocs)), masks from the engine's builder."""
    from ckanext_extractor_spark.operators.codec import live_masks

    ids = np.array([d for d, _ in tombs], dtype=np.int64)
    seqs = np.array([s for _, s in tombs], dtype=np.int64)
    masked = live_masks([(s, d) for _, s, d in gens], ids, seqs)
    return spark.sparkContext.broadcast(
        {g: d for (g, _, _), d in zip(gens, masked)}
    )


def test_scored_terms_dedupes_duplicate_generations(spark):
    from ckanext_extractor_spark.operators.codec import (
        GenDocs,
        encode_posting_list,
    )
    from ckanext_extractor_spark.operators.wand import (
        scored_terms_distributed,
    )

    ids = np.array([5, 9], dtype=np.int64)
    tfs = np.array([2, 1], dtype=np.int64)
    dls = np.array([10, 10], dtype=np.int64)
    docs = GenDocs.of(ids, dls)
    docs_bc = _masked_docs_bc(spark, [("g0", 0, docs), ("g1", 1, docs)])
    enc = encode_posting_list(ids, tfs, None, docs, avgdl=10.0)
    rows = [
        ("spark", bytearray(enc["blob"]), 0, "g0"),
        # invariant violation: a SECOND live generation carries the
        # same (doc, term) postings — must not double the score
        ("spark", bytearray(enc["blob"]), 1, "g1"),
    ]
    seg = spark.createDataFrame(
        rows, "term string, blob binary, gen_seq long, gen string"
    )
    out = {
        (r["doc_id"], r["term"]): r["term_score"]
        for r in scored_terms_distributed(
            seg, docs_bc, {"spark": 1.0}, avgdl=10.0
        ).collect()
    }
    single = spark.createDataFrame(
        rows[:1], "term string, blob binary, gen_seq long, gen string"
    )
    base = {
        (r["doc_id"], r["term"]): r["term_score"]
        for r in scored_terms_distributed(
            single, _masked_docs_bc(spark, [("g0", 0, docs)]),
            {"spark": 1.0}, avgdl=10.0,
        ).collect()
    }
    assert out == base  # newest-generation wins, never a 2x sum


def test_scored_terms_dedupes_with_tombstone_join(spark):
    from ckanext_extractor_spark.operators.codec import (
        GenDocs,
        encode_posting_list,
    )
    from ckanext_extractor_spark.operators.wand import (
        scored_terms_distributed,
    )

    ids = np.array([5], dtype=np.int64)
    docs = GenDocs.of(ids, np.array([10], dtype=np.int64))
    enc = encode_posting_list(
        ids, np.array([2], dtype=np.int64), None, docs, avgdl=10.0,
    )
    seg = spark.createDataFrame(
        [("spark", bytearray(enc["blob"]), 0, "g0"),
         ("spark", bytearray(enc["blob"]), 1, "g1")],
        "term string, blob binary, gen_seq long, gen string",
    )
    # tombstone kills gen 0 of doc 5; gen 1 survives — exactly one row
    out = scored_terms_distributed(
        seg,
        _masked_docs_bc(
            spark, [("g0", 0, docs), ("g1", 1, docs)], tombs=[(5, 1)]
        ),
        {"spark": 1.0}, avgdl=10.0,
    ).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 5


# ---- highlight(): fragments never overlap


def test_highlight_fragments_never_overlap(spark, tmp_path):
    # anchors at token positions spaced so a naive second window would
    # reach back into the first
    text = ("spark " + "x " * 20 + "spark " + "y " * 3
            + "spark " + "z " * 30).strip()
    docs = [("r/h", "h0", "c0", "markdown", text, {"Lang": ["en"]})]
    eng = ExtractorEngine(spark, str(tmp_path / "hl"), n_buckets=4,
                          salt_threshold=50, store_content=True,
                          store_offsets=True)
    eng.extract(spark.createDataFrame(docs, SCHEMA), build_id="hl")
    out = eng.highlight("spark", k=1, n_snippets=3, width=30)
    frags = out[0][2]
    assert len(frags) >= 2
    # reconstruct each fragment's body (strip ellipses) and check the
    # bodies map to disjoint character ranges of the source text
    spans = []
    cursor = 0
    for f in frags:
        body = f.strip("…")
        lo = text.index(body, cursor)
        hi = lo + len(body)
        spans.append((lo, hi))
        cursor = hi
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo  # non-overlapping, document order


# ---- boolquery: fielded syntax disabled => colon-quote input parses


def test_fpfx_plain_term_when_fielded_disabled():
    from ckanext_extractor_spark.operators.boolquery import (
        And,
        Phrase,
        Term,
        parse_query,
    )

    import re

    analyze = lambda s: re.findall(r"[a-z0-9]+", s.lower())  # noqa: E731
    node = parse_query('title:"foo bar"', analyze)  # no analyze_field
    # the prefix becomes a plain term, the quote its own phrase clause
    assert isinstance(node, And)
    kinds = [type(p) for p in node.parts]
    assert Term in kinds and Phrase in kinds


def test_fpfx_after_clause_reports_fielded_phrase(engine):
    # juxtaposed fielded phrase surfaces the SPECIFIC diagnostic, not
    # 'unexpected trailing input'
    from ckanext_extractor_spark.operators.boolquery import (
        QuerySyntaxError,
    )

    with pytest.raises((QuerySyntaxError, ValidationError),
                       match="fielded phrases"):
        engine.search_expr('alpha lang:"a b"')


# ---- graph_search: depth exactly at the round cap converges


def _chain_engine(spark, tmp_path, n):
    docs = []
    for i in range(n):
        meta = {"Kind": ["root"] if i == 0 else ["mid"]}
        if i + 1 < n:
            meta["Next_Path"] = [f"p{i + 1}"]
        docs.append(("r/g", f"p{i}", f"c{i}", "markdown",
                     f"node{i} chain", meta))
    eng = ExtractorEngine(spark, str(tmp_path), n_buckets=4,
                          salt_threshold=50,
                          indexed_fields=("kind", "next-path"))
    eng.extract(spark.createDataFrame(docs, SCHEMA), build_id="g")
    return eng


def test_graph_fixpoint_converges_at_exact_round_cap(spark, tmp_path):
    eng = _chain_engine(spark, tmp_path / "g1", 5)
    eng._GRAPH_MAX_ROUNDS = 4  # chain needs exactly 4 rounds
    got = eng.graph_search("node0", "next-path", max_depth=-1)
    assert len(got) == 5  # converged, no RuntimeError


def test_graph_fixpoint_still_raises_past_cap(spark, tmp_path):
    eng = _chain_engine(spark, tmp_path / "g2", 6)
    eng._GRAPH_MAX_ROUNDS = 4  # needs 5 rounds: genuinely not converged
    with pytest.raises(RuntimeError, match="did not converge"):
        eng.graph_search("node0", "next-path", max_depth=-1)


# ---- CLI: --hl-post without --hl-pre fails loudly, not silently


def test_cli_hl_post_alone_is_loud(engine):
    from ckanext_extractor_spark.cli.main import main

    with pytest.raises(ValidationError, match="together"):
        main(["query", "--index", engine.root, "--q", "alpha",
              "--snippets", "--hl-post", "</b>", "--buckets", "8"])


# ---- json_facets: ascending stat sort keeps null buckets last


def test_json_facets_asc_stat_nulls_last(engine):
    out = engine.json_facets(
        "alpha OR beta OR delta",
        {"by_lang": {"type": "terms", "field": "lang", "limit": 2,
                     "sort": {"avg_n": "asc"},
                     "facet": {"avg_n": "avg(n)"}}},
    )
    buckets = out["by_lang"]["buckets"]
    # 'de' (p1) has no n value -> null avg_n must sort LAST, so with
    # limit 2 both real-stat buckets survive
    vals = [b["avg_n"] for b in buckets]
    assert None not in vals or vals.index(None) == len(vals) - 1
    assert all(b["val"] != "de" for b in buckets[:1])


# ---- min_match + conjunctive rejected across the distributed head


def test_min_match_conjunctive_rejected_everywhere(engine):
    with pytest.raises(ValidationError, match="disjunctive"):
        engine.boost_query_search("alpha beta", "delta", min_match=2)
    with pytest.raises(ValidationError, match="disjunctive"):
        engine.rerank_search("alpha beta", "delta", min_match=2)
    with pytest.raises(ValidationError, match="disjunctive"):
        engine.facets("alpha beta", ["lang"], min_match=2)
    # the legal combination still works
    assert engine.boost_query_search(
        "alpha beta", "delta", min_match=2, conjunctive=False
    )
