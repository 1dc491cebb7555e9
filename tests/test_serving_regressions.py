"""Serving-path regressions: a result-cache hit never lets an argument skip
validation, a metadata update never leaves stale fq-filtered hits behind,
and warm() survives a failing warming-term pick."""

from __future__ import annotations

import pytest

from ckanext_extractor_spark.analysis.tokenizer import SIMPLE_CONFIG
from ckanext_extractor_spark.api import ExtractorEngine, ValidationError

DOCS = [
    ("r/a", "p0", "c0", "markdown", "alpha beta spark", {"Group": ["g1"]}),
    ("r/a", "p1", "c1", "markdown", "alpha spark join", {"Group": ["g1"]}),
    ("r/a", "p2", "c2", "markdown", "spark stream", {"Group": ["g2"]}),
]
SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, metadata map<string, array<string>>"
)


@pytest.fixture()
def engine(spark, tmp_path):
    eng = ExtractorEngine(
        spark, str(tmp_path / "serve"), n_buckets=4, salt_threshold=50,
        analyzer=SIMPLE_CONFIG, indexed_fields=("group",),
    )
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s0")
    return eng


@pytest.mark.parametrize(
    "cached, alias",
    [
        (dict(k=1), dict(k=True)),
        (dict(k=1), dict(k=1, conjunctive=1)),
        (dict(k=1), dict(k=1, start=False)),
        (
            dict(k=1, conjunctive=False, min_match=2),
            dict(k=1, conjunctive=False, min_match=2.0),
        ),
    ],
    ids=["k=True", "conjunctive=1", "start=False", "min_match=2.0"],
)
def test_cache_hit_keeps_validation(engine, cached, alias):
    """After a cached call, an argument equal to a cached one only by
    cross-type equality (True == 1, 2.0 == 2) still raises."""
    assert engine.search("alpha spark", **cached)
    with pytest.raises(ValidationError):
        engine.search("alpha spark", **alias)


def test_metadata_update_clears_fq_hits(engine):
    ids = {
        r["path"]: int(r["doc_id"])
        for r in engine.spark.read.parquet(engine._p("doc_stats"))
        .select("path", "doc_id").collect()
    }
    fq = {"group": "g1"}
    before = {d for d, _ in engine.search("spark", k=10, fq=fq)}
    assert before == {ids["p0"], ids["p1"]}
    engine.update_metadata({ids["p0"]: {"Group": "g9"}})
    after = {d for d, _ in engine.search("spark", k=10, fq=fq)}
    assert after == {ids["p1"]}


def test_warm_survives_warming_term_failure(engine, monkeypatch):
    def boom():
        raise ValueError("legacy generation without n_postings")

    monkeypatch.setattr(engine, "_warming_terms", boom)
    assert engine.warm() is engine
