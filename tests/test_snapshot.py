"""Index snapshot/backup — Solr replication handler command=backup /
Lucene SnapshotDeletionPolicy. A snapshot is a complete standalone index
root taken under the build lock; restore = opening the copy."""

from __future__ import annotations

import json

import pytest

from ckanext_extractor_spark.api import (
    BuildInProgressError,
    ExtractorEngine,
    ValidationError,
)

DOCS = [
    ("r/s", "s0", "c0", "markdown", "alpha beta gamma", {"Tag": ["x"]}),
    ("r/s", "s1", "c1", "markdown", "alpha beta", {"Tag": ["y"]}),
    ("r/s", "s2", "c2", "markdown", "beta delta", {"Tag": ["x"]}),
]

SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, metadata map<string, array<string>>"
)


def _engine(spark, root, **kw):
    return ExtractorEngine(spark, root, n_buckets=4, salt_threshold=50,
                           indexed_fields=("tag",), store_content=True,
                           **kw)


def test_snapshot_restores_identical_serving_state(spark, tmp_path):
    eng = _engine(spark, str(tmp_path / "src"))
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s")
    want = eng.search("alpha beta", k=10)
    want_facets = eng.facets("beta", ["tag"])
    rep = eng.snapshot(str(tmp_path / "snap"))
    assert rep["generations"] >= 1
    assert "index_meta.json" in rep["tables"]
    # restore = open the copy; no build needed, serves immediately
    snap = _engine(spark, str(tmp_path / "snap"))
    assert snap.search("alpha beta", k=10) == want
    assert snap.facets("beta", ["tag"]) == want_facets
    assert snap.index_stats() == eng.index_stats() | {
        "segments_disk_bytes": snap.index_stats()["segments_disk_bytes"]
    }


def test_snapshot_is_isolated_from_later_writes(spark, tmp_path):
    eng = _engine(spark, str(tmp_path / "src"))
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s")
    before = eng.search("beta", k=10, conjunctive=False)
    eng.snapshot(str(tmp_path / "snap"))
    # mutate the ORIGINAL after the snapshot
    doc = eng.search("delta", k=1, conjunctive=False)[0][0]
    eng.delete([doc])
    assert len(eng.search("beta", k=10, conjunctive=False)) == len(before) - 1
    snap = _engine(spark, str(tmp_path / "snap"))
    assert snap.search("beta", k=10, conjunctive=False) == before
    assert snap._tombstone_count() == 0


def test_snapshot_refuses_bad_destinations(spark, tmp_path):
    eng = _engine(spark, str(tmp_path / "src"))
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s")
    with pytest.raises(ValidationError):
        eng.snapshot(str(tmp_path / "src" / "inside"))
    with pytest.raises(ValidationError):
        eng.snapshot(str(tmp_path))  # exists and not empty
    with pytest.raises(ValidationError):
        eng.snapshot("")
    empty = _engine(spark, str(tmp_path / "noindex"))
    with pytest.raises(ValidationError):
        empty.snapshot(str(tmp_path / "snap2"))


def test_snapshot_respects_build_lock(spark, tmp_path):
    eng = _engine(spark, str(tmp_path / "src"))
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s")
    assert eng._acquire_lock("other-build")
    try:
        with pytest.raises(BuildInProgressError):
            eng.snapshot(str(tmp_path / "snap"))
    finally:
        eng._release_lock()


def test_cli_snapshot(spark, tmp_path, capsys):
    from ckanext_extractor_spark.cli.main import main

    eng = _engine(spark, str(tmp_path / "src"))
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s")
    assert main(["snapshot", "--index", eng.root,
                 str(tmp_path / "snap"), "--buckets", "4"]) == 0
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["generations"] >= 1


MORE = [
    ("r/s", "s3", "c3", "markdown", "alpha epsilon", {"Tag": ["z"]}),
    ("r/s", "s4", "c4", "markdown", "beta epsilon", {"Tag": ["z"]}),
]


def _two_generations(spark, root):
    eng = _engine(spark, root)
    eng.extract(spark.createDataFrame(DOCS, SCHEMA), build_id="s1")
    eng.extract(spark.createDataFrame(DOCS + MORE, SCHEMA), build_id="s2")
    assert len(eng._gens) == 2
    return eng


def test_restored_snapshot_keeps_generation_postings(spark, tmp_path):
    """Generations built without an after_extract hook keep their
    postings under staging/; a restored copy must still serve them to
    the slow path, term_vectors and compaction, not only to fast
    search."""
    eng = _two_generations(spark, str(tmp_path / "src"))
    queries = ("alpha beta", "beta", "epsilon", "gamma delta")
    want = {q: eng.search(q, k=10, conjunctive=False) for q in queries}
    eng.snapshot(str(tmp_path / "snap"))
    snap = _engine(spark, str(tmp_path / "snap"))
    for q in queries:
        fast = snap.search(q, k=10, conjunctive=False)
        slow = snap.search(q, k=10, conjunctive=False, mode="slow")
        assert fast == want[q] and fast
        assert [d for d, _ in slow] == [d for d, _ in fast]
        assert [s for _, s in slow] == pytest.approx(
            [s for _, s in fast], rel=1e-9)
    for doc, _ in want["alpha beta"]:
        assert snap.term_vectors(doc)
    snap.compact(max_gens=1)
    assert len(snap._gens) == 1
    assert snap.index_stats()["n_docs"] == 5
    for q in queries:
        assert [d for d, _ in snap.search(q, k=10, conjunctive=False)] == [
            d for d, _ in want[q]
        ]


def test_missing_generation_postings_raise(spark, tmp_path):
    """A committed generation whose segments dir (its only copy of the
    postings) is gone is a damaged index: the slow path and compaction
    refuse it instead of reading the generation as empty (which would
    drop its docs)."""
    import shutil

    eng = _two_generations(spark, str(tmp_path / "src"))
    shutil.rmtree(eng._gen_segments_path(eng._gens[0]))
    eng.cool()
    with pytest.raises(FileNotFoundError):
        eng.search("alpha", k=10, mode="slow")
    with pytest.raises(FileNotFoundError):
        eng.compact(max_gens=1)
    assert len(eng._gens) == 2  # nothing dropped
