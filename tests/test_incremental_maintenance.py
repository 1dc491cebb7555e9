"""Incremental index maintenance: generational segments, tombstone
delete, compaction, build lock, bounded warm serving (SURVEY.md Q6/B2/B4;
VERDICT r1 next-round items #2, #4, #5).

Key invariant pinned here: a 1-doc update or delete leaves every
previously-written segment file BYTE-IDENTICAL (the build appends a new
generation + tombstones; it never rewrites old generations)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import pandas as pd
import pytest

from ckanext_extractor_spark.api import (
    BuildInProgressError,
    ExtractorEngine,
)
from ckanext_extractor_spark.corpus import corpus_pdf

N_DOCS = 60


@pytest.fixture(scope="module")
def base_pdf():
    return corpus_pdf(N_DOCS)


def make_corpus(spark, pdf):
    return spark.createDataFrame(pdf)


def file_digests(root: str) -> dict[str, str]:
    """sha256 of every data file under gens/*/segments."""
    out = {}
    groot = os.path.join(root, "gens")
    if not os.path.isdir(groot):
        return out
    for dirpath, _, files in os.walk(groot):
        if "/segments" not in dirpath and not dirpath.endswith("segments"):
            continue
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    f.read()
                ).hexdigest()
    return out


def search_map(eng, q, **kw):
    return {d: round(s, 9) for d, s in eng.search(q, **kw)}


def test_update_and_delete_touch_no_old_segment_files(spark, tmp_path, base_pdf):
    eng = ExtractorEngine(
        spark, str(tmp_path / "idx"), n_buckets=8, salt_threshold=50
    )
    eng.DEAD_FRAC = 2.0  # disable lazy compaction: pin pure tombstone behavior
    corpus = make_corpus(spark, base_pdf)
    eng.extract(corpus, build_id="g1")
    before = file_digests(eng.root)
    assert before, "expected segment files after the initial build"

    # ---- 1-doc update: old generation files untouched ------------------
    pdf2 = base_pdf.copy()
    pdf2.loc[pdf2.index[3], "content"] = "updatedzzz fresh token stream"
    rep = eng.extract(make_corpus(spark, pdf2), build_id="g2")
    assert rep.status_counts.get("update") == 1
    after_update = file_digests(eng.root)
    for path, digest in before.items():
        assert after_update.get(path) == digest, f"{path} was rewritten"
    # new generation added
    assert len(after_update) > len(before)
    # search semantics: new token findable, old token gone
    assert len(eng.search("updatedzzz", k=5)) == 1
    assert eng.search("golden000003x", k=5) == []

    # ---- 1-doc delete: zero segment files touched -----------------------
    victim = eng.search("updatedzzz", k=1)[0][0]
    eng.delete([victim])
    after_delete = file_digests(eng.root)
    assert after_delete == after_update  # not one byte changed
    assert eng.search("updatedzzz", k=5) == []
    assert eng.show(victim)["status"] == "deleted"


def test_incremental_matches_fresh_rebuild(spark, tmp_path, base_pdf):
    """After updates + deletes, every query must rank identically to a
    from-scratch index over the same logical corpus (the oracle property
    of tombstones + generations)."""
    pdf2 = base_pdf.copy()
    pdf2.loc[pdf2.index[5], "content"] = "changed tokens mergeSort applyFn"
    pdf2.loc[pdf2.index[7], "content"] = "another changed doc parseBuffer"
    # incremental path
    inc = ExtractorEngine(
        spark, str(tmp_path / "inc"), n_buckets=8, salt_threshold=50
    )
    inc.extract(make_corpus(spark, base_pdf), build_id="b1")
    inc.extract(make_corpus(spark, pdf2), build_id="b2")
    del_doc = inc.search("golden000009x", k=1)[0][0]
    inc.delete([del_doc])
    # fresh path over the final logical corpus
    pdf3 = pdf2.drop(pdf2.index[9]).reset_index(drop=True)
    fresh = ExtractorEngine(
        spark, str(tmp_path / "fresh"), n_buckets=8, salt_threshold=50
    )
    fresh.extract(make_corpus(spark, pdf3), build_id="f1")

    assert inc.corpus_stats()["n_docs"] == fresh.corpus_stats()["n_docs"]
    assert abs(
        inc.corpus_stats()["avgdl"] - fresh.corpus_stats()["avgdl"]
    ) < 1e-9
    for q, conj in [
        ("data value", True),
        ("mergesort", True),
        ("vector stream cache", False),
        ("parsebuffer", True),
    ]:
        got = inc.search(q, k=10, conjunctive=conj)
        want = fresh.search(q, k=10, conjunctive=conj)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert abs(a - b) < 1e-9, q


def test_compaction_reclaims_and_preserves_results(spark, tmp_path, base_pdf):
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxc"), n_buckets=8, salt_threshold=50
    )
    eng.extract(make_corpus(spark, base_pdf), build_id="c1")
    # churn: update the same 30 docs so gen c1 goes >25% dead
    pdf2 = base_pdf.copy()
    for i in range(30):
        pdf2.loc[pdf2.index[i], "content"] = f"churned{i:04d} data value"
    rep2 = eng.extract(make_corpus(spark, pdf2), build_id="c2")
    assert rep2.status_counts.get("update") == 30
    # compaction ran (c1 was half dead)
    assert rep2.compacted, "expected the dead-heavy generation to compact"
    before = search_map(eng, "data value")
    # a fresh engine over the same root (reload from meta) agrees
    eng2 = ExtractorEngine(spark, str(tmp_path / "idxc"))
    assert search_map(eng2, "data value") == before
    # tombstone table was GC'd down (nothing older than the compacted gen)
    assert eng2.index_stats()["tombstones"] == 0


def test_build_lock_matrix(spark, tmp_path, base_pdf):
    """status x force x in-flight (reference logic/test_action.py:79-247):
    a held lock refuses extract (in_progress report) and delete (raise),
    force does NOT bypass the lock, a stale lock is broken."""
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxl"), n_buckets=8, salt_threshold=50
    )
    corpus = make_corpus(spark, base_pdf.head(10))
    eng.extract(corpus, build_id="l1")

    # simulate an in-flight build from another worker
    assert eng._acquire_lock("other-build")
    rep = eng.extract(corpus, build_id="l2")
    assert rep.in_progress and rep.n_indexed == 0
    rep_force = eng.extract(corpus, force=True, build_id="l3")
    assert rep_force.in_progress  # force re-extracts docs, not locks
    with pytest.raises(BuildInProgressError):
        eng.delete([1])
    info = eng.in_progress()
    assert info["build_id"] == "other-build"

    # stale lock (holder crashed long ago) is broken and the build runs.
    # A crashed holder's lock is old in BOTH mtime and payload ts — the
    # breaker verifies the payload it actually took (rename-then-verify,
    # ADVICE r2), so backdate both.
    old = time.time() - 3 * 3600
    import json as _json

    payload = _json.loads(open(eng._lock_path()).read())
    payload["ts"] = old
    open(eng._lock_path(), "w").write(_json.dumps(payload))
    os.utime(eng._lock_path(), (old, old))
    rep4 = eng.extract(corpus, build_id="l4")
    assert not rep4.in_progress
    # lock released after a successful build
    assert eng.in_progress() is None


def test_capped_warm_serving_identical_results(spark, tmp_path, base_pdf):
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxw"), n_buckets=8, salt_threshold=50
    )
    eng.extract(make_corpus(spark, base_pdf), build_id="w1")
    cold = search_map(eng, "data value")
    # force lazy serving: raw preload budget below the segment size
    eng.RAW_PRELOAD_BYTES = 1
    eng.warm(max_cache_bytes=1 << 20)
    assert eng._lazy_serve
    # this test pins the DECODE path — bypass the query-result memo so
    # every search actually exercises lazy fetch + decoded-LRU
    eng._query_cache.clear()
    first = search_map(eng, "data value")  # cache miss -> cold fetch
    eng._query_cache.clear()
    second = search_map(eng, "data value")  # decoded-LRU hit
    assert first == cold and second == cold
    assert "data" in eng._decoded_cache and "value" in eng._decoded_cache
    # LRU eviction under a tiny decoded budget still serves correctly
    eng.warm(max_cache_bytes=1)
    eng.RAW_PRELOAD_BYTES = 1
    for q in ("data value", "vector stream", "hash byte"):
        eng._query_cache.clear()
        assert search_map(eng, q) == {
            d: round(s, 9) for d, s in eng.search(q, k=10)
        }
    assert len(eng._decoded_cache) <= 2  # budget of 1 byte keeps ~1 entry


def test_metadata_sidecar_end_to_end(spark, tmp_path):
    """EAV metadata carried corpus -> doc_stats -> show(), with key
    cleaning, multivalue collapse, and indexed_fields filtering applied
    (reference ResourceMetadatum + clean_metadatum, model.py:117-127,
    lib.py:55-65, tasks.py:82-95; golden pair test_lib.py:50-51)."""
    rows = [
        (
            "r/a", "p0", "c0", "python", "alpha beta content",
            {"Content_Type": ["text/plain"],
             "Author_Name": ["Ada", "Grace"],
             "X_Secret": ["drop-me"]},
        ),
        ("r/a", "p1", "c1", "python", "gamma delta content", {}),
    ]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, metadata map<string, array<string>>",
    )
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxm"), n_buckets=8,
        indexed_fields=("content-*", "author-*"),
    )
    eng.extract(corpus, build_id="m1")
    ds = spark.read.parquet(eng._p("doc_stats")).collect()
    by_path = {r["path"]: r for r in ds}
    info = eng.show(by_path["p0"]["doc_id"])
    assert info["metadata"] == {
        "content-type": "text/plain",
        "author-name": "Ada, Grace",  # multivalue collapsed (tasks.py:89-95)
    }  # keys lowercased + '_'->'-'; x-secret filtered by indexed_fields
    assert info["status"] == "indexed"
    assert eng.show(by_path["p1"]["doc_id"])["metadata"] == {}
    # Q5 per-field search: boolean AND within one metadata key
    d0 = by_path["p0"]["doc_id"]
    assert eng.search_field("author-name", "ada") == [d0]
    assert eng.search_field("author-name", "Ada Grace") == [d0]  # AND
    assert eng.search_field("author-name", "missing") == []
    assert eng.search_field("content-type", "plain text") == [d0]
    # filtered-out key is not searchable (purged like the reference)
    assert eng.search_field("x-secret", "drop") == []
    # field search survives delete purge
    eng.delete([d0])
    assert eng.search_field("author-name", "ada") == []


def test_deleted_docs_filtered_in_slow_and_distributed_paths(
    spark, tmp_path, base_pdf
):
    eng = ExtractorEngine(
        spark, str(tmp_path / "idxs"), n_buckets=8, salt_threshold=50
    )
    eng.extract(make_corpus(spark, base_pdf.head(20)), build_id="s1")
    victim = eng.search("golden000002x", k=1)[0][0]
    eng.delete([victim])
    # slow DataFrame path consults tombstones via the live-postings view
    assert eng.search("golden000002x", k=5, mode="slow") == []
    got = eng.search("data value", k=10, mode="slow")
    want = eng.search("data value", k=10)
    assert [d for d, _ in got] == [d for d, _ in want]


def _assert_same_ranking(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], label
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(b)), label


def test_cross_generation_fast_paths_match_slow(spark, tmp_path, monkeypatch):
    """Postings store ordinals into their OWN generation's doc array, so
    the merge across generations is where a decoding slip would show.
    Two generations with a salted hot term whose shards span several
    blocks: the lazy MaxScore probe and distributed search (tombstone-
    free index), then an update (tombstone) and a delete: exact, phrase
    and distributed search — every fast path ranks exactly like
    ``search(mode="slow")``. (With tombstones, search_distributed's idf
    uses the pre-merge df by design, so there it is held to the slow
    ranking on single-term queries, where idf cannot reorder docs.)"""
    import ckanext_extractor_spark.operators.wand as wand

    pdf = corpus_pdf(600)
    eng = ExtractorEngine(
        spark, str(tmp_path / "xgen"), n_buckets=8, salt_threshold=200
    )
    eng.DEAD_FRAC = 2.0  # keep the tombstones: no compaction
    eng.extract(make_corpus(spark, pdf.iloc[:450]), build_id="x1")
    eng.extract(make_corpus(spark, pdf), build_id="x2")  # 150 new docs
    assert len(eng._gens) == 2
    rows = eng._fetch_rows(["data"])["data"]
    assert {r["gen_seq"] for r in rows} == {1, 2}
    assert len(rows) > 2, "expected a salted hot term"
    assert any(len(r["block_offs"]) for r in rows), "expected multi-block shards"

    probes = []
    real_blocks = wand.decode_posting_blocks

    def counting_blocks(*a, **kw):
        probes.append(1)
        return real_blocks(*a, **kw)

    monkeypatch.setattr(wand, "decode_posting_blocks", counting_blocks)
    for q in ("data golden000017x", "value return mergesort",
              "size golden000460x vector"):
        eng.cool()
        got = eng.search(q, k=10, conjunctive=False, mode="maxscore")
        want = eng.search(q, k=10, conjunctive=False, mode="slow")
        _assert_same_ranking(got, want, f"lazy {q!r}")
        _assert_same_ranking(
            eng.search_distributed(q, k=10, conjunctive=False), want,
            f"distributed {q!r}")
    assert probes, "the lazy MaxScore path never probed a block"

    # update one doc of each generation, delete one more
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[3], "content"] = "data value rewritten zzupdated"
    pdf2.loc[pdf2.index[500], "content"] = "value data again zzupdated"
    eng.extract(make_corpus(spark, pdf2), build_id="x3")
    victim = eng.search("golden000017x", k=1)[0][0]
    eng.delete([victim])
    assert eng._tombstone_count() > 0 and len(eng._gens) == 3
    for q, conj in [("data value", True), ("data value", False),
                    ("zzupdated data", True), ("return size", False)]:
        want = eng.search(q, k=20, conjunctive=conj, mode="slow")
        eng.cool()
        _assert_same_ranking(
            eng.search(q, k=20, conjunctive=conj), want, f"exact {q!r}")
    for q in ("data", "zzupdated", "value"):
        want = eng.search(q, k=50, mode="slow")
        got = eng.search_distributed(q, k=50)
        assert [d for d, _ in got] == [d for d, _ in want], q
    # phrase hits are the conjunctive ranking filtered to phrase matches
    conj_rank = eng.search("data value", k=10_000, mode="slow")
    score_of = dict(conj_rank)
    phrase = eng.phrase_search("data value", k=10_000)
    assert phrase
    assert [d for d, _ in phrase] == [
        d for d, _ in conj_rank if d in dict(phrase)
    ]
    for d, s in phrase:
        assert abs(s - score_of[d]) <= 1e-9 * max(1.0, abs(s))
    _assert_same_ranking(
        eng.phrase_search("data value", k=10_000, distributed=True), phrase,
        "distributed phrase")


def test_older_segment_format_needs_compaction(spark, tmp_path, base_pdf):
    """An index without ``segment_format: 2`` in its meta refuses to
    search (naming compact()), and compact() rewrites it from the
    generations' postings into the current format."""
    from ckanext_extractor_spark.api import ValidationError

    root = str(tmp_path / "legacy")
    eng = ExtractorEngine(spark, root, n_buckets=8, salt_threshold=50)
    # the older format kept each generation's tokenize output as its
    # postings table, named in its meta entry
    eng._gc_staging = lambda: None
    eng.extract(make_corpus(spark, base_pdf.head(40)), build_id="l1")
    eng.extract(make_corpus(spark, base_pdf), build_id="l2")
    want = eng.search("data value", k=10, mode="slow")
    # age the index: meta without the format, generation doc tables
    # without per-doc lengths (as the previous format wrote them)
    meta_path = os.path.join(root, "index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta.pop("segment_format") == 2
    for g in meta["generations"]:
        g["postings_rel"] = os.path.join("staging", "raw_postings", g["gen"])
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    for g in meta["generations"]:
        p = os.path.join(root, "gens", g["gen"], "docs")
        ids = spark.read.parquet(p).select("doc_id")
        ids.write.mode("overwrite").parquet(p + ".ids")
        shutil.rmtree(p)
        os.rename(p + ".ids", p)

    old = ExtractorEngine(spark, root)
    for mode in ("auto", "slow"):
        with pytest.raises(ValidationError, match=r"compact\(\)"):
            old.search("data value", k=10, mode=mode)
    merged = old.compact()
    assert sorted(merged) == ["l1", "l2"] and len(old._gens) == 1
    with open(meta_path) as f:
        assert json.load(f)["segment_format"] == 2
    reopened = ExtractorEngine(spark, root)
    for e in (old, reopened):
        _assert_same_ranking(e.search("data value", k=10), want, "compacted")
        _assert_same_ranking(
            e.search("data value", k=10, mode="slow"), want, "compacted slow")
