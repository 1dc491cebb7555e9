"""The warmed engine's preloaded segment rows: one columnar SegmentStore
per index state.

The store must hand out exactly the rows the per-term dict preload held
(fields, row order, blob bytes), from either source (pyarrow on a local
root, Spark's ``toArrow()`` elsewhere); warm serving must equal cold
serving on every driver path that reads rows or the vocabulary; no
mutation may leave a stale row served; and a budget below the store's
resident bytes serves lazily."""

from __future__ import annotations

import numpy as np
import pytest

from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf

SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, metadata map<string, array<string>>"
)


def _frame(spark, pdf):
    """``pdf`` with a ``group`` metadata field (g0/g1/g2 by row)."""
    rows = [
        tuple(r) + ({"group": [f"g{i % 3}"]},)
        for i, r in enumerate(pdf.itertuples(index=False))
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _engine(spark, root: str) -> ExtractorEngine:
    eng = ExtractorEngine(
        spark, root, n_buckets=8, salt_threshold=20,
        indexed_fields=("group",),
    )
    eng.DEAD_FRAC = 2.0  # keep every generation until a test compacts
    return eng


def _same(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], label
    assert np.allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-9
    ), label


def _dict_rows(eng: ExtractorEngine) -> dict[str, list]:
    """The per-term dict preload: every generation's rows read as dicts,
    grouped by term in read order."""
    out: dict[str, list] = {}
    for r in eng._read_rows(None):
        out.setdefault(r["term"], []).append(r)
    return out


def _spark_dict_rows(eng: ExtractorEngine) -> dict[str, list]:
    """The same preload on a non-local root: one Spark collect."""
    docs = eng._docs_by_gen()
    out: dict[str, list] = {}
    for r in eng._segments_union().collect():
        out.setdefault(r["term"], []).append(dict(r.asDict(), docs=docs[r["gen"]]))
    return out


def _assert_rows_equal(store, want: dict[str, list]):
    assert store.terms == sorted(want)
    for i, t in enumerate(store.terms):
        got, ref = store.rows(t), want[t]
        assert len(got) == len(ref), t
        assert store.df[i] == sum(r["n_postings"] for r in ref), t
        for g, r in zip(got, ref):
            assert set(g) == set(r) - {"gen"}, t
            for k in ("term", "salt_id", "n_postings", "term_bucket",
                      "gen_seq"):
                assert g[k] == r[k] and type(g[k]) is type(r[k]), (t, k)
            assert g["blob"] == bytes(r["blob"]), t
            for k in ("block_last_doc", "block_max_tfn", "block_offs"):
                assert g[k].tolist() == list(r[k]), (t, k)
                assert not g[k].flags.writeable, (t, k)
            assert g["docs"] is r["docs"], t
    assert store.rows("zznosuchterm") == []


def _as_remote(fs, spark) -> None:
    """Route ``fs`` through the JVM Hadoop FileSystem (on the local disk),
    as a root on HDFS or an object store is."""
    jvm = spark._jvm
    fs.is_local = False
    fs._jvm = jvm
    fs._gateway = spark.sparkContext._gateway
    fs._hconf = spark._jsc.hadoopConfiguration()
    fs._jfs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), fs._hconf
    )
    fs._jpath = jvm.org.apache.hadoop.fs.Path


def test_store_rows_equal_dict_rows(spark, tmp_path):
    """Three generations with salted terms, an update and deletes: the
    store's rows equal the dict preload's, term for term, from a local
    root and through the Spark source."""
    pdf = corpus_pdf(100)
    root = str(tmp_path / "rows")
    eng = _engine(spark, root)
    eng.extract(_frame(spark, pdf.iloc[:60]), build_id="s1")
    eng.extract(_frame(spark, pdf.iloc[:90]), build_id="s2")
    edited = pdf.copy()
    for i in (4, 9, 61):
        edited.loc[i, "content"] += f" zzedit{i} data value"
    eng.extract(_frame(spark, edited), build_id="s3")
    gone = [eng.search(f"golden0000{i:02d}x", k=1)[0][0] for i in (2, 70)]
    eng.delete(gone)
    assert len(eng._gens) == 3
    assert any(d.live is not None for d in eng._docs_by_gen().values())

    eng.warm()
    want = _dict_rows(eng)
    assert any(len({r["salt_id"] for r in rows}) > 1 for rows in want.values())
    assert any(len({r["gen_seq"] for r in rows}) > 1 for rows in want.values())
    _assert_rows_equal(eng._store, want)

    remote = ExtractorEngine(spark, root)
    local_bytes = remote._segments_resident_bytes()
    assert local_bytes > 0
    _as_remote(remote.fs, spark)
    assert remote._segments_resident_bytes() == local_bytes
    remote.warm()
    assert remote._store is not None
    _assert_rows_equal(remote._store, _spark_dict_rows(remote))


@pytest.fixture(scope="module")
def adds_only(spark, tmp_path_factory):
    """Three generations of new docs only (no dead ordinal, so the lazy
    MaxScore route is open), with salted terms."""
    pdf = corpus_pdf(105)
    eng = _engine(spark, str(tmp_path_factory.mktemp("adds") / "idx"))
    for i, (lo, hi) in enumerate([(0, 60), (60, 90), (90, 105)]):
        eng.extract(_frame(spark, pdf.iloc[lo:hi]), build_id=f"a{i}")
    return eng.root, pdf


QUERIES = [
    ("data value", True), ("data value", False),
    ("vector stream batch", False), ("golden000007x data", False),
    ("golden000071x zzabsent", False),
]


def _serve(eng: ExtractorEngine, pdf) -> dict:
    """Every driver path that reads segment rows or the vocabulary."""
    out = {}
    for q, conj in QUERIES:
        eng._query_cache.clear()
        out[("exact", q, conj)] = eng.search(
            q, k=10, conjunctive=conj, mode="exact"
        )
    for q, conj in QUERIES:
        if not conj:
            eng._query_cache.clear()
            eng._decoded_cache.clear()
            eng._decoded_bytes = 0
            out[("maxscore", q)] = eng.search(
                q, k=10, conjunctive=False, mode="maxscore"
            )
            # the lazy route decodes blocks on demand and fills no LRU
            assert not eng._decoded_cache, q
    for i in (0, 3, 41, 95):
        p = " ".join(pdf["content"].iloc[i].split()[2:4])
        out[("phrase", p)] = eng.phrase_search(p, k=10)
    for p in ("graph", "00001", "s", "zz"):
        out[("expand_prefix", p)] = eng.expand_prefix(p)
    out["prefix_search"] = eng.prefix_search("graph", k=10)
    for p in ("00001?", "*stream", "graph*e*", "zz*"):
        out[("expand_wildcard", p)] = eng.expand_wildcard(p)
    out["wildcard_search"] = eng.wildcard_search("*stream", k=10)
    out["expand_fuzzy"] = eng.expand_fuzzy("graphstrem", max_edits=2)
    out["fuzzy_search"] = eng.fuzzy_search("vectr", k=10)
    out["expand_phonetic"] = eng.expand_phonetic("data")
    for kw in ({}, {"limit": 50}, {"prefix": "g", "limit": 20},
               {"sort": "index", "limit": 30, "min_df": 2},
               {"regex": "graph.*|00000[0-4]", "limit": 100}):
        out[("terms", tuple(sorted(kw.items())))] = eng.terms(**kw)
    vocab = [t for t, _ in eng.terms(limit=40)]
    out["df"] = eng._df_for_terms(vocab)
    return out


def _same_serving(got: dict, want: dict) -> None:
    assert got.keys() == want.keys()
    for key, ref in want.items():
        if key[0] in ("exact", "maxscore", "phrase") or key in (
            "prefix_search", "wildcard_search", "fuzzy_search"
        ):
            _same(got[key], ref, key)
        else:
            assert got[key] == ref, key


def test_warm_serving_equals_cold(spark, adds_only):
    root, pdf = adds_only
    cold = _serve(ExtractorEngine(spark, root), pdf)
    assert cold[("exact", "data value", True)]
    for key in (("expand_prefix", "graph"), ("expand_wildcard", "*stream"),
                "expand_fuzzy", "expand_phonetic", "prefix_search"):
        assert cold[key], key
    eng = ExtractorEngine(spark, root).warm()
    assert eng._store is not None and not eng._lazy_serve
    _same_serving(_serve(eng, pdf), cold)


def test_warm_below_resident_bytes_serves_lazily(spark, adds_only):
    root, pdf = adds_only
    eng = ExtractorEngine(spark, root)
    resident = eng._segments_resident_bytes()
    assert resident > 0
    want = _serve(ExtractorEngine(spark, root), pdf)
    eng.warm(max_cache_bytes=resident - 1)
    assert eng._lazy_serve and eng._store is None
    _same_serving(_serve(eng, pdf), want)
    assert eng._rows_cache  # misses went through the raw-row LRU
    eng.warm(max_cache_bytes=resident)
    assert eng._store is not None and not eng._lazy_serve


def test_no_stale_rows_after_mutations(spark, tmp_path):
    """A warmed engine, warmed again after every mutation, serves what a
    cold engine opened on the same root serves, and sees each change."""
    pdf = corpus_pdf(50)
    root = str(tmp_path / "mut")
    eng = _engine(spark, root)
    eng.extract(_frame(spark, pdf.iloc[:40]), build_id="m1")
    eng.warm()
    assert eng.search("golden000045x", k=3) == []
    [(doc5, _)] = eng.search("golden000005x", k=3)

    def check(label, segments_changed=True):
        """The mutated engine, then the same engine warmed again, against
        a cold engine on the root; leaves ``eng`` warmed. A mutation that
        changes segments or deletes drops the store; a metadata update
        keeps it (no row changed)."""
        cold = ExtractorEngine(spark, root)
        for warmed in (False, True):
            if warmed:
                eng.warm()
            assert (eng._store is not None) == (
                warmed or not segments_changed
            ), label
            for q, conj in QUERIES + [("zzfresh golden000045x", False)]:
                eng._query_cache.clear()
                _same(eng.search(q, k=10, conjunctive=conj),
                      cold.search(q, k=10, conjunctive=conj), (label, q))
            _same(eng.search("data", k=10, fq={"group": "g1"}),
                  cold.search("data", k=10, fq={"group": "g1"}),
                  (label, "fq"))
            assert eng.terms(limit=30) == cold.terms(limit=30), label
            assert eng.expand_prefix("gold") == cold.expand_prefix(
                "gold"
            ), label

    edited = pdf.copy()
    edited.loc[5, "content"] = "rewritten zzfresh text"
    eng.extract(_frame(spark, edited), build_id="m2")
    check("extract")
    assert [d for d, _ in eng.search("zzfresh", k=3)] == [doc5]
    assert eng.search("golden000005x", k=3) == []
    assert len(eng.search("golden000045x", k=3)) == 1

    [(doc7, _)] = eng.search("golden000007x", k=3)
    eng.delete([doc7])
    check("delete")
    assert eng.search("golden000007x", k=3) == []

    eng.compact(max_gens=1)
    assert len(eng._gens) == 1
    check("compact")

    assert eng.search("zzfresh", k=3, fq={"group": "g1"}) == []
    eng.update_metadata_df(
        spark.createDataFrame(
            [(doc5, "group", "g1")], "doc_id long, field string, value string"
        )
    )
    check("update_metadata_df", segments_changed=False)
    assert eng.search("zzfresh", k=3, fq={"group": "g1"})[0][0] == doc5
