"""One Parquet write policy for every table the index keeps: zstd pages
and no statistics on the segments' ``blob`` column, on every write path
(extract, delete, compact); an index whose older generations were written
under another codec serves the same answers and compacts to the policy."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from ckanext_extractor_spark.api import ExtractorEngine
from ckanext_extractor_spark.corpus import corpus_pdf

SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, metadata map<string, array<string>>"
)
QUERIES = (("data value", True), ("data value", False), ("value", True),
           ("return size index", False))


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _assert_policy(root: str) -> None:
    files = _parquet_files(root)
    assert any("/segments/" in f for f in files)
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                assert col.compression == "ZSTD", (f, col.path_in_schema)
                if "/segments/" not in f:
                    continue
                if col.path_in_schema == "blob":
                    assert not col.is_stats_set, f
                elif col.path_in_schema == "term":
                    st = col.statistics
                    assert st.has_min_max and st.has_null_count, f


def test_every_persisted_table_is_zstd(spark, tmp_path):
    pdf = corpus_pdf(60)
    pdf["metadata"] = [
        {"Title": [p], "Tags": [lang]} for p, lang in zip(pdf["path"], pdf["lang"])
    ]
    eng = ExtractorEngine(
        spark, str(tmp_path / "idx"), n_buckets=8, salt_threshold=20,
        store_content=True, indexed_fields=("title", "tags"),
    )
    eng.extract(spark.createDataFrame(pdf.head(40), SCHEMA), build_id="w1")
    pdf2 = pdf.copy()
    pdf2.loc[pdf2.index[0], "content"] = "data value rewritten"
    eng.extract(spark.createDataFrame(pdf2, SCHEMA), build_id="w2")
    for table in ("doc_stats", "corpus_stats", "doc_manifest", "lineage",
                  "field_postings", "field_norms", "doc_store", "tombstones"):
        assert os.path.isdir(eng._p(table)), table
    _assert_policy(eng.root)
    eng.delete([eng.search("data", k=1)[0][0]])
    _assert_policy(eng.root)
    assert eng.compact(max_gens=1)
    _assert_policy(eng.root)


def _rewrite_snappy(table_dir: str) -> None:
    """Rewrite every part file of ``table_dir`` with pyarrow snappy pages
    and full statistics, as a writer under another policy would have."""
    files = _parquet_files(table_dir)
    assert files
    for f in files:
        pq.write_table(pq.read_table(f), f, compression="snappy",
                       write_statistics=True)
        crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        md = pq.ParquetFile(f).metadata
        assert md.row_group(0).column(0).compression == "SNAPPY"


def _answers(eng) -> list:
    out = []
    for q, conj in QUERIES:
        for mode in ("exact", "slow"):
            eng.cool()
            out.append(eng.search(q, k=15, conjunctive=conj, mode=mode))
        out.append(eng.search_distributed(q, k=15, conjunctive=conj))
    return out


def _assert_same(got: list, want: list) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert [d for d, _ in g] == [d for d, _ in w]
        assert [s for _, s in g] == pytest.approx([s for _, s in w], rel=1e-9)


def test_mixed_codec_index_serves_and_compacts(spark, tmp_path):
    """The first generation rewritten with snappy pages and full
    statistics stands in for one written under the earlier policy; a
    second zstd generation joins it. Exact, slow and distributed search
    answer as on an index written wholly under the policy, every path
    ranks alike, and compaction leaves every file zstd."""
    pdf = corpus_pdf(120)
    engines = []
    for name in ("mixed", "plain"):
        eng = ExtractorEngine(
            spark, str(tmp_path / name), n_buckets=8, salt_threshold=40
        )
        eng.extract(spark.createDataFrame(pdf.head(80)), build_id="m1")
        if name == "mixed":
            g = eng._gens[0]
            _rewrite_snappy(eng._gen_segments_path(g))
            _rewrite_snappy(eng._p("gens", g["gen"], "docs"))
            eng = ExtractorEngine(
                spark, eng.root, n_buckets=8, salt_threshold=40
            )
        eng.extract(spark.createDataFrame(pdf), build_id="m2")  # 40 new docs
        assert len(eng._gens) == 2
        engines.append(eng)
    mixed, plain = engines
    want = _answers(plain)
    assert all(want)
    got = _answers(mixed)
    _assert_same(got, want)
    for i in range(0, len(got), 3):  # exact, slow, distributed alike
        _assert_same(got[i + 1:i + 3], [got[i], got[i]])
    assert mixed.compact(max_gens=1)
    assert len(mixed._gens) == 1
    _assert_same(_answers(mixed), want)
    _assert_policy(mixed.root)
