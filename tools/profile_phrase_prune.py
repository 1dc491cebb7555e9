"""Measure the selective-positions-decode phrase prune (VERDICT r4 #8).

phrase_search verifies top-k candidates against positions; before r5 the
verify decoded EVERY posting's position array of every query term (a hot
term = millions of python arrays + a full dict build) to then look up
~max(10k, 100) candidates. r5's decode_posting_list_selective keeps the
vectorized varbyte pass but materializes per-doc arrays for candidates
only.

This tool builds the deterministic synthetic code corpus at a given doc
count, runs hot phrase/span queries through the REAL engine twice —
selective (shipped) vs full (the r4 behavior, forced by a monkeypatch
that drops the `wanted` argument) — asserts rank identity, and reports
per-query times plus the materialization counts (arrays built full vs
selective).

Usage: python tools/profile_phrase_prune.py [n_docs] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ckanext_extractor_spark.api import ExtractorEngine  # noqa: E402
from ckanext_extractor_spark.corpus import corpus_df  # noqa: E402
from ckanext_extractor_spark.session import get_spark  # noqa: E402

QUERIES = [
    # (name, query, slop, slop_mode)
    ("phrase_hot_2term", "data value", 0, "pergap"),
    ("phrase_hot_slop2", "data value", 2, "pergap"),
    ("phrase_3term", "vector cache stream", 1, "pergap"),
    ("phrase_lucene", "value data", 3, "lucene"),
]
REPEATS = 3


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("phrase-prune", cores=cpus,
                      shuffle_partitions=int(cpus))
    root = tempfile.mkdtemp(prefix="phrase_prune_")
    import ckanext_extractor_spark.operators.phrase as ph

    orig = ph._positions_by_doc
    n_arrays = {"v": 0}

    def counting(row, wanted=None):
        m = orig(row, wanted)
        n_arrays["v"] += len(m)
        return m

    def counting_full(row, wanted=None):
        m = orig(row, None)  # r4 behavior: decode everything
        n_arrays["v"] += len(m)
        return m

    try:
        synth = corpus_df(spark, n_docs).cache()
        synth.count()
        eng = ExtractorEngine(spark, root, n_buckets=32,
                              salt_threshold=50_000)
        t0 = time.time()
        eng.extract(synth, build_id="pp")
        build_sec = time.time() - t0
        eng.warm()
        report = {"n_docs": n_docs, "build_sec": round(build_sec, 1),
                  "queries": {}}
        for name, q, slop, mode in QUERIES:
            eng.search(q, k=10)  # warm the scoring decode
            res = {}
            for label, fn in (("selective", counting),
                              ("full", counting_full)):
                ph._positions_by_doc = fn
                best, arrays = None, None
                for _ in range(REPEATS):
                    eng._query_cache.clear()
                    n_arrays["v"] = 0
                    t = time.time()
                    hits = eng.phrase_search(q, k=10, slop=slop,
                                             slop_mode=mode)
                    dt = time.time() - t
                    if best is None or dt < best:
                        best, arrays = dt, n_arrays["v"]
                res[label] = {"sec": round(best, 4),
                              "arrays_materialized": arrays,
                              "hits": hits}
            assert res["selective"]["hits"] == res["full"]["hits"], name
            for label in ("selective", "full"):
                res[label].pop("hits")
            res["speedup"] = round(
                res["full"]["sec"] / max(res["selective"]["sec"], 1e-9), 2
            )
            res["array_reduction"] = round(
                res["full"]["arrays_materialized"]
                / max(res["selective"]["arrays_materialized"], 1), 1
            )
            report["queries"][name] = res
            print(json.dumps({name: res}))
    finally:
        ph._positions_by_doc = orig
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(report))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
