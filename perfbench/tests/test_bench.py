"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import run
from perfbench.session import same_results
from perfbench.stats import (
    Outcomes,
    chunk_figures,
    percentile,
    tail_percentile,
)
from perfbench.tracing import Tracer
from perfbench.workload import CorpusSpec, Generator, make_vocab, marker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- seeded inputs -------------------------------------------------------------
def test_same_seed_same_inputs():
    a, b = Generator(7, CorpusSpec(300)), Generator(7, CorpusSpec(300))
    assert a.frame(range(300)).equals(b.frame(range(300)))
    assert a.batches(4) == b.batches(4)
    assert a.query_pool(200) == b.query_pool(200)
    assert np.array_equal(a.query_stream(1000, 5000), b.query_stream(1000, 5000))


def test_other_seed_other_inputs():
    a, b = Generator(7, CorpusSpec(100)), Generator(8, CorpusSpec(100))
    assert not a.frame(range(100))["content"].equals(b.frame(range(100))["content"])
    assert a.query_pool(50) != b.query_pool(50)


def test_edit_is_a_new_version_of_the_same_file():
    g = Generator(3, CorpusSpec(50))
    v0, v1 = g.frame([5, 9], 0), g.frame([5, 9], 1)
    assert list(v0["path"]) == list(v1["path"])
    assert (v0["content"] != v1["content"]).all()
    for i, text in zip([5, 9], v1["content"]):
        assert marker(i) in text.split()


def test_corpus_shape():
    g = Generator(1, CorpusSpec(2000))
    f = g.frame(range(2000))
    sizes = f["content"].str.len()
    assert sizes.max() > 8 * sizes.median()  # heavy tail
    assert set(f["lang"]) == {"python", "java", "go", "js", "markdown"}
    assert f["content"].str.contains(r"[a-z][A-Z]").any()  # camelCase
    assert f["content"].str.contains(r"[a-z]_[a-z]").any()  # snake_case


def test_markers_are_unique_and_outside_vocab():
    words = {marker(i) for i in range(20000)}
    assert len(words) == 20000
    assert not words & set(make_vocab(1))


def test_batches_never_touch_deleted_files():
    g = Generator(5, CorpusSpec(1000))
    live, gone = set(range(1000)), set()
    for b in g.batches(6):
        assert not (set(b["edited"]) | set(b["deleted"])) & gone
        assert set(b["edited"]) <= live and set(b["deleted"]) <= live
        assert not set(b["edited"]) & set(b["deleted"])
        gone |= set(b["deleted"])
        live = (live - set(b["deleted"])) | set(b["added"])
        assert b["n_live"] == len(live)


def test_query_mix_and_popularity():
    g = Generator(2, CorpusSpec(1000))
    kinds = [q["kind"] for q in g.query_pool(4000)]
    share = {k: kinds.count(k) / len(kinds) for k in set(kinds)}
    for kind, want in (("and", 0.4), ("or", 0.3), ("rare", 0.2), ("ident", 0.1)):
        assert abs(share[kind] - want) < 0.03
    stream = g.query_stream(10_000, 20_000)
    counts = np.bincount(stream, minlength=10_000)
    assert counts.max() > 100 and (counts == 0).sum() > 3000  # skewed


# -- statistics ----------------------------------------------------------------
def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(999) == 95.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(99) == 75.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(5) == 50.0
    for n in range(20, 3000, 37):
        q = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, q) for x in xs) >= 10


def test_chunk_figures_split_by_completion_time():
    # 2 s of samples: 300 fast ones in the first second, 100 slow in the second
    lat = [1.0] * 300 + [4.0] * 100
    done = [i / 300 for i in range(300)] + [1 + i / 100 for i in range(100)]
    a, b = chunk_figures(lat, done, 2.0, chunks=2)
    assert (a["n"], a["rate"], a["p50_ms"], a["tail_ms"]) == (300, 300.0, 1.0, 1.0)
    assert (b["n"], b["rate"], b["p50_ms"]) == (100, 100.0, 4.0)
    assert b["tail_ms"] == percentile([4.0] * 100, tail_percentile(100))
    # the last completion lands in the last window, empty windows are dropped
    assert len(chunk_figures([1.0, 1.0], [0.1, 2.0], 2.0, chunks=4)) == 2


def test_failed_frac_counting():
    o = Outcomes()
    for ok in (True, True, False, True):
        o.record(ok, "bad result")
    o.raised("boom")
    assert (o.attempted, o.exceptions, o.wrong, o.failed) == (5, 1, 1, 2)
    merged = Outcomes()
    merged.merge(o.as_dict())
    merged.merge(o.as_dict())
    assert (merged.attempted, merged.failed) == (10, 4)
    assert merged.notes == ["bad result", "boom"] * 2


# -- result checks -------------------------------------------------------------
def test_same_results_rank_identity():
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert same_results(list(want), want)
    assert same_results([(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)], want)  # tie swap
    assert not same_results([(2, 3.0), (1, 2.0), (3, 2.0), (4, 1.0)], want)
    assert not same_results([(1, 3.0), (2, 2.1), (3, 2.0), (4, 1.0)], want)
    assert not same_results(want[:3], want)
    assert same_results([(1, 3.0 + 1e-13)], [(1, 3.0)])
    # a tie group cut by k may be filled by other equal-score docs
    assert same_results([(1, 3.0), (9, 2.0)], [(1, 3.0), (2, 2.0)])


# -- tracing -------------------------------------------------------------------
def test_tracer_self_time_and_scoring_children():
    t = Tracer()

    def exact_topk():
        return [1, 2]

    scorer = t.wrap("wand.exact_topk", exact_topk)
    outer = t.wrap("api.search", lambda score: scorer() if score else [])
    outer(True)
    outer(False)
    s = t.summary()
    assert s["api.search"]["calls"] == 2
    assert s["api.search"]["no_scoring_child"] == 1
    assert s["wand.exact_topk"]["items"] == 2
    assert s["api.search"]["self_ms"] <= s["api.search"]["ms"]
    assert s["api.search"]["self_ms"] == pytest.approx(
        s["api.search"]["ms"] - s["wand.exact_topk"]["ms"]
    )
    requests = {rec[4] for rec in t.spans}
    assert len(requests) == 2  # a child shares its root's request id


# -- output --------------------------------------------------------------------
def _fake_session(role: str) -> dict:
    return {
        "setup_s": 20.0, "rss_mb": 200.0, "build_s": 5.0, "n_files": 100,
        "builds_s": [5.0, 4.0, 6.0], "batch_s": [3.0, 2.0], "changed_files": 10,
        "input_bytes": 1000, "query_ms": [1.0] * 100,
        "chunks": [{"n": 50, "rate": 50.0, "p50_ms": 1.0, "tail_ms": 2.0}] * 2,
        "index": {"index_bytes": 3000, "input_bytes": 1000,
                  "stats": {"n_terms": 5, "generations": 1}},
        "layers": {"wall_s": 5.0, "cores": 4, "spans": {}, "n_spans": 0,
                   "input_bytes": 3000,
                   "spark": {"jobs": 1, "tasks": 4, "failed_tasks": 0,
                             "executor_run_ms": 100, "shuffle_write_bytes": 10,
                             "spill_bytes": 0, "output_bytes": 10,
                             "input_bytes": 0}},
    }


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_names = {m["name"] for m in bench["end_to_end"]}
    layer_names = {m["name"] for m in bench["per_layer"]}
    for w in (x["name"] for x in bench["workloads"]):
        sessions = [_fake_session("main"), _fake_session("half")]
        e2e = run.end_to_end(w, sessions)
        assert set(e2e) == e2e_names
        layers = run.per_layer(w, sessions, e2e)
        assert set(layers) == layer_names
    assert set(run.units()) == e2e_names | layer_names


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
