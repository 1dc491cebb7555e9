"""One Spark session of a benchmark run, in its own process (own JVM).

Usage (``run.py`` spawns this; it is not meant to be run by hand):
    python3 -m perfbench.session <spec.json> <result.json>

The spec names the workload, seed, core count and role; the result holds
raw samples, check outcomes and, in traced runs, layer summaries. Only the
engine's public API is driven: extract, delete, search, warm, index_stats,
lineage.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import sparkstats
from perfbench.stats import Outcomes, chunk_figures
from perfbench.workload import CorpusSpec, Generator, marker

N_FILES = 4000
SALT_FRAC = 0.6  # salt threshold as a share of the corpus: only the top words cross it
SHUFFLE_PARTITIONS = 4
K = 10
WARMUP_BUILDS = 2
MIN_BUILDS = 3  # measured builds at local[nproc], more while --seconds lasts; the median counts
REFRESH_BATCHES = 3
BURST_POOL_QUERIES = 30
BURST_PROBES = 10
COLD_QUERIES = 300
ORACLE_SAMPLE = 4
QUERY_SPACE = 100_000
# untimed stream prefix that fills the result cache (an LRU of 4096 entries),
# so the timed window sees its steady hit rate
STREAM_WARMUP = 10_000
STREAM_LENGTH = 100_000  # queries are made for all of these before timing
SCORE_RTOL = 1e-9


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def same_results(got, want, rtol: float = SCORE_RTOL) -> bool:
    """Rank-identical top-k: the same doc ids in the same order and scores
    equal to ``rtol``; docs whose scores tie (within ``rtol``) may swap."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > rtol * max(1.0, abs(ws)):
            return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[i][1]) <= rtol * max(1.0, abs(want[i][1])):
            j += 1
        if j == len(want) and i > 0:
            break  # a tie group cut by k may hold other equal-score docs
        if sorted(d for d, _ in got[i:j]) != sorted(d for d, _ in want[i:j]):
            return False
        i = j
    return True


class Session:
    def __init__(self, spec: dict):
        self.spec = spec
        self.t_spawn = spec.get("t_spawn", time.time())
        self.work = spec["work_dir"]
        self.cores = int(spec["cores"])
        self.gen = Generator(spec["seed"], CorpusSpec(N_FILES))
        self.n = self.gen.spec.n_files
        self.out = Outcomes()
        self.tracer = None
        self.spark = None
        self.ops = 0

    # -- plumbing ------------------------------------------------------------
    def log(self, what: str) -> None:
        print(f"[{self.spec['workload']}/{self.cores}] "
              f"{time.time() - self.t_spawn:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def start(self) -> None:
        from ckanext_extractor_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(
            "perfbench", cores=self.cores,
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.spec["trace"]:
            from perfbench.tracing import Tracer

            self.tracer = Tracer().install()

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)

    def write_corpus(self, name: str, frame) -> str:
        path = os.path.join(self.work, name + ".parquet")
        table = pa.Table.from_pandas(
            frame.drop(columns=["file_id"]), preserve_index=False
        )
        pq.write_table(table, path)
        return path

    def engine(self, name: str):
        from ckanext_extractor_spark.api import ExtractorEngine

        return ExtractorEngine(
            self.spark, os.path.join(self.work, name),
            salt_threshold=max(2, int(self.n * SALT_FRAC)),
        )

    def doc_ids(self, frame) -> dict:
        """file id -> engine doc id (the engine's documented identity,
        xxhash64 of repo, path, commit)."""
        from pyspark.sql import functions as F

        keys = self.spark.createDataFrame(
            frame[["repo", "path", "commit", "file_id"]]
        )
        rows = keys.select(
            "file_id", F.xxhash64("repo", "path", "commit").alias("d")
        ).collect()
        return {int(r["file_id"]): int(r["d"]) for r in rows}

    def timed_query(self, eng, q: str, conj: bool, lat: list):
        self.ops += 1
        t0 = time.perf_counter()
        try:
            res = eng.search(q, k=K, conjunctive=conj)
        except Exception as e:  # noqa: BLE001 - counted, run continues
            self.out.raised(f"search {q!r}: {e!r}"[:300])
            return None
        lat.append((time.perf_counter() - t0) * 1e3)
        return res

    def oracle_check(self, eng, queries, results: dict) -> None:
        """Served results vs the engine's DataFrame oracle (mode='slow')."""
        for q in queries:
            key = (q["q"], q["conjunctive"])
            got = results.get(key)
            if got is None:
                continue
            want = eng.search(q["q"], k=K, conjunctive=q["conjunctive"], mode="slow")
            self.out.record(
                same_results(got, want), f"oracle mismatch for {q['q']!r}"
            )

    def check_n_docs(self, eng, expected: int) -> dict:
        st = eng.index_stats()
        self.out.record(
            st["n_docs"] == expected,
            f"n_docs {st['n_docs']} != expected {expected}",
        )
        return st

    def layer_marks(self):
        return (
            self.tracer.mark() if self.tracer else 0,
            sparkstats.snapshot(self.spark),
            time.perf_counter(),
        )

    def layer_close(self, marks, spark_after=None, wall=None, input_bytes=0) -> dict:
        """Spark counters and spans since ``marks``; ``spark_after`` and
        ``wall`` end the Spark window earlier than the span window;
        ``input_bytes`` is the corpus content the window's builds read."""
        t_mark, snap, t0 = marks
        if wall is None:
            wall = time.perf_counter() - t0
        out = {
            "wall_s": wall,
            "spark": sparkstats.delta(
                snap, spark_after or sparkstats.snapshot(self.spark)
            ),
            "cores": self.cores,
            "input_bytes": input_bytes,
        }
        if self.tracer:
            out["spans"] = self.tracer.summary(t_mark)
            out["n_spans"] = len(self.tracer.spans) - t_mark
        return out

    def lineage_summary(self, eng, build_id: str) -> dict:
        from pyspark.sql import functions as F

        rows = (
            eng.lineage()
            .where((F.col("build_id") == build_id) & (F.col("stage") == "tokenize"))
            .select("wall_sec", "bytes_in")
            .collect()
        )
        walls = [float(r["wall_sec"]) for r in rows]
        nbytes = sum(int(r["bytes_in"]) for r in rows)
        return {
            "partitions": len(rows),
            "wall_max_over_median": (
                max(walls) / float(np.median(walls)) if walls and np.median(walls) > 0 else 0.0
            ),
            "mb_per_core_s": nbytes / 1e6 / sum(walls) if sum(walls) > 0 else 0.0,
        }

    def kernel_timings(self, frame, pool) -> dict:
        """Analysis kernels timed directly on one core (traced runs)."""
        from ckanext_extractor_spark.analysis.tokenizer import (
            INDEX_CONFIG,
            analyze_query,
            postings_for_batch,
            query_config_for,
        )

        sample = frame.iloc[: min(len(frame), 2048)]
        nbytes = int(sample["content"].str.len().sum())
        postings_for_batch(sample["content"][:64], sample["lang"][:64], INDEX_CONFIG)
        t0 = time.perf_counter()
        for s in range(0, len(sample), 1024):
            part = sample.iloc[s:s + 1024]
            postings_for_batch(part["content"], part["lang"], INDEX_CONFIG)
        kernel_s = time.perf_counter() - t0
        qconf = query_config_for(INDEX_CONFIG)
        qs = [q["q"] for q in pool[:2000]]
        t0 = time.perf_counter()
        for q in qs:
            analyze_query(q, config=qconf)
        aq_s = time.perf_counter() - t0
        return {
            "postings_for_batch_mb_per_s": nbytes / 1e6 / kernel_s,
            "analyze_query_us": aq_s / len(qs) * 1e6,
        }

    def index_summary(self, eng, st: dict, input_bytes: int) -> dict:
        return {
            "index_bytes": _tree_bytes(eng.root),
            "input_bytes": input_bytes,
            "stats": st,
        }

    def traced_extras(self, frame, pool) -> dict:
        if not self.tracer:
            return {}
        from perfbench.tracing import per_call_overhead_s

        return {
            "kernels": self.kernel_timings(frame, pool),
            "span_overhead_s": per_call_overhead_s(),
        }

    # -- workloads -------------------------------------------------------------
    def build_full(self) -> dict:
        frame = self.gen.frame(np.arange(self.n))
        path = self.write_corpus("corpus", frame)
        input_bytes = int(frame["content"].str.len().sum())
        main = self.spec["role"] == "main"
        self.log("inputs made")
        self.start()
        self.log("spark up")
        corpus = self.spark.read.parquet(path)
        # untimed: codegen, Python workers, then JIT of the hot paths (the
        # build right after the first still measured ~20% slow)
        for i in range(WARMUP_BUILDS):
            self.engine(f"warmup{i}").extract(corpus)
        self.log("warm-up builds done")
        t_ready = time.time()
        marks = self.layer_marks()
        builds = []  # (seconds, report, engine), each a fresh index
        t_end = time.perf_counter() + float(self.spec["seconds"])
        while len(builds) < (MIN_BUILDS if main else 1) or (
            main and time.perf_counter() < t_end
        ):
            eng = self.engine(f"index{len(builds)}")
            t0 = time.perf_counter()
            report = eng.extract(corpus)
            builds.append((time.perf_counter() - t0, report, eng))
            self.ops += 1
        spark_after = sparkstats.snapshot(self.spark)
        self.log("measured builds " + " ".join(f"{b[0]:.2f}s" for b in builds))
        build_s = float(np.median([b[0] for b in builds]))
        # a middle build gives the stage times and lineage rows
        _, report, mid_eng = sorted(builds, key=lambda b: b[0])[len(builds) // 2]
        eng = builds[-1][2]
        lat: list[float] = []
        results = {}
        pool = self.gen.query_pool(COLD_QUERIES)
        if main:  # queries on the last, never-queried index
            for q in pool:
                res = self.timed_query(eng, q["q"], q["conjunctive"], lat)
                if res is not None:
                    results[(q["q"], q["conjunctive"])] = res
        layers = self.layer_close(
            marks, spark_after, sum(b[0] for b in builds),
            input_bytes * len(builds),
        )
        st = self.check_n_docs(eng, self.n)
        out = {
            "t_ready": t_ready,
            "build_s": build_s,
            "builds_s": [b[0] for b in builds],
            "n_files": self.n,
            "input_bytes": input_bytes,
            "query_ms": lat,
            "stage_sec": report.stage_sec,
            "layers": layers,
            "index": self.index_summary(eng, st, input_bytes),
            "rss_mb": _rss_mb(),
        }
        if main:
            self.oracle_check(eng, pool[:ORACLE_SAMPLE], results)
            if self.tracer:
                out["lineage"] = self.lineage_summary(mid_eng, report.build_id)
                out.update(self.traced_extras(frame, pool))
        return out

    def refresh_mixed(self) -> dict:
        import pandas as pd

        batches = self.gen.batches(REFRESH_BATCHES)
        added = [f for b in batches for f in b["added"]]
        base = self.gen.frame(np.arange(self.n))
        path = self.write_corpus("corpus", base)
        self.start()
        # identity of every file the run will ever see (adds included)
        ids = self.doc_ids(pd.concat([base, self.gen.frame(added, 0)]))
        eng = self.engine("index")
        eng.MAX_GENS = REFRESH_BATCHES  # the last batch crosses the bound
        eng.extract(self.spark.read.parquet(path))  # base index, untimed
        state = base.set_index("file_id", drop=False)
        pool = self.gen.query_pool(REFRESH_BATCHES * BURST_POOL_QUERIES)
        rng = np.random.default_rng([self.spec["seed"], 7])
        t_ready = time.time()
        marks = self.layer_marks()
        batch_s, compaction_s, lat, changed = [], [], [], 0
        deleted_ids: set[int] = set()
        st = None
        for bi, b in enumerate(batches):
            upd = self.gen.frame(b["edited"] + b["added"], b["version"])
            state = pd.concat(
                [state.drop(index=b["edited"] + b["deleted"]),
                 upd.set_index("file_id", drop=False)]
            )
            p = self.write_corpus(f"state{b['version']}", state.reset_index(drop=True))
            corpus = self.spark.read.parquet(p)
            dels = [ids[f] for f in b["deleted"]]
            t0 = time.perf_counter()
            try:
                rep = eng.extract(corpus)
                eng.delete(dels)
            except Exception as e:  # noqa: BLE001 - counted, run stops
                self.out.raised(f"batch {b['version']}: {e!r}"[:300])
                break
            dt = time.perf_counter() - t0
            self.ops += 1
            batch_s.append(dt)
            if rep.compacted:
                compaction_s.append(dt)
            changed += len(b["edited"]) + len(b["added"]) + len(b["deleted"])
            deleted_ids.update(dels)
            # query burst on the just-committed (cache-cleared) index
            burst = pool[bi * BURST_POOL_QUERIES:(bi + 1) * BURST_POOL_QUERIES]
            gone = [f for f in b["deleted"]][: BURST_PROBES // 2]
            fresh = list(b["edited"] + b["added"])
            fresh = [fresh[i] for i in rng.choice(len(fresh), BURST_PROBES - len(gone), replace=False)]
            for q in burst:
                res = self.timed_query(eng, q["q"], q["conjunctive"], lat)
                if res is not None:
                    self.out.record(
                        not any(d in deleted_ids for d, _ in res),
                        f"deleted doc served for {q['q']!r}",
                    )
            for f in gone + fresh:
                res = self.timed_query(eng, marker(f), True, lat)
                if res is not None:
                    want = [] if f in b["deleted"] else [ids[f]]
                    self.out.record(
                        [d for d, _ in res] == want, f"marker probe of file {f}"
                    )
            st = self.check_n_docs(eng, b["n_live"])
        layers = self.layer_close(marks)
        live_bytes = int(state["content"].str.len().sum())
        results = {}
        for q in pool[:ORACLE_SAMPLE]:
            results[(q["q"], q["conjunctive"])] = eng.search(
                q["q"], k=K, conjunctive=q["conjunctive"]
            )
        self.oracle_check(eng, pool[:ORACLE_SAMPLE], results)
        out = {
            "t_ready": t_ready,
            "batch_s": batch_s,
            "compaction_s": compaction_s,
            "changed_files": changed,
            "query_ms": lat,
            "layers": layers,
            "index": self.index_summary(eng, st or {}, live_bytes),
            "rss_mb": _rss_mb(),
        }
        out.update(self.traced_extras(base, pool))
        return out

    def query_zipf(self) -> dict:
        frame = self.gen.frame(np.arange(self.n))
        path = self.write_corpus("corpus", frame)
        input_bytes = int(frame["content"].str.len().sum())
        stream = self.gen.query_stream(QUERY_SPACE, STREAM_LENGTH)
        queries = {int(i): self.gen.query(i) for i in np.unique(stream)}
        self.log("inputs made")
        self.start()
        self.log("spark up")
        eng = self.engine("index")
        eng.extract(self.spark.read.parquet(path))  # base index, untimed
        self.log("base build done")
        t0 = time.perf_counter()
        eng.warm()
        warm_s = time.perf_counter() - t0
        # untimed: one single-word query per vocabulary word and file marker
        # decodes every posting list the stream can touch, so the timed
        # window starts at the steady state (without it the decoded cache
        # still grows through the window and throughput climbs ~2x)
        for w in [*self.gen.vocab, *(marker(f) for f in range(self.n))]:
            eng.search(str(w), k=K)
        self.log(f"warm() {warm_s:.2f}s, decoded-postings cache filled")
        first: dict[int, list] = {}
        for qi in stream[:STREAM_WARMUP]:
            q = queries[int(qi)]
            first.setdefault(int(qi), eng.search(q["q"], k=K, conjunctive=q["conjunctive"]))
        self.log("stream warm-up done")
        t_ready = time.time()
        marks = self.layer_marks()
        lat: list[float] = []
        done_at: list[float] = []  # completion times, for per-chunk figures
        t_start = time.perf_counter()
        t_end = t_start + float(self.spec["seconds"])
        timed = stream[STREAM_WARMUP:]
        j = 0
        while time.perf_counter() < t_end:
            qi = int(timed[j % len(timed)])  # wraps only on a very fast engine
            j += 1
            q = queries[qi]
            res = self.timed_query(eng, q["q"], q["conjunctive"], lat)
            if res is None:  # raised: counted as failed, no latency sample
                continue
            done_at.append(time.perf_counter() - t_start)
            first.setdefault(qi, res)
        elapsed = time.perf_counter() - t_start
        layers = self.layer_close(marks)
        rng = np.random.default_rng([self.spec["seed"], 8])
        seen = sorted(first)
        picks = rng.choice(len(seen), min(ORACLE_SAMPLE, len(seen)), replace=False)
        self.oracle_check(
            eng, [queries[seen[j]] for j in picks],
            {(queries[qi]["q"], queries[qi]["conjunctive"]): r for qi, r in first.items()},
        )
        st = eng.index_stats()
        out = {
            "t_ready": t_ready,
            "warm_s": warm_s,
            "query_ms": lat,
            "chunks": chunk_figures(lat, done_at, elapsed),
            "layers": layers,
            "index": self.index_summary(eng, st, input_bytes),
            "rss_mb": _rss_mb(),
        }
        out.update(self.traced_extras(frame, list(queries.values())))
        return out


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    sess = Session(spec)
    try:
        res = getattr(sess, spec["workload"])()
        res["ops"] = sess.ops
        res["outcomes"] = sess.out.as_dict()
        if sess.tracer is not None:
            sess.tracer.dump(os.path.join(spec["work_dir"], "spans.jsonl"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sess.stop()
    with open(out_path, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
