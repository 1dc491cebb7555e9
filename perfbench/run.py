"""Seeded benchmark of the extractor engine: one command, three workloads.

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists, and why
refresh_mixed is runnable by hand but not listed in BENCHMARK.json):
  build_full     fresh full builds at local[nproc] (traced runs: and at
                 local[nproc/2])
  refresh_mixed  change batches (edit/add/delete) with query bursts between
  query_zipf     a closed-loop client on a warmed index, Zipf-skewed queries

Each Spark session runs in its own child process (own JVM), one at a time.
The last line of stdout is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. Exits non-zero, printing no result, when the engine
package is missing or a session fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import Outcomes, percentile, tail_percentile  # noqa: E402

WORKLOADS = ("build_full", "refresh_mixed", "query_zipf")
RUN_DEADLINE_S = 170  # every session of one run must end within this
HALF_SESSION_S = 75  # the local[nproc/2] session measured ~50 s; skipped below this


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _child_env(work: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["PYTHONPATH"] = ROOT
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    # every JVM (launcher and driver) keeps its temp files in the checkout
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return env


def _reap_group(proc: subprocess.Popen, timeout: float = 20.0) -> None:
    """Kill whatever is left of a session's process group (the session
    process leads it) and wait until the group is empty."""
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        proc.poll()  # reap the leader, or its zombie keeps the group alive
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            raise RuntimeError(f"process group {proc.pid} did not exit")
        time.sleep(0.2)
        sig = signal.SIGKILL


def run_session(spec: dict, work: str, idx: int, deadline: float) -> dict:
    spec_path = os.path.join(work, f"spec{idx}.json")
    out_path = os.path.join(work, f"result{idx}.json")
    spec = dict(spec, t_spawn=time.time())
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.session", spec_path, out_path],
        cwd=ROOT, env=_child_env(work), start_new_session=True,
        stdout=sys.stderr,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _reap_group(proc)
    if rc != 0:
        raise RuntimeError(f"session {idx} ({spec['workload']}) failed: rc={rc}")
    with open(out_path) as f:
        res = json.load(f)
    res["setup_s"] = res["t_ready"] - spec["t_spawn"]
    return res


# -- metrics -------------------------------------------------------------------
def _latency(ms: list[float]) -> tuple[float, float]:
    """(p50, tail) with the tail at the highest percentile that has at
    least ten samples beyond it."""
    return percentile(ms, 50), percentile(ms, tail_percentile(len(ms)))


def end_to_end(workload: str, sessions: list[dict]) -> dict:
    """The latency metrics are those of the workload's unit operation: one
    full build, one query, one change batch."""
    main = sessions[0]
    idx = main["index"]
    if workload == "build_full":
        work_per_s = main["n_files"] / main["build_s"]
        p50, tail = _latency([s * 1e3 for s in main["builds_s"]])
    elif workload == "refresh_mixed":
        work_per_s = main["changed_files"] / sum(main["batch_s"])
        p50, tail = _latency([s * 1e3 for s in main["batch_s"]])
    else:  # the closed loop: medians over its time windows
        chunks = main["chunks"]
        work_per_s = statistics.median(c["rate"] for c in chunks)
        p50 = statistics.median(c["p50_ms"] for c in chunks)
        tail = statistics.median(c["tail_ms"] for c in chunks)
    return {
        "setup_s": statistics.median(s["setup_s"] for s in sessions),
        "work_per_s": work_per_s,
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
        "index_bytes_per_input_byte": idx["index_bytes"] / idx["input_bytes"],
        "driver_rss_mb": main["rss_mb"],
    }


def _span(spans: dict, name: str, key: str = "ms") -> float:
    d = spans.get(name)
    if not d or not d["calls"]:
        return 0.0
    return d[key] / d["calls"]


def per_layer(workload: str, sessions: list[dict], e2e: dict) -> dict:
    main = sessions[0]
    lay = main["layers"]
    sp = lay["spark"]
    spans = lay.get("spans", {})
    in_bytes = lay["input_bytes"] or main["index"]["input_bytes"]
    stage = {}
    for s in ("status", "tokenize_stage", "lineage_markers", "tombstones",
              "encode_segments", "doc_stats", "fields_manifest", "gen_docs",
              "overlap_group_wall", "compact_gc"):
        stage[s] = main.get("stage_sec", {}).get(s, 0.0)
    st = main["index"]["stats"]
    search = spans.get("api.search", {"calls": 0})
    reads = spans.get("segread.read_segment_rows", {"calls": 0, "items": 0})
    lin = main.get("lineage", {})
    kern = main.get("kernels", {})
    m = {
        "spark.jobs": sp["jobs"],
        "spark.tasks": sp["tasks"],
        "spark.failed_tasks": sp["failed_tasks"],
        "spark.executor_run_s": sp["executor_run_ms"] / 1e3,
        "spark.busy_frac": sp["executor_run_ms"] / 1e3 / (lay["wall_s"] * lay["cores"]),
        "spark.shuffle_write_bytes_per_input_byte": sp["shuffle_write_bytes"] / in_bytes,
        "spark.spill_bytes": sp["spill_bytes"],
        "spark.output_bytes_per_input_byte": sp["output_bytes"] / in_bytes,
        **{f"api.extract.{k}_s": v for k, v in stage.items()},
        "manifest.tokenize_partitions": lin.get("partitions", 0),
        "manifest.tokenize_wall_max_over_median": lin.get("wall_max_over_median", 0.0),
        "manifest.tokenize_mb_per_core_s": lin.get("mb_per_core_s", 0.0),
        "analysis.postings_for_batch.mb_per_s": kern.get("postings_for_batch_mb_per_s", 0.0),
        "analysis.analyze_query.us": kern.get("analyze_query_us", 0.0),
        "operators.segments.n_terms": st.get("n_terms", 0),
        "operators.segments.n_postings": st.get("n_postings", 0),
        "operators.segments.disk_bytes": st.get("segments_disk_bytes", 0),
        "api.generations": st.get("generations", 0),
        "api.tombstones": st.get("tombstones", 0),
        "operators.segread.read_segment_rows.ms": _span(spans, "segread.read_segment_rows"),
        "operators.segread.rows_per_lookup": (
            reads["items"] / reads["calls"] if reads["calls"] else 0.0
        ),
        "operators.wand.term_postings_from_rows.ms": _span(spans, "wand.term_postings_from_rows"),
        "operators.wand.exact_topk.ms": _span(spans, "wand.exact_topk"),
        "operators.wand.maxscore_topk.ms": _span(spans, "wand.maxscore_topk"),
        "operators.wand.maxscore_topk_lazy.ms": _span(spans, "wand.maxscore_topk_lazy"),
        "api.search.self_ms": _span(spans, "api.search", "self_ms"),
        "api.search.cache_hit_ratio": (
            search["no_scoring_child"] / search["calls"] if search["calls"] else 0.0
        ),
        "api.warm_s": main.get("warm_s", 0.0),
        "fresh.query_p50_ms": 0.0,
        "fresh.query_tail_ms": 0.0,
        "build.mb_per_s": 0.0,
        "build.scaling_eff": 0.0,
        "trace.spans": lay.get("n_spans", 0),
        "trace.overhead_frac": (
            lay.get("n_spans", 0) * main.get("span_overhead_s", 0.0) / lay["wall_s"]
        ),
        "trace.work_per_s": e2e["work_per_s"],
    }
    if workload != "query_zipf":  # queries on a just-committed index
        m["fresh.query_p50_ms"], m["fresh.query_tail_ms"] = _latency(main["query_ms"])
    if workload == "build_full":
        m["build.mb_per_s"] = main["input_bytes"] / 1e6 / main["build_s"]
    if workload == "build_full" and len(sessions) > 1:
        half = sessions[1]
        fps_full = main["n_files"] / main["build_s"]
        fps_half = half["n_files"] / half["build_s"]
        m["build.scaling_eff"] = fps_full / (2.0 * fps_half)
    return m


def units() -> dict:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ckanext_extractor_spark", "api.py")):
        print("engine package ckanext_extractor_spark not found next to "
              "perfbench/", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = nproc()
    # the local[nproc/2] session only feeds build.scaling_eff, a per-layer
    # metric, so only traced build_full runs pay for it
    cores = [n]
    if args.workload == "build_full" and args.trace:
        cores.append(max(1, n // 2))
    deadline = time.time() + RUN_DEADLINE_S
    try:
        sessions = []
        for i, c in enumerate(cores):
            if i and deadline - time.time() < HALF_SESSION_S:
                # a slow host: build.scaling_eff reads 0 rather than the run failing
                print("no time left for the local[nproc/2] session", file=sys.stderr)
                break
            spec = {
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace, "cores": c,
                "role": "main" if i == 0 else "half",
                "work_dir": os.path.join(work, f"s{i}"),
            }
            os.makedirs(spec["work_dir"])
            sessions.append(run_session(spec, work, i, deadline))
        outcomes = Outcomes()
        for s in sessions:
            outcomes.merge(s["outcomes"])
        attempted = max(1, sum(s["ops"] for s in sessions))
        failed = min(attempted, outcomes.failed)
        e2e = end_to_end(args.workload, sessions)
        metrics = per_layer(args.workload, sessions, e2e) if args.trace else e2e
        unit = units()
        if args.trace:
            # one file per workload: the last traced run's spans
            keep = os.path.join(work_root, f"spans-{args.workload}.jsonl")
            src = os.path.join(work, "s0", "spans.jsonl")
            if os.path.exists(src):
                shutil.move(src, keep)
        for note in outcomes.notes:
            print("check failed:", note, file=sys.stderr)
    except Exception as e:  # noqa: BLE001 - report and exit non-zero
        print(f"benchmark failed: {e!r}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
