"""pages->triples benchmark: one workload per invocation, closed loop.

    python3 kgxbench/run.py --workload build|canon|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root (any cwd works; paths resolve from this file).
One process runs one job at a time on local[nproc]. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics of a traced
run. Either way a table goes to stdout first and the last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. README.md has the
workloads, the metrics and which layer moves which end-to-end number.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SETUPS = 3  # session set-ups per run; setup_s is their median
WARM_JOBS = 1  # untimed jobs first: class loading, JIT and caches
TRACE_REPS = 2  # traced jobs per --trace 1 run; per-layer values are medians

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "triples_per_s": "1/s",
    "surfaces_per_s": "1/s",
    "epoch_p50_s": "s",
    "peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "pair_precision": "ratio",
    "pair_recall": "ratio",
}

LAYERS = ("extract", "canon", "rewrite", "checkpoint", "streaming")
_SPARK = {"jobs": "count", "stages": "count", "tasks": "count",
          "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
          "spill_bytes": "B", "gc_s": "s", "executor_run_s": "s"}
PER_LAYER = {
    "kernel.html_to_text_ms_per_page": "ms",
    "kernel.page_facts_ms_per_page": "ms",
    "kernel.facts_per_page": "count",
    "extract.stage_s": "s",
    "extract.facts_out": "count",
    "extract.udf_overhead_ms_per_page": "ms",
    "canon.signatures_s": "s",
    "canon.blocking_s": "s",
    "canon.candidate_pairs": "count",
    "canon.verify_s": "s",
    "canon.verified_edges": "count",
    "canon.edge_yield": "ratio",
    "canon.cc_s": "s",
    "canon.components": "count",
    "canon.mapping_s": "s",
    "pipeline.rewrite_s": "s",
    "pipeline.mapping_rows": "count",
    "checkpoint.commit_s": "s",
    "checkpoint.commits": "count",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_per_triple": "B",
    "checkpoint.known_content_s": "s",
    "checkpoint.known_entities_s": "s",
    "streaming.drain_s": "s",
    "streaming.epochs": "count",
    "streaming.dedup_skip_share": "ratio",
    "streaming.mirror_share": "ratio",
    **{f"spark.{k}": u for k, u in _SPARK.items()},
    **{f"spark.{layer}.{k}": u for layer in LAYERS for k, u in _SPARK.items()},
    "driver.idle_s": "s",
    "trace.wall_s": "s",
    "trace.layer_share": "ratio",
    "tracing_overhead_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed_reps(wl, seconds: float, min_reps: int):
    """Closed loop: the next job starts when the previous one has returned,
    while it is expected to end (at half a job's overrun) within ``seconds``.
    Returns (walls, outputs, peak RSS in MB sampled after each job)."""
    from kgxbench.sparkenv import peak_rss_mb

    walls, outs, rss = [], [], 0.0
    deadline = time.perf_counter() + seconds
    while len(walls) < min_reps or time.perf_counter() + walls[-1] / 2 < deadline:
        wl.prepare()
        t0 = time.perf_counter()
        out = wl.job()
        walls.append(time.perf_counter() - t0)
        outs.append(wl.finish(out))
        rss = max(rss, peak_rss_mb())
        wl.cleanup()
    return walls, outs, rss


def _warm(wl) -> None:
    for _ in range(WARM_JOBS):
        wl.warm_job()
        wl.cleanup()


def _check_all(wl, outs):
    results = [wl.check(o) for o in outs]
    return [ok for ok, _ in results], [st for _, st in results]


def _timed_start(work: str, cpus: int):
    from kgxbench.sparkenv import start_session

    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    return spark, time.perf_counter() - t0


def run_untraced(wl, spark, start_s: float, work: str, cpus: int, seconds: float) -> dict:
    """``spark`` is the first session, started in ``start_s`` seconds."""
    from kgxbench.sparkenv import start_session, warm_up

    setups, marks = [], [time.perf_counter()]
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if i:
            spark = start_session(work, cpus)
        warm_up(spark, wl.warm_parquet)
        setups.append(time.perf_counter() - t0 + (0.0 if i else start_s))
        if i < SETUPS - 1:
            spark.stop()
    marks.append(time.perf_counter())
    wl.attach(spark)
    _warm(wl)
    marks.append(time.perf_counter())
    walls, outs, rss = _timed_reps(wl, seconds, min_reps=1)
    marks.append(time.perf_counter())
    oks, stats = _check_all(wl, outs)
    spark.stop()
    marks.append(time.perf_counter())

    def per_rep(key):
        return _median([st[key] for st in stats])

    triples = [st["outputs"] for st in stats]
    surfaces = [st["surfaces"] for st in stats]
    # a one-shot job is one epoch
    epoch_s = [st.get("epoch_s", w) for st, w in zip(stats, walls)]
    metrics = {
        "setup_s": _median(setups),
        "job_s": _median(walls),
        "triples_per_s": _median([n / w for n, w in zip(triples, walls)]),
        "surfaces_per_s": _median([n / w for n, w in zip(surfaces, walls)]),
        "epoch_p50_s": _median(epoch_s),
        "peak_rss_mb": rss,
        **{k: per_rep(k) for k in ("triple_precision", "triple_recall",
                                    "pair_precision", "pair_recall")},
    }
    extra = {"failed_share": (len(oks) - sum(oks)) / len(oks),
             **({"strict_equal_share": sum(st["equal_to_one_shot"] for st in stats) / len(stats)}
                if "equal_to_one_shot" in stats[0] else {}),
             "setups_s": [round(s, 3) for s in setups],
             "jobs_s": [round(w, 3) for w in walls],
             "epochs_s": [round(e, 3) for e in epoch_s],
             "phases_s": dict(zip(("setups", "warm", "timed", "check"),
                                  (round(b - a, 1) for a, b in zip(marks, marks[1:]))))}
    return {"oks": oks, "metrics": metrics, "extra": extra}


def run_traced(wl, spark, start_s: float, work: str, cpus: int, seconds: float) -> dict:
    """Untraced jobs first in ``spark`` (for tracing_overhead_s), then a
    fresh session with the event log on, TRACE_REPS traced jobs, and the log
    parsed into the per-layer table."""
    from kgxbench.sparkenv import (group_totals, read_event_log, start_session,
                                   uncovered_s, warm_up)

    warm_up(spark, wl.warm_parquet)
    wl.attach(spark)
    _warm(wl)
    walls, outs, _ = _timed_reps(wl, seconds / 2, min_reps=1)
    oks, _ = _check_all(wl, outs)
    job_s = _median(walls)
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, cpus, event_log=log_dir)
    warm_up(spark, wl.warm_parquet)
    wl.attach(spark)
    reps = []
    for r in range(TRACE_REPS):
        spans, counts = {}, {}
        wl.prepare()
        start_ms = time.time() * 1000
        t0 = time.perf_counter()
        out = wl.traced_job(f"kgxbench:{r}:", spans, counts)
        wall = time.perf_counter() - t0
        reps.append((start_ms, time.time() * 1000, wall, spans, counts))
        out = wl.finish(out)
        wl.cleanup()
        oks.append(wl.check(out)[0])
    spark.stop()
    jobs, stages = read_event_log(log_dir)

    def layer_of(group):
        parts = (group or "").split(":")
        return parts[2] if len(parts) == 3 and parts[0] == "kgxbench" else wl.default_layer

    per_rep = []
    for start_ms, end_ms, wall, spans, counts in reps:
        window = [j for j in jobs if start_ms <= j["start_ms"] <= end_ms]
        m = {**spans, **counts,
             **{f"spark.{k}": v for k, v in group_totals(window, stages, lambda g: True).items()},
             "driver.idle_s": uncovered_s(start_ms, end_ms, window),
             "trace.wall_s": wall,
             "trace.layer_share": sum(spans[k] for k in wl.top_spans) / wall,
             "tracing_overhead_s": (spans[wl.job_span] if wl.job_span else wall) - job_s}
        for layer in LAYERS:
            tot = group_totals(window, stages, lambda g, layer=layer: layer_of(g) == layer)
            m.update({f"spark.{layer}.{k}": v for k, v in tot.items()})
        per_rep.append(m)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for k in metrics:
        vals = [m[k] for m in per_rep if k in m]
        if vals:
            metrics[k] = _median(vals)
    if hasattr(wl, "kernel_layer"):
        metrics.update(wl.kernel_layer())
        kernel_ms = (metrics["kernel.html_to_text_ms_per_page"]
                     + metrics["kernel.page_facts_ms_per_page"])
        metrics["extract.udf_overhead_ms_per_page"] = (
            1e3 * metrics["spark.extract.executor_run_s"] / wl.pages_n - kernel_ms)
    return {"oks": oks, "metrics": metrics, "extra": {"untraced_job_s": job_s}}


def _stop_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _print(workload: str, result: dict, units: dict) -> None:
    for k, v in result["metrics"].items():
        print(f"{workload:7s} {k:42s} {v:16.6f} {units[k]}")
    for k, v in result["extra"].items():
        print(f"{workload:7s} {k:42s} {v}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "canon", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from kgxbench.inputs import ROOT
    from kgxbench.sparkenv import nproc
    from kgxbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".kgxbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers and the JVM inherit these: scratch stays in the
    # checkout and workers import kgx from it whatever the cwd
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            # the JVM launches while the inputs are generated
            first = pool.submit(_timed_start, work, nproc())
            wl = WORKLOADS[args.workload](work, args.seed)
            spark, start_s = first.result()
        run = run_traced if args.trace else run_untraced
        result = run(wl, spark, start_s, work, nproc(), args.seconds)
    finally:
        _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    _print(args.workload, result, units)
    oks = result["oks"]
    print(json.dumps({
        "correct": all(oks),
        "attempted": len(oks),
        "failed": len(oks) - sum(oks),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
