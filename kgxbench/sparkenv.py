"""Spark session set-up, job-group spans, event-log parsing and memory probes.

Everything here observes the engine from outside: job groups are local
properties set around calls into ``kgx``, and the per-stage numbers come from
Spark's own event log, which is enabled only for the traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from kgx.session import get_spark

from kgxbench.inputs import ROOT

JOB_GROUP = "spark.jobGroup.id"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cpus: int, event_log: str | None = None):
    """local[cpus] session whose scratch stays inside ``work`` and whose
    Python workers import ``kgx`` from the checkout whatever the cwd."""
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # C1 only: under full tiered compilation a job keeps getting faster
        # for 20 and more repetitions (canon 2.8 s -> 1.8 s), longer than a
        # run can warm up for. C1 levels off after a few jobs, and with its
        # compile thresholds cut tenfold the second job of a run is already
        # within ~10% of that level (~15-20% at the default thresholds).
        # C1 alone defaults to a 48 MB code cache, which a traced ingest run
        # filled (compilation then stops), so the tiered default is kept.
        # The heap is touched up front: how much of it a run had touched
        # varied with GC timing by ~120 MB between identical runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:TieredStopAtLevel=1"
            " -XX:Tier3InvocationThreshold=20 -XX:Tier3MinInvocationThreshold=10"
            " -XX:Tier3CompileThreshold=200 -XX:Tier3BackEdgeThreshold=6000"
            " -XX:ReservedCodeCacheSize=240m -Xms1g -XX:+AlwaysPreTouch",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        # Spark 4 writes zstd-compressed rolling logs by default; one plain
        # file is what the parser below reads
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
                      app_name="kgxbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, parquet: str) -> None:
    """Spawn the Python worker pool (one Arrow round-trip per core) and scan
    the workload's input once, so the first timed job pays neither."""
    n = 2 * spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInArrow(lambda it: it, "id long").count()
    spark.read.parquet(parquet).count()


@contextlib.contextmanager
def job_group(spark, name: str):
    """Tag every Spark job this thread starts inside the block with ``name``."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(JOB_GROUP)
    sc.setLocalProperty(JOB_GROUP, name)
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_GROUP, prev)


@contextlib.contextmanager
def span(spans: dict, key: str):
    """Add the block's wall seconds to ``spans[key]``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        spans[key] = spans.get(key, 0.0) + time.perf_counter() - t0


# --------------------------------------------------------------------------- #
# memory: /proc VmHWM of the JVM and its Python workers
# --------------------------------------------------------------------------- #

def _proc_tree() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over every process below this one (the JVM, the PySpark
    daemon and its workers). The peaks need not coincide, so this is an
    upper bound on the simultaneous peak."""
    tree = _proc_tree()
    todo, total = list(tree.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(tree.get(pid, []))
    return total / 1024.0


# --------------------------------------------------------------------------- #
# event log
# --------------------------------------------------------------------------- #

STAGE_METRICS = ("tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the one uncompressed log in ``log_dir``.

    jobs: ``{"group", "start_ms", "end_ms", "stages"}``; stages: per-stage
    sums of the task metrics in STAGE_METRICS. Only stages that ran tasks
    appear, so stages a job skipped (reused shuffle output) are not counted.
    """
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {names}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get(JOB_GROUP),
                    "start_ms": ev["Submission Time"],
                    "end_ms": ev["Submission Time"],
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], dict.fromkeys(STAGE_METRICS, 0))
                st["tasks"] += 1
                st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0))
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
    return list(jobs.values()), stages


def group_totals(jobs, stages, match) -> dict[str, float]:
    """jobs / stages / task-metric sums over the jobs whose group satisfies
    ``match``; a stage counts for the first such job that lists it."""
    out = dict.fromkeys(("jobs", "stages") + STAGE_METRICS, 0)
    seen: set[int] = set()
    for j in jobs:
        if not match(j["group"]):
            continue
        out["jobs"] += 1
        for sid in j["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                out["stages"] += 1
                for k in STAGE_METRICS:
                    out[k] += stages[sid][k]
    return out


def uncovered_s(start_ms: float, end_ms: float, jobs) -> float:
    """Seconds of [start, end] not covered by any job interval: driver-side
    work (collects, union-find, planning) and scheduling gaps."""
    spans = sorted((max(j["start_ms"], start_ms), min(j["end_ms"], end_ms))
                   for j in jobs if j["end_ms"] > start_ms and j["start_ms"] < end_ms)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end_ms - start_ms) - covered) / 1000.0
