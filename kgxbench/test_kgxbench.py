"""The benchmark's own tests: each output check fails on a corrupted output,
the inputs are seeded, the event-log reader sums what it should, and
BENCHMARK.json names exactly the metrics run.py prints. No Spark session.

    python3 -m pytest kgxbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from kgx import canon, fixtures, kernel

from kgxbench import checks, inputs, run, sparkenv


@pytest.fixture(scope="module")
def corpus():
    pages = fixtures.gen_pages(120, seed=5)
    golden = [tuple(r) for r in inputs.golden_rows(pages)]
    raw = checks.raw_org_names({p["url"]: p["html"].decode() for p in pages})
    return golden, raw


# --------------------------------------------------------------------------- #
# build
# --------------------------------------------------------------------------- #

def test_build_check_accepts_golden(corpus):
    golden, raw = corpus
    ok, st = checks.check_triples(golden, golden, raw)
    assert ok
    assert st["triple_precision"] == st["triple_recall"] == 1.0
    assert st["pair_precision"] == st["pair_recall"] == 1.0


def test_build_check_fails_on_dropped_triples(corpus):
    golden, raw = corpus
    kept = golden[: int(len(golden) * 0.9)]
    ok, st = checks.check_triples(kept, golden, raw)
    assert not ok and st["triple_recall"] < checks.TRIPLE_PR_FLOOR


def test_build_check_fails_on_wrong_objects(corpus):
    golden, raw = corpus
    n_bad = int(len(golden) * 0.1)
    bad = [(s, p, o + " ", u) for s, p, o, u in golden[:n_bad]] + golden[n_bad:]
    ok, st = checks.check_triples(bad, golden, raw)
    assert not ok and st["triple_precision"] < checks.TRIPLE_PR_FLOOR


def test_pair_metrics_see_a_split_group(corpus):
    golden, raw = corpus
    split = fixtures.ORGS[0]["variants"][0]

    def rewrite(row):
        s, p, o, u = row
        if p != "project_proponents":
            return row
        props = json.loads(o)
        for name, pr in zip(raw[u], props):
            if name == split:
                pr["organization_name"] = "Split Off Org"
        return (s, p, json.dumps(props), u)

    _, st = checks.check_triples([rewrite(r) for r in golden], golden, raw)
    assert st["pair_recall"] < 1.0 and st["pair_precision"] == 1.0


# --------------------------------------------------------------------------- #
# ingest
# --------------------------------------------------------------------------- #

def test_ingest_check_accepts_exact_output(corpus):
    golden, raw = corpus
    ok, st = checks.check_ingest(list(golden), golden, golden, raw)
    assert ok and st["equal_to_one_shot"]


@pytest.mark.parametrize("corrupt", ["drop", "duplicate", "mirror"])
def test_ingest_check_fails_on_corrupted_output(corpus, corrupt):
    golden, raw = corpus
    rows = list(golden)
    if corrupt == "drop":
        rows = rows[1:]
    elif corrupt == "duplicate":  # a mirror committed twice
        rows = rows + rows[:1]
    else:  # the mirror's copy kept instead of the original
        s, p, o, u = rows[0]
        rows[0] = (s, p, o, inputs.mirror_url(u))
    ok, st = checks.check_ingest(rows, golden, golden, raw)
    assert not ok and not st["equal_to_one_shot"]


def _rename_org(rows, old, new):
    out = []
    for s, p, o, u in rows:
        if p == "project_proponents" and old in o:
            props = json.loads(o)
            for pr in props:
                if pr["organization_name"] == old:
                    pr["organization_name"] = new
            o = json.dumps(props)
        out.append((s, p, o, u))
    return out


def test_ingest_check_allows_a_sticky_representative(corpus):
    golden, raw = corpus
    org = fixtures.ORGS[0]
    rep = next(n for r in golden if r[1] == "project_proponents"
               for n in checks._org_names(r[2]) if n in org["variants"])
    other = next(v for v in org["variants"] if v != rep)
    ok, st = checks.check_ingest(_rename_org(golden, rep, other), golden, golden, raw)
    assert ok and not st["equal_to_one_shot"]


def test_ingest_check_fails_on_two_names_for_one_group(corpus):
    golden, raw = corpus
    org = fixtures.ORGS[0]
    rep = next(n for r in golden if r[1] == "project_proponents"
               for n in checks._org_names(r[2]) if n in org["variants"])
    other = next(v for v in org["variants"] if v != rep)
    first = next(i for i, r in enumerate(golden) if rep in r[2])
    rows = list(golden)
    rows[first] = _rename_org([rows[first]], rep, other)[0]
    assert not checks.check_ingest(rows, golden, golden, raw)[0]


def test_epoch_layout_puts_every_variant_in_the_first_file():
    pages = fixtures.gen_pages(160, seed=7)
    layout = inputs._epoch_layout(pages, 4)
    assert sorted(i for ix in layout for i in ix) == list(range(len(pages)))
    assert len({len(ix) for ix in layout}) == 1
    names = [set(checks.org_names(p["html"].decode())) for p in pages]
    first = set().union(*(names[i] for i in layout[0]))
    assert set().union(*names) == first


def test_mirrors_copy_the_base_or_their_own_file():
    layout = inputs._epoch_layout(fixtures.gen_pages(160, seed=7), 4)
    sources = inputs.mirror_sources(layout, 6, seed=7)
    assert [len(m) for m in sources] == [6] * 4
    for f, m in enumerate(sources):
        assert set(m) <= set(layout[0]) | set(layout[f])
    assert sources == inputs.mirror_sources(layout, 6, seed=7)


def test_mirror_urls_sort_after_originals():
    for p in fixtures.gen_pages(60, seed=3):
        assert inputs.mirror_url(p["url"]) > p["url"]


# --------------------------------------------------------------------------- #
# canon
# --------------------------------------------------------------------------- #

@pytest.fixture(scope="module")
def dictionary():
    groups = inputs.gen_entity_groups(200, seed=9)
    surfaces = [s for g in groups for s in g]
    ref, edges = checks.exact_reference(surfaces, canon.JACCARD_THRESHOLD)
    return groups, surfaces, ref, edges


def test_canon_check_accepts_reference(dictionary):
    groups, surfaces, ref, edges = dictionary
    ok, st = checks.check_mapping(list(ref.items()), surfaces, ref, edges, groups)
    assert ok and st["triple_precision"] == st["triple_recall"] == 1.0
    assert st["pair_recall"] > 0.9


def _two_groups(ref):
    by_rep = checks.groups_by_rep(ref.items())
    return sorted(by_rep, key=lambda r: -len(by_rep[r]))[:2]


def test_canon_check_fails_on_merged_pair(dictionary):
    groups, surfaces, ref, edges = dictionary
    a, b = _two_groups(ref)
    keep = min(a, b, key=lambda v: (kernel.normalize_surface(v), v))
    rows = [(s, keep if r in (a, b) else r) for s, r in ref.items()]
    assert not checks.check_mapping(rows, surfaces, ref, edges, groups)[0]


def test_canon_check_fails_on_dropped_or_repeated_surface(dictionary):
    groups, surfaces, ref, edges = dictionary
    rows = list(ref.items())
    assert not checks.check_mapping(rows[1:], surfaces, ref, edges, groups)[0]
    assert not checks.check_mapping(rows + rows[:1], surfaces, ref, edges, groups)[0]


def test_canon_check_fails_on_wrong_representative(dictionary):
    groups, surfaces, ref, edges = dictionary
    a, _ = _two_groups(ref)
    other = next(s for s, r in ref.items() if r == a and s != a)
    rows = [(s, other if r == a else r) for s, r in ref.items()]
    assert not checks.check_mapping(rows, surfaces, ref, edges, groups)[0]


def test_canon_check_fails_on_lost_recall(dictionary):
    groups, surfaces, ref, edges = dictionary
    rows = [(s, s) for s in ref]  # every surface alone
    ok, st = checks.check_mapping(rows, surfaces, ref, edges, groups)
    assert not ok and st["edge_recall"] == 0.0


def test_entity_groups_are_seeded_and_disjoint():
    a = inputs.gen_entity_groups(140, seed=1)
    assert a == inputs.gen_entity_groups(140, seed=1)
    assert a != inputs.gen_entity_groups(140, seed=2)
    flat = [s for g in a for s in g]
    assert len(flat) == len(set(flat)) == 140


# --------------------------------------------------------------------------- #
# tracing
# --------------------------------------------------------------------------- #

def _event_log(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "kgxbench:0:extract"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 30},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # reuses stage 1 (skipped, no tasks) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 250}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    d = tmp_path / "log"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    return str(d)


def test_event_log_totals_by_group(tmp_path):
    jobs, stages = sparkenv.read_event_log(_event_log(tmp_path))
    ext = sparkenv.group_totals(jobs, stages, lambda g: g == "kgxbench:0:extract")
    assert ext == {"jobs": 1, "stages": 2, "tasks": 2, "executor_run_s": 2.0,
                   "gc_s": 0.1, "shuffle_read_bytes": 40, "shuffle_write_bytes": 40,
                   "spill_bytes": 10}
    every = sparkenv.group_totals(jobs, stages, lambda g: True)
    assert every["jobs"] == 2 and every["stages"] == 3 and every["executor_run_s"] == 2.25


def test_uncovered_time_is_outside_every_job(tmp_path):
    jobs, _ = sparkenv.read_event_log(_event_log(tmp_path))
    # jobs cover [1000, 3000] (overlapping); the window is [0, 4000]
    assert sparkenv.uncovered_s(0, 4000, jobs) == pytest.approx(2.0)
    assert sparkenv.uncovered_s(1200, 2500, jobs) == 0.0


# --------------------------------------------------------------------------- #
# BENCHMARK.json agrees with what run.py prints
# --------------------------------------------------------------------------- #

def test_benchmark_json_matches_run_metrics():
    with open(os.path.join(inputs.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"build", "canon", "ingest"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
