"""Output checks, run outside the timed region. Pure Python: no Spark here.

Each check returns ``(ok, stats)``; a rep whose output fails counts once in
``failed``. The reference for ``canon`` is an exact all-pairs computation
written here from the engine's documented rule (exact character-3-gram
Jaccard >= threshold, connected components, representative = min
(normalized, raw) surface), so the engine is not checked against itself.
"""

from __future__ import annotations

import itertools
import json
import re
from collections import Counter

from kgx import kernel
from kgx.fixtures import ORGS

TRIPLE_PR_FLOOR = 0.95  # ROADMAP aim 3: P/R stays >= 0.95
# share of exact edges (Jaccard >= threshold) whose ends the mapping joins.
# LSH surfaces a pair at the threshold with probability
# canon.banding_recall(0.4, 32, 2) = 0.996, and more similar pairs almost
# surely, so a correct run sits near 1; a missed bridge edge can still split
# a chained component, which is why the floor is on edges, not on pairs of
# components
CANON_EDGE_RECALL_FLOOR = 0.98

_ORG_NAME_RE = re.compile(r"Organization Name: ([^<]*)</p>")


def precision_recall(got, want) -> tuple[float, float]:
    """Set precision and recall; an empty side scores 1.0 only against empty."""
    got, want = set(got), set(want)
    tp = len(got & want)
    p = tp / len(got) if got else float(not want)
    r = tp / len(want) if want else float(not got)
    return p, r


def group_pairs(groups) -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    for g in groups:
        out.update(itertools.combinations(sorted(set(g)), 2))
    return out


def pair_precision_recall(pred_groups, gold_groups) -> tuple[float, float]:
    """P/R over unordered surface pairs that share a group."""
    return precision_recall(group_pairs(pred_groups), group_pairs(gold_groups))


def groups_by_rep(mapping) -> dict[str, list[str]]:
    by_rep: dict[str, list[str]] = {}
    for s, rep in mapping:
        by_rep.setdefault(rep, []).append(s)
    return by_rep


# --------------------------------------------------------------------------- #
# build / ingest: triples
# --------------------------------------------------------------------------- #

def triple_key(row) -> tuple[str, str, str, str]:
    return (row[0], row[1], row[2], row[3])


def org_names(html: str) -> list[str]:
    """Organization names as written in a fixtures page, in page order."""
    return _ORG_NAME_RE.findall(html)


def raw_org_names(html_by_url: dict[str, str]) -> dict[str, list[str]]:
    return {u: org_names(h) for u, h in html_by_url.items()}


def proponent_groups(rows, raw_by_url) -> tuple[list[list[str]], list[list[str]]]:
    """(groups the output formed, planted fixtures.ORGS groups) over the raw
    surfaces seen: each proponent triple's names are zipped with the names
    written in its page, and raw surfaces are grouped by the name they were
    rewritten to. A triple whose name count differs from its page's groups
    nothing, so its surfaces only cost recall."""
    rewritten: dict[str, set[str]] = {}
    for subj, pred, obj, url in rows:
        if pred != "project_proponents":
            continue
        raw = raw_by_url.get(url, [])
        names = [p["organization_name"] for p in json.loads(obj)]
        if len(raw) == len(names):
            for r, n in zip(raw, names):
                rewritten.setdefault(n, set()).add(r)
    seen = set().union(*rewritten.values()) if rewritten else set()
    planted = [[v for v in o["variants"] if v in seen] for o in ORGS]
    return [sorted(g) for g in rewritten.values()], [g for g in planted if g]


def check_triples(rows, golden, raw_by_url) -> tuple[bool, dict]:
    """``build``: triple P/R against fixtures.golden_triples >= 0.95."""
    p, r = precision_recall(map(triple_key, rows), map(triple_key, golden))
    formed, planted = proponent_groups(rows, raw_by_url)
    pp, pr = pair_precision_recall(formed, planted)
    ok = p >= TRIPLE_PR_FLOOR and r >= TRIPLE_PR_FLOOR
    return ok, {"triples": len(rows), "triple_precision": p, "triple_recall": r,
                "pair_precision": pp, "pair_recall": pr,
                "surfaces": sum(map(len, formed))}


_ORG_ID = {v: o["org_id"] for o in ORGS for v in o["variants"]}


def _org_names(obj: str) -> list[str]:
    return [p["organization_name"] for p in json.loads(obj)]


def up_to_representative(row) -> tuple[str, str, str, str]:
    """The triple with each proponent organization name replaced by its
    fixtures.ORGS id: equal for any choice of group representative."""
    s, p, o, u = triple_key(row)
    if p == "project_proponents":
        props = json.loads(o)
        for pr in props:
            pr["organization_name"] = _ORG_ID.get(pr["organization_name"],
                                                  pr["organization_name"])
        o = json.dumps(props, sort_keys=True)
    return (s, p, o, u)


def check_ingest(rows, expected, golden, raw_by_url) -> tuple[bool, dict]:
    """``ingest``: the committed triples equal build_triples over the corpus
    with mirrors removed, row for row (a duplicate commit is a failure), up
    to the choice of representative: streaming keeps the representative an
    earlier epoch committed (sticky), so when the first epoch lacks a
    group's smallest variant the drain keeps a different, single name for
    that group. ``equal_to_one_shot`` reports strict equality."""
    same = Counter(map(up_to_representative, rows)) == Counter(
        map(up_to_representative, expected))
    names: dict[str, set[str]] = {}
    for r in rows:
        if r[1] == "project_proponents":
            for n in _org_names(r[2]):
                names.setdefault(_ORG_ID.get(n, n), set()).add(n)
    one_name = all(len(v) == 1 for v in names.values())
    ok, stats = check_triples(rows, golden, raw_by_url)
    stats["equal_to_one_shot"] = (
        Counter(map(triple_key, rows)) == Counter(map(triple_key, expected)))
    return ok and same and one_name, stats


# --------------------------------------------------------------------------- #
# canon: the canonical mapping
# --------------------------------------------------------------------------- #

def _rep_of(members) -> str:
    return min(members, key=lambda v: (kernel.normalize_surface(v), v))


def exact_reference(surfaces, threshold: float):
    """Exact all-pairs reference: (surface -> representative, edges)."""
    names = sorted(set(surfaces))
    edges = []
    parent = {s: s for s in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    shs = [frozenset(kernel.shingles(s)) for s in names]
    for i, sa in enumerate(shs):
        if not sa:
            continue
        for j in range(i + 1, len(names)):
            sb = shs[j]
            inter = len(sa & sb)
            if inter and inter / len(sa | sb) >= threshold:
                edges.append((names[i], names[j]))
                ra, rb = find(names[i]), find(names[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for s in names:
        comps.setdefault(find(s), []).append(s)
    return {s: _rep_of(m) for m in comps.values() for s in m}, edges


def check_mapping(rows, surfaces, reference: dict[str, str], edges, planted) -> tuple[bool, dict]:
    """``canon``: every distinct surface is mapped exactly once; each group's
    representative follows the rep rule; no group merges two reference
    groups (blocking only drops pairs, so the output must refine the exact
    reference); the mapping joins >= CANON_EDGE_RECALL_FLOOR of the exact
    edges."""
    mapped = Counter(s for s, _ in rows)
    covered = set(mapped) == set(surfaces) and all(c == 1 for c in mapped.values())
    by_rep = groups_by_rep(rows)
    groups = list(by_rep.values())
    reps_ok = all(_rep_of(g) == rep for rep, g in by_rep.items())
    refines = all(len({reference.get(s) for s in g}) == 1 for g in groups)
    rep = dict(rows)
    joined = sum(1 for a, b in edges if a in rep and rep[a] == rep.get(b))
    edge_recall = joined / len(edges) if edges else 1.0
    tp, tr = precision_recall(rows, reference.items())
    pp, pr = pair_precision_recall(groups, planted)
    ok = covered and reps_ok and refines and edge_recall >= CANON_EDGE_RECALL_FLOOR
    return ok, {"surfaces": len(mapped), "components": len(groups),
                "triple_precision": tp, "triple_recall": tr,
                "pair_precision": pp, "pair_recall": pr,
                "edge_recall": edge_recall}
