"""Seeded workload inputs, cached on disk by (workload, size, seed, versions).

Every generator is a pure function of its seed, so a cache hit and a fresh
generation give the same bytes; the key carries fixtures.FIXTURE_VERSION and
this module's INPUTS_VERSION so a changed generator never reads stale inputs. The cache lives in ``.kgxbench_cache/`` at
the checkout root; a directory is published by rename only once complete, so
an interrupted generation is regenerated rather than half-read.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from kgx import fixtures

from kgxbench import checks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".kgxbench_cache")
# bump when a generator below changes its output for a given seed
INPUTS_VERSION = 6

# workload sizes (README.md explains each choice)
BUILD_PAGES = 4000
CANON_SURFACES = 1500  # crosses DRIVER_CANON_MAX_SURFACES (1,000)
INGEST_PAGES = 900
INGEST_FILES = 3  # the base file plus 2 that the drains on top of it take in turn
INGEST_MIRROR_SHARE = 0.15  # mirrors per unique page

_PAGE_FIELDS = [
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
]


def _cached(workload: str, size: int, seed: int, make) -> str:
    """Directory holding the inputs for this key, generating it on a miss."""
    key = f"{workload}-n{size}-s{seed}-v{fixtures.FIXTURE_VERSION}.{INPUTS_VERSION}"
    final = os.path.join(CACHE, key)
    if not os.path.isdir(final):
        tmp = os.path.join(CACHE, f"_tmp-{key}-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp)
        try:
            os.rename(tmp, final)
        except OSError:  # another process published the same key first
            shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write_pages(rows: list[dict], path: str) -> None:
    table = pa.table(
        {name: pa.array([r[name] for r in rows], typ) for name, typ in _PAGE_FIELDS}
    )
    pq.write_table(table, path, row_group_size=fixtures.row_group_size(len(rows)))


def _write_json(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def golden_rows(pages: list[dict]) -> list[list[str]]:
    return [
        [t["subj"], t["pred"], t["obj"], t["src_url"]]
        for t in fixtures.golden_triples(pages)
    ]


# --------------------------------------------------------------------------- #
# build: fixtures.gen_pages corpus + its golden triples
# --------------------------------------------------------------------------- #

def build_inputs(seed: int, n: int = BUILD_PAGES) -> dict:
    def make(d):
        pages = fixtures.gen_pages(n, seed)
        _write_pages(pages, os.path.join(d, "pages.parquet"))
        _write_json(golden_rows(pages), os.path.join(d, "golden.json"))
        _write_json([p["html"].decode() for p in pages[:400]],
                    os.path.join(d, "sample_html.json"))

    d = _cached("build", n, seed, make)
    return {
        "pages": os.path.join(d, "pages.parquet"),
        "golden": os.path.join(d, "golden.json"),
        "sample_html": os.path.join(d, "sample_html.json"),
        "n_pages": n,
    }


# --------------------------------------------------------------------------- #
# canon: an entity dictionary with planted groups
# --------------------------------------------------------------------------- #

# Names are built so that unrelated groups share shingles the way real
# registries do, in a stated amount:
# - two pseudo-words of 4 syllables from a 28-syllable alphabet (the
#   group's own part; unrelated words still share some 3-grams);
# - a sector word from 12, on half of the groups;
# - a legal-suffix family from 8 (the same noise as fixtures.ORGS).
# Variants of a group differ by casing, punctuation and legal suffix only.
_SYLLABLES = ("ka lo ve ri ta mo ne su pa di xo ze bu fi go ha ji qu wy ce "
              "ro la mi to na se do be").split()
_SECTORS = ("Renewables Forestry Energia Hydro Carbon Projects Power "
            "Restoration Biochar Cookstoves Solar Wind").split()
_SUFFIXES = [("Ltd", "Ltd.", "Limited"), ("Inc", "Inc.", "Incorporated"),
             ("LLC", "L.L.C."), ("SA", "S.A."), ("PLC", "Plc"), ("GmbH",),
             ("LP", "L.P."), ("Co", "Co.", "Company")]


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(4)).capitalize()


def gen_entity_groups(n_surfaces: int, seed: int) -> list[list[str]]:
    """Planted groups of distinct surface variants, ``n_surfaces`` in all (the
    last group is cut to fit); no surface is in two groups."""
    rng = random.Random(seed)
    seen: set[str] = set()
    groups = []
    while len(seen) < n_surfaces:
        base = f"{_word(rng)} {_word(rng)}"
        if rng.random() < 0.5:
            base += " " + rng.choice(_SECTORS)
        suf = rng.choice(_SUFFIXES)
        variants = [f"{base} {suf[0]}", f"{base} {suf[-1]}",
                    f"{base.upper()} {suf[-1].upper()}", f"{base}, {suf[0]}",
                    base.upper()]
        picked = [base] + rng.sample(variants, rng.choice((1, 2, 2, 3, 3, 4)))
        group = [v for v in dict.fromkeys(picked) if v not in seen]
        group = group[: n_surfaces - len(seen)]
        seen.update(group)
        if group:
            groups.append(group)
    return groups


def canon_inputs(seed: int, n_surfaces: int = CANON_SURFACES) -> dict:
    def make(d):
        groups = gen_entity_groups(n_surfaces, seed)
        surfaces = [s for g in groups for s in g]
        random.Random(seed).shuffle(surfaces)
        pq.write_table(pa.table({"surface": surfaces}),
                       os.path.join(d, "surfaces.parquet"), row_group_size=256)
        _write_json(groups, os.path.join(d, "groups.json"))

    d = _cached("canon", n_surfaces, seed, make)
    return {
        "surfaces": os.path.join(d, "surfaces.parquet"),
        "groups": os.path.join(d, "groups.json"),
    }


# --------------------------------------------------------------------------- #
# ingest: page files with planted mirrors
# --------------------------------------------------------------------------- #

def mirror_url(url: str) -> str:
    """A mirror's URL sorts after every original (fixtures hosts start with
    b, d or h), so the engine's min-url keep rule keeps the original."""
    return "https://mirror.example.net/copy/" + url.rsplit("/", 1)[-1] + "-m"


def _epoch_layout(pages: list[dict], files: int) -> list[list[int]]:
    """Page indices per file: the first file holds a page naming each
    organization variant, the rest follow in generation order. So the base
    epoch (the first file) builds the whole entity dictionary and every
    drain on top of it takes the skip-canonicalization path, on every seed."""
    names = [checks.org_names(p["html"].decode()) for p in pages]
    first: dict[str, int] = {}
    for i, ns in enumerate(names):
        for v in ns:
            first.setdefault(v, i)
    firsts = set(first.values())
    out: list[list[int]] = [sorted(firsts)]
    rest = iter([i for i in range(len(pages)) if i not in firsts])
    per = -(-len(pages) // files)
    out[0].extend(itertools.islice(rest, max(0, per - len(out[0]))))
    out.extend(list(itertools.islice(rest, per)) for _ in range(files - 1))
    return [sorted(ix) for ix in out]


def mirror_sources(layout: list[list[int]], per_file: int, seed: int) -> list[list[int]]:
    """Pages each file mirrors: ``per_file`` draws from the base file (the
    first) and the file itself, so every file's mirrors are skippable by a
    drain on top of the base alone; a page may be mirrored more than once."""
    rng = random.Random(seed + 1)
    return [rng.sample(layout[0] + (ix if f else []), per_file)
            for f, ix in enumerate(layout)]


def ingest_inputs(seed: int, n: int = INGEST_PAGES, files: int = INGEST_FILES,
                  mirror_share: float = INGEST_MIRROR_SHARE) -> dict:
    """``files`` parquet files of the unique pages (see _epoch_layout) plus
    mirrors: the same HTML at a new URL (see mirror_sources); every file
    holds the same number. ``unique/`` holds each file without its mirrors,
    for the one-shot reference."""
    def make(d):
        pages = fixtures.gen_pages(n, seed)
        layout = _epoch_layout(pages, files)
        mirrors = mirror_sources(layout, round(mirror_share * n / files), seed)
        for sub in ("files", "unique"):
            os.makedirs(os.path.join(d, sub))
        for f, ix in enumerate(layout):
            rows = [pages[i] for i in ix]
            _write_pages(rows, os.path.join(d, "unique", f"part-{f:03d}.parquet"))
            for i in mirrors[f]:
                p = pages[i]
                rows.append({**p, "url": mirror_url(p["url"]),
                             "warc_ts": p["warc_ts"] + timedelta(days=1)})
            _write_pages(rows, os.path.join(d, "files", f"part-{f:03d}.parquet"))
        _write_json(golden_rows(pages), os.path.join(d, "golden.json"))

    d = _cached("ingest", n, seed, make)
    names = sorted(os.listdir(os.path.join(d, "files")))
    return {
        "files": [os.path.join(d, "files", f) for f in names],
        "unique": [os.path.join(d, "unique", f) for f in names],
        "golden": os.path.join(d, "golden.json"),
    }
