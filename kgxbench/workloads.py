"""The three workloads: ``build``, ``canon`` and ``ingest``.

Each workload builds its inputs and references when constructed (untimed),
re-reads its input frames in ``attach`` for each new session, and has a
``job`` that is the timed unit (output fully materialized), a ``check`` of
one job's output, and a ``traced_job`` that runs the same work as a sequence
of public ``kgx`` calls, each inside a span and a Spark job group.
README.md says why each workload exists.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgx import canon, kernel, pipeline, streaming
from kgx.checkpoint import TripleStore

from kgxbench import checks, inputs
from kgxbench.sparkenv import job_group, span

TRIPLE_COLS = ("subj", "pred", "obj", "src_url")


def _tuples(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def _triples(df):
    """The four compared columns of a triples frame (pipeline's subj rule)."""
    return df.select(pipeline.subj_col(F.col("url")).alias("subj"), "pred", "obj",
                     F.col("url").alias("src_url"))


def _raw_names(pages_parquet: str) -> dict[str, list[str]]:
    t = pq.read_table(pages_parquet, columns=["url", "html"]).to_pydict()
    return checks.raw_org_names({u: h.decode() for u, h in zip(t["url"], t["html"])})


class Workload:
    name = ""
    default_layer = ""

    # spans that partition one traced job; their sum is checked against its wall
    top_spans: tuple[str, ...] = ()
    # the span that times the same work as the untimed ``job``
    job_span = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.spark = None

    def attach(self, spark) -> None:
        """Bind to a (new) session; input frames are re-read from it."""
        self.spark = spark

    def prepare(self) -> None:
        """Untimed, before every job: put its inputs in place."""

    def finish(self, out):
        """Untimed, right after every job: what ``check`` is given."""
        return out

    def cleanup(self) -> None:
        """Untimed, after every job: drop what the job left cached. The
        blocks of its localCheckpoints are only freed once the JVM has
        collected their RDDs, so both processes collect garbage here and the
        cleaner gets a moment; otherwise they pile up from job to job."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)

    def warm_job(self):
        """Untimed job of a session before the timed ones: JIT and caches."""
        self.prepare()
        return self.job()


# --------------------------------------------------------------------------- #
# build
# --------------------------------------------------------------------------- #

class Build(Workload):
    """pipeline.build_triples over a fixtures.gen_pages corpus, collected."""

    name = "build"
    default_layer = "extract"
    top_spans = ("extract.stage_s", "canon.mapping_s", "pipeline.rewrite_s")

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.inp = inputs.build_inputs(seed)
        self.warm_parquet = self.inp["pages"]
        self.pages_n = self.inp["n_pages"]
        self.golden = inputs.read_json(self.inp["golden"])
        self.raw = _raw_names(self.inp["pages"])

    def attach(self, spark):
        super().attach(spark)
        self.pages = spark.read.parquet(self.inp["pages"])

    def job(self):
        return pipeline.build_triples(self.spark, self.pages).select(*TRIPLE_COLS).collect()

    def check(self, out):
        rows = _tuples(out)
        ok, st = checks.check_triples(rows, self.golden, self.raw)
        return ok, {**st, "outputs": len(rows)}

    def traced_job(self, prefix, spans, counts):
        spark = self.spark
        with span(spans, "extract.stage_s"), job_group(spark, prefix + "extract"):
            facts = pipeline.extract_stage(spark, self.pages)
            counts["extract.facts_out"] = facts.count()
        with span(spans, "canon.mapping_s"), job_group(spark, prefix + "canon"):
            mentions = facts.filter(F.col("pred") == "project_proponents").select(
                F.explode("surfaces").alias("surface"))
            mapping = canon.canonical_mapping(mentions)
            counts["pipeline.mapping_rows"] = mapping.count()
        with span(spans, "pipeline.rewrite_s"), job_group(spark, prefix + "rewrite"):
            out = _triples(pipeline.canonicalize_proponents(facts, mapping)).collect()
        facts.unpersist()
        return out

    def kernel_layer(self) -> dict:
        """In-process kernel cost on the first 400 pages of the corpus,
        median of three passes."""
        htmls = [h.encode() for h in inputs.read_json(self.inp["sample_html"])]
        texts = [kernel.html_to_text(h) for h in htmls]
        t_text, t_facts = [], []
        n_facts = 0
        for _ in range(3):
            t0 = time.perf_counter()
            for h in htmls:
                kernel.html_to_text(h)
            t1 = time.perf_counter()
            n_facts = sum(len(kernel.page_facts(t)) for t in texts)
            t2 = time.perf_counter()
            t_text.append(t1 - t0)
            t_facts.append(t2 - t1)
        n = len(htmls)
        return {
            "kernel.html_to_text_ms_per_page": 1e3 * statistics.median(t_text) / n,
            "kernel.page_facts_ms_per_page": 1e3 * statistics.median(t_facts) / n,
            "kernel.facts_per_page": n_facts / n,
        }


# --------------------------------------------------------------------------- #
# canon
# --------------------------------------------------------------------------- #

class Canon(Workload):
    """canon.canonical_mapping over a seeded entity dictionary, collected."""

    name = "canon"
    default_layer = "canon"
    top_spans = ("canon.signatures_s", "canon.blocking_s", "canon.verify_s",
                 "canon.cc_s", "canon.mapping_s")
    job_span = "canon.mapping_s"

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.inp = inputs.canon_inputs(seed)
        self.warm_parquet = self.inp["surfaces"]
        self.planted = inputs.read_json(self.inp["groups"])
        self.surfaces = [s for g in self.planted for s in g]
        self.reference, self.edges = checks.exact_reference(
            self.surfaces, canon.JACCARD_THRESHOLD)

    def attach(self, spark):
        super().attach(spark)
        self.mentions = spark.read.parquet(self.inp["surfaces"])

    def job(self):
        return canon.canonical_mapping(self.mentions).collect()

    def check(self, out):
        rows = _tuples(out)
        ok, st = checks.check_mapping(rows, self.surfaces, self.reference, self.edges,
                                      self.planted)
        return ok, {**st, "outputs": len(rows)}

    def traced_job(self, prefix, spans, counts):
        with job_group(self.spark, prefix + "canon"):
            with span(spans, "canon.signatures_s"):
                surf = canon.surfaces_with_shingles(self.mentions)
            with span(spans, "canon.blocking_s"):
                pairs = canon.candidate_pairs(surf)
                counts["canon.candidate_pairs"] = pairs.count()
            with span(spans, "canon.verify_s"):
                edges = canon.verified_edges(pairs).localCheckpoint()
                counts["canon.verified_edges"] = edges.count()
            with span(spans, "canon.cc_s"):
                comp = canon.connected_components(surf.select("surface"), edges)
                counts["canon.components"] = comp.select("component").distinct().count()
            with span(spans, "canon.mapping_s"):
                out = canon.canonical_mapping(self.mentions).collect()
        counts["canon.edge_yield"] = (
            counts["canon.verified_edges"] / max(1, counts["canon.candidate_pairs"]))
        return out


# --------------------------------------------------------------------------- #
# ingest
# --------------------------------------------------------------------------- #

class TimedStore(TripleStore):
    """TripleStore that times its commit and read-side probes from outside
    and, when ``group`` is set, tags their Spark jobs with it."""

    def __init__(self, root, spark, group=None):
        super().__init__(root, n_buckets=16)
        self.spark, self.group = spark, group
        self.calls: dict[str, list[float]] = {}
        self.commit_ends: list[float] = []

    def _timed(self, key, fn, *args, **kwargs):
        t0 = time.perf_counter()
        if self.group is None:
            out = fn(*args, **kwargs)
        else:
            with job_group(self.spark, self.group):
                out = fn(*args, **kwargs)
        t1 = time.perf_counter()
        self.calls.setdefault(key, []).append(t1 - t0)
        return out, t1

    def commit(self, *args, **kwargs):
        unit, t1 = self._timed("commit", super().commit, *args, **kwargs)
        self.commit_ends.append(t1)
        return unit

    def known_content(self, spark):
        return self._timed("known_content", super().known_content, spark)[0]

    def known_entities(self, spark):
        return self._timed("known_entities", super().known_entities, spark)[0]


class Ingest(Workload):
    """Periodic drains on top of one base store. The base is the first page
    file drained once per run (full canonicalization: it names every
    organization variant). Every job starts from a copy of the base, lands
    the next of the other files in the inbox and calls
    streaming.ingest_available_now with content dedup, which commits it as
    one epoch: each job does the same amount of work on the same store."""

    name = "ingest"
    default_layer = "streaming"
    top_spans = ("streaming.drain_s",)
    job_span = "streaming.drain_s"

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.inp = inputs.ingest_inputs(seed)
        self.warm_parquet = self.inp["files"][0]
        self.golden = inputs.read_json(self.inp["golden"])
        self.raw = {}
        for path in self.inp["unique"]:
            self.raw.update(_raw_names(path))
        self.inbox = os.path.join(work, "inbox")
        self.root = os.path.join(work, "store")
        self.base = os.path.join(work, "base")
        self.store = None
        self.jobs = 0
        self.landed = None
        self.expected = None

    def attach(self, spark):
        """The first session also drains the base file and keeps a copy of
        the store (with its stream checkpoint) it leaves."""
        super().attach(spark)
        if os.path.isdir(self.base):
            return
        os.makedirs(self.inbox)
        shutil.copy(self.inp["files"][0], self.inbox)
        self._drain(TripleStore(self.root, n_buckets=16))
        shutil.copytree(self.root, self.base)

    def _drain(self, store):
        streaming.ingest_available_now(self.spark, self.inbox, store,
                                       dedup_content=True, max_files_per_trigger=1)

    def prepare(self):
        """Restore the base store and land the next file in the inbox."""
        shutil.rmtree(self.root)
        shutil.copytree(self.base, self.root)
        base_name = os.path.basename(self.inp["files"][0])
        for name in os.listdir(self.inbox):
            if name != base_name:
                os.remove(os.path.join(self.inbox, name))
        self.landed = 1 + self.jobs % (len(self.inp["files"]) - 1)
        self.jobs += 1
        shutil.copy(self.inp["files"][self.landed], self.inbox)
        self.store = TimedStore(self.root, self.spark)

    def job(self):
        """One drain; returns the epoch wall (drain start to commit end)."""
        t0 = time.perf_counter()
        self._drain(self.store)
        return self.store.commit_ends[-1] - t0

    def finish(self, epoch_s):
        """The landed file, the store's triples, the epoch's triple count and
        the epoch wall."""
        last = max(self.store.manifests(), key=lambda m: m["seq"])
        rows = _tuples(self.store.read(self.spark).select(*TRIPLE_COLS).collect())
        return (self.landed, rows, sum(v["rows"] for v in last["metrics"].values()),
                epoch_s)

    def check(self, out):
        """The store equals build_triples over the base file and the landed
        file with mirrors removed (one build_triples over every file per
        run: the base names every variant, so the mapping is the same)."""
        k, rows, n_triples, epoch_s = out
        spark, unique = self.spark, self.inp["unique"]
        if self.expected is None:
            self.expected = _tuples(pipeline.build_triples(spark, spark.read.parquet(*unique))
                                    .select(*TRIPLE_COLS).collect())
        urls = {u for p in (unique[0], unique[k])
                for u in pq.read_table(p, columns=["url"])["url"].to_pylist()}
        expected = [r for r in self.expected if r[3] in urls]
        golden = [r for r in self.golden if r[3] in urls]
        ok, st = checks.check_ingest(rows, expected, golden, self.raw)
        return ok, {**st, "outputs": n_triples, "epoch_s": epoch_s}

    def traced_job(self, prefix, spans, counts):
        store, k = self.store, self.landed
        store.group = prefix + "checkpoint"
        with span(spans, "streaming.drain_s"), job_group(self.spark, prefix + "streaming"):
            epoch_s = self.job()
        base = {m["unit"] for m in TripleStore(self.base, n_buckets=16).manifests()}
        unit = next(m for m in store.manifests() if m["unit"] not in base)
        n_triples = sum(v["rows"] for v in unit["metrics"].values())
        files = data_bytes = 0
        for sub in (store.data_dir, store.content_dir):
            for d, _, names in os.walk(os.path.join(sub, f"unit={unit['unit']}")):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        if sub == store.data_dir:
                            data_bytes += os.path.getsize(os.path.join(d, n))
        # counted from files, not with Spark jobs inside the traced window
        landed = (0, k)
        n_rows = sum(pq.read_metadata(self.inp["files"][i]).num_rows for i in landed)
        n_unique = sum(pq.read_metadata(self.inp["unique"][i]).num_rows for i in landed)
        n_content = len(set(pq.read_table(store.content_dir, columns=["content_sha"])
                            ["content_sha"].to_pylist()))
        counts.update({
            "checkpoint.commit_s": sum(store.calls["commit"]),
            "checkpoint.commits": len(store.calls["commit"]),
            "checkpoint.files_written": files,
            "checkpoint.bytes_per_triple": data_bytes / max(1, n_triples),
            "checkpoint.known_content_s": sum(store.calls.get("known_content", [])),
            "checkpoint.known_entities_s": sum(store.calls.get("known_entities", [])),
            "streaming.epochs": len(store.manifests()),
            "streaming.dedup_skip_share": 1.0 - n_content / n_rows,
            "streaming.mirror_share": 1.0 - n_unique / n_rows,
        })
        return epoch_s


WORKLOADS = {w.name: w for w in (Build, Canon, Ingest)}
