"""The import-gated embedding seam (kgx.embedder): fallback parity with the
pure kernel, once-per-worker model loads, and real end-to-end plumbing through
the redundancy-filter retrieval (extract.page_contexts) with an injected fake
model."""

from __future__ import annotations

import os

import pytest

from kgx import embedder, extract, kernel


@pytest.fixture(autouse=True)
def _reset_factory():
    yield
    embedder.set_model_factory(None)


def test_fallback_is_hash_embed_byte_identical():
    texts = ["Solar farm in Gujarat", "", "a b c " * 50]
    got = embedder.embed_batch(texts)
    assert got == [kernel.hash_embed(t) for t in texts]


def test_default_factory_import_gated():
    # sentence-transformers is absent in this sandbox: default must be the
    # deterministic fallback, not an ImportError
    model = embedder.current_factory()()
    assert isinstance(model, embedder._HashEmbedModel)


def test_embed_udf_matches_kernel(spark):
    df = spark.createDataFrame(
        [("solar power plant",), ("wind farm",)], "text string"
    )
    rows = df.select("text", embedder.embed_udf()("text").alias("e")).collect()
    for r in rows:
        assert r.e == pytest.approx(kernel.hash_embed(r.text))


def _multi_chunk_pages(spark, n_pages: int = 6):
    """Pages whose one categorized section splits into >=2 DISTINCT chunks —
    the fixture corpus bodies are mostly single-chunk and would bypass the
    embedding path entirely (the single-chunk fast path)."""
    import random
    from datetime import datetime

    rng = random.Random(7)
    words_a = ["solar", "grid", "inverter", "panel", "megawatt", "tariff"]
    words_b = ["forest", "canopy", "biomass", "seedling", "hectare", "carbon"]
    rows = []
    for i in range(n_pages):
        para_a = " ".join(rng.choice(words_a) for _ in range(400))
        para_b = " ".join(rng.choice(words_b) for _ in range(400))
        html = (
            "<html><body><h1>1. PROJECT DETAILS</h1>"
            "<h2>1.1 SECTORAL SCOPE AND TYPE OF PROJECT</h2>"
            f"<p>{para_a}</p><p>{para_b}</p></body></html>"
        ).encode()
        assert len(kernel.chunk_text(kernel.html_to_text(html))) >= 2
        rows.append((f"https://ex.org/proj/{i:06d}", datetime(2026, 1, 1), html))
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")


def test_injected_model_loads_once_per_worker_and_flows(spark, tmp_path):
    pages = _multi_chunk_pages(spark).localCheckpoint()
    n_pages = pages.count()

    log = str(tmp_path / "loads.log")

    # defined INSIDE the test so cloudpickle ships it by value — workers
    # cannot import the tests package
    class CountingFakeModel:
        """Stand-in for a heavy model: records one line per CONSTRUCTION in a
        shared file (workers are separate processes; the file is the witness
        that each loaded it exactly once), then embeds every text identically
        so the redundancy filter provably consumes these vectors."""

        def __init__(self, log_path: str = log):
            with open(log_path, "a") as f:
                f.write(f"{os.getpid()}\n")

        def encode(self, texts):
            return [[1.0] + [0.0] * 63 for _ in texts]

    def contexts(retrieval):
        return {
            (r.url, r.category): r.context
            for r in extract.page_contexts(pages, retrieval).collect()
        }

    embedder.set_model_factory(CountingFakeModel)
    fake_rows = contexts("redundant")
    assert len(fake_rows) == n_pages

    embedder.set_model_factory(None)
    best1 = contexts("best1")
    fallback = contexts("redundant")
    # plumbing proof: constant injected embeddings make every chunk a near-dup
    # of the best one, collapsing 'redundant' to the best1 output — while the
    # hash-embed fallback keeps the dissimilar chunks apart
    assert fake_rows == best1
    assert fallback != fake_rows
    assert any("\n" in c for c in fallback.values())

    with open(log) as f:
        pids = [line.strip() for line in f if line.strip()]
    assert pids, "fake model never constructed on any worker"
    # once per worker PROCESS: no pid constructed the model twice, and the
    # total construction count is bounded by workers, not by pages/batches
    assert len(pids) == len(set(pids))
    assert len(pids) < n_pages


def test_default_factory_selects_real_model_when_importable(monkeypatch):
    """The import-gated seam's REAL branch, exercised without network/weights:
    inject a stub sentence_transformers module and the default factory must
    pick it (with the reference's model name, context_extractor.py:33) and
    plumb whole batches through .encode — proving an install upgrades every
    call site with no plumbing change."""
    import sys
    import types

    from kgx import embedder

    class FakeST:
        def __init__(self, name):
            self.name = name
            self.batches = []

        def encode(self, texts):
            self.batches.append(list(texts))
            return [[float(len(t)), 1.0] for t in texts]

    mod = types.ModuleType("sentence_transformers")
    mod.SentenceTransformer = FakeST
    monkeypatch.setitem(sys.modules, "sentence_transformers", mod)
    embedder._CACHE.clear()
    try:
        model = embedder._default_factory()
        assert isinstance(model, FakeST)
        assert model.name == "sentence-transformers/all-MiniLM-L6-v2"
        out = embedder.embed_batch(["ab", "abcd"], factory=embedder._default_factory)
        assert out == [[2.0, 1.0], [4.0, 1.0]]
    finally:
        embedder._CACHE.clear()
