"""Spark pipeline vs the golden single-process reference-semantics extractor.

The P/R >= 0.95 gate of BASELINE.json:north_rule, plus the per-row
byte-identical text invariant and the schema constraint checks.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgx import budget, canon, extract, fixtures, kernel, pipeline

N_PAGES = 200


@pytest.fixture(scope="module")
def pages_rows():
    return fixtures.gen_pages(N_PAGES)


@pytest.fixture(scope="module")
def pages_df(spark, pages_rows):
    return spark.createDataFrame(pd.DataFrame(pages_rows)).cache()


def _one_page_df(spark, url, html):
    import datetime

    return spark.createDataFrame(pd.DataFrame([{
        "url": url, "warc_ts": datetime.datetime(2024, 1, 1),
        "html": html, "text": kernel.html_to_text(html), "lang": "en",
    }]))


def test_extracted_text_byte_identical_per_url(spark, pages_df, pages_rows):
    got = {r.url: r.text for r in extract.extracted_text(pages_df).collect()}
    for p in pages_rows:
        assert got[p["url"]] == p["text"], p["url"]


def test_null_html_page_degrades_to_empty(spark):
    """A failed fetch (null html) is an empty page in every page pass: text
    '', no facts, no contexts, and no task-killing TypeError for it or for
    the healthy page beside it."""
    from kgx.schema import PAGES

    good = fixtures.gen_pages(1)[0]
    failed = "https://t.example.com/proj/000404"
    pages = spark.createDataFrame(
        [(failed, None, None, None, "en"),
         (good["url"], good["warc_ts"], good["html"], good["text"], "en")],
        PAGES,
    ).coalesce(1)
    text = {r.url: r.text for r in extract.extracted_text(pages).collect()}
    assert text == {failed: "", good["url"]: good["text"]}
    facts = extract.extract_facts_fused(pages).collect()
    assert facts and {r.url for r in facts} == {good["url"]}
    for retrieval in ("topk", "redundant", "best1"):
        ctx = extract.page_contexts(pages, retrieval).collect()
        assert ctx and {r.url for r in ctx} == {good["url"]}


def test_contexts_match_golden(spark, pages_rows, pages_df):
    ctx = extract.page_contexts(pages_df)
    got = {(r.url, r.category, r.context) for r in ctx.collect()}
    gold = {
        (c["url"], c["category"], c["context"])
        for c in fixtures.golden_contexts(pages_rows)
    }
    assert got == gold


@pytest.mark.parametrize("retrieval", ["redundant", "best1"])
def test_contexts_refined_match_golden(spark, pages_rows, pages_df, retrieval):
    ctx = extract.page_contexts(pages_df, retrieval)
    got = {(r.url, r.category, r.context) for r in ctx.collect()}
    gold = {
        (c["url"], c["category"], c["context"])
        for c in fixtures.golden_contexts_refined(pages_rows, mode=retrieval)
    }
    assert got == gold


def test_redundancy_filter_drops_duplicate_chunks(spark):
    """A section whose body repeats the same paragraph must lose the duplicate
    chunks in 'redundant' mode and keep exactly one chunk in 'best1' — checked
    both in the kernel and through the Spark path, byte-equal."""
    para = "the quick brown fox jumps over the lazy dog. " * 60  # ~2.7 KB
    body = ("\n".join(f"unique marker {i}. {para}" for i in range(4))).strip()
    cat = "sector"
    chunks = kernel.chunk_text(body)
    assert len(chunks) > 2, "fixture body must be multi-chunk"
    red = kernel.select_context_redundant(body, cat)
    best = kernel.select_context_best1(body, cat)
    topk = kernel.select_context(body, cat)
    assert len(red) < len(topk), "redundancy filter never fired"
    assert best in [c.strip() for c in chunks]

    html = (
        "<html><body><h1>1. PROJECT DETAILS</h1>"
        "<h2>1.1 SECTORAL SCOPE AND TYPE OF PROJECT</h2>"
        f"<p>{'</p><p>'.join(f'unique marker {i}. {para}' for i in range(4))}</p>"
        "</body></html>"
    ).encode()
    pages = _one_page_df(spark, "https://t.example.com/proj/000001", html)
    got_red = extract.page_contexts(pages, "redundant").collect()
    got_best = extract.page_contexts(pages, "best1").collect()
    page_text = kernel.html_to_text(html)
    sec = [s for s in kernel.sections_from_text(page_text)
           if kernel.categorize_heading(s["title"]) == cat][0]
    sbody = page_text[sec["body_off"]:sec["end_off"]].strip()
    assert {(r.category, r.context) for r in got_red} == {
        (cat, kernel.select_context_redundant(sbody, cat))}
    assert {(r.category, r.context) for r in got_best} == {
        (cat, kernel.select_context_best1(sbody, cat))}


def test_triples_pr_vs_golden(spark, pages_df, pages_rows):
    tri = pipeline.build_triples(spark, pages_df)
    got = {(r.subj, r.pred, r.obj) for r in tri.collect()}
    gold = {
        (t["subj"], t["pred"], t["obj"]) for t in fixtures.golden_triples(pages_rows)
    }
    inter = got & gold
    precision = len(inter) / len(got)
    recall = len(inter) / len(gold)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"


def test_join_rewrite_byte_equal_to_broadcast(spark, pages_df, over_budget):
    """Entity dictionaries over the budget take the relational
    join rewrite; its triples must be byte-equal to the broadcast path (the
    cap is a physical-strategy switch, never a semantics switch)."""
    expected = sorted(tuple(r) for r in pipeline.build_triples(spark, pages_df).collect())
    over_budget("pipeline.rewrite")
    got = sorted(tuple(r) for r in pipeline.build_triples(spark, pages_df).collect())
    assert got == expected
    # the corpus genuinely exercises the rewrite: canonicalization changed
    # at least one proponent payload vs the raw extraction
    raw = sorted(
        tuple(r)
        for r in pipeline._to_triples(
            pipeline.extract_stage(spark, pages_df).select(
                "url", "warc_ts", "content_sha", "pred", "obj"
            )
        ).collect()
    )
    assert raw != expected


def test_constraint_checks_zero_violations(spark, pages_df):
    tri = pipeline.build_triples(spark, pages_df)
    flagged, metrics = extract.validate_triples(tri)
    assert metrics, "no metrics"
    for pred, m in metrics.items():
        assert m["violations"] == 0, (pred, m)
    assert flagged.filter(~F.col("valid")).count() == 0


def test_commit_accepts_zero_triple_unit(spark, tmp_path):
    """A unit with ZERO triples must commit cleanly with empty metrics — a
    non-duplicate batch whose pages yield no extractable facts is supported
    input (its content hashes still register). Pinned because a round-6
    attempt to ride the violation counters on the commit write via the
    Observation API crashed exactly here (AQE empty-relation propagation
    leaves no observed-metrics row) and was reverted."""
    from kgx.checkpoint import TripleStore
    from kgx.schema import TRIPLES

    empty = spark.createDataFrame([], TRIPLES)
    flagged, metrics = extract.validate_triples(empty)
    assert metrics == {}
    store = TripleStore(str(tmp_path / "zt"), n_buckets=2)
    sha = spark.createDataFrame([("a" * 64,)], "content_sha string")
    unit = store.commit(flagged.drop("valid"), buckets=[0], metrics=metrics,
                        content=sha)
    assert unit in {m["unit"] for m in store.manifests()}
    assert store.read(spark).count() == 0
    assert {r.content_sha for r in store.known_content(spark).collect()} \
        == {"a" * 64}


def test_subj_col_matches_kernel(spark):
    urls = ["https://a.example.com/proj/000123", "https://b.example.org/x/proj9"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.s for r in df.select("url", pipeline.subj_col(F.col("url")).alias("s")).collect()}
    for u in urls:
        assert got[u] == kernel.page_id_from_url(u)


def test_fixture_row_groups_split_for_scan(tmp_path):
    """Small corpora must still produce >=16 parquet row groups — a single
    giant row group is unsplittable for Spark's scan and serialized the whole
    fused extract stage (the r2 kg_pipeline bench regression)."""
    import pyarrow.parquet as pq

    assert fixtures.row_group_size(1_000_000) == 4096
    assert fixtures.row_group_size(4000) == 250
    assert fixtures.row_group_size(10) == 64
    d = tmp_path / "rg"
    fixtures.write_fixture(str(d), n=400, golden=False)
    # 400 rows at the 64-row floor -> ceil(400/64) = 7 scan splits (>=16 holds
    # from n=1024 up, where the n/16 sizing takes over)
    assert pq.ParquetFile(str(d / "pages.parquet")).metadata.num_row_groups == 7


def test_fused_extract_guards_unsplittable_input(spark, tmp_path):
    """An input that arrives as fewer partitions than cores (giant row groups,
    one fat file) must be repartitioned before the CPU-bound Arrow pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = fixtures.gen_pages(64)
    t = pa.table(
        {
            "url": [p["url"] for p in rows],
            "warc_ts": pa.array([p["warc_ts"] for p in rows], pa.timestamp("us")),
            "html": pa.array([p["html"] for p in rows], pa.binary()),
        }
    )
    path = str(tmp_path / "one_group.parquet")
    pq.write_table(t, path, row_group_size=10_000)  # single row group
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism
    out = extract.extract_facts_fused(pages)
    assert out.rdd.getNumPartitions() >= max(2, cores // 2)


def test_join_rewrite_edge_shapes(spark, over_budget):
    """_rewrite_join on crafted shapes the fixture corpus may not cover:
    duplicate surfaces within one fact, an empty surfaces array (posexplode
    drops the row; the left join must bring it back unrewritten), multi-byte
    unicode surfaces, and a non-proponent row passing through — byte-equal
    to the broadcast regime on all of them."""
    from datetime import datetime

    from kgx.schema import FACTS

    def obj_of(names):
        return kernel.canonical_json([{"organization_name": n} for n in names])

    ts = datetime(2025, 1, 1)
    rows = [
        ("u1", ts, "s1", "project_proponents",
         obj_of(["Acme Corp", "ACME CORP", "Acme Corp"]), None,
         ["Acme Corp", "ACME CORP", "Acme Corp"]),
        ("u2", ts, "s2", "project_proponents", obj_of([]), None, []),
        ("u3", ts, "s3", "project_proponents",
         obj_of(["Ünïcode Äß GmbH"]), None, ["Ünïcode Äß GmbH"]),
        ("u4", ts, "s4", "project_location", '{"country": "X"}', None, None),
        # null warc_ts AND null content_sha: the natural-key rewrite join must
        # be null-safe or this row silently loses its reps (stays unrewritten)
        ("u5", None, None, "project_proponents",
         obj_of(["ACME CORP"]), None, ["ACME CORP"]),
    ]
    facts = spark.createDataFrame(rows, FACTS)
    mapping = spark.createDataFrame(
        [("ACME CORP", "Acme Corp"), ("Acme Corp", "Acme Corp"),
         ("Ünïcode Äß GmbH", "Ünïcode Äß GmbH e.V.")],
        "surface string, rep string",
    )
    expected = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    over_budget("pipeline.rewrite")
    got = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    assert got == expected
    by_url = {t[0]: t[4] for t in got}
    assert "ACME CORP" not in by_url["u1"] and "Acme Corp" in by_url["u1"]
    assert by_url["u2"] == "[]"
    assert "e.V." in by_url["u3"]
    assert by_url["u4"] == '{"country": "X"}'
    assert by_url["u5"] == obj_of(["Acme Corp"])


def test_join_rewrite_duplicate_natural_key_rows(spark, over_budget):
    """Two proponent facts from the SAME crawl (a page with two sections that
    both categorize project_proponents — kernel.page_facts emits one fact per
    section): the join-path rewrite must keep each row's surfaces zipped to
    its OWN reps. A bare (url, warc_ts, content_sha, pred) row key merges the
    groups and rewrites organizations to unrelated names (round-5 review)."""
    from datetime import datetime

    from kgx.schema import FACTS

    def obj_of(names):
        return kernel.canonical_json([{"organization_name": n} for n in names])

    ts = datetime(2025, 1, 1)
    rows = [
        ("u1", ts, "s1", "project_proponents",
         obj_of(["Acme Corp"]), None, ["Acme Corp"]),
        ("u1", ts, "s1", "project_proponents",
         obj_of(["Beta LLC"]), None, ["Beta LLC"]),
        # and an EXACT duplicate pair (same obj too): must merge harmlessly
        ("u2", ts, "s2", "project_proponents",
         obj_of(["Acme Corp"]), None, ["Acme Corp"]),
        ("u2", ts, "s2", "project_proponents",
         obj_of(["Acme Corp"]), None, ["Acme Corp"]),
    ]
    facts = spark.createDataFrame(rows, FACTS)
    mapping = spark.createDataFrame(
        [("Acme Corp", "ACME CANONICAL"), ("Beta LLC", "BETA CANONICAL")],
        "surface string, rep string",
    )
    expected = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    over_budget("pipeline.rewrite")
    got = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    assert got == expected
    objs = sorted(t[4] for t in got if t[0] == "u1")
    assert objs == sorted([obj_of(["ACME CANONICAL"]), obj_of(["BETA CANONICAL"])])
    assert [t[4] for t in got if t[0] == "u2"] == [obj_of(["ACME CANONICAL"])] * 2


def test_broadcast_byte_budget_routes_to_join_path(spark, monkeypatch):
    """A dictionary under the row cap but over the BYTE budget must take the
    join path without a driver collect of the mapping."""
    from datetime import datetime

    from kgx.schema import FACTS

    rows = [("u1", datetime(2025, 1, 1), "s1", "project_proponents",
             kernel.canonical_json([{"organization_name": "Acme Corp"}]),
             None, ["Acme Corp"])]
    facts = spark.createDataFrame(rows, FACTS)
    mapping = spark.createDataFrame(
        [("Acme Corp", "ACME")], "surface string, rep string"
    )
    monkeypatch.setattr(budget, "MAX_BYTES", 0)
    out = {t["obj"] for t in
           pipeline.canonicalize_proponents(facts, mapping).collect()}
    assert out == {kernel.canonical_json([{"organization_name": "ACME"}])}


def test_driver_mapping_is_placed_without_a_spark_job(spark):
    """The driver-built canonical mapping is a LocalRelation: consumers skip
    its checkpoint pin, and the rewrite gate measures and collects it
    without running a Spark job (an RDD-backed mapping once made both
    guards dead code)."""
    mentions = spark.createDataFrame([("Acme Corp",), ("ACME CORP",)], "surface string")
    mapping = canon.canonical_mapping(mentions)
    assert mapping.isLocal() and pipeline._pin(mapping) is mapping
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "kgx-driver-mapping")
    try:
        placed = budget.collect("pipeline.rewrite", mapping)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert isinstance(placed, budget.Resident) and len(placed.rows) == 2
    assert list(sc.statusTracker().getJobIdsForGroup("kgx-driver-mapping")) == []


def test_duplicate_category_sections_stay_separate(spark):
    """Two sections of one document that categorize identically must emit TWO
    contexts (the golden path is per-section); a (url, category) grouping
    would merge and garble them."""
    html = (
        "<html><body>"
        "<h1>1. INTRO</h1>"
        "<h2>1.1 PROJECT PROPONENT (S)</h2><p>first body text here</p>"
        "<h1>2. ANNEX</h1>"
        "<h2>2.1 PROJECT PROPONENT DETAILS</h2><p>second body text here</p>"
        "</body></html>"
    ).encode()
    text = kernel.html_to_text(html)
    pages = _one_page_df(spark, "https://t.example.com/proj/000042", html)
    got = sorted(
        (r.category, r.context)
        for r in extract.page_contexts(pages).collect()
    )
    gold = sorted(
        (kernel.categorize_heading(s["title"]),
         kernel.select_context(text[s["body_off"]:s["end_off"]].strip(),
                               kernel.categorize_heading(s["title"])))
        for s in kernel.sections_from_text(text)
        if kernel.categorize_heading(s["title"]) is not None
    )
    assert got == gold
    assert len([c for c, _ in got if c == "project_proponents"]) == 2


def test_empty_body_section_emits_empty_context(spark):
    """A heading directly followed by the next heading (zero-length body)
    must still emit a context row ('' like the golden path), not vanish."""
    html = (
        "<html><body>"
        "<h1>1. PROJECT DETAILS</h1>"
        "<h2>1.1 PROJECT PROPONENT (S)</h2>"
        "<h2>1.2 SECTORAL SCOPE AND TYPE OF PROJECT</h2><p>real body</p>"
        "</body></html>"
    ).encode()
    text = kernel.html_to_text(html)
    pages = _one_page_df(spark, "https://t.example.com/proj/000043", html)
    got = {(r.category, r.context)
           for r in extract.page_contexts(pages).collect()}
    gold = {(c["category"], c["context"])
            for c in fixtures.golden_contexts(
                [{"url": "https://t.example.com/proj/000043", "text": text}])}
    assert got == gold
    assert any(ctx == "" for _, ctx in got)


def test_recrawled_url_retrieval_keeps_crawls_separate(spark):
    """Two crawls of one url whose same-index section categorizes identically
    must emit one context per crawl, each computed only from its own chunks —
    through ALL THREE retrievals. Merging the crawls would count chunks
    across both and interleave chunks from different page versions in the
    top-ceil(n/2) cut."""
    import datetime

    para_a = "alpha fact sentence about the project proponent entity. " * 50
    para_b = "bravo narrative with entirely different wording throughout. " * 50

    def page(marker, para):
        html = (
            "<html><body><h1>1. PROJECT DETAILS</h1>"
            "<h2>1.1 PROJECT PROPONENT (S)</h2>"
            f"<p>{'</p><p>'.join(f'{marker} chunk {i}. {para}' for i in range(4))}</p>"
            "</body></html>"
        ).encode()
        return html, kernel.html_to_text(html)

    url = "https://t.example.com/proj/000099"
    h1, t1 = page("first", para_a)
    h2, t2 = page("second", para_b)
    rows = [
        {"url": url, "warc_ts": datetime.datetime(2024, 1, 1), "html": h1,
         "text": t1, "lang": "en"},
        {"url": url, "warc_ts": datetime.datetime(2024, 6, 1), "html": h2,
         "text": t2, "lang": "en"},
    ]
    pages = spark.createDataFrame(pd.DataFrame(rows))

    def gold(text, fn):
        sec = [s for s in kernel.sections_from_text(text)
               if kernel.categorize_heading(s["title"]) == "project_proponents"][0]
        body = text[sec["body_off"]:sec["end_off"]].strip()
        assert len(kernel.chunk_text(body)) > 2, "fixture must be multi-chunk"
        return fn(body, "project_proponents")

    for retrieval, fn in [
        ("topk", kernel.select_context),
        ("redundant", kernel.select_context_redundant),
        ("best1", kernel.select_context_best1),
    ]:
        got = {(str(r.warc_ts), r.category, r.context)
               for r in extract.page_contexts(pages, retrieval).collect()}
        want = {
            ("2024-01-01 00:00:00", "project_proponents", gold(t1, fn)),
            ("2024-06-01 00:00:00", "project_proponents", gold(t2, fn)),
        }
        assert got == want


def test_recrawled_url_relational_equals_fused(spark):
    """The same url crawled twice (different content, different warc_ts):
    the facts of each crawl must be exactly kernel.page_facts over that
    crawl's OWN text — nothing keyed by url alone may mix the two versions."""
    import datetime

    pages = fixtures.gen_pages(4)
    recrawl = {**pages[1], "url": pages[0]["url"],
               "warc_ts": pages[0]["warc_ts"] + datetime.timedelta(days=30)}
    crawls = pages[:3] + [recrawl]
    df = spark.createDataFrame(pd.DataFrame(crawls))

    got: dict[tuple, list] = {}
    for r in extract.extract_facts_fused(df).collect():
        # methodology facts carry their codes in the side channel until
        # validation fills obj
        obj = kernel.canonical_json(r.codes) if r.pred == "methodology" else r.obj
        got.setdefault((r.url, str(r.warc_ts)), []).append((r.pred, obj))
    want = {
        (p["url"], str(p["warc_ts"])): [
            (c, kernel.canonical_json(f)) for c, f in kernel.page_facts(p["text"])]
        for p in crawls
    }
    assert len(want) == 4 and len({u for u, _ in want}) == 3
    assert all(want.values())
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in want.items()}
