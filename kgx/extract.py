"""pages -> contexts / facts -> validated triples.

Replaces the reference's per-row OpenAI loop (scripts/run_pipeline.py:76-105)
with a deterministic, schema-guided extractor. Every per-page stage — html ->
text, headings, section spans, category match, stage-3 retrieval, extraction —
runs in ONE Arrow-batched pass per page (_page_pass): the per-document work
is row-local, so the only shuffles left are the genuinely cross-document ones
(canonicalization, the partitioned write). This is also the batched-inference
seam where a real model slots in (kgx.embedder: load once per worker, embed a
batch at a time).

Methodology codes are validated against the CDM-style dimension
(ground_truth_project_detail_formatter.py:110,178-179) via a
broadcast-literal array_intersect (see validate_methodologies for why the
earlier LEFT SEMI join shape was retired);
proponent surfaces are emitted as a side channel for canonicalization; the
structured-output JSON Schemas of initial_pipeline/section/*.py become
from_json StructTypes + required-field constraint checks in validate_triples.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx import kernel
from kgx.config import METHODOLOGY_CODES
from kgx.schema import CONTEXTS, FACTS, OBJ_SCHEMAS, PAGE_TEXT, REQUIRED_FIELDS


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return pa.timestamp("us") if isinstance(dt, T.TimestampType) else pa.string()


def _page_pass(pages: DataFrame, schema: T.StructType, per_text) -> DataFrame:
    """One mapInArrow over the pages: each page's html becomes text once,
    and ``per_text(text)`` yields the page's output rows as tuples of the
    ``schema`` columns after (url, warc_ts, content_sha).

    mapInArrow, not mapInPandas: the pandas conversion materializes every input
    column (including the multi-KB html payloads) into pandas objects before
    the UDF sees them — measured 3x slower than raw Arrow batches on a 1M-page
    corpus. We only need plain python values per row, which to_pylist() gives
    directly.

    ``content_sha`` (sha256 of the raw html) is the lineage column mirroring
    the reference's Redis content-hash cache key (initial_pipeline/app.py:
    309-317).

    Partition guard (kgx.util.spread): parquet scans can only split at
    row-group boundaries, so an input written with giant row groups (or one
    fat file) arrives as fewer partitions than cores and would run this
    CPU-bound pass nearly serially — exactly what a 4000-page
    single-row-group bench corpus did (4.9s -> 6.8s end-to-end). One
    round-robin shuffle of the (url, warc_ts, html) projection buys full
    parallelism for the dominant stage. At 100 TB inputs have ~10^5 splits
    and the guard never fires; when it does fire the input layout was the
    bottleneck, not the shuffle."""
    from kgx.util import spread

    names = [f.name for f in schema.fields]
    types = [_arrow_type(f.dataType) for f in schema.fields]

    def gen(batches):
        import hashlib

        import pyarrow as pa

        out_schema = pa.schema(list(zip(names, types)))
        for b in batches:
            cols = {name: b.column(i).to_pylist() for i, name in enumerate(b.schema.names)}
            out: list[list] = [[] for _ in names]
            for url, warc_ts, html in zip(cols["url"], cols["warc_ts"], cols["html"]):
                # null html (failed fetch — a certainty in real WARC input)
                # degrades to an empty page, never a task-killing TypeError
                raw = bytes(html) if html is not None else b""
                text = kernel.html_to_text(raw)
                sha = hashlib.sha256(raw).hexdigest()
                for row in per_text(text):
                    for col, v in zip(out, (url, warc_ts, sha, *row)):
                        col.append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, type=t) for col, t in zip(out, types)],
                schema=out_schema,
            )

    slim = spread(pages.select("url", "warc_ts", "html"))
    return slim.mapInArrow(gen, schema=schema)


def extracted_text(pages: DataFrame) -> DataFrame:
    """pages -> (url, warc_ts, content_sha, text): the extracted text every
    other pass works on — pinned byte-identical per url by the tests."""
    return _page_pass(pages, PAGE_TEXT, lambda text: [(text,)])


_RETRIEVAL = {
    "topk": kernel.select_context,
    "redundant": kernel.select_context_redundant,
    "best1": kernel.select_context_best1,
}


def page_contexts(pages: DataFrame, retrieval: str = "topk") -> DataFrame:
    """pages -> CONTEXTS: stage-3 retrieval, one row per categorized section
    of each crawl (kernel.page_contexts).

    retrieval='topk': the top-ceil(n/2) chunks in document order
    (context_extractor.py:126,149). 'redundant': those chunks minus
    near-duplicates (cosine >= 0.95 against an earlier-retained chunk) — the
    EmbeddingsRedundantFilter stage. 'best1': the full reference compression
    pipeline, redundancy drop then EmbeddingsFilter(k=1) keep-best
    (context_extractor.py:132-146).

    The refined retrievals embed through the kgx.embedder seam: the factory
    active now rides the closure, and each worker loads its model once and
    embeds one section's chunks per call. With no model installed the
    embeddings are kernel.hash_embed, byte-identical to the golden
    extractor."""
    if retrieval not in _RETRIEVAL:
        raise ValueError(f"unknown retrieval {retrieval!r}")
    select = _RETRIEVAL[retrieval]
    if retrieval != "topk":
        from kgx import embedder

        select = partial(select, embed=partial(
            embedder.embed_batch, factory=embedder.current_factory()))
    return _page_pass(pages, CONTEXTS, partial(kernel.page_contexts, select=select))


def _facts_of(text: str):
    for cat, fact in kernel.page_facts(text):
        codes = surfaces = None
        obj = kernel.canonical_json(fact)
        if cat == "methodology":
            codes, obj = fact, None  # validated downstream
        elif cat == "project_proponents":
            surfaces = [p["organization_name"] for p in fact]
        yield cat, obj, codes, surfaces


def extract_facts_fused(pages: DataFrame) -> DataFrame:
    """pages -> FACTS in ONE Arrow pass (html->text, headings, spans,
    category, context top-k, extraction — all row-local kernel work)."""
    return _page_pass(pages, FACTS, _facts_of)


def validate_methodologies(facts: DataFrame) -> DataFrame:
    """Validate code mentions against the CDM-style dimension.

    The dimension is tiny and static, so the validation is a broadcast-literal
    ``array_intersect`` — zero shuffles, stays inside the scan stage. (The
    explode + broadcast LEFT SEMI join shape this replaces is still exercised
    in the operator library, kgx.ops.relational.q10_semi_join; at this
    dimension size the join's shuffle-side groupBy to re-collect the array was
    a measurable non-scaling cost at 1M pages.) Facts with no valid code are
    dropped, matching the golden semantics.

    to_json(array_sort(...)) is byte-equal to the kernel's canonical_json of a
    sorted string list (both emit compact JSON).
    """
    is_meth = F.col("pred") == "methodology"
    valid = F.array_sort(
        F.array_intersect("codes", F.array(*[F.lit(c) for c in METHODOLOGY_CODES]))
    )
    return (
        facts.withColumn(
            "obj", F.when(is_meth, F.to_json(valid)).otherwise(F.col("obj"))
        )
        .filter(~is_meth | (F.size(valid) > 0))
        .select([f.name for f in FACTS.fields])
    )


def _validity_column():
    """The per-pred structured-output validity expression shared by both
    validate_triples variants: from_json parse success + required-field
    presence (or the sector two-label domain check)."""
    checks = []
    for pred, schema in OBJ_SCHEMAS.items():
        if pred == "sector":
            # scalar JSON payload: from_json needs struct/array/map, so check the
            # (stronger) two-label domain constraint directly
            # (ground_truth_project_detail_formatter.py:155-156)
            checks.append(
                (pred, F.col("obj").rlike('^"(Renewable Energy|Forestry and Land Use)"$'))
            )
            continue
        parsed = F.from_json("obj", schema)
        ok = parsed.isNotNull()
        def _null_field(f):
            # NB: a 2-arg lambda would be treated as (element, index) by
            # pyspark's higher-order functions — bind the field via closure.
            return lambda x: x[f].isNull()

        for field in REQUIRED_FIELDS.get(pred, []):
            if isinstance(schema, T.ArrayType):
                # array<struct>: every element must carry the required field
                ok = ok & (F.size(F.filter(parsed, _null_field(field))) == 0)
            else:
                ok = ok & parsed[field].isNotNull()
        checks.append((pred, ok))

    valid_col = F.lit(False)
    for pred, ok in checks:
        valid_col = F.when(F.col("pred") == pred, ok).otherwise(valid_col)
    return valid_col


def validate_triples(triples: DataFrame) -> tuple[DataFrame, dict[str, int]]:
    """Structured-output constraint checks (SURVEY.md §1.2 'schema system').

    Parses each obj with its per-pred StructType via from_json and counts:
    - parse failures (obj not conforming to the declared schema),
    - required-field nulls (the JSON-Schema `required` mirror).
    Returns (triples_with_valid_flag, violation_counters). On healthy input the
    counters are zero; they are emitted with every snapshot commit.

    The metrics aggregation and the caller's later commit write are two
    actions, so the flagged frame is localCheckpointed — without pinning,
    the whole upstream chain would execute twice. A one-execution variant
    that rode the counters on the commit write via the Observation API was
    tried and REVERTED (round 6): Observation.get raises a JVM assertion on
    an empty unit's write (AQE empty-relation propagation leaves no metrics
    row — zero-fact units are supported input), and a CollectMetrics node
    below the commit's repartition exchange is only at-least-once under
    map-stage retries on a real cluster, silently inflating manifest
    counters that compact() then merges forever. The eager groupBy runs in
    a result stage: exact by construction."""
    flagged = triples.withColumn("valid", _validity_column()).localCheckpoint()
    counts = (
        flagged.groupBy("pred")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("violations"),
        )
        .collect()
    )
    metrics = {r["pred"]: {"rows": r["n"], "violations": r["violations"]} for r in counts}
    return flagged, metrics
