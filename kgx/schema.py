"""Explicit StructTypes for every stage (SURVEY.md §1.2).

The reference declares output shapes as JSON Schemas fed to the LLM
(initial_pipeline/section/*.py, with `required` lists); here they are explicit
Spark types, and the `required` semantics become constraint checks in
kgx.extract.validate_triples.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# extract.extracted_text: the per-page text every pass works on
PAGE_TEXT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

CONTEXTS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("category", T.StringType(), False),
        T.StructField("context", T.StringType(), True),
    ]
)

# facts before canonicalization; obj_json is kernel.canonical_json output,
# `codes`/`surfaces` carry the methodology / proponent-surface side channels
FACTS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), True),
        T.StructField("codes", T.ArrayType(T.StringType()), True),
        T.StructField("surfaces", T.ArrayType(T.StringType()), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("src_url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("content_sha", T.StringType(), True),
    ]
)

# per-pred payload schemas for from_json validation (the structured-output
# JSON-Schema mirror; required fields per project_proponents.py:46-53 etc.)
PROPONENT = T.StructType(
    [
        T.StructField("organization_name", T.StringType(), True),
        T.StructField("telephone", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
    ]
)
OBJ_SCHEMAS: dict[str, T.DataType] = {
    "project_proponents": T.ArrayType(PROPONENT),
    "methodology": T.ArrayType(T.StringType()),
    "project_location": T.StructType(
        [
            T.StructField("state_province", T.StringType(), True),
            T.StructField("country", T.StringType(), True),
            T.StructField("latitude", T.DoubleType(), True),
            T.StructField("longitude", T.DoubleType(), True),
        ]
    ),
    "crediting_period": T.StructType(
        [
            T.StructField("start", T.StringType(), True),
            T.StructField("end", T.StringType(), True),
        ]
    ),
    "sector": T.StringType(),
    "ghg_emission_reductions": T.MapType(T.StringType(), T.DoubleType()),
}

# required fields per pred (constraint checks; violations counted, not dropped)
REQUIRED_FIELDS: dict[str, list[str]] = {
    "project_proponents": ["organization_name"],
    "project_location": ["country", "latitude", "longitude"],
    "crediting_period": ["start", "end"],
}
