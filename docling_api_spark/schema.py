"""Fixed StructType schemas for the span data model and the corpus
input table (SURVEY.md §1.3).

The reference declares all schemas statically via SQLAlchemy ``Mapped``
columns (reference core/models.py); this module is the Spark analogue.
No schema inference anywhere. Operator output schemas live next to the
operator that produces them (e.g. ``operators.extract.FLAT_DDL``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span structs — the north-rule data model (BASELINE.json input_hint).
# Raw input spans carry `offset` (strictly increasing per doc); extracted
# output spans carry `order` (reading-order index).
# ---------------------------------------------------------------------------

RAW_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # html | pdf_page | docx_xml
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

OUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # heading|text|table|image|caption|code|list_item
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("order", T.IntegerType(), False),
        # page provenance (reference: chunk page_number from item prov,
        # services/chunking_service.py:73-77); 0 for pageless formats
        T.StructField("page", T.IntegerType(), False),
    ]
)

# Canonical corpus input table (documents_raw).
CORPUS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("fmt", T.StringType(), False),  # html | pdf | docx
        T.StructField("size_bytes", T.LongType(), False),
        T.StructField("spans", T.ArrayType(RAW_SPAN, containsNull=False), False),
    ]
)
