"""Pure-pandas/pure-Python extraction kernels (no Spark imports).

Each kernel maps one RAW span's text to an ordered list of output span
dicts ``{kind, text, media_ref}``. Determinism is the contract: fixed
thresholds, fixed tie-breaks, no floating heuristics — the golden
fixtures in tests/ assert exact (kind, text, media_ref, order)
sequences (north-rule invariant, BASELINE.json).

Kernels re-implement, from public techniques, the extraction semantics
the reference delegates to the docling library (reference
services/docling_converter.py:43-99 configures it; we own the logic):
  - html.py: tag tokenizer + boilerplate strip (tag-density / link-text
    ratio block scoring — Readability/boilerpipe-style, published).
  - pdf.py: deterministic layout parse of a block model (page
    segmentation, XY-cut reading order, table/figure regions).
  - docx.py: simplified WordprocessingML strip.
  - xlsx.py: simplified SpreadsheetML sheet → heading + grid table.
  - pptx.py: simplified PresentationML slide → shapes in order.
  - markup.py: the rules the kernels share — the table text format
    and the OOXML tag-soup reader (normalizer, run text, auto-closing
    element scanner, table rows).
"""

from docling_api_spark.kernels.dispatch import PAGED_KINDS, extract_raw_span  # noqa: F401
