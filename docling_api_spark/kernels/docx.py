"""DOCX (WordprocessingML) strip kernel (pure Python, deterministic).

Re-implements the DOCX extraction semantics the reference delegates to
docling (InputFormat.DOCX dispatch, reference
services/docling_converter.py:63-67) over simplified WordprocessingML:

  <w:p> [<w:pPr><w:pStyle w:val="HeadingN"/></w:pPr>]
        (<w:r><w:t>text</w:t></w:r>)*            → heading|text span
  <w:p> with <w:pStyle w:val="ListParagraph"/>   → list_item
  <w:drawing r:embed="REF"/> (inside a run)      → image span
  <w:tbl><w:tr><w:tc>…</w:tc></w:tr></w:tbl>     → table span

Text of adjacent <w:t> runs inside one paragraph is concatenated; the
usual XML entities are unescaped; whitespace collapsed. Paragraphs that
normalize to empty are dropped. Malformed markup follows the tag-soup
recovery contract of kernels/markup.py.
"""

from __future__ import annotations

import re
from functools import partial

from docling_api_spark.kernels.markup import elements, runs_text, table_rows, table_text

__all__ = ["extract_docx"]

_BLOCK_OPEN_RE = re.compile(r"<w:p(?:\s[^>]*)?>|<w:tbl>")
# a paragraph auto-closes at the next block-level open; a table only at
# the next <w:tbl>, because table cells legitimately nest paragraphs
_P_RULE = (re.compile(r"</w:p>"), _BLOCK_OPEN_RE)
_TBL_RULE = (re.compile(r"</w:tbl>"), re.compile(r"<w:tbl>"))
_T_RE = re.compile(r"<w:t(?:\s[^>]*)?>(.*?)</w:t>", re.DOTALL)
_T_OPEN_TAIL_RE = re.compile(r"<w:t(?:\s[^>]*)?>([^<]*)")
_STYLE_RE = re.compile(r"<w:pStyle\s+w:val=\"([^\"]+)\"")
_DRAWING_RE = re.compile(r"<w:drawing\s+r:embed=\"([^\"]+)\"\s*/?>")
_TR_RE = re.compile(r"<w:tr(?:\s[^>]*)?>(.*?)</w:tr>", re.DOTALL)
_TC_RE = re.compile(r"<w:tc(?:\s[^>]*)?>(.*?)</w:tc>", re.DOTALL)

_para_text = partial(runs_text, run_re=_T_RE, open_tail_re=_T_OPEN_TAIL_RE)


def _is_tbl(m: re.Match) -> bool:
    return m.group(0) == "<w:tbl>"


def _rule(m: re.Match):
    return _TBL_RULE if _is_tbl(m) else _P_RULE


def _emit_para(para: str, spans: list[dict], media_prefix: str) -> None:
    style_m = _STYLE_RE.search(para)
    style = style_m.group(1) if style_m else ""
    for dm in _DRAWING_RE.finditer(para):
        ref = dm.group(1)
        spans.append({"kind": "image", "text": "", "media_ref": (media_prefix + ref) if ref else ""})
    text = _para_text(para)
    if not text:
        return
    if style.startswith("Heading"):
        spans.append({"kind": "heading", "text": text, "media_ref": ""})
    elif style == "ListParagraph":
        spans.append({"kind": "list_item", "text": text, "media_ref": ""})
    elif style == "Caption":
        spans.append({"kind": "caption", "text": text, "media_ref": ""})
    elif style == "Code":
        spans.append({"kind": "code", "text": text, "media_ref": ""})
    else:
        spans.append({"kind": "text", "text": text, "media_ref": ""})


def extract_docx(xml: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from a simplified WordprocessingML body."""
    spans: list[dict] = []
    for m, body in elements(xml, _BLOCK_OPEN_RE, _rule):
        if not _is_tbl(m):
            _emit_para(body, spans, media_prefix)
            continue
        rows, foster = table_rows(body, _TR_RE, _TC_RE, _para_text)
        if rows:
            spans.append({"kind": "table", "text": table_text(rows), "media_ref": ""})
        # foster paragraphs read after the table, in source order (a
        # table body ends before the next <w:tbl>, so every foster
        # block is a paragraph)
        for _, fbody in elements(foster, _BLOCK_OPEN_RE, _rule):
            _emit_para(fbody, spans, media_prefix)
    return spans
