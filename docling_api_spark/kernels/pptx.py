"""PPTX (PresentationML) slide kernel (pure Python, deterministic).

Re-implements the PPTX extraction semantics the reference delegates to
docling (InputFormat.PPTX dispatch, reference
services/docling_converter.py:64-67; format list README.md:7) over a
simplified PresentationML slide body:

  <p:sp type="title"> <a:t>…</a:t> </p:sp>        → heading span
  <p:sp type="body">  (<a:p [bullet="1"]>
                        (<a:t>…</a:t>)* </a:p>)*  → text | list_item per para
  <p:pic r:embed="REF"/>                          → image span
  <p:graphicFrame><a:tbl>
    <a:tr>(<a:tc>…</a:tc>)*</a:tr>…</a:tbl>…     → table span

One RAW span per slide (``kind='pptx_slide'``, raw offset = 1-based
slide number, carried into span ``page`` provenance) — slides are
independently extractable, so a long deck shards across partitions
exactly like a multi-page PDF.

Shapes are emitted in document order; adjacent ``<a:t>`` runs inside a
paragraph concatenate; entities unescape; whitespace collapses;
paragraphs that normalize to empty are dropped. Malformed markup
follows the tag-soup recovery contract of kernels/markup.py; the slide
model never nests shapes, so every shape auto-closes at the next
shape-level open.
"""

from __future__ import annotations

import re
from functools import partial

from docling_api_spark.kernels.markup import (
    closed_then_open,
    elements,
    runs_text,
    table_rows,
    table_text,
)

__all__ = ["extract_pptx_slide"]

_SHAPE_OPEN_RE = re.compile(
    r"<p:sp\s+type=\"(title|body)\"\s*>"
    r"|<p:pic\s+r:embed=\"([^\"]*)\"\s*/?>"
    r"|<p:graphicFrame(?:\s[^>]*)?>"
)
_SP_RULE = (re.compile(r"</p:sp>"), _SHAPE_OPEN_RE)
_FRAME_RULE = (re.compile(r"</p:graphicFrame>"), _SHAPE_OPEN_RE)
_PARA_RE = re.compile(r"<a:p(\s[^>]*)?>(.*?)</a:p>", re.DOTALL)
_P_OPEN_TAIL_RE = re.compile(r"<a:p(\s[^>]*)?>(.*)", re.DOTALL)
_T_RE = re.compile(r"<a:t(?:\s[^>]*)?>(.*?)</a:t>", re.DOTALL)
_T_OPEN_TAIL_RE = re.compile(r"<a:t(?:\s[^>]*)?>([^<]*)")
_BULLET_RE = re.compile(r"bullet=\"1\"")
_TR_RE = re.compile(r"<a:tr(?:\s[^>]*)?>(.*?)</a:tr>", re.DOTALL)
_TC_RE = re.compile(r"<a:tc(?:\s[^>]*)?>(.*?)</a:tc>", re.DOTALL)

_runs_text = partial(runs_text, run_re=_T_RE, open_tail_re=_T_OPEN_TAIL_RE)


def _rule(m: re.Match):
    if m.group(2) is not None:
        return None  # <p:pic/> is self-contained
    return _SP_RULE if m.group(1) is not None else _FRAME_RULE


def _emit_body_paras(body: str, spans: list[dict]) -> None:
    for pm in closed_then_open(body, _PARA_RE, _P_OPEN_TAIL_RE):
        text = _runs_text(pm.group(2))
        if not text:
            continue
        kind = "list_item" if _BULLET_RE.search(pm.group(1) or "") else "text"
        spans.append({"kind": kind, "text": text, "media_ref": ""})


def extract_pptx_slide(xml: str, media_prefix: str = "") -> list[dict]:
    """Extract ordered output spans from one simplified PresentationML
    slide body."""
    spans: list[dict] = []
    for m, body in elements(xml, _SHAPE_OPEN_RE, _rule):
        sp_type, ref = m.group(1), m.group(2)
        if ref is not None:
            spans.append({"kind": "image", "text": "", "media_ref": (media_prefix + ref) if ref else ""})
        elif sp_type == "title":
            text = _runs_text(body)
            if text:
                spans.append({"kind": "heading", "text": text, "media_ref": ""})
        elif sp_type == "body":  # one span per paragraph
            _emit_body_paras(body, spans)
        else:  # graphic frame
            rows, foster = table_rows(body, _TR_RE, _TC_RE, _runs_text)
            if rows:
                spans.append({"kind": "table", "text": table_text(rows), "media_ref": ""})
            # foster paragraphs read after the table, in source order
            _emit_body_paras(foster, spans)
    return spans
