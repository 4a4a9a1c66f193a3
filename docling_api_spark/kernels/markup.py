"""Markup rules shared by the extraction kernels (pure Python).

``table_text`` is the engine-wide table text format every kernel
emits. The rest is the OOXML (docx/pptx/xlsx) tag-soup reader: each
kernel passes in its own element regexes and keeps only its span rules.

Tag-soup recovery contract (the input at corpus scale is never clean;
on well-formed markup every rule below is a no-op, so golden fixtures
and oracle hashes are unchanged):

- an element's body runs to its closer or auto-closes at the next
  bounding open / EOF (``elements``), so an unclosed element loses
  neither its own text nor the document tail — a regex spanning to
  the next closer would silently swallow every element in between;
- a trailing unclosed open still contributes its content up to where
  its closer should have been (``closed_then_open``);
- stray markup inside recovered text is stripped, never emitted
  (``norm``; well-formed text escapes ``<`` as ``&lt;``);
- text in a table body outside every closed row (foster content) is
  handed back to the caller to emit in source order (``table_rows``);
  a well-formed table body is rows only.
"""

from __future__ import annotations

import re

__all__ = ["closed_then_open", "elements", "norm", "runs_text", "table_rows", "table_text"]

_TAG_RE = re.compile(r"<[^>]*>")
_ENTITIES = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&apos;": "'"}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))


def table_text(rows: list[list[str]]) -> str:
    """Rows padded to the widest row; cells joined by `` | ``, rows by
    newline. ``rows`` must be non-empty."""
    ncols = max(len(r) for r in rows)
    return "\n".join(" | ".join(r + [""] * (ncols - len(r))) for r in rows)


def norm(text: str) -> str:
    """OOXML text normalizer: strip stray tags, unescape the five XML
    entities, collapse whitespace."""
    # strip markup BEFORE unescaping so "&lt;w:t&gt;" stays literal text
    if "<" in text:
        text = _TAG_RE.sub(" ", text)
    if "&" in text:
        text = _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], text)
    # " ".join(split()) ≡ re.sub(r"\s+", " ", t).strip() for every Unicode
    # codepoint (str.split and \s agree on the whitespace set), ~5x faster
    return " ".join(text.split())


def closed_then_open(body: str, closed_re: re.Pattern, open_tail_re: re.Pattern):
    """Matches of ``closed_re``, then matches of ``open_tail_re`` after
    the last closed one: the unclosed opens whose closers fell past an
    auto-close boundary. Both regexes put the content in the same
    groups."""
    last_end = 0
    for m in closed_re.finditer(body):
        yield m
        last_end = m.end()
    yield from open_tail_re.finditer(body, last_end)


def runs_text(body: str, run_re: re.Pattern, open_tail_re: re.Pattern) -> str:
    """Normalized text of the runs in ``body`` (group 1 of each),
    adjacent runs joined by a space."""
    return norm(" ".join(m.group(1) for m in closed_then_open(body, run_re, open_tail_re)))


def elements(xml: str, open_re: re.Pattern, rule):
    """Yield ``(open_match, body)`` for each element ``open_re`` finds,
    in document order. ``rule(m)`` gives ``(close_re, bound_re)`` for the
    element ``m`` opened: its body runs to the first ``close_re`` before
    the next ``bound_re`` open, else auto-closes at that open / EOF.
    ``rule(m)`` is None for a self-contained element (body ``""``)."""
    pos = 0
    while (m := open_re.search(xml, pos)) is not None:
        pair = rule(m)
        if pair is None:
            yield m, ""
            pos = m.end()
            continue
        close_re, bound_re = pair
        nxt = bound_re.search(xml, m.end())
        end = nxt.start() if nxt else len(xml)
        # bounding the close search by the next open keeps adversarial
        # streams of unclosed opens linear instead of quadratic; a
        # closer past the bound loses to auto-close anyway
        close = close_re.search(xml, m.end(), end)
        if close is not None:
            yield m, xml[m.end() : close.start()]
            pos = close.end()
        else:
            yield m, xml[m.end() : end]
            pos = end


def table_rows(body: str, row_re: re.Pattern, cell_re: re.Pattern, cell_text):
    """``(rows, foster)`` of a table body: the closed rows that hold at
    least one closed cell (``cell_text`` of each cell's group 1), and
    the body text outside every closed row."""
    rows = []
    foster = []
    last_end = 0
    for tr in row_re.finditer(body):
        cells = [cell_text(tc.group(1)) for tc in cell_re.finditer(tr.group(1))]
        if cells:
            rows.append(cells)
        foster.append(body[last_end : tr.start()])
        last_end = tr.end()
    foster.append(body[last_end:])
    return rows, " ".join(foster)
