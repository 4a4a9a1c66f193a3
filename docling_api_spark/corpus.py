"""Deterministic synthetic interleaved corpus (FIXTURES.md §1).

Generates the north-rule input table

    documents_raw(doc_id, fmt, size_bytes,
                  spans: array<struct<kind,text,media_ref,offset>>)

together with the *golden* expected extraction output per document, so
span-sequence equality can be asserted at any scale factor — not just
on the hand-written fixtures. Generation is pure-function-of-index
(seeded per doc), which lets Spark generate the corpus distributed via
``spark.range(n).mapInPandas`` with no driver-side materialization and
no shuffle.

Format mix ≈ 40% HTML / 30% PDF / 10% DOCX / 10% XLSX / 10% PPTX
(the reference's full format list); 1 in SKEW_EVERY docs is an
oversized multi-page PDF (the heavy tail that drives the skew/salting
path). XLSX sheets and PPTX slides are multi-raw-span docs like PDF
pages — they ride the salted shard + reassembly path.
"""

from __future__ import annotations

import random

import pandas as pd

from docling_api_spark.kernels.pdf import CELL_SEP, ROW_SEP

__all__ = ["gen_doc", "corpus_pdf", "corpus_df", "golden_df", "SKEW_EVERY"]

SKEW_EVERY = 500
_SEED = 42

_VOCAB = (
    "the quick analytics engine reads ordered spans from parquet tables and "
    "emits clean text blocks while catalyst prunes columns pushes filters and "
    "broadcasts small dimensions across executor threads under adaptive query "
    "execution with arrow batches flowing through vectorized pandas kernels"
).split()

_BOILER_LINKS = ["Home", "About", "Products", "Contact", "Login", "Privacy", "Terms", "Sitemap"]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    w = _words(rng, rng.randint(6, 14))
    return w[0].upper() + w[1:] + "."


def _para(rng: random.Random) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(1, 4)))


def _table_cells(rng: random.Random) -> list[list[str]]:
    nrows, ncols = rng.randint(2, 4), rng.randint(2, 4)
    return [[f"{rng.choice(_VOCAB)}{rng.randint(0, 99)}" for _ in range(ncols)] for _ in range(nrows)]


def _table_text(cells: list[list[str]]) -> str:
    return "\n".join(" | ".join(row) for row in cells)


# ---------------------------------------------------------------------------
# Per-format generators: each returns (raw_spans, golden_spans)
# ---------------------------------------------------------------------------


def _gen_html(rng: random.Random, doc_id: str) -> tuple[list[dict], list[dict]]:
    golden: list[dict] = []
    parts: list[str] = ["<html><head><title>t</title><style>body{x}</style></head><body>"]
    # boilerplate header/nav (must be stripped)
    nav = "".join(f'<a href="/{x.lower()}">{x}</a> ' for x in rng.sample(_BOILER_LINKS, 4))
    parts.append(f"<header><h1>Site {doc_id}</h1></header><nav><ul><li>{nav}</li></ul></nav>")
    parts.append(f'<div class="sidebar ad-banner"><p>{_para(rng)}</p></div>')
    parts.append("<main>")
    title = _sentence(rng)[:-1]
    parts.append(f"<h1>{title}</h1>")
    golden.append({"kind": "heading", "text": title, "media_ref": ""})
    media_idx = 0
    for _ in range(rng.randint(2, 5)):
        roll = rng.random()
        if roll < 0.55:
            p = _para(rng)
            parts.append(f"<p>{p}</p>")
            golden.append({"kind": "text", "text": p, "media_ref": ""})
        elif roll < 0.70:
            h = _sentence(rng)[:-1]
            parts.append(f"<h2>{h}</h2>")
            golden.append({"kind": "heading", "text": h, "media_ref": ""})
        elif roll < 0.80:
            items = [_sentence(rng) for _ in range(rng.randint(2, 4))]
            parts.append("<ul>" + "".join(f"<li>{it}</li>" for it in items) + "</ul>")
            golden.extend({"kind": "list_item", "text": it, "media_ref": ""} for it in items)
        elif roll < 0.90:
            cells = _table_cells(rng)
            cap = _sentence(rng)[:-1]
            parts.append(
                "<table><caption>" + cap + "</caption>"
                + "".join("<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>" for row in cells)
                + "</table>"
            )
            golden.append({"kind": "table", "text": _table_text(cells), "media_ref": ""})
            golden.append({"kind": "caption", "text": cap, "media_ref": ""})
        else:
            ref = f"{doc_id}/m{media_idx}"
            media_idx += 1
            alt = _words(rng, 3)
            cap = _sentence(rng)[:-1]
            parts.append(f'<figure><img src="{ref}" alt="{alt}"/><figcaption>{cap}</figcaption></figure>')
            golden.append({"kind": "image", "text": alt, "media_ref": ref})
            golden.append({"kind": "caption", "text": cap, "media_ref": ""})
    # a link-dominated related-articles paragraph (stripped by link-ratio)
    links = "".join(f'<a href="/r/{i}">{_words(rng, 4)}</a> ' for i in range(4))
    parts.append(f"<p>{links}</p>")
    parts.append("</main>")
    parts.append(f"<footer><p>© 2026 {doc_id} — <a href='/terms'>Terms</a></p></footer>")
    parts.append("</body></html>")
    raw = [{"kind": "html", "text": "".join(parts), "media_ref": "", "offset": 0}]
    return raw, golden


def _gen_pdf_page(
    rng: random.Random, doc_id: str, page_no: int, media_start: int, two_col: bool
) -> tuple[str, list[dict], int]:
    """One page's block model + its golden spans (reading order)."""
    lines: list[str] = []
    golden: list[dict] = []
    media_idx = media_start
    lines.append(f"BLOCK 10,2,90,4,header|{doc_id} internal header")
    y = 10.0
    if page_no == 0:
        h = _sentence(rng)[:-1]
        lines.append(f"BLOCK 10,{y},90,{y + 4},heading|{h}")
        golden.append({"kind": "heading", "text": h, "media_ref": ""})
        y += 6
    if two_col:
        # two columns: left fully read before right (XY-cut vertical gap at x=50)
        col_golden: list[list[dict]] = [[], []]
        for ci, (x0, x1) in enumerate(((10.0, 48.0), (52.0, 90.0))):
            cy = y
            for _ in range(rng.randint(2, 3)):
                p = _para(rng)
                lines.append(f"BLOCK {x0},{cy},{x1},{cy + 6},para|{p}")
                col_golden[ci].append({"kind": "text", "text": p, "media_ref": ""})
                cy += 8
        golden.extend(col_golden[0])
        golden.extend(col_golden[1])
        y += 30
    else:
        for _ in range(rng.randint(2, 4)):
            roll = rng.random()
            if roll < 0.6:
                p = _para(rng)
                lines.append(f"BLOCK 10,{y},90,{y + 6},para|{p}")
                golden.append({"kind": "text", "text": p, "media_ref": ""})
            elif roll < 0.75:
                cells = _table_cells(rng)
                payload = ROW_SEP.join(CELL_SEP.join(row) for row in cells)
                lines.append(f"BLOCK 10,{y},90,{y + 6},table|{payload}")
                golden.append({"kind": "table", "text": _table_text(cells), "media_ref": ""})
            elif roll < 0.9:
                ref = f"{doc_id}/m{media_idx}"
                media_idx += 1
                cap = _sentence(rng)[:-1]
                lines.append(f"BLOCK 20,{y},80,{y + 6},figure|{ref}")
                lines.append(f"BLOCK 20,{y + 7},80,{y + 9},caption|{cap}")
                golden.append({"kind": "image", "text": "", "media_ref": ref})
                golden.append({"kind": "caption", "text": cap, "media_ref": ""})
                y += 4
            else:
                h = _sentence(rng)[:-1]
                lines.append(f"BLOCK 10,{y},90,{y + 4},heading|{h}")
                golden.append({"kind": "heading", "text": h, "media_ref": ""})
            y += 8
    lines.append(f"BLOCK 45,96,55,98,pageno|{page_no + 1}")
    lines.append(f"BLOCK 10,99,90,100,footer|{doc_id} footer text")
    return "\n".join(lines), golden, media_idx


def _gen_pdf(rng: random.Random, doc_id: str, oversized: bool) -> tuple[list[dict], list[dict]]:
    n_pages = rng.randint(120, 260) if oversized else rng.randint(1, 4)
    raw: list[dict] = []
    golden: list[dict] = []
    media_idx = 0
    for p in range(n_pages):
        two_col = (not oversized) and rng.random() < 0.3 and p > 0
        page_text, page_golden, media_idx = _gen_pdf_page(rng, doc_id, p, media_idx, two_col)
        raw.append({"kind": "pdf_page", "text": page_text, "media_ref": "", "offset": p})
        for g in page_golden:
            g["page"] = p
        golden.extend(page_golden)
    return raw, golden


def _gen_docx(rng: random.Random, doc_id: str) -> tuple[list[dict], list[dict]]:
    golden: list[dict] = []
    parts: list[str] = ["<w:document><w:body>"]
    title = _sentence(rng)[:-1]
    parts.append(
        f'<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t>{title}</w:t></w:r></w:p>'
    )
    golden.append({"kind": "heading", "text": title, "media_ref": ""})
    media_idx = 0
    for _ in range(rng.randint(2, 5)):
        roll = rng.random()
        if roll < 0.5:
            p = _para(rng)
            parts.append(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>")
            golden.append({"kind": "text", "text": p, "media_ref": ""})
        elif roll < 0.65:
            items = [_sentence(rng) for _ in range(rng.randint(2, 3))]
            for it in items:
                parts.append(
                    f'<w:p><w:pPr><w:pStyle w:val="ListParagraph"/></w:pPr><w:r><w:t>{it}</w:t></w:r></w:p>'
                )
                golden.append({"kind": "list_item", "text": it, "media_ref": ""})
        elif roll < 0.8:
            cells = _table_cells(rng)
            parts.append(
                "<w:tbl>"
                + "".join(
                    "<w:tr>"
                    + "".join(f"<w:tc><w:p><w:r><w:t>{c}</w:t></w:r></w:p></w:tc>" for c in row)
                    + "</w:tr>"
                    for row in cells
                )
                + "</w:tbl>"
            )
            golden.append({"kind": "table", "text": _table_text(cells), "media_ref": ""})
        elif roll < 0.9:
            h = _sentence(rng)[:-1]
            parts.append(
                f'<w:p><w:pPr><w:pStyle w:val="Heading2"/></w:pPr><w:r><w:t>{h}</w:t></w:r></w:p>'
            )
            golden.append({"kind": "heading", "text": h, "media_ref": ""})
        else:
            ref = f"{doc_id}/m{media_idx}"
            media_idx += 1
            parts.append(f'<w:p><w:r><w:drawing r:embed="{ref}"/></w:r></w:p>')
            golden.append({"kind": "image", "text": "", "media_ref": ref})
    parts.append("</w:body></w:document>")
    raw = [{"kind": "docx_xml", "text": "".join(parts), "media_ref": "", "offset": 0}]
    return raw, golden


def _gen_xlsx(rng: random.Random, doc_id: str) -> tuple[list[dict], list[dict]]:
    """Workbook of 1-3 sheets; one raw span per sheet (1-based sheet
    number in the offset → page provenance), heading + grid table per
    sheet (kernels/xlsx.py semantics)."""
    raw: list[dict] = []
    golden: list[dict] = []
    for s in range(1, rng.randint(2, 4)):
        name = f"{rng.choice(_VOCAB)}_{s}"
        cells = _table_cells(rng)
        xml = (
            f'<sheet name="{name}">'
            + "".join("<row>" + "".join(f"<c>{c}</c>" for c in row) + "</row>" for row in cells)
            + "</sheet>"
        )
        raw.append({"kind": "xlsx_sheet", "text": xml, "media_ref": "", "offset": s})
        golden.append({"kind": "heading", "text": name, "media_ref": "", "page": s})
        golden.append({"kind": "table", "text": _table_text(cells), "media_ref": "", "page": s})
    return raw, golden


def _gen_pptx(rng: random.Random, doc_id: str) -> tuple[list[dict], list[dict]]:
    """Deck of 1-3 slides; one raw span per slide (1-based slide number
    in the offset → page provenance); title + body paragraphs/bullets,
    occasional picture or table frame (kernels/pptx.py semantics)."""
    raw: list[dict] = []
    golden: list[dict] = []
    media_idx = 0
    for s in range(1, rng.randint(2, 4)):
        parts: list[str] = []
        title = _sentence(rng)[:-1]
        parts.append(f'<p:sp type="title"><a:p><a:t>{title}</a:t></a:p></p:sp>')
        golden.append({"kind": "heading", "text": title, "media_ref": "", "page": s})
        body: list[str] = []
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.5:
                t = _sentence(rng)
                body.append(f'<a:p bullet="1"><a:t>{t}</a:t></a:p>')
                golden.append({"kind": "list_item", "text": t, "media_ref": "", "page": s})
            else:
                p = _para(rng)
                body.append(f"<a:p><a:t>{p}</a:t></a:p>")
                golden.append({"kind": "text", "text": p, "media_ref": "", "page": s})
        parts.append('<p:sp type="body">' + "".join(body) + "</p:sp>")
        roll = rng.random()
        if roll < 0.25:
            ref = f"{doc_id}/m{media_idx}"
            media_idx += 1
            parts.append(f'<p:pic r:embed="{ref}"/>')
            golden.append({"kind": "image", "text": "", "media_ref": ref, "page": s})
        elif roll < 0.45:
            cells = _table_cells(rng)
            parts.append(
                "<p:graphicFrame><a:tbl>"
                + "".join(
                    "<a:tr>" + "".join(f"<a:tc><a:t>{c}</a:t></a:tc>" for c in row) + "</a:tr>"
                    for row in cells
                )
                + "</a:tbl></p:graphicFrame>"
            )
            golden.append({"kind": "table", "text": _table_text(cells), "media_ref": "", "page": s})
        raw.append({"kind": "pptx_slide", "text": "".join(parts), "media_ref": "", "offset": s})
    return raw, golden


def gen_doc(i: int, seed: int = _SEED) -> tuple[dict, list[dict]]:
    """Deterministic doc #i → (raw_doc_row, golden_output_spans).

    golden spans carry the reading-order index in ``order``.
    """
    rng = random.Random((seed << 32) ^ i)
    doc_id = f"doc{i:012d}"
    oversized = (i % SKEW_EVERY) == (SKEW_EVERY - 1)
    m = i % 10
    if oversized or 6 <= m <= 8:
        fmt = "pdf"
        raw, golden = _gen_pdf(rng, doc_id, oversized)
    elif m == 9:
        fmt = "docx"
        raw, golden = _gen_docx(rng, doc_id)
    elif m == 4:
        fmt = "xlsx"
        raw, golden = _gen_xlsx(rng, doc_id)
    elif m == 5:
        fmt = "pptx"
        raw, golden = _gen_pptx(rng, doc_id)
    else:
        fmt = "html"
        raw, golden = _gen_html(rng, doc_id)
    size_bytes = sum(len(s["text"].encode("utf-8")) for s in raw)
    doc = {"doc_id": doc_id, "fmt": fmt, "size_bytes": size_bytes, "spans": raw}
    golden = [
        {
            "kind": g["kind"],
            "text": g["text"],
            "media_ref": g["media_ref"],
            "order": k,
            "page": g.get("page", 0),
        }
        for k, g in enumerate(golden)
    ]
    return doc, golden


def corpus_pdf(indices: list[int], seed: int = _SEED, with_golden: bool = False) -> pd.DataFrame:
    """pandas frame of generated docs for the given indices."""
    rows = []
    for i in indices:
        doc, golden = gen_doc(i, seed)
        if with_golden:
            doc = dict(doc, golden=golden)
        rows.append(doc)
    cols = ["doc_id", "fmt", "size_bytes", "spans"] + (["golden"] if with_golden else [])
    return pd.DataFrame(rows, columns=cols)


CORPUS_DDL = (
    "doc_id string, fmt string, size_bytes long, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
GOLDEN_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,`order`:int,page:int>>"
)


def corpus_df(spark, n_docs: int, seed: int = _SEED, partitions: int | None = None):
    """Distributed corpus generation: pure function of index, no shuffle."""
    if partitions is None:
        partitions = max(1, min(256, n_docs // 256 or 1))
    rng_df = spark.range(0, n_docs, 1, partitions)

    def gen(batches):
        for pdf in batches:
            yield corpus_pdf([int(v) for v in pdf["id"]], seed)

    return rng_df.mapInPandas(gen, schema=CORPUS_DDL)


def golden_df(spark, n_docs: int, seed: int = _SEED, partitions: int | None = None):
    """Distributed golden-output generation (same index function)."""
    if partitions is None:
        partitions = max(1, min(256, n_docs // 256 or 1))
    rng_df = spark.range(0, n_docs, 1, partitions)

    def gen(batches):
        for pdf in batches:
            rows = []
            for v in pdf["id"]:
                doc, golden = gen_doc(int(v), seed)
                rows.append({"doc_id": doc["doc_id"], "spans": golden})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return rng_df.mapInPandas(gen, schema=GOLDEN_DDL)
