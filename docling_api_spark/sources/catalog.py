"""Testdata catalog + adapters from the driver's flat `documents`
table to the engine's interleaved corpus shape.

``wrap_documents_as_corpus`` deterministically embeds each document's
text in boilerplate-laden HTML (nav/ads/footer + a link-farm block).
Running the full extraction pipeline over the wrapped corpus must
recover exactly the original text — which makes the *whole* HTML
kernel + Spark pipeline oracle-checkable with plain SQL
(`SELECT doc_id, text`): the boilerplate strip is correct iff the
round-trip is the identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_HTML_PRE = (
    "<html><head><title>synthetic</title><style>b{}</style></head><body>"
    "<header><h1>Corpus Site</h1></header>"
    "<nav><a href='/'>Home</a><a href='/a'>About</a><a href='/p'>Privacy</a></nav>"
    "<div class='sidebar ad-banner'><p>buy now limited offer</p></div><main><p>"
)
_HTML_POST = (
    "</p></main><p><a href='/r1'>related one</a> <a href='/r2'>related two</a></p>"
    "<footer><p>© corpus footer</p></footer></body></html>"
)


def wrap_documents_as_rich_corpus(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, n_chars) → corpus whose HTML adds
    a heading, a figure (img + figcaption), and a 2×2 table around the
    text — making the media/table side-car extraction (D4/D5), the
    markdown render, and caption attachment oracle-checkable: every
    structural element is a deterministic function of the row.

    Expected span sequence per doc (verified by the kernel):
      heading('Heading for document <id>'),
      text(<text>),
      image(alt='figure alt <id>', ref='media://<id>/m0'),
      caption('Figure caption <id>'),
      table('lang | <lang>\\nchars | <n_chars>')
    """
    did = F.col("doc_id").cast("string")
    markup = F.concat(
        F.lit(_HTML_PRE.replace("<main><p>", "<main>")),
        F.lit("<h1>Heading for document "), did, F.lit("</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit("<figure><img src='"), did, F.lit("/m0' alt='figure alt "), did,
        F.lit("'><figcaption>Figure caption "), did, F.lit("</figcaption></figure>"),
        F.lit("<table><tr><td>lang</td><td>"), F.col("lang"), F.lit("</td></tr>"),
        F.lit("<tr><td>chars</td><td>"), F.col("n_chars").cast("string"),
        F.lit("</td></tr></table>"),
        F.lit(_HTML_POST.replace("</p></main>", "</main>")),
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("html").alias("fmt"),
        F.length(markup).cast("long").alias("size_bytes"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                markup.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def wrap_documents_as_corpus(docs: DataFrame) -> DataFrame:
    """documents(doc_id:any, text) → corpus(doc_id, fmt, size_bytes, spans).

    Pure column expressions (no Python); doc_id is carried through as a
    string and restored by the caller if needed.
    """
    markup = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("html").alias("fmt"),
        F.length(markup).cast("long").alias("size_bytes"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                markup.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def wrap_documents_as_pdf_corpus(docs: DataFrame) -> DataFrame:
    """documents → 2-page PDF block-model corpus exercising the layout
    kernel's XY-cut + furniture drop (kernels/pdf.py):

    page 1: full-width heading, then a two-column body (x-gutter
    45..55) whose reading order must come out left-before-right, plus
    a ``pageno`` furniture block that must be dropped;
    page 2: the document text as one para + a dropped footer.

    Expected span sequence: heading, left para, right para, text.
    """
    did = F.col("doc_id").cast("string")
    page1 = F.concat(
        F.lit("BLOCK 0,0,100,10,heading|Heading for document "), did, F.lit("\n"),
        F.lit("BLOCK 0,25,45,80,para|left column for document "), did, F.lit("\n"),
        F.lit("BLOCK 55,25,100,80,para|right column for document "), did, F.lit("\n"),
        F.lit("BLOCK 0,95,100,100,pageno|1"),
    )
    page2 = F.concat(
        F.lit("BLOCK 0,0,100,90,para|"), F.col("text"), F.lit("\n"),
        F.lit("BLOCK 0,95,100,100,footer|corpus footer"),
    )
    span = lambda txt, off: F.struct(  # noqa: E731
        F.lit("pdf_page").alias("kind"),
        txt.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("pdf").alias("fmt"),
        (F.length(page1) + F.length(page2)).cast("long").alias("size_bytes"),
        F.array(span(page1, 1), span(page2, 2)).alias("spans"),
    )


def wrap_documents_as_docx_corpus(docs: DataFrame) -> DataFrame:
    """documents → simplified-WordprocessingML corpus for the DOCX
    kernel (kernels/docx.py): Heading1 para, body para, ListParagraph,
    and a 1×2 table. Expected spans: heading, text, list_item, table.
    """
    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
              "<w:r><w:t>Heading for document "), did, F.lit("</w:t></w:r></w:p>"),
        F.lit("<w:p><w:r><w:t>"), F.col("text"), F.lit("</w:t></w:r></w:p>"),
        F.lit('<w:p><w:pPr><w:pStyle w:val="ListParagraph"/></w:pPr>'
              "<w:r><w:t>list item for document "), did, F.lit("</w:t></w:r></w:p>"),
        F.lit("<w:tbl><w:tr><w:tc><w:p><w:r><w:t>lang</w:t></w:r></w:p></w:tc>"
              "<w:tc><w:p><w:r><w:t>"), F.col("lang"),
        F.lit("</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"),
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("docx").alias("fmt"),
        F.length(xml).cast("long").alias("size_bytes"),
        F.array(
            F.struct(
                F.lit("docx_xml").alias("kind"),
                xml.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def _xml_escape(col):
    """Entity-escape free text before embedding it in the XML-ish
    corpus models (& first, then angle brackets) — the kernels
    unescape, so the extraction round-trip restores the original even
    for text containing markup characters."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )


def wrap_documents_as_xlsx_corpus(docs: DataFrame) -> DataFrame:
    """documents → simplified-SpreadsheetML corpus for the XLSX kernel
    (kernels/xlsx.py): one raw span per worksheet (1-based sheet index
    in the offset — the shard-able unit, like pdf pages).

    Sheet 1 'meta': 2×2 grid (lang / chars); sheet 2 'content': 1×2
    grid (doc | <text>). Expected spans:
      page 1: heading('meta'),    table('lang | <lang>\\nchars | <n_chars>')
      page 2: heading('content'), table('doc | <text>')
    """
    did = F.col("doc_id").cast("string")
    sheet1 = F.concat(
        F.lit('<sheet name="meta"><row><c>lang</c><c>'), F.col("lang"),
        F.lit("</c></row><row><c>chars</c><c>"), F.col("n_chars").cast("string"),
        F.lit("</c></row></sheet>"),
    )
    sheet2 = F.concat(
        F.lit('<sheet name="content"><row><c>doc</c><c>'), _xml_escape(F.col("text")),
        F.lit("</c></row></sheet>"),
    )
    span = lambda txt, off: F.struct(  # noqa: E731
        F.lit("xlsx_sheet").alias("kind"),
        txt.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("xlsx").alias("fmt"),
        (F.length(sheet1) + F.length(sheet2)).cast("long").alias("size_bytes"),
        F.array(span(sheet1, 1), span(sheet2, 2)).alias("spans"),
    )


def wrap_documents_as_pptx_corpus(docs: DataFrame) -> DataFrame:
    """documents → simplified-PresentationML corpus for the PPTX kernel
    (kernels/pptx.py): one raw span per slide (1-based slide number in
    the offset — the shard-able unit, like pdf pages).

    Slide 1: title + two bullets; slide 2: title, the document text as
    a body paragraph, and a picture. Expected spans:
      page 1: heading('Deck for document <id>'),
              list_item('first point for <id>'),
              list_item('second point for <id>')
      page 2: heading('Details for <id>'), text(<text>),
              image(ref='<id>/s0')
    """
    did = F.col("doc_id").cast("string")
    slide1 = F.concat(
        F.lit('<p:sp type="title"><a:p><a:t>Deck for document '), did,
        F.lit('</a:t></a:p></p:sp><p:sp type="body">'
              '<a:p bullet="1"><a:t>first point for '), did,
        F.lit('</a:t></a:p><a:p bullet="1"><a:t>second point for '), did,
        F.lit("</a:t></a:p></p:sp>"),
    )
    slide2 = F.concat(
        F.lit('<p:sp type="title"><a:p><a:t>Details for '), did,
        F.lit('</a:t></a:p></p:sp><p:sp type="body"><a:p><a:t>'),
        _xml_escape(F.col("text")),
        F.lit('</a:t></a:p></p:sp><p:pic r:embed="'), did, F.lit('/s0"/>'),
    )
    span = lambda txt, off: F.struct(  # noqa: E731
        F.lit("pptx_slide").alias("kind"),
        txt.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("pptx").alias("fmt"),
        (F.length(slide1) + F.length(slide2)).cast("long").alias("size_bytes"),
        F.array(span(slide1, 1), span(slide2, 2)).alias("spans"),
    )


def wrap_documents_as_scanned_corpus(docs: DataFrame) -> DataFrame:
    """documents → mixed born-digital + scanned corpus for the OCR
    dispatch (kernels/ocr.py): page 1 is a normal pdf_page text layer
    (one heading block), page 2 is a ``pdf_page_image`` scanned page
    whose synthetic payload the stub OCR provider recognizes as the
    document text. With do_ocr off, page 2 contributes nothing.
    """
    did = F.col("doc_id").cast("string")
    page1 = F.concat(F.lit("BLOCK 0,0,100,10,heading|Heading for document "), did)
    # one LINE per text line: multi-line text yields one ocr_text span
    # per line (real OCR semantics) instead of silently truncating at
    # the first newline
    page2 = F.concat(
        F.lit("SCAN page 2 of document "),
        did,
        F.lit("\nLINE "),
        F.regexp_replace(F.col("text"), "\n", "\nLINE "),
    )
    span = lambda kind, txt, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        txt.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("pdf").alias("fmt"),
        (F.length(page1) + F.length(page2)).cast("long").alias("size_bytes"),
        F.array(span("pdf_page", page1, 1), span("pdf_page_image", page2, 2)).alias("spans"),
    )


def wrap_documents_as_pdf_figure_corpus(docs: DataFrame) -> DataFrame:
    """documents → single-page PDF corpus with a positioned figure +
    caption, for bbox provenance (reference ImageInfo.bbox,
    core/schemas.py:26): heading block, figure block at a geometry
    derived from the doc id, caption block below it.
    """
    did = F.col("doc_id").cast("string")
    x0 = (F.col("doc_id").cast("long") % 40).cast("string")
    page = F.concat(
        F.lit("BLOCK 0,0,100,10,heading|Heading for document "), did, F.lit("\n"),
        F.lit("BLOCK "), x0, F.lit(",20,60,50,figure|"), did, F.lit("/f0\n"),
        F.lit("BLOCK "), x0, F.lit(",52,60,58,caption|Figure caption "), did,
    )
    return docs.select(
        did.alias("doc_id"),
        F.lit("pdf").alias("fmt"),
        F.length(page).cast("long").alias("size_bytes"),
        F.array(
            F.struct(
                F.lit("pdf_page").alias("kind"),
                page.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(1).alias("offset"),
            )
        ).alias("spans"),
    )
