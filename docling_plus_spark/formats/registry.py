"""format → converter dispatch (document_converter.py:148-175 analog).

The extraction stage consults this registry per row: the sniffed format
column picks the converter; unknown formats become failure-status rows.
Plain text is wrapped as a single-paragraph document.
"""

from __future__ import annotations

from docling_plus_spark.doc.document import DLDocument
from docling_plus_spark.html.backend import binary_hash_of


def _convert_text(data: bytes, name: str = "file", filename: str = "file.txt") -> DLDocument:
    doc = DLDocument(
        name=name, filename=filename, binary_hash=binary_hash_of(data),
        mimetype="text/plain",
    )
    text = data.decode("utf-8", "replace")
    for block in text.split("\n\n"):
        block = " ".join(block.split())
        if block:
            doc.add_text(label="text", text=block)
    return doc


class NeedsOcrError(RuntimeError):
    """Raster content reached the text-extraction stage: the reference
    routes InputFormat.IMAGE to an OCR-backed pipeline; no OCR engine
    exists in this sandbox, so the row is classified — not dropped —
    as ``needs_ocr`` (S8)."""


def _convert_image(data: bytes, name: str = "file", filename: str = "file") -> DLDocument:
    raise NeedsOcrError(
        f"image document '{filename}' ({len(data)} bytes) requires OCR"
    )


def _converters() -> dict:
    from docling_plus_spark.html import convert_html

    from .asciidoc_backend import convert_asciidoc
    from .csv_backend import convert_csv
    from .docx_backend import convert_docx
    from .jats_backend import convert_jats
    from .json_backend import convert_docling_json
    from .md_backend import convert_markdown
    from .mets_gbs_backend import convert_mets_gbs
    from .pdf_backend import convert_pdf
    from .pptx_backend import convert_pptx
    from .uspto_backend import convert_uspto
    from .vtt_backend import convert_vtt
    from .xlsx_backend import convert_xlsx

    return {
        "html": convert_html,
        "pdf": convert_pdf,
        "csv": convert_csv,
        "md": convert_markdown,
        "vtt": convert_vtt,
        "asciidoc": convert_asciidoc,
        "docx": convert_docx,
        "pptx": convert_pptx,
        "xlsx": convert_xlsx,
        "json": convert_docling_json,
        "xml_jats": convert_jats,
        "xml_uspto": convert_uspto,
        "mets_gbs": convert_mets_gbs,
        "text": _convert_text,
        "image": _convert_image,
    }


CONVERTERS = _converters()


def convert_bytes(
    data: bytes, fmt: str, name: str = "file", filename: str = "file"
) -> DLDocument:
    """Dispatch one document; raises KeyError for unsupported formats
    (the extraction stage turns that into an unsupported_format row)."""
    return CONVERTERS[fmt](data, name=name, filename=filename)


def convert_page(url: str, data, fmt) -> DLDocument:
    """Dispatch one crawled page: the document is named after the url's
    last path segment (query dropped; ``doc`` when empty), its stem
    without the extension; null bytes convert as empty, a null format as
    html."""
    name = url.rsplit("/", 1)[-1].split("?", 1)[0] or "doc"
    stem = name.rsplit(".", 1)[0] if "." in name else name
    return convert_bytes(bytes(data or b""), fmt or "html", name=stem, filename=name)
