"""Additional declarative format backends (beyond HTML).

Mirrors the reference's format-options registry
(docling/docling/document_converter.py:148-175) as a ``format →
converter`` dispatch consumed by the extraction stage. csv, markdown,
webvtt, asciidoc, docling-JSON, and the OOXML family (docx/pptx/xlsx via
stdlib zipfile+ElementTree — python-docx/pptx/openpyxl are absent in
this sandbox) are implemented here; image formats remain out of scope
(no decoder; the multimodal operators stub them explicitly).
"""

from .asciidoc_backend import convert_asciidoc  # noqa: F401
from .csv_backend import convert_csv  # noqa: F401
from .docx_backend import convert_docx  # noqa: F401
from .jats_backend import convert_jats  # noqa: F401
from .json_backend import convert_docling_json  # noqa: F401
from .md_backend import convert_markdown  # noqa: F401
from .mets_gbs_backend import convert_mets_gbs, mets_gbs_pages  # noqa: F401
from .pptx_backend import convert_pptx  # noqa: F401
from .uspto_backend import convert_uspto  # noqa: F401
from .vtt_backend import convert_vtt  # noqa: F401
from .xlsx_backend import convert_xlsx  # noqa: F401
from .registry import CONVERTERS, convert_bytes, convert_page  # noqa: F401
