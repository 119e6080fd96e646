"""The extraction stage: html:binary → extracted text/markdown/items.

Spark-first restatement of the reference's converter+pipeline+serializer
chain (DocumentConverter._convert → SimplePipeline → serializers;
docling/docling/document_converter.py:337-373,
pipeline/simple_pipeline.py:26-41). One ``mapInPandas`` stage: each Arrow
batch of page rows is converted document-by-document in compiled-regex /
stdlib-parser Python (vectorized *stage* granularity — no per-row Python
crossing the JVM boundary), errors become row status, never exceptions
(reference: ConversionStatus, base_models.py:46-52).

Scale design:
* **Skew**: page sizes are heavy-tailed. :func:`skew_repartition` salts on
  ``xxhash64(url)`` so giant documents scatter uniformly instead of
  hot-spotting one task (SURVEY.md §4.2 Custom #1).
* **Memory**: the UDF re-chunks each incoming Arrow batch so no output
  pandas frame exceeds ``max_batch_bytes`` of input HTML — giant documents
  flow through in small batches, tiny ones in big batches (the reference's
  batch-size knobs, datamodel/settings.py:28-35, made adaptive).
* **Pruning**: only (url, html) are touched; Catalyst prunes the rest at
  the scan when downstream selects fewer columns.
"""

from __future__ import annotations

import time
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),        # success | failure
        T.StructField("failure_class", T.StringType()),  # parse-failure taxonomy (A8)
        T.StructField("error", T.StringType()),
        T.StructField("num_items", T.IntegerType()),
        T.StructField("num_tables", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("md", T.StringType()),
        T.StructField("itxt", T.StringType()),
        T.StructField("doc_json", T.StringType()),
        T.StructField("doctags", T.StringType()),
        T.StructField("html_out", T.StringType()),
        T.StructField("extract_ms", T.DoubleType()),
    ]
)

_DEFAULT_MAX_BATCH_BYTES = 8 << 20  # 8 MiB of raw HTML per output batch


def _classify_failure(exc: BaseException) -> str:
    """Parse-failure taxonomy for the lineage table (ErrorItem analog,
    datamodel/base_models.py:178-181)."""
    from docling_plus_spark.formats.registry import NeedsOcrError
    from docling_plus_spark.pdf.pdfbytes import NeedsNativeParserError

    if isinstance(exc, NeedsOcrError):
        return "needs_ocr"
    if isinstance(exc, NeedsNativeParserError):
        return "needs_native_parser"
    if isinstance(exc, UnicodeDecodeError):
        return "decode_error"
    if isinstance(exc, RecursionError):
        return "depth_limit"
    if isinstance(exc, MemoryError):
        return "resource_limit"
    cls = type(exc)
    mod = cls.__module__
    # qualify ambiguous class names (e.g. _csv.Error) so the taxonomy
    # distinguishes parser families
    name = cls.__name__ if mod in (None, "builtins") else f"{mod.lstrip('_')}.{cls.__name__}"
    return f"convert_error:{name}"


# a failure row: every column not given is None, counts 0, no time
_FAILURE_ROW = dict.fromkeys(EXTRACT_SCHEMA.fieldNames()) | {
    "status": "failure",
    "num_items": 0,
    "num_tables": 0,
    "extract_ms": 0.0,
}


def _rows_frame(rows: list, passthrough: pd.DataFrame) -> pd.DataFrame:
    """EXTRACT_SCHEMA frame of ``rows`` (dicts of the columns that differ
    from a failure row), with the passthrough columns appended."""
    res = pd.DataFrame(
        {k: [r.get(k, v) for r in rows] for k, v in _FAILURE_ROW.items()}
    )
    if len(passthrough.columns):
        res = pd.concat([res, passthrough.reset_index(drop=True)], axis=1)
    return res


def _convert_chunk(urls, blobs, passthrough: pd.DataFrame, include_json: bool, include_doctags: bool, include_html: bool) -> pd.DataFrame:
    # import inside the worker so the driver-side module graph stays lazy
    from docling_plus_spark.doc.doctags import export_to_doctags
    from docling_plus_spark.doc.html_sink import export_to_html
    from docling_plus_spark.doc.document import TableItem
    from docling_plus_spark.doc.serializers import (
        export_to_element_tree,
        export_to_markdown,
        export_to_text,
    )
    from docling_plus_spark.formats import convert_bytes

    fmts = (
        passthrough["format"].tolist()
        if "format" in passthrough.columns
        else ["html"] * len(urls)
    )

    rows = []
    for url, blob, fmt in zip(urls, blobs, fmts):
        t0 = time.perf_counter()
        try:
            name = url.rsplit("/", 1)[-1].split("?", 1)[0] or "doc"
            stem = name.rsplit(".", 1)[0] if "." in name else name
            doc = convert_bytes(bytes(blob or b""), fmt or "html", name=stem, filename=name)
            items = [it for it, _ in doc.iterate_items(doc.body, with_groups=False)]
            row = {
                "status": "success",
                "num_items": len(items),
                "num_tables": sum(1 for it in items if isinstance(it, TableItem)),
                "text": export_to_text(doc),
                "md": export_to_markdown(doc),
                "itxt": export_to_element_tree(doc),
                "doc_json": doc.export_to_json() if include_json else None,
            }
            _dd = (doc.export_to_dict()
                   if (include_doctags or include_html) else None)
            row["doctags"] = export_to_doctags(_dd) if include_doctags else None
            row["html_out"] = export_to_html(_dd) if include_html else None
        except Exception as exc:  # noqa: BLE001 — row status, not job failure
            row = {"failure_class": _classify_failure(exc), "error": repr(exc)[:500]}
        row["url"] = url
        row["extract_ms"] = (time.perf_counter() - t0) * 1e3
        rows.append(row)
    return _rows_frame(rows, passthrough)


def _extract_fn(max_batch_bytes: int, passthrough_cols: list, gated: bool, include_json: bool, include_doctags: bool, include_html: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if gated and len(pdf):
                mask = pdf["_convert"].astype(bool)
                rej = pdf[~mask]
                if len(rej):
                    yield _rows_frame(
                        [
                            {"url": u, "failure_class": r}
                            for u, r in zip(rej["url"], rej["_reject_reason"])
                        ],
                        rej[passthrough_cols],
                    )
                pdf = pdf[mask].reset_index(drop=True)
            urls = pdf["url"].tolist()
            blobs = pdf["html"].tolist()
            extra = pdf[passthrough_cols]
            # adaptive re-chunk: cut the batch whenever accumulated input
            # bytes exceed the budget, so one wiki_duck-scale run of rows
            # can't balloon a single Arrow output batch.
            start, acc = 0, 0
            for i, b in enumerate(blobs):
                acc += len(b) if b is not None else 0
                if acc >= max_batch_bytes and i + 1 > start:
                    yield _convert_chunk(
                        urls[start : i + 1], blobs[start : i + 1],
                        extra.iloc[start : i + 1], include_json, include_doctags, include_html,
                    )
                    start, acc = i + 1, 0
            if start < len(blobs):
                yield _convert_chunk(urls[start:], blobs[start:], extra.iloc[start:], include_json, include_doctags, include_html)

    return fn


def extract_stage(
    pages: DataFrame,
    max_batch_bytes: int = _DEFAULT_MAX_BATCH_BYTES,
    passthrough: tuple = (),
    convert_col: Optional[Column] = None,
    reject_reason_col: Optional[Column] = None,
    include_json: bool = False,
    include_doctags: bool = False,
    include_html: bool = False,
) -> DataFrame:
    """(url, html, …) → EXTRACT_SCHEMA rows, one per input row.

    Column-prunes to (url, html) + ``passthrough`` before the UDF so
    upstream scans read only what the stage needs. Passthrough columns
    (cheap derived metadata like doc_hash/format/nbytes) ride along inside
    the Arrow batch — carrying them is free compared to the shuffle join
    that re-attaching them afterwards would cost at scale.

    ``convert_col`` (boolean) folds the validity/format gate into the same
    single pass: rows where it is false skip conversion and come out as
    failure rows labeled by ``reject_reason_col`` — output stays total over
    the input with one scan and zero extra stages.
    """
    gated = convert_col is not None
    cols: list = ["url", "html", *passthrough]
    if gated:
        cols += [
            convert_col.alias("_convert"),
            (reject_reason_col if reject_reason_col is not None
             else F.lit("rejected")).alias("_reject_reason"),
        ]
    schema = T.StructType(
        EXTRACT_SCHEMA.fields
        + [f for f in pages.schema.fields if f.name in passthrough]
    )
    return pages.select(*cols).mapInPandas(
        _extract_fn(max_batch_bytes, list(passthrough), gated, include_json, include_doctags, include_html), schema
    )


def skew_repartition(
    df: DataFrame,
    num_partitions: int,
    key: str = "url",
    salt_col: Optional[Column] = None,
) -> DataFrame:
    """Salted uniform repartition on ``xxhash64(key)``.

    Documents are independent rows, so *any* uniform scatter is correct;
    hashing the url (plus an optional salt for adversarial key sets)
    levels heavy-tailed byte sizes across tasks without a range shuffle.
    Note: ``repartition(n, expr)`` Murmur3-hashes the expression value, so
    we feed it the full-width xxhash64 (pre-bucketing with pmod would
    collide buckets and leave partitions empty).
    """
    expr = F.xxhash64(F.col(key))
    if salt_col is not None:
        expr = F.xxhash64(F.col(key), salt_col)
    return df.repartition(num_partitions, expr)
