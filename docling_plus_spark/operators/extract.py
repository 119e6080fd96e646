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
* **Skew**: page sizes are heavy-tailed. :func:`skew_repartition` scatters
  on ``xxhash64(url)`` so giant documents spread uniformly instead of
  hot-spotting one task (SURVEY.md §4.2 Custom #1).
* **Memory**: the UDF re-chunks each incoming Arrow batch so no output
  pandas frame exceeds ``MAX_BATCH_BYTES`` of input HTML — giant documents
  flow through in small batches, tiny ones in big batches (the reference's
  batch-size knobs, datamodel/settings.py:28-35, made adaptive).
* **Pruning**: only (url, html), the gate and the ``PASSTHROUGH`` metadata
  are touched; Catalyst prunes the rest at the scan when downstream
  selects fewer columns.
"""

from __future__ import annotations

import time
from typing import Iterator

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

#: the extra output surfaces a caller may ask for by name, beyond the
#: text/md/itxt every success row carries
SURFACES = ("json", "doctags", "html")

#: re-chunk budget: input bytes per output batch (read at call time)
MAX_BATCH_BYTES = 8 << 20  # 8 MiB of raw HTML per output batch

#: derived metadata that rides through the UDF inside the Arrow batch
PASSTHROUGH = ("doc_hash", "format", "nbytes")


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
    return pd.concat([res, passthrough.reset_index(drop=True)], axis=1)


def _convert_chunk(urls: list, blobs: list, passthrough: pd.DataFrame, include: tuple) -> pd.DataFrame:
    # import inside the worker so the driver-side module graph stays lazy
    from docling_plus_spark.doc.doctags import export_to_doctags
    from docling_plus_spark.doc.html_sink import export_to_html
    from docling_plus_spark.doc.document import TableItem
    from docling_plus_spark.doc.serializers import (
        export_to_element_tree,
        export_to_markdown,
        export_to_text,
    )
    from docling_plus_spark.formats import convert_page

    want_json, want_doctags, want_html = (s in include for s in SURFACES)
    rows = []
    for url, blob, fmt in zip(urls, blobs, passthrough["format"].tolist()):
        t0 = time.perf_counter()
        try:
            doc = convert_page(url, blob, fmt)
            items = [it for it, _ in doc.iterate_items(doc.body, with_groups=False)]
            row = {
                "status": "success",
                "num_items": len(items),
                "num_tables": sum(1 for it in items if isinstance(it, TableItem)),
                "text": export_to_text(doc),
                "md": export_to_markdown(doc),
                "itxt": export_to_element_tree(doc),
                "doc_json": doc.export_to_json() if want_json else None,
            }
            _dd = doc.export_to_dict() if (want_doctags or want_html) else None
            row["doctags"] = export_to_doctags(_dd) if want_doctags else None
            row["html_out"] = export_to_html(_dd) if want_html else None
        except Exception as exc:  # noqa: BLE001 — row status, not job failure
            row = {"failure_class": _classify_failure(exc), "error": repr(exc)[:500]}
        row["url"] = url
        row["extract_ms"] = (time.perf_counter() - t0) * 1e3
        rows.append(row)
    return _rows_frame(rows, passthrough)


def _extract_fn(include: tuple):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = pdf["_convert"].astype(bool)
            rej = pdf[~mask]
            if len(rej):
                yield _rows_frame(
                    [
                        {"url": u, "failure_class": r}
                        for u, r in zip(rej["url"], rej["_reject_reason"])
                    ],
                    rej[list(PASSTHROUGH)],
                )
            pdf = pdf[mask].reset_index(drop=True)
            urls = pdf["url"].tolist()
            blobs = pdf["html"].tolist()
            extra = pdf[list(PASSTHROUGH)]
            # adaptive re-chunk: cut the batch whenever accumulated input
            # bytes exceed the budget, so one wiki_duck-scale run of rows
            # can't balloon a single Arrow output batch.
            start, acc = 0, 0
            for i, b in enumerate(blobs):
                acc += len(b) if b is not None else 0
                if acc >= MAX_BATCH_BYTES:
                    yield _convert_chunk(
                        urls[start : i + 1], blobs[start : i + 1],
                        extra.iloc[start : i + 1], include,
                    )
                    start, acc = i + 1, 0
            if start < len(blobs):
                yield _convert_chunk(urls[start:], blobs[start:], extra.iloc[start:], include)

    return fn


def extract_stage(
    prepared: DataFrame,
    convert: Column,
    reason: Column,
    include: tuple = (),
) -> DataFrame:
    """Prepared page rows → EXTRACT_SCHEMA + ``PASSTHROUGH`` rows, one per
    input row.

    Column-prunes to (url, html) + ``PASSTHROUGH`` before the UDF so
    upstream scans read only what the stage needs. Passthrough columns
    (cheap derived metadata: doc_hash/format/nbytes) ride along inside
    the Arrow batch — carrying them is free compared to the shuffle join
    that re-attaching them afterwards would cost at scale.

    ``convert`` (boolean) folds the validity/format gate into the same
    single pass: rows where it is false skip conversion and come out as
    failure rows labeled by ``reason`` — output stays total over the
    input with one scan and zero extra stages. ``include`` names the
    extra surfaces to build, a subset of ``SURFACES`` (``json`` →
    ``doc_json``, ``doctags``, ``html`` → ``html_out``); the rest stay
    null. An unknown name raises ``ValueError``.
    """
    unknown = [s for s in include if s not in SURFACES]
    if unknown:
        raise ValueError(f"unknown surface(s) {unknown}; choose from {SURFACES}")
    schema = T.StructType(
        EXTRACT_SCHEMA.fields
        + [f for f in prepared.schema.fields if f.name in PASSTHROUGH]
    )
    return prepared.select(
        "url", "html", *PASSTHROUGH,
        convert.alias("_convert"), reason.alias("_reject_reason"),
    ).mapInPandas(_extract_fn(include), schema)


def skew_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Uniform repartition on ``xxhash64(url)``.

    Documents are independent rows, so *any* uniform scatter is correct;
    hashing the url levels heavy-tailed byte sizes across tasks without a
    range shuffle. Note: ``repartition(n, expr)`` Murmur3-hashes the
    expression value, so we feed it the full-width xxhash64 (pre-bucketing
    with pmod would collide buckets and leave partitions empty).
    """
    return df.repartition(num_partitions, F.xxhash64(F.col("url")))
