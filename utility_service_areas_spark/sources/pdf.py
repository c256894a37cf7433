"""PDF source (SURVEY.md §2.3 S6).

Parity: download_certificate_pdf (reference R/functions.R:115-140)
fetches a per-certificate PDF; the engine side treats PDFs as opaque
binary columns with metadata, exactly like the multimodal media
columns, read with ``spark.read.format("binaryFile")``. Text
extraction needs a PDF library (pdfminer/pypdf), which is not a
dependency; `fake_extract_meta` supplies deterministic metadata so the
distributed plumbing is testable end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PDF_META_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("n_bytes", LongType()),
        StructField("n_pages", IntegerType()),
        StructField("is_pdf", StringType()),
    ]
)


def fake_extract_meta(path: str, blob: bytes) -> dict:
    """Deterministic metadata: header sniff + md5-derived page count."""
    is_pdf = "yes" if blob[:5] == b"%PDF-" else "no"
    n_pages = 1 + int(hashlib.md5(blob).hexdigest()[:4], 16) % 40
    return {
        "path": path,
        "n_bytes": len(blob),
        "n_pages": n_pages,
        "is_pdf": is_pdf,
    }


def pdf_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over binary content."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [fake_extract_meta(p, b) for p, b in zip(pdf["path"], pdf["content"])],
                columns=["path", "n_bytes", "n_pages", "is_pdf"],
            )

    return df.select("path", "content").mapInPandas(extract, PDF_META_SCHEMA)
