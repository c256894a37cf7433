"""KML source: distributed read of KML placemark polygons.

Parity: st_read of RCA service-area KMLs (reference
R/functions.R:177,460). Spark-first shape: `binaryFile` scan (each
file is one row, split across executors) → `mapInPandas` XML parse
and polygon repair → long-form (file, name, description, geometry)
rows. At 100 TB of files the binaryFile scan parallelizes by file;
no driver-side loop.

Only stdlib xml.etree is used (no lxml in the environment).
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from utility_service_areas_spark.functions.geometry import make_valid

KML_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("placemark_name", StringType()),
        StructField("description", StringType()),
        StructField("geometry", ArrayType(ArrayType(ArrayType(DoubleType())))),
    ]
)

_NS_RE = re.compile(r"\{.*\}")


def _local(tag: str) -> str:
    return _NS_RE.sub("", tag)


def _parse_coords(text: str) -> list[list[float]]:
    pts = []
    for tok in (text or "").split():
        parts = tok.split(",")
        if len(parts) >= 2:
            pts.append([float(parts[0]), float(parts[1])])  # lon, lat (drop alt)
    return pts


def _polygons_of(elem) -> list[list[list[list[float]]]]:
    """All Polygon geometries under elem (handles MultiGeometry)."""
    polys = []
    for node in elem.iter():
        if _local(node.tag) != "Polygon":
            continue
        rings = []
        for bound in node:
            kind = _local(bound.tag)
            if kind not in ("outerBoundaryIs", "innerBoundaryIs"):
                continue
            for lr in bound.iter():
                if _local(lr.tag) == "coordinates":
                    ring = _parse_coords(lr.text)
                    if ring:
                        # outer ring first
                        if kind == "outerBoundaryIs":
                            rings.insert(0, ring)
                        else:
                            rings.append(ring)
        if rings:
            polys.append(rings)
    return polys


# A handful of real KMLs (Doyon Electric) wrap the description in an
# escaped-HTML blob; the reference slices out the "Granted to: ..."
# span and unescapes it (read_kml_description, R/functions.R:229-246).
_HTML_DESC_END = "</td> </tr> </table> </td> </tr> </table>"


def normalize_kml_description(desc: str | None) -> str | None:
    """HTML-wrapped description → the plain 'Granted to: ...' text
    (parity R/functions.R:232-244): detect the `<html` prefix, slice
    from "Granted to:" up to the table-close marker, unescape
    `&lt;`/`&gt;`. Plain descriptions pass through verbatim; a wrapped
    blob missing the start marker returns None (the reference's
    safe_read_kml_description → NA path)."""
    if desc is None or not desc.startswith("<html"):
        return desc
    start = desc.find("Granted to:")
    if start < 0:
        return None
    end = desc.find(_HTML_DESC_END, start)
    sliced = desc[start:end] if end >= 0 else desc[start:]
    return sliced.replace("&lt;", "<").replace("&gt;", ">").strip()


def parse_kml_bytes(path: str, blob: bytes) -> list[dict]:
    """One row per Placemark polygon (a MultiGeometry placemark yields
    several rows; downstream group-by-key + st_combine collapses them,
    mirroring the reference's bind_rows + group_by flow). Duplicated
    description fields keep the FIRST one (R/functions.R:231: Doyon
    KMLs carry a plain + an HTML duplicate; st_read[1,] takes the
    first)."""
    rows = []
    try:
        root = ET.fromstring(blob)
    except ET.ParseError:
        return rows
    for pm in root.iter():
        if _local(pm.tag) != "Placemark":
            continue
        name = desc = None
        for child in pm:
            if _local(child.tag) == "name" and name is None:
                name = (child.text or "").strip()
            elif _local(child.tag) == "description" and desc is None:
                desc = normalize_kml_description((child.text or "").strip())
        for poly in _polygons_of(pm):
            rows.append(
                {
                    "path": path,
                    "placemark_name": name,
                    "description": desc,
                    "geometry": poly,
                }
            )
    return rows


def read_kml(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed KML read: (path, placemark_name, description,
    geometry), every polygon already through make_valid (st_read then
    st_make_valid, R/functions.R:177-182,460-468) in the one
    mapInPandas worker, so a KML stage crosses into Python once.
    make_valid is row-wise and idempotent, so repairing before any
    certificate filter gives the same values as repairing after it."""
    binary = spark.read.format("binaryFile").load(path_glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {**r, "geometry": make_valid(r["geometry"])}
                for path, blob in zip(pdf["path"], pdf["content"])
                for r in parse_kml_bytes(path, blob)
            ]
            yield pd.DataFrame(rows, columns=KML_SCHEMA.fieldNames())

    return binary.select("path", "content").mapInPandas(parse, KML_SCHEMA)


def local_kml_glob(directory: str) -> str:
    return os.path.join(directory, "*.kml")
