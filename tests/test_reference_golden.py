"""Golden-file parity with the reference's COMMITTED REAL DATA
(VERDICT r13 task #3 — the one cheap real-data check available in this
sandbox: no network needed, the files ship in the reference checkout).

- /root/reference/rca_electric_certificates_2025-12-11.csv is the real
  scrape output of fetch_certificates_list (R/functions.R:23-75):
  170 data rows, 8 columns. Our certificates source must parse it,
  clean it (numeric-parse + dedupe-first + blank-fill), and reproduce
  the file's actual facts — a schema drift in the real CSV surfaces
  here before a user hits it.
- /root/reference/service-areas.geojson is the pipeline's final export
  (R/functions.R:500-562): 108 MultiPolygon features carrying exactly
  the 11 exported property fields; service-areas-raw.geojson is the
  pre-cleanup layer (130 features, the certificate-list schema).

Facts below were measured from the files themselves (round 14) and are
pinned as constants so any regression in OUR parsers — or a silent
swap of the reference data — fails loudly.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from utility_service_areas_spark.sources.certificates import (
    CERTIFICATES_CSV_SCHEMA,
    clean_certificates,
    read_certificates_csv,
)
from utility_service_areas_spark.sources.geojson import read_geojson

REF_CSV = "/root/reference/rca_electric_certificates_2025-12-11.csv"
REF_GEOJSON = "/root/reference/service-areas.geojson"
REF_GEOJSON_RAW = "/root/reference/service-areas-raw.geojson"

_MISSING = [p for p in (REF_CSV, REF_GEOJSON, REF_GEOJSON_RAW) if not os.path.exists(p)]
if _MISSING:
    pytest.skip(
        f"reference data files not found ({', '.join(_MISSING)}): "
        "reference-golden parity cannot be verified in this sandbox",
        allow_module_level=True,
    )

# R/functions.R:505-516 select + renames + the :521 sync-status mutate
EXPORTED_FIELDS = {
    "certificate_number",
    "entity",
    "certificate_name",
    "certificate_url",
    "certificate_granted_year",
    "certificate_last_update_date",
    "certificate_last_update_order",
    "certificate_last_update_type",
    "geometry_last_update",
    "geometry_is_current",
    "geometry_cert_sync_status",
}


def test_real_certificates_csv_parses_and_cleans_exact(spark):
    raw = read_certificates_csv(spark, REF_CSV)
    assert raw.columns == [f.name for f in CERTIFICATES_CSV_SCHEMA.fields]
    assert raw.count() == 170  # header + 170 data rows

    cleaned = clean_certificates(raw)
    # every real certificate number parses; all 170 are distinct, so
    # dedupe-first keeps every row
    assert cleaned.count() == 170
    assert cleaned.select("certificate_number").distinct().count() == 170
    # blank-fill: no nulls anywhere after cleanup; the file's single
    # genuinely-empty cell survives as ''
    text_cols = [c for c in cleaned.columns if c != "certificate_number"]
    nulls = cleaned.select(
        [
            F.sum(F.col(c).isNull().cast("int")).alias(c)
            for c in cleaned.columns
        ]
    ).collect()[0]
    assert all(v == 0 for v in nulls.asDict().values()), nulls
    n_blank = cleaned.select(
        sum(
            (F.col(c) == "").cast("int") for c in text_cols
        ).alias("b")
    ).agg(F.sum("b")).collect()[0][0]
    assert n_blank == 1
    # the real population facts the downstream filters depend on
    # (certificates_csv_df_cleaned keeps Active Electric rows)
    status = dict(
        (r["certificate_status"], r["n"])
        for r in cleaned.groupBy("certificate_status")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert status == {"Active": 128, "Inactive": 42}
    utypes = {
        r["utility_type"]
        for r in cleaned.select("utility_type").distinct().collect()
    }
    assert utypes == {"Electric"}


def test_real_service_areas_geojson_schema_and_counts(spark):
    df = read_geojson(spark, REF_GEOJSON)
    rows = df.collect()
    feats = {}
    for r in rows:
        feats.setdefault(r.feature_idx, []).append(r)
    assert len(feats) == 108  # exported features (R pipeline output)
    assert {r.geom_type for r in rows} == {"MultiPolygon"}

    props = [json.loads(rs[0].properties_json) for rs in feats.values()]
    # exactly the R/functions.R:505-516 exported field list, on EVERY
    # feature
    for p in props:
        assert set(p) == EXPORTED_FIELDS
    # one feature per certificate (group-combine collapsed multi-KML
    # certificates upstream)
    certs = [p["certificate_number"] for p in props]
    assert len(set(certs)) == 108
    assert all(isinstance(c, int) for c in certs)
    # 3-state sync status (R/functions.R:490-498), consistent with the
    # boolean it derives from
    for p in props:
        cur, sync = p["geometry_is_current"], p["geometry_cert_sync_status"]
        want = (
            "unknown"
            if cur is None
            else ("up_to_date" if cur else "outdated")
        )
        assert sync == want
    # coordinate order sanity: every vertex is [lon, lat] in Alaska's
    # latitude band (a swapped order puts 'lat' at 130-220 or < 0)
    stats = (
        df.select(F.explode("geometry").alias("ring"))
        .select(F.explode("ring").alias("pt"))
        .agg(
            F.min(F.element_at("pt", 2)).alias("lat_min"),
            F.max(F.element_at("pt", 2)).alias("lat_max"),
        )
        .collect()[0]
    )
    assert 50.0 <= stats.lat_min <= stats.lat_max <= 72.5


def test_real_raw_geojson_carries_certificate_list_schema(spark):
    df = read_geojson(spark, REF_GEOJSON_RAW)
    rows = df.select("feature_idx", "properties_json").distinct().collect()
    assert len(rows) == 130  # pre-cleanup layer: one row per raw feature
    csv_cols = set(f.name for f in CERTIFICATES_CSV_SCHEMA.fields)
    for r in rows:
        assert set(json.loads(r.properties_json)) == csv_cols


def test_exported_certificates_exist_in_real_csv(spark):
    """The inner join the reference performs (metadata ⋈ geometry,
    R/functions.R:186-189,480-486): every certificate in the final
    GeoJSON must exist in the certificates CSV, and must be Active
    Electric there (the certificates_csv_df_cleaned filter)."""
    cleaned = clean_certificates(read_certificates_csv(spark, REF_CSV))
    # float keys, NOT int: the real file carries both CPCN 18 (Active)
    # and CPCN 18.1 (Inactive) — int() would collapse them and
    # misattribute 18.1's status to 18 (caught writing this test)
    csv_rows = {
        float(r["certificate_number"]): r["certificate_status"]
        for r in cleaned.collect()
    }
    gj = read_geojson(spark, REF_GEOJSON)
    certs = {
        json.loads(r.properties_json)["certificate_number"]
        for r in gj.select("feature_idx", "properties_json")
        .distinct()
        .collect()
    }
    missing = certs - set(csv_rows)
    assert not missing, f"exported certs absent from the CSV: {missing}"
    not_active = {c for c in certs if csv_rows[c] != "Active"}
    assert not not_active, f"exported certs not Active: {not_active}"
