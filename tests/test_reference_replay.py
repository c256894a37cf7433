"""END-TO-END replay of the reference's export from its COMMITTED
real inputs (VERDICT r14 task #1... task #2): drive the repo's
memoized stage pipeline over /root/reference's shipped raw layer +
scraped CSV and diff the derivable subset feature-by-feature against
the shipped final export.

Derivability map (established empirically against the real files and
pinned below):
- feature SET: fully derivable (active/operator/inactive filters +
  acquisition absorption) EXCEPT the four PLSS-built features
  (289/741/765/767 — their geometry comes from live PLSS query URLs,
  _targets.R plss_patches; network, not committed);
- geometry BYTES: exact for the 98 features the reference neither
  PLSS-patched nor merged; the four PLSS-patched geometries
  (365/395/412/635) differ by construction (patched from the same
  live URLs); the two merge targets (169, 8) went through s2
  st_union in R (coordinates renumbered) — pinned by planar-AREA
  parity and polygon accounting instead;
- properties: entity / certificate_name / certificate_url derivable
  for every shared feature; the chronology-derived fields
  (certificate_granted_year, certificate_last_update_*,
  geometry_last_update, geometry_is_current,
  geometry_cert_sync_status) are NOT derivable — the chronology
  scrape is not committed (pinned: they exist in the export and are
  absent from the replay output).

Reference parity: generate_and_export_geojson R/functions.R:420-562,
filter_certificates_csv R/functions.R:194-228, config lists
_targets.R (operator_ids / inactive_ids / merge_patches).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

REF_CSV = "/root/reference/rca_electric_certificates_2025-12-11.csv"
REF_RAW = "/root/reference/service-areas-raw.geojson"
REF_OUT = "/root/reference/service-areas.geojson"

_MISSING = [p for p in (REF_CSV, REF_RAW, REF_OUT) if not os.path.exists(p)]
if _MISSING:
    pytest.skip(
        f"reference data files not found ({', '.join(_MISSING)}): "
        "reference-golden parity cannot be verified in this sandbox",
        allow_module_level=True,
    )

# _targets.R config, verbatim
OPERATOR_IDS = [785, 549, 573, 780, 640, 749, 521, 760, 742, 345, 520, 735, 710]
INACTIVE_IDS = [59, 71, 91, 121, 523]
MERGE_PATCHES = [
    (169, 61),
    (169, 285),
    (169, 688),
    (169, 407),
    (169, 43),
    (169, 729),
    (8, 121),
]

PLSS_BUILT = {289, 741, 765, 767}  # features created from live PLSS URLs
PLSS_PATCHED = {365, 395, 412, 635}  # geometries replaced from live URLs
MERGE_TARGETS = {169, 8}  # s2-union output: area-pinned, not byte-pinned

NON_DERIVABLE_FIELDS = {
    "certificate_granted_year",
    "certificate_last_update_date",
    "certificate_last_update_order",
    "certificate_last_update_type",
    "geometry_last_update",
    "geometry_is_current",
    "geometry_cert_sync_status",
}


def _export_features():
    fc = json.load(open(REF_OUT))
    return {
        int(f["properties"]["certificate_number"]): f for f in fc["features"]
    }


def _raw_features():
    fc = json.load(open(REF_RAW))
    return {
        float(f["properties"]["certificate_number"]): f
        for f in fc["features"]
    }


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    from utility_service_areas_spark.plans.targets import (
        run_pipeline,
        service_areas_replay_stages,
    )

    store = str(tmp_path_factory.mktemp("replay_store"))
    stages = service_areas_replay_stages(
        REF_RAW, REF_CSV, OPERATOR_IDS, INACTIVE_IDS, MERGE_PATCHES
    )
    report = run_pipeline(spark, stages, store)
    assert set(report.values()) == {"built"}
    # memoization holds on real inputs: a second run rebuilds nothing
    report2 = run_pipeline(spark, stages, store)
    assert set(report2.values()) == {"skipped"}
    rows = spark.read.parquet(f"{store}/service_areas_replay").collect()
    return {int(r.certificate_number): r for r in rows}


def test_replay_feature_set_is_export_minus_plss_built(replay):
    exported = set(_export_features())
    derived = set(replay)
    assert PLSS_BUILT <= exported  # the 4 network-built features exist
    assert derived == exported - PLSS_BUILT
    assert len(derived) == 104 and len(exported) == 108


def test_replay_geometry_byte_exact_for_unpatched_features(replay):
    """98 of 108 exported features must reproduce coordinate-for-
    coordinate from the committed raw layer."""
    out = _export_features()
    byte_certs = set(replay) - PLSS_PATCHED - MERGE_TARGETS
    assert len(byte_certs) == 98
    mismatch = []
    for c in sorted(byte_certs):
        ours = [
            [[list(pt) for pt in ring] for ring in poly]
            for poly in replay[c].geometry
        ]
        theirs = out[c]["geometry"]["coordinates"]
        if json.dumps(ours) != json.dumps(theirs):
            mismatch.append(c)
    assert mismatch == []


def test_replay_plss_patched_geometries_differ_as_documented(replay):
    """The reference replaced these four geometries from live PLSS
    query URLs — if the raw layer ever starts matching the export
    here, the patch became derivable and this map must be updated."""
    out = _export_features()
    for c in sorted(PLSS_PATCHED):
        ours = [
            [[list(pt) for pt in ring] for ring in poly]
            for poly in replay[c].geometry
        ]
        assert json.dumps(ours) != json.dumps(
            out[c]["geometry"]["coordinates"]
        ), c


def test_replay_merge_targets_area_and_polygon_accounting(replay):
    """The s2 union renumbers coordinates, so the merge targets pin
    on planar area (computed by OUR shoelace on BOTH sides) and on
    polygon accounting: cert 169's absorption is disjoint (44 + 6
    polygons survive in the export verbatim-count), cert 8's
    absorbed ML&P area overlapped CEA's (s2 dissolved 5 -> 3 polys,
    area within 3e-6 relative of the disjoint concat)."""
    from utility_service_areas_spark.functions.geometry import polygon_area

    out = _export_features()

    def area(coords):
        return sum(polygon_area(p) for p in coords)

    # cert 169: disjoint absorb — counts equal, areas equal to s2
    # snap-rounding noise
    ours169 = [list(p) for p in replay[169].geometry]
    theirs169 = out[169]["geometry"]["coordinates"]
    assert len(ours169) == 50 and len(theirs169) == 50
    a_o, a_t = area(ours169), area(theirs169)
    assert abs(a_o - a_t) / a_t < 1e-6

    # cert 8: overlapping absorb — concat keeps 5 polys, s2 dissolved
    # to 3; the double-counted overlap is < 3e-6 of the area
    ours8 = [list(p) for p in replay[8].geometry]
    theirs8 = out[8]["geometry"]["coordinates"]
    assert len(ours8) == 5 and len(theirs8) == 3
    a_o, a_t = area(ours8), area(theirs8)
    assert a_o >= a_t  # concat can only double-count
    assert abs(a_o - a_t) / a_t < 3e-6


def test_replay_properties_match_export(replay):
    out = _export_features()
    for c, r in replay.items():
        p = out[c]["properties"]
        # cert 45's entity is the CSV's single empty cell:
        # clean_certificates normalizes blanks to '' while R's NA
        # exports as JSON null — same absent value, two spellings
        assert (r.entity or None) == p["entity"], c
        assert r.certificate_name == p["certificate_name"], c
        assert r.certificate_url == p["certificate_url"], c
        assert isinstance(c, int)  # export writes integer cert numbers


def test_chronology_fields_documented_non_derivable(replay):
    """The export carries 7 chronology-derived fields; the committed
    inputs cannot produce them, and the replay honestly omits them
    instead of fabricating values."""
    out = _export_features()
    sample = next(iter(out.values()))["properties"]
    assert NON_DERIVABLE_FIELDS <= set(sample)
    row_fields = set(next(iter(replay.values())).asDict())
    assert row_fields & NON_DERIVABLE_FIELDS == set()


def test_replay_filters_account_for_every_raw_drop():
    """Every raw feature absent from the export is explained by
    exactly the replayed rules: operator pseudo-areas, curated
    inactive ids, Inactive status, or acquisition absorption."""
    raw = _raw_features()
    exported = {float(c) for c in _export_features()}
    absorbed = {float(c2) for _c1, c2 in MERGE_PATCHES}
    for c, f in raw.items():
        if c in exported:
            continue
        props = f["properties"]
        explained = (
            c in {float(x) for x in OPERATOR_IDS}
            or c in {float(x) for x in INACTIVE_IDS}
            or props["certificate_status"] != "Active"
            or c in absorbed
        )
        assert explained, (c, props["certificate_status"])
