"""End-to-end test of the reference pipeline re-expression: KML
fixtures → cleaned/patched service areas → GeoJSON round trip; plus
the HTML-table source (parity: the full _targets.R flow).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from utility_service_areas_spark.functions.geometry import (
    polygon_area,
    st_make_valid,
    st_union_multi,
)
from utility_service_areas_spark.operators.localrel import local_df
from utility_service_areas_spark.operators.relational import (
    filter_active_utilities,
    tag_entities,
)
from utility_service_areas_spark.plans.service_areas import (
    CERT_NUM_RE,
    build_raw_service_areas,
    build_service_areas,
    certificate_metadata,
    enrich_chronology,
    replay_service_areas_from_raw,
)
from utility_service_areas_spark.sources.geojson import read_geojson, write_geojson
from utility_service_areas_spark.sources.html_table import read_html_tables
from utility_service_areas_spark.sources.kml import read_kml

KML_TMPL = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>{placemarks}</Document></kml>
"""

PM_TMPL = """<Placemark><name>{name}</name><description>{desc}</description>
{geom}</Placemark>"""


def _poly(x0, y0, w, h):
    c = f"{x0},{y0},0 {x0+w},{y0},0 {x0+w},{y0+h},0 {x0},{y0+h},0 {x0},{y0},0"
    return (
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        + c
        + "</coordinates></LinearRing></outerBoundaryIs></Polygon>"
    )


def _write_kml(path, name, desc, geoms):
    pm = PM_TMPL.format(name=name, desc=desc, geom="".join(geoms))
    path.write_text(KML_TMPL.format(placemarks=pm))


@pytest.fixture()
def kml_dir(tmp_path):
    d = tmp_path / "kml"
    d.mkdir()
    # cert 8: MultiGeometry (two polygons)
    _write_kml(
        d / "8-servicearea.kml",
        "Certificate No. 8",
        "Granted to: Chugach Electric Association",
        [_poly(0, 0, 4, 3), _poly(10, 0, 2, 2)],
    )
    # cert 169: original (should be ignored: a patch exists)
    _write_kml(
        d / "169-servicearea.kml",
        "Certificate No. 169",
        "Granted to: AVEC",
        [_poly(0, 0, 1, 1)],
    )
    # cert 169: PLSS patch (preferred), no placemark name
    _write_kml(d / "169-servicearea-plss-fix.kml", "", "", [_poly(20, 20, 6, 6)])
    # cert 61: absorbed into 169 by merge patch
    _write_kml(
        d / "61-servicearea.kml",
        "Certificate No. 61",
        "Granted to: Teller",
        [_poly(40, 40, 2, 2)],
    )
    # cert 520: operator (excluded)
    _write_kml(
        d / "520-servicearea.kml",
        "Certificate No. 520",
        "Granted to: Aurora Energy",
        [_poly(50, 50, 3, 3)],
    )
    # cert 59: listed inactive (excluded)
    _write_kml(
        d / "59-servicearea.kml",
        "Certificate No. 59",
        "Granted to: Defunct Co",
        [_poly(60, 60, 3, 3)],
    )
    return str(d)


@pytest.fixture()
def certificates(spark):
    schema = StructType(
        [
            StructField("certificate_number", DoubleType()),
            StructField("entity", StringType()),
            StructField("certificate_name", StringType()),
            StructField("certificate_status", StringType()),
            StructField("cpcn_url", StringType()),
            StructField("kml_update_date", DateType()),
        ]
    )
    rows = [
        (8.0, "Chugach", "Chugach Electric Association", "Active", "http://rca/8", dt.date(2020, 1, 1)),
        (169.0, "AVEC", "Alaska Village Electric Cooperative", "Active", "http://rca/169", dt.date(2001, 1, 1)),
        (61.0, "Teller", "Teller Power", "Active", "http://rca/61", dt.date(1999, 1, 1)),
        (520.0, "Aurora", "Aurora Energy LLC", "Active", "http://rca/520", None),
        (59.0, "Defunct", "Defunct Co", "Active", "http://rca/59", None),
        (99.0, "Gone", "Inactive Co", "Revoked", "http://rca/99", None),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def chronology(spark):
    rows = [
        (8.0, "U-80-1", "1", "6/1/1980", "Original Certificate", ""),
        (8.0, "U-13-9", "5", "1/25/2013", "Service Area Change", ""),
        (169.0, "U-70-2", "1", "3/1/1970", "Original Certificate", ""),
        (169.0, "U-02-7", "3", "3/26/2002", "Service Area Change", ""),
        (61.0, "U-65-4", "1", "2/1/1965", "Original Certificate", ""),
    ]
    return spark.createDataFrame(
        rows,
        ["certificate_number", "docket_number", "order_id", "order_date", "order_type", "comment"],
    )


def test_read_kml_rows(spark, kml_dir):
    df = read_kml(spark, kml_dir)
    rows = df.collect()
    assert len(rows) == 7  # 6 files, one with 2 polygons
    by_name = [r for r in rows if r.placemark_name == "Certificate No. 8"]
    assert len(by_name) == 2
    assert polygon_area(by_name[0].geometry) in (12.0, 4.0)


def _spark_work_during(spark, fn):
    """Run ``fn()``; return (its result, the number of Spark jobs it
    launched, the plan-node names of every SQL execution it ran).
    Waits for the listener bus on both sides, since the status stores
    fill from it."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    jobs = spark.sparkContext._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()

    def last_ids():
        js, ex = jobs.jobsList(None), sql.executionsList()
        return (
            max((js.apply(i).jobId() for i in range(js.size())), default=-1),
            max((ex.apply(i).executionId() for i in range(ex.size())), default=-1),
        )

    bus.waitUntilEmpty()
    job0, exec0 = last_ids()
    result = fn()
    bus.waitUntilEmpty()
    js, ex = jobs.jobsList(None), sql.executionsList()
    n_jobs = sum(1 for i in range(js.size()) if js.apply(i).jobId() > job0)
    names = []
    for i in range(ex.size()):
        eid = ex.apply(i).executionId()
        if eid > exec0:
            nodes = sql.planGraph(eid).allNodes()
            names.extend(nodes.apply(k).name() for k in range(nodes.size()))
    return result, n_jobs, names


def test_read_kml_lists_a_large_directory_without_a_job(spark, tmp_path):
    """40 KMLs, past Spark's 32-path parallel-listing threshold: a
    ``dir/*.kml`` glob expands to 40 root paths and launches a listing
    job of 40 tasks; one directory root with ``pathGlobFilter`` is
    listed by the driver. The files the glob left out (an editor
    backup, a nested directory) stay out."""
    d = tmp_path / "kml"
    d.mkdir()
    for c in range(1, 41):
        _write_kml(d / f"{c}-servicearea.kml", f"Certificate No. {c}", "", [_poly(c, 0, 1, 1)])
    _write_kml(d / "41-servicearea.kml.orig", "Certificate No. 41", "", [_poly(0, 0, 1, 1)])
    (d / "old").mkdir()
    _write_kml(d / "old" / "42-servicearea.kml", "Certificate No. 42", "", [_poly(0, 0, 1, 1)])

    kml, n_jobs, _ = _spark_work_during(spark, lambda: read_kml(spark, str(d)))
    assert n_jobs == 0
    names = sorted(r.placemark_name for r in kml.collect())
    assert names == sorted(f"Certificate No. {c}" for c in range(1, 41))


def test_read_kml_repairs_rings(spark, tmp_path):
    """read_kml runs make_valid in its parse worker: an unclosed,
    clockwise ring with a repeated vertex comes back closed and
    counter-clockwise without the duplicate."""
    d = tmp_path / "kml"
    d.mkdir()
    _write_kml(
        d / "8-servicearea.kml",
        "Certificate No. 8",
        "Granted to: Chugach",
        [_ring_poly([(0, 0), (0, 3), (0, 3), (4, 3), (4, 0)])],
    )
    [row] = read_kml(spark, str(d)).collect()
    assert row.geometry == [[[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0], [0.0, 0.0]]]


def test_html_wrapped_kml_description(spark, tmp_path):
    """Doyon-style escaped-HTML description (parity
    R/functions.R:229-246): sliced to the 'Granted to:' span and
    unescaped; a plain duplicate field keeps the first occurrence."""
    d = tmp_path / "kml"
    d.mkdir()
    html_desc = (
        "&lt;html xmlns:fo=&quot;x&quot;&gt; &lt;body&gt; &lt;table&gt; "
        "&lt;tr&gt; &lt;td&gt;"
        "Granted to: Doyon Utilities &amp;lt;LLC&amp;gt; "
        "&lt;/td&gt; &lt;/tr&gt; &lt;/table&gt; "
        "&lt;/td&gt; &lt;/tr&gt; &lt;/table&gt; "
        "&lt;/td&gt; &lt;/tr&gt; &lt;/table&gt; &lt;/body&gt; &lt;/html&gt;"
    )
    # ET unescapes the XML entities once: the description TEXT starts
    # with "<html" and contains "&lt;"-escaped runs — the reference's
    # exact input shape.
    _write_kml(d / "190-servicearea.kml", "Certificate No. 190", html_desc, [_poly(0, 0, 1, 1)])
    # plain description passes through untouched
    _write_kml(d / "8-servicearea.kml", "Certificate No. 8", "Granted to: Chugach", [_poly(0, 0, 1, 1)])
    rows = {r.placemark_name: r.description for r in read_kml(spark, str(d)).collect()}
    assert rows["Certificate No. 190"] == "Granted to: Doyon Utilities <LLC>"
    assert rows["Certificate No. 8"] == "Granted to: Chugach"


def test_raw_layer_keeps_everything(spark, kml_dir, certificates):
    raw = build_raw_service_areas(read_kml(spark, kml_dir), certificates)
    got = {r.certificate_number: r.n_source_polygons for r in raw.collect()}
    # raw layer: no filtering, patch files keep their parsed cert too
    assert got[8.0] == 2 and 520.0 in got and 59.0 in got


def test_cleaned_patched_pipeline(spark, kml_dir, certificates, chronology):
    out = build_service_areas(
        read_kml(spark, kml_dir),
        certificates,
        chronology,
        operator_ids=[520],
        inactive_ids=[59],
        merge_patches=[(169, 61)],
    ).collect()
    by_cert = {r.certificate_number: r for r in out}
    # operators, listed-inactive, non-Active, and absorbed certs excluded
    assert set(by_cert) == {8.0, 169.0}
    # cert 8: both polygons, up-to-date (KML 2020 >= last order 2013)
    r8 = by_cert[8.0]
    assert len(r8.geometry) == 2
    assert r8.geometry_cert_sync_status == "up_to_date"
    assert r8.certificate_granted_year == 1980
    assert r8.certificate_last_update_order == "U-13-9(5)"
    # cert 169: patch polygon (not the original) + absorbed cert 61
    r169 = by_cert[169.0]
    areas = sorted(polygon_area(p) for p in r169.geometry)
    assert areas == [4.0, 36.0]  # 61's 2x2 and the patch 6x6; original 1x1 gone
    # KML (2001) older than last order (2002) → outdated
    assert r169.geometry_cert_sync_status == "outdated"


def test_geojson_round_trip(spark, kml_dir, certificates, chronology, tmp_path):
    out = build_service_areas(
        read_kml(spark, kml_dir), certificates, chronology, [520], [59], [(169, 61)]
    )
    path = str(tmp_path / "service-areas.geojson")
    write_geojson(out, path, multi=True)
    fc = json.loads(open(path).read())
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 2
    props = {f["properties"]["certificate_number"] for f in fc["features"]}
    assert props == {8.0, 169.0}
    back = read_geojson(spark, path)
    # MultiPolygon features flatten to one row per polygon: 2 + 2
    assert back.count() == 4
    assert back.filter(F.col("geom_type") == "MultiPolygon").count() == 4


def test_html_table_source(spark, tmp_path):
    html = """<html><body>
    <table class="RCAGrid"><tr><th>Certificate Number</th><th>Entity</th></tr>
    <tr><td>8</td><td>Chugach <b>Electric</b></td></tr>
    <tr><td>169</td><td>AVEC</td></tr></table>
    <table class="other"><tr><td>noise</td></tr></table>
    </body></html>"""
    p = tmp_path / "page.html"
    p.write_text(html)
    df = read_html_tables(spark, str(p))
    grid = df.filter(F.col("table_class") == "RCAGrid").orderBy("row_idx").collect()
    assert [r.cells for r in grid] == [
        ["Certificate Number", "Entity"],
        ["8", "Chugach Electric"],
        ["169", "AVEC"],
    ]
    assert df.filter(F.col("table_class") == "other").count() == 1


def test_leaflet_map_from_pipeline(spark, kml_dir, certificates, chronology, tmp_path):
    """End of the reference pipeline (index.qmd): the cleaned layer
    exports to one self-contained interactive map whose inlined
    FeatureCollection matches the GeoJSON export exactly."""
    import re

    from utility_service_areas_spark.sources.geojson import write_leaflet_map

    out = build_service_areas(
        read_kml(spark, kml_dir), certificates, chronology, [520], [59], [(169, 61)]
    )
    path = str(tmp_path / "service-areas.html")
    write_leaflet_map(out, path, multi=True)
    html = open(path).read()
    m = re.search(r"const areas = (\{.*?\});\n", html, re.DOTALL)
    fc = json.loads(m.group(1))
    assert {f["properties"]["certificate_number"] for f in fc["features"]} == {
        8.0,
        169.0,
    }
    # popup properties carry the chronology metadata the map displays
    props = fc["features"][0]["properties"]
    assert "geometry_cert_sync_status" in props
    # presentation parity (index.qmd:140-192): base-layer control + scale bar
    assert "L.control.layers" in html and "L.control.scale" in html


# --- value pin for the single-scan KML stages ---------------------------
# The implementation before st_make_valid moved into the parse worker
# and the two self-joins (patch preference, acquisition merge) became
# aggregates, kept here as the reference the current code must match.


def _ref_kml_with_cert(kml):
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    df = kml.withColumn(
        "certificate_number",
        F.nullif(
            F.regexp_extract(
                F.coalesce(F.nullif(F.col("placemark_name"), F.lit("")), basename),
                CERT_NUM_RE,
                1,
            ),
            F.lit(""),
        ).cast("double"),
    ).withColumn("is_patch", F.col("path").contains("-plss-fix"))
    has_patch = df.groupBy("certificate_number").agg(
        F.max(F.col("is_patch").cast("int")).alias("any_patch")
    )
    return (
        df.join(F.broadcast(has_patch), "certificate_number")
        .filter(F.col("is_patch") | (F.col("any_patch") == 0))
        .drop("any_patch")
    )


def _ref_combine_by_certificate(kml):
    valid = kml.withColumn("geometry", st_make_valid(F.col("geometry")))
    return valid.groupBy("certificate_number").agg(
        F.collect_list("geometry").alias("geometry"),
        F.count(F.lit(1)).alias("n_source_polygons"),
    )


def _ref_build_raw_service_areas(spark, kml_dir, certificates):
    kml = read_kml(spark, kml_dir).withColumn(
        "certificate_number",
        F.nullif(
            F.regexp_extract(F.col("placemark_name"), CERT_NUM_RE, 1), F.lit("")
        ).cast("double"),
    )
    combined = _ref_combine_by_certificate(
        kml.filter(F.col("certificate_number").isNotNull())
    )
    return combined.join(F.broadcast(certificates), "certificate_number", "inner")


def _ref_merge(spark, combined, merge_patches):
    if not merge_patches:
        return combined
    patch_df = local_df(spark, merge_patches, ["cert1", "cert2"])
    acquired = (
        combined.join(
            F.broadcast(patch_df),
            combined.certificate_number == patch_df.cert2,
        )
        .groupBy(F.col("cert1").alias("certificate_number"))
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("cert2").alias("c2"),
                                F.col("geometry").alias("g"),
                            )
                        )
                    ),
                    lambda s: s["g"],
                )
            ).alias("acq_geometry")
        )
    )
    combined = (
        combined.join(F.broadcast(acquired), "certificate_number", "left")
        .withColumn(
            "geometry",
            F.when(
                F.col("acq_geometry").isNotNull(),
                F.concat(F.col("geometry"), F.col("acq_geometry")),
            ).otherwise(F.col("geometry")),
        )
        .drop("acq_geometry")
    )
    absorbed = [c2 for _, c2 in merge_patches]
    return combined.filter(~F.col("certificate_number").isin(absorbed))


def _ref_active(certificates, operator_ids, inactive_ids):
    return filter_active_utilities(
        tag_entities(certificates, "certificate_number", operator_ids),
        "certificate_number",
        inactive_ids,
        F.col("certificate_status") == "Active",
    )


def _ref_build_service_areas(
    spark, kml_dir, certificates, chronology, operator_ids, inactive_ids,
    merge_patches, assume_disjoint=True,
):
    """The reference's per-certificate (certificate_number,
    n_source_polygons, geometry); the metadata join is shared code."""
    certs = _ref_active(certificates, operator_ids, inactive_ids)
    combined = _ref_combine_by_certificate(_ref_kml_with_cert(read_kml(spark, kml_dir)))
    combined = _ref_merge(spark, combined, merge_patches)
    if merge_patches and not assume_disjoint:
        combined = combined.withColumn(
            "geometry",
            F.when(
                F.col("certificate_number").isin([c1 for c1, _ in merge_patches]),
                st_union_multi(F.col("geometry")),
            ).otherwise(F.col("geometry")),
        )
    meta = certificate_metadata(certs, enrich_chronology(chronology))
    return combined.join(F.broadcast(meta), "certificate_number", "inner").select(
        "certificate_number", "n_source_polygons", "geometry"
    )


def _ref_replay_service_areas_from_raw(
    raw_layer, certificates, operator_ids, inactive_ids, merge_patches
):
    certs = _ref_active(certificates, operator_ids, inactive_ids)
    combined = _ref_merge(raw_layer.sparkSession, raw_layer, merge_patches)
    return combined.join(F.broadcast(certs), "certificate_number", "inner").select(
        F.col("certificate_number").cast("int").alias("certificate_number"),
        "n_source_polygons",
        "geometry",
    )


def _ring_poly(outer, *holes):
    """A Polygon element with the rings written exactly as given
    (unclosed, clockwise, repeated vertices and all)."""

    def ring(pts):
        c = " ".join(f"{x},{y},0" for x, y in pts)
        return f"<LinearRing><coordinates>{c}</coordinates></LinearRing>"

    inner = "".join(f"<innerBoundaryIs>{ring(h)}</innerBoundaryIs>" for h in holes)
    return f"<Polygon><outerBoundaryIs>{ring(outer)}</outerBoundaryIs>{inner}</Polygon>"


# (169, 61) and (169, 285): one cert1 absorbing two certificates;
# (8, 61): a cert2 absorbed by two owners; (77, 300): a cert1 with no
# KML (300 is dropped as a cert2 and 77 has no row of its own);
# (8, 999): a cert2 with no KML.
PIN_MERGES = [(169, 61), (169, 285), (8, 61), (77, 300), (8, 999)]


@pytest.fixture()
def pin_kml_dir(tmp_path):
    d = tmp_path / "kml"
    d.mkdir()
    # cert 8: a clockwise outer ring with a counter-clockwise hole, a
    # ring with duplicate vertices, and a degenerate ring make_valid drops
    _write_kml(
        d / "8-servicearea.kml",
        "Certificate No. 8",
        "Granted to: Chugach",
        [
            _ring_poly([(0, 0), (0, 4), (4, 4), (4, 0), (0, 0)],
                       [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]),
            _ring_poly([(10, 0), (10, 0), (12, 0), (12, 2), (12, 2), (10, 2), (10, 0)]),
            _ring_poly([(20, 0), (21, 0), (20, 0)]),
        ],
    )
    # cert 169: the original is dropped for its -plss-fix patch, whose
    # placemark is unnamed (certificate from the file name) and whose
    # ring is unclosed
    _write_kml(d / "169-servicearea.kml", "Certificate No. 169", "AVEC", [_poly(0, 0, 1, 1)])
    _write_kml(
        d / "169-servicearea-plss-fix.kml",
        "",
        "",
        [_ring_poly([(20, 20), (26, 20), (26, 26), (20, 26)]), _poly(30, 20, 2, 2)],
    )
    # 61 overlaps the 169 patch, so the assume_disjoint=False dissolve
    # has work to do
    _write_kml(d / "61-servicearea.kml", "Certificate No. 61", "Teller", [_poly(25, 25, 3, 3)])
    _write_kml(
        d / "285-servicearea.kml",
        "Certificate No. 285",
        "Kotzebue",
        [_ring_poly([(40, 40), (40, 43), (43, 43), (43, 40), (40, 40)]), _poly(50, 40, 1, 1)],
    )
    _write_kml(d / "300-servicearea.kml", "Certificate No. 300", "Absorbed", [_poly(60, 60, 2, 2)])
    _write_kml(d / "412-servicearea.kml", "Certificate No. 412", "Untouched", [_poly(70, 70, 2, 2)])
    return str(d)


@pytest.fixture()
def pin_certificates(spark):
    rows = [
        (float(c), f"E{c}", f"Entity {c}", "Active", f"http://rca/{c}", dt.date(2020, 1, 1))
        for c in (8, 61, 77, 169, 285, 300, 412, 999)
    ]
    return spark.createDataFrame(
        rows,
        "certificate_number double, entity string, certificate_name string, "
        "certificate_status string, cpcn_url string, kml_update_date date",
    )


def _blocks(rows):
    """certificate -> (n_source_polygons, own polygons as a sorted
    multiset, the acquired block in order). Own polygons come in task
    order, so only their multiset is pinned."""
    return {
        r.certificate_number: (
            r.n_source_polygons,
            sorted(r.geometry[: r.n_source_polygons]),
            r.geometry[r.n_source_polygons :],
        )
        for r in rows
    }


def test_kml_stages_match_the_self_join_reference(
    spark, pin_kml_dir, pin_certificates, chronology
):
    kml = read_kml(spark, pin_kml_dir)
    raw = build_raw_service_areas(kml, pin_certificates)
    raw_ref = _ref_build_raw_service_areas(spark, pin_kml_dir, pin_certificates)
    assert raw.columns == raw_ref.columns
    assert _blocks(raw.collect()) == _blocks(raw_ref.collect())

    rest = (pin_certificates, chronology, [], [], PIN_MERGES)
    got = _blocks(build_service_areas(kml, *rest).collect())
    assert got == _blocks(_ref_build_service_areas(spark, pin_kml_dir, *rest).collect())
    assert set(got) == {8.0, 169.0, 412.0}
    # 169: its patch's two polygons, then 61's one and 285's two
    assert got[169.0][0] == 2 and len(got[169.0][2]) == 3
    # 8: two repaired polygons plus the emptied degenerate ring, then 61
    assert got[8.0][0] == 3 and len(got[8.0][2]) == 1

    def merged(rows):
        return {r.certificate_number: (r.n_source_polygons, sorted(r.geometry)) for r in rows}

    got = merged(build_service_areas(kml, *rest, assume_disjoint=False).collect())
    ref = merged(
        _ref_build_service_areas(spark, pin_kml_dir, *rest, assume_disjoint=False).collect()
    )
    assert got == ref
    areas = sum(polygon_area(p) for p in got[169.0][1])
    assert areas < 36 + 4 + 9 + 9 + 1  # the 61/169 overlap dissolved

    # the replay from a committed raw layer shares the acquisition merge
    layer = raw.select("certificate_number", "geometry", "n_source_polygons")
    args = (layer, pin_certificates, [], [412], PIN_MERGES)
    got = _blocks(replay_service_areas_from_raw(*args).collect())
    assert got == _blocks(_ref_replay_service_areas_from_raw(*args).collect())
    assert set(got) == {8, 169}
