"""Memoized pipeline runs ({targets} tar_make parity — VERDICT r11
task #3): unchanged run is a no-op; editing one input recomputes
exactly its cone of the DAG, pinned by output file mtimes and by the
rebuilt rows reflecting the edit."""

from __future__ import annotations

import glob
import os
from pathlib import Path

import pytest

from tests.test_sources_pipeline import _poly, _write_kml, _spark_work_during

CERT_CSV = """certificate_number,certificate_type,entity,certificate_name,utility_type,certificate_status,cpcn_url,entity_url,kml_update_date
8,Electric,Chugach,Chugach Electric Association,Utility,Active,http://rca/8,,2020-01-01
169,Electric,AVEC,Alaska Village Electric Cooperative,Utility,Active,http://rca/169,,2001-01-01
61,Electric,Teller,Teller Power,Utility,Active,http://rca/61,,1999-01-01
520,Electric,Aurora,Aurora Energy LLC,Utility,Active,http://rca/520,,
59,Electric,Defunct,Defunct Co,Utility,Active,http://rca/59,,
99,Electric,Gone,Inactive Co,Utility,Revoked,http://rca/99,,
"""

CHRON_CSV = """certificate_number,docket_number,order_id,order_date,order_type,comment
8,U-80-1,1,6/1/1980,Original Certificate,
8,U-13-9,5,1/25/2013,Service Area Change,
169,U-70-2,1,3/1/1970,Original Certificate,
169,U-02-7,3,3/26/2002,Service Area Change,
61,U-65-4,1,2/1/1965,Original Certificate,
"""


@pytest.fixture()
def pipeline_inputs(tmp_path):
    kml = tmp_path / "kml"
    kml.mkdir()
    _write_kml(
        kml / "8-servicearea.kml",
        "Certificate No. 8",
        "Granted to: Chugach",
        [_poly(0, 0, 4, 3), _poly(10, 0, 2, 2)],
    )
    _write_kml(
        kml / "169-servicearea.kml",
        "Certificate No. 169",
        "Granted to: AVEC",
        [_poly(0, 0, 1, 1)],
    )
    certs = tmp_path / "certificates.csv"
    certs.write_text(CERT_CSV)
    chron = tmp_path / "chronology.csv"
    chron.write_text(CHRON_CSV)
    return str(kml), str(certs), str(chron), str(tmp_path / "store")


def _stages(kml, certs, chron):
    from utility_service_areas_spark.plans.targets import service_areas_stages

    return service_areas_stages(kml, certs, chron, [520], [59], [])


def _mtimes(store, stage):
    return {
        p: os.path.getmtime(p)
        for p in sorted(glob.glob(os.path.join(store, stage, "*")))
    }


def test_unchanged_rerun_is_noop_and_edit_rebuilds_cone(
    spark, pipeline_inputs
):
    from utility_service_areas_spark.plans.targets import run_pipeline

    kml, certs, chron, store = pipeline_inputs

    r1 = run_pipeline(spark, _stages(kml, certs, chron), store)
    assert r1 == {
        "certificates": "built",
        "chronology": "built",
        "raw_service_areas": "built",
        "service_areas": "built",
    }
    out1 = {
        r.certificate_number: r.certificate_last_update_order
        for r in spark.read.parquet(os.path.join(store, "service_areas")).collect()
    }
    assert out1[8.0] == "U-13-9(5)"

    # unchanged rerun: every stage skipped, no output file touched
    before = {s: _mtimes(store, s) for s in r1}
    r2 = run_pipeline(spark, _stages(kml, certs, chron), store)
    assert set(r2.values()) == {"skipped"}
    assert {s: _mtimes(store, s) for s in r1} == before

    # edit ONE input (chronology): only its cone rebuilds —
    # certificates and the raw layer (which doesn't read chronology)
    # stay served from the store
    with open(chron, "a") as f:
        f.write("8,U-23-1,2,5/5/2023,Service Area Change,\n")
    r3 = run_pipeline(spark, _stages(kml, certs, chron), store)
    assert r3 == {
        "certificates": "skipped",
        "chronology": "built",
        "raw_service_areas": "skipped",
        "service_areas": "built",
    }
    assert _mtimes(store, "certificates") == before["certificates"]
    assert _mtimes(store, "raw_service_areas") == before["raw_service_areas"]
    out3 = {
        r.certificate_number: r.certificate_last_update_order
        for r in spark.read.parquet(os.path.join(store, "service_areas")).collect()
    }
    assert out3[8.0] == "U-23-1(2)"  # the edit flowed through

    # config is part of the stage key: new merge_patches rebuilds the
    # cleaned layer only
    from utility_service_areas_spark.plans.targets import (
        service_areas_stages,
    )

    r4 = run_pipeline(
        spark,
        service_areas_stages(kml, certs, chron, [520], [59], [(8, 169)]),
        store,
    )
    assert r4["service_areas"] == "built"
    assert r4["certificates"] == "skipped"


def test_force_rebuilds_everything(spark, pipeline_inputs):
    from utility_service_areas_spark.plans.targets import run_pipeline

    kml, certs, chron, store = pipeline_inputs
    run_pipeline(spark, _stages(kml, certs, chron), store)
    r = run_pipeline(spark, _stages(kml, certs, chron), store, incremental=False)
    assert set(r.values()) == {"built"}


def test_build_code_participates_in_stage_key(spark, tmp_path):
    """Code-review r12 ({targets} parity): tar_make re-runs a target
    whose COMMAND changed — editing a stage's build function must
    invalidate it even with byte-identical inputs."""
    from utility_service_areas_spark.plans.targets import Stage, run_pipeline

    inp = tmp_path / "in.csv"
    inp.write_text("a\n1\n")
    store = str(tmp_path / "store")

    def build_v1(spark_, _deps):
        return spark_.read.csv(str(inp), header=True)

    def build_v2(spark_, _deps):
        return spark_.read.csv(str(inp), header=True).withColumnRenamed("a", "b")

    r1 = run_pipeline(spark, [Stage("s", build_v1, inputs=(str(inp),))], store)
    r2 = run_pipeline(spark, [Stage("s", build_v1, inputs=(str(inp),))], store)
    r3 = run_pipeline(spark, [Stage("s", build_v2, inputs=(str(inp),))], store)
    assert (r1["s"], r2["s"], r3["s"]) == ("built", "skipped", "built")
    import os

    assert spark.read.parquet(os.path.join(store, "s")).columns == ["b"]


def test_callee_edit_invalidates_stage_key(spark, tmp_path):
    """r13 ADVICE fix: the stage key hashes the build fn's TRANSITIVE
    first-party callees ({targets} hashes a command's function deps),
    so a bug fix in a helper the build calls — via a closure cell
    here, the same mechanism service_areas_stages uses for
    clean_certificates / build_service_areas — rebuilds the stage
    even with byte-identical inputs and an unchanged build body."""
    from utility_service_areas_spark.plans.targets import Stage, run_pipeline

    inp = tmp_path / "in.csv"
    inp.write_text("a\n1\n")
    store = str(tmp_path / "store")

    def make_build(helper):
        def build(spark_, _deps):
            return helper(spark_.read.csv(str(inp), header=True))

        return build

    def helper_v1(df):
        return df

    def helper_v2(df):
        return df.withColumnRenamed("a", "b")

    r1 = run_pipeline(
        spark, [Stage("s", make_build(helper_v1), inputs=(str(inp),))], store
    )
    r2 = run_pipeline(
        spark, [Stage("s", make_build(helper_v1), inputs=(str(inp),))], store
    )
    r3 = run_pipeline(
        spark, [Stage("s", make_build(helper_v2), inputs=(str(inp),))], store
    )
    assert (r1["s"], r2["s"], r3["s"]) == ("built", "skipped", "built")
    import os

    assert spark.read.parquet(os.path.join(store, "s")).columns == ["b"]


def test_forward_dep_is_a_loud_error(spark, tmp_path):
    import pytest

    from utility_service_areas_spark.plans.targets import Stage, run_pipeline

    def nop(spark_, _deps):
        raise AssertionError("must not build")

    stages = [
        Stage("late", nop, deps=("early",)),
        Stage("early", nop),
    ]
    with pytest.raises(ValueError, match="declared earlier"):
        run_pipeline(spark, stages, str(tmp_path / "store"))


def test_kml_stages_read_and_parse_the_directory_once(spark, pipeline_inputs):
    """Building and writing all four stages scans the KML directory
    once and crosses into Python once, in total: both KML stages
    build from one shared parse, the parse worker also repairs the
    polygons, and neither the patch preference nor the acquisition
    merge re-reads the KMLs through a self-join."""
    from utility_service_areas_spark.plans.targets import (
        run_pipeline,
        service_areas_stages,
    )

    kml, certs, chron, store = pipeline_inputs
    stages = service_areas_stages(kml, certs, chron, [520], [59], [(8, 169), (8, 61)])
    report, _, names = _spark_work_during(spark, lambda: run_pipeline(spark, stages, store))
    assert set(report.values()) == {"built"}
    counts = {
        "Scan binaryFile": sum(n.startswith("Scan binaryFile") for n in names),
        "MapInPandas": names.count("MapInPandas"),
        "ArrowEvalPython": names.count("ArrowEvalPython"),
    }
    assert counts == {"Scan binaryFile": 1, "MapInPandas": 1, "ArrowEvalPython": 0}, names


def test_kml_edit_between_runs_rebuilds_both_kml_stages(spark, pipeline_inputs):
    """Editing one KML between two runs in one session rebuilds
    exactly the two KML stages, and both read the edited polygons:
    each run parses the directory afresh, never an earlier run's
    parse."""
    from utility_service_areas_spark.plans.targets import run_pipeline

    kml, certs, chron, store = pipeline_inputs
    run_pipeline(spark, _stages(kml, certs, chron), store)
    # cert 8: two polygons become one 5x5 square elsewhere
    _write_kml(
        Path(kml) / "8-servicearea.kml",
        "Certificate No. 8",
        "Granted to: Chugach",
        [_poly(100, 100, 5, 5)],
    )
    report = run_pipeline(spark, _stages(kml, certs, chron), store)
    assert report == {
        "certificates": "skipped",
        "chronology": "skipped",
        "raw_service_areas": "built",
        "service_areas": "built",
    }
    square = [[[100.0, 100.0], [105.0, 100.0], [105.0, 105.0], [100.0, 105.0], [100.0, 100.0]]]
    for stage in ("raw_service_areas", "service_areas"):
        rows = {
            r.certificate_number: r
            for r in spark.read.parquet(os.path.join(store, stage)).collect()
        }
        assert (rows[8.0].n_source_polygons, rows[8.0].geometry) == (1, [square]), stage
        assert rows[169.0].n_source_polygons == 1, stage
