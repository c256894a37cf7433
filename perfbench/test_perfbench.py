"""Tests for the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from gen import GENERATORS, generate  # noqa: E402
from metrics import (  # noqa: E402
    BENCHMARK,
    FIRST_PASS_LAYER,
    MOVES,
    REPORT_ONLY_UNITS,
    SELF_TIME_LAYERS,
)
from spans import Span, Tracer, _parse_metric_string, self_times  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    m1 = generate(workload, 11, str(tmp_path / "a"))
    m2 = generate(workload, 11, str(tmp_path / "b"))
    assert m1 == m2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_other_seed_changes_values_not_sizes(tmp_path, workload):
    m1 = generate(workload, 11, str(tmp_path / "a"))
    m2 = generate(workload, 12, str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert m1["sizes"] == m2["sizes"]


def test_benchmark_json_matches_metric_definitions():
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(GENERATORS)
    per_layer = {m["name"] for m in BENCHMARK["per_layer"]}
    assert per_layer == set(MOVES)
    assert set(SELF_TIME_LAYERS.values()) | set(FIRST_PASS_LAYER) <= per_layer
    targets = {m["name"] for m in BENCHMARK["end_to_end"]} | set(REPORT_ONLY_UNITS)
    assert {moves for moves, _workload in MOVES.values()} <= targets
    assert all(m["better"] == "lower" for m in BENCHMARK["end_to_end"])
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("pass", "bench", 0.0, 10.0, None, "p1"),
        Span("a", "plans", 1.0, 4.0, 0, "p1"),
        Span("b", "engine", 3.0, 6.0, 0, "p1"),  # overlaps a: union 1..6
        Span("c", "engine", 2.0, 3.0, 1, "p1"),  # inside a
        Span("other", "bench", 0.0, 5.0, None, "p2"),
    ]
    own = self_times(spans, {"p1"})
    assert own["bench"] == pytest.approx(10.0 - 5.0)
    assert own["plans"] == pytest.approx(3.0 - 1.0)
    assert own["engine"] == pytest.approx(3.0 + 1.0)
    assert self_times(spans)["bench"] == pytest.approx(5.0 + 5.0)


def test_tracer_records_parents_and_disabled_records_nothing():
    tr = Tracer(enabled=True)
    tr.run_id = "r"
    with tr.span("outer", "bench"):
        with tr.span("inner", "plans"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("outer", None, "r"), ("inner", 0, "r")]
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    off = Tracer(enabled=False)
    with off.span("x", "bench"):
        pass
    assert off.spans == []


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,234", 1234.0),
        ("950 ms", 0.95),
        ("2.5 s", 2.5),
        ("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 3072.0),
    ],
)
def test_metric_string_parsing(text, value):
    assert _parse_metric_string(text) == pytest.approx(value)


def test_etl_expected_owners_follow_the_geometry(tmp_path):
    """The generator's meter owners agree with a ray cast against the
    repaired surviving polygons, computed here without Spark."""
    pytest.importorskip("utility_service_areas_spark")
    import pyarrow.parquet as pq

    from utility_service_areas_spark.functions.geometry import make_valid, point_in_polygon
    from utility_service_areas_spark.sources.kml import parse_kml_bytes

    m = generate("service_areas_etl", 5, str(tmp_path))
    survivors = {int(c) for c in m["expected"]["n_source_polygons"]}
    target, absorbed = m["config"]["merge_patches"][0]
    kml_dir = tmp_path / "kml"
    files = sorted(os.listdir(kml_dir))
    patched = {f.split("-")[0] for f in files if f.endswith("-plss-fix.kml")}
    polys = []
    for f in files:
        if f.split("-")[0] in patched and not f.endswith("-plss-fix.kml"):
            continue
        cert = int(f.split("-")[0])
        owner = target if cert == absorbed else cert
        if owner not in survivors:
            continue
        for row in parse_kml_bytes(f, (kml_dir / f).read_bytes()):
            poly = make_valid(row["geometry"])
            xs = [pt[0] for pt in poly[0]]
            ys = [pt[1] for pt in poly[0]]
            polys.append((owner, poly, min(xs), max(xs), min(ys), max(ys)))
    meters = pq.read_table(tmp_path / "meters.parquet").to_pylist()
    want = m["expected"]["owners"]
    for p in meters:
        x, y = p["px"], p["py"]
        hits = [
            c for c, poly, x0, x1, y0, y1 in polys
            if x0 <= x <= x1 and y0 <= y <= y1 and point_in_polygon(x, y, poly)
        ]
        assert hits == ([want[str(p["meter_id"])]] if str(p["meter_id"]) in want else [])
