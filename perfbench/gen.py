"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory, writes the
workload's input files there and returns a manifest: the input sizes
and the answers the program must produce, derived from how the inputs
were built (never from the program). The same seed gives byte-identical
files. Sizes are fixed per workload so that every seed costs the same
work; only values, shapes and order change with the seed.

Only numpy, pyarrow and the standard library are used here: the
program under test is never imported, so the generator cannot leak
the seed into it or borrow its logic for the expected answers.
"""

from __future__ import annotations

import csv
import json
import math
import os
from html import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- service_areas_etl ------------------------------------------------

#: Fixed sizes of one synthetic RCA scrape, provisional until a real
#: scrape is in the repository. A polygon owns one grid cell, so
#: polygons never overlap and every meter point has at most one owner.
ETL_SIZES = {
    "grid": 24,  # grid x grid cells of CELL degrees
    "certs_with_kml": 40,
    "polys_per_file": 12,
    "patched_certs": 2,  # certificates that also ship a -plss-fix KML
    "patch_polys": 3,
    "orphan_kml_certs": 1,  # KML but no certificates row
    "csv_only_certs": 2,  # certificates row but no KML
    "operators": 1,
    "inactive_listed": 1,
    "inactive_status": 2,
    "duplicate_rows": 3,
    "unparseable_rows": 4,
    "vertices": (64, 128),  # per polygon ring
    "invalid_share": 0.3,
    "html_desc_share": 0.25,
    "unnamed_share": 0.15,  # placemarks whose certificate comes from the file name
    "points": 6000,
}
CELL = 1.0
ORIGIN = (-165.0, 55.0)
INVALID_KINDS = ("unclosed", "clockwise", "duplicate_vertices", "self_intersecting")
STATUSES_INACTIVE = ("Revoked", "Inactive", "Expired")
ORDER_TYPES = (
    "Original Certificate",
    "Service Area Change",
    "Transfer",
    "Name Change",
    "type not set",
)
HTML_DESC_END = "</td> </tr> </table> </td> </tr> </table>"

KML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>\n'
)
KML_TAIL = "</Document></kml>\n"


def _exactly(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """n booleans, exactly round(share * n) of them true, in seeded order."""
    flags = np.zeros(n, dtype=bool)
    flags[: int(round(share * n))] = True
    return rng.permutation(flags)


def _ring(rng: np.random.Generator, cx: float, cy: float, r: float, n: int) -> list:
    """A CCW star-shaped ring around (cx, cy): radius in [r, 1.15 r],
    vertices at evenly spaced angles starting at 0 (n is a multiple of
    4, so the bbox reaches r in all four axis directions)."""
    theta = np.arange(n) * (2.0 * math.pi / n)
    radius = r * (1.0 + 0.15 * rng.random(n))
    xs = np.round(cx + radius * np.cos(theta), 7)
    ys = np.round(cy + radius * np.sin(theta), 7)
    pts = [[float(x), float(y)] for x, y in zip(xs, ys)]
    return pts + [pts[0]]


def _make_invalid(rng: np.random.Generator, ring: list, kind: str) -> list:
    """Damage a closed CCW ring the way scraped KMLs are damaged. None
    of the defects moves the interior near the centre, and no defect
    sits on the right half of the ring, which the +x ray from an
    interior meter point crosses."""
    n = len(ring) - 1
    if kind == "unclosed":
        return ring[:-1]
    if kind == "clockwise":
        return ring[::-1]
    if kind == "duplicate_vertices":
        out = []
        for i, p in enumerate(ring):
            out.append(p)
            if i % 10 == 5 and i < 60:  # six repeated vertices
                out.append(list(p))
        return out
    # self_intersecting: swap two neighbours on the left half, which
    # twists one edge pair into a small bow tie
    i = int(rng.integers(int(n * 0.3), int(n * 0.7)))
    out = [list(p) for p in ring]
    out[i], out[i + 1] = out[i + 1], out[i]
    return out


def _coords(ring: list) -> str:
    return " ".join(f"{x:.7f},{y:.7f},0" for x, y in ring)


def _polygon_xml(ring: list) -> str:
    return (
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        + _coords(ring)
        + "</coordinates></LinearRing></outerBoundaryIs></Polygon>"
    )


def _description(entity: str, html: bool) -> str:
    text = f"Granted to: {entity}"
    if not html:
        return escape(text)
    blob = (
        "<html><body><table><tr><td><table><tr><td>Certificate</td></tr>"
        f"<tr><td>{text}{HTML_DESC_END}</body></html>"
    )
    # the KML stores the HTML escaped; ElementTree unescapes it once
    return escape(blob)


def _kml_file(placemarks: list[tuple[str, str, list[list]]]) -> str:
    """placemarks: (name, escaped description, rings). A placemark with
    several rings is a MultiGeometry."""
    parts = [KML_HEAD]
    for name, desc, rings in placemarks:
        geom = "".join(_polygon_xml(r) for r in rings)
        if len(rings) > 1:
            geom = f"<MultiGeometry>{geom}</MultiGeometry>"
        parts.append(
            f"<Placemark><name>{escape(name)}</name>"
            f"<description>{desc}</description>\n{geom}</Placemark>\n"
        )
    parts.append(KML_TAIL)
    return "".join(parts)


def _entity(rng: np.random.Generator, i: int) -> str:
    words = ("Northern", "Village", "Borough", "Kenai", "Copper", "Tanana", "Bay")
    kinds = ("Electric Cooperative", "Power and Light", "Utilities", "Energy")
    return f"{words[i % len(words)]} {kinds[int(rng.integers(len(kinds)))]} {i}"


def generate_etl(seed: int, out_dir: str) -> dict:
    """Write kml/, certificates.csv, chronology.csv, meters.parquet,
    config.json and edits/ under out_dir; return the manifest."""
    rng = np.random.default_rng([seed, 1])
    s = ETL_SIZES
    os.makedirs(os.path.join(out_dir, "kml"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "edits"), exist_ok=True)

    n_kml = s["certs_with_kml"] + s["orphan_kml_certs"]
    n_all = n_kml + s["csv_only_certs"]
    numbers = [int(x) for x in rng.choice(np.arange(1, 1000), n_all, replace=False)]
    kml_certs = numbers[: s["certs_with_kml"]]
    orphans = numbers[s["certs_with_kml"] : n_kml]
    csv_only = numbers[n_kml:]

    # Roles among the certificates that have both a KML and a CSV row.
    pool = list(kml_certs)
    rng.shuffle(pool)
    take = lambda k: [pool.pop() for _ in range(k)]  # noqa: E731
    operators = take(s["operators"])
    inactive_listed = take(s["inactive_listed"])
    inactive_status = take(s["inactive_status"])
    merge_target, merge_absorbed = take(2)
    patched = take(s["patched_certs"])
    active = [c for c in kml_certs if c not in set(operators + inactive_listed + inactive_status)]

    cells = [(i, j) for i in range(s["grid"]) for j in range(s["grid"])]
    order = rng.permutation(len(cells))
    free_cells = [cells[k] for k in order]

    def next_cell():
        return free_cells.pop()

    n_originals = len(kml_certs) + len(orphans)
    n_files = n_originals + len(patched)
    n_polys = n_originals * s["polys_per_file"] + len(patched) * s["patch_polys"]
    # Fixed multisets, shuffled: every seed writes the same number of
    # vertices, invalid polygons, HTML descriptions, unnamed and split
    # placemarks, so every seed costs the same work.
    lo_v, hi_v = s["vertices"]
    quarters = np.linspace(lo_v // 4, hi_v // 4, n_polys).round().astype(int)
    vertex_counts = list(rng.permutation(4 * quarters))
    invalid = list(_exactly(rng, n_polys, s["invalid_share"]))
    html = list(_exactly(rng, n_files, s["html_desc_share"]))
    unnamed = list(_exactly(rng, n_files, s["unnamed_share"]))
    split = list(_exactly(rng, n_originals, 0.5))
    polygons = []  # dicts: cert, file, centre, radius
    n_invalid = 0
    kml_files: dict[str, list] = {}
    coords_total = 0
    placemarks_total = 0

    def add_file(cert: int, fname: str, n_polys: int) -> None:
        nonlocal n_invalid, coords_total, placemarks_total
        rings = []
        for _ in range(n_polys):
            ci, cj = next_cell()
            cx = ORIGIN[0] + (ci + 0.5) * CELL + float(rng.uniform(-0.05, 0.05))
            cy = ORIGIN[1] + (cj + 0.5) * CELL + float(rng.uniform(-0.05, 0.05))
            r = float(rng.uniform(0.30, 0.38)) * CELL
            ring = _ring(rng, cx, cy, r, int(vertex_counts.pop()))
            if invalid.pop():
                ring = _make_invalid(rng, ring, INVALID_KINDS[n_invalid % len(INVALID_KINDS)])
                n_invalid += 1
            coords_total += len(ring)
            rings.append(ring)
            polygons.append({"cert": cert, "file": fname, "cx": cx, "cy": cy, "r": r})
        desc = _description(_entity(rng, cert), bool(html.pop()))
        name = "" if unnamed.pop() else f"Certificate No. {cert}"
        # one MultiGeometry placemark, or (half the original files) one
        # placemark per polygon
        if not fname.endswith("-plss-fix.kml") and split.pop():
            pms = [(name, desc, [r]) for r in rings]
        else:
            pms = [(name, desc, rings)]
        placemarks_total += len(pms)
        kml_files[fname] = pms

    for cert in kml_certs + orphans:
        add_file(cert, f"{cert}-servicearea.kml", s["polys_per_file"])
    for cert in patched:
        add_file(cert, f"{cert}-servicearea-plss-fix.kml", s["patch_polys"])

    for fname in sorted(kml_files):
        with open(os.path.join(out_dir, "kml", fname), "w", encoding="utf-8") as f:
            f.write(_kml_file(kml_files[fname]))

    # The incremental re-run rewrites one KML: same geometry, a revised
    # description, so every expected answer stays the same.
    edit_cert = sorted(active)[0]
    edit_name = f"{edit_cert}-servicearea.kml"
    revised = [
        (n, d + escape(" (revised)"), rings) for n, d, rings in kml_files[edit_name]
    ]
    with open(os.path.join(out_dir, "edits", edit_name), "w", encoding="utf-8") as f:
        f.write(_kml_file(revised))

    # --- certificates.csv ---
    status = {c: "Active" for c in numbers}
    for k, c in enumerate(inactive_status):
        status[c] = STATUSES_INACTIVE[k % len(STATUSES_INACTIVE)]
    names = {c: f"{_entity(rng, c)} Certificate" for c in numbers}
    rows = []
    for c in kml_certs + csv_only:
        day = int(rng.integers(1, 28))
        blank_date = rng.random() < 0.2
        rows.append(
            [
                str(c),
                "Electric",
                _entity(rng, c),
                names[c],
                "Operator" if c in operators else "Utility",
                status[c],
                f"https://rca.example/cert/{c}",
                f"https://rca.example/entity/{c}",
                "" if blank_date else f"20{10 + c % 14:02d}-0{1 + c % 9}-{day:02d}",
            ]
        )
    # duplicates: a second row per certificate whose name sorts after
    # the original's, so the cleanup keeps the original
    for c in list(rng.choice(kml_certs, s["duplicate_rows"], replace=False)):
        c = int(c)
        rows.append(
            [str(c), "Electric", "Duplicate Entry", names[c] + " (dup)", "Utility",
             "Revoked", f"https://rca.example/cert/{c}/dup", "", ""]
        )
    for k, bad in enumerate(("N/A", "pending", "", "12-A")[: s["unparseable_rows"]]):
        rows.append([bad, "Electric", f"Unknown {k}", f"Unknown {k}", "Utility",
                     "Active", "", "", ""])
    perm = rng.permutation(len(rows))
    with open(os.path.join(out_dir, "certificates.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(
            ["certificate_number", "certificate_type", "entity", "certificate_name",
             "utility_type", "certificate_status", "cpcn_url", "entity_url",
             "kml_update_date"]
        )
        for k in perm:
            w.writerow(rows[k])

    # --- chronology.csv ---
    chron = []
    rows_per_cert = rng.permutation([1 + k % 4 for k in range(len(numbers))])
    for c, n_rows in zip(numbers, rows_per_cert):
        for k in range(int(n_rows)):
            blank = rng.random() < 0.15
            y = 1964 + int(rng.integers(0, 60))
            date = "" if blank else f"{int(rng.integers(1, 13))}/{int(rng.integers(1, 29))}/{y}"
            chron.append(
                [str(c), f"U-{y % 100:02d}-{int(rng.integers(1, 999))}", str(k + 1),
                 date, ORDER_TYPES[int(rng.integers(len(ORDER_TYPES)))], ""]
            )
    with open(os.path.join(out_dir, "chronology.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["certificate_number", "docket_number", "order_id", "order_date",
                    "order_type", "comment"])
        w.writerows(chron)

    config = {
        "operator_ids": sorted(operators),
        "inactive_ids": sorted(inactive_listed),
        "merge_patches": [[merge_target, merge_absorbed]],
    }
    with open(os.path.join(out_dir, "config.json"), "w") as f:
        json.dump(config, f, sort_keys=True)

    # --- expected answers, from the construction above ---
    patched_set = set(patched)
    effective = [
        p for p in polygons
        if p["cert"] not in patched_set or p["file"].endswith("-plss-fix.kml")
    ]
    n_polys = {}
    for p in effective:
        n_polys[p["cert"]] = n_polys.get(p["cert"], 0) + 1
    kept = set(active) - {merge_absorbed}
    survivors = sorted(c for c in kept if c in n_polys)
    owner_of = {}  # polygon index in `polygons` -> owning certificate
    for idx, p in enumerate(polygons):
        if p not in effective:
            continue
        owner = merge_target if p["cert"] == merge_absorbed else p["cert"]
        if owner in kept:
            owner_of[idx] = owner

    # --- meter points ---
    n_pts = s["points"]
    kind_counts = [int(n_pts * 0.6), int(n_pts * 0.1), int(n_pts * 0.15)]
    kinds = rng.permutation(
        np.repeat([0, 1, 2, 3], kind_counts + [n_pts - sum(kind_counts)])
    )
    used = {(int(round((p["cx"] - ORIGIN[0]) / CELL - 0.5)),
             int(round((p["cy"] - ORIGIN[1]) / CELL - 0.5))) for p in polygons}
    empty_cells = [c for c in cells if c not in used]
    owned = sorted(owner_of)
    unowned = [i for i in range(len(polygons)) if i not in owner_of]
    px = np.empty(n_pts)
    py = np.empty(n_pts)
    expected_owner = {}
    for k in range(n_pts):
        kind = int(kinds[k])
        if kind in (0, 1, 2):
            if kind == 0 or (kind == 1 and not unowned):
                idx = owned[int(rng.integers(len(owned)))]
            elif kind == 1:
                idx = unowned[int(rng.integers(len(unowned)))]
            else:
                idx = int(rng.integers(len(polygons)))
            p = polygons[idx]
            if kind == 2:  # inside the bbox, outside the polygon
                sx, sy = rng.choice([-1.0, 1.0], 2)
                px[k] = p["cx"] + sx * p["r"] * float(rng.uniform(0.88, 0.94))
                py[k] = p["cy"] + sy * p["r"] * float(rng.uniform(0.88, 0.94))
            else:
                px[k] = p["cx"] + p["r"] * float(rng.uniform(-0.2, 0.5))
                py[k] = p["cy"] + p["r"] * float(rng.uniform(-0.3, 0.3))
                if idx in owner_of:
                    expected_owner[k] = owner_of[idx]
        else:
            ci, cj = empty_cells[int(rng.integers(len(empty_cells)))]
            px[k] = ORIGIN[0] + (ci + float(rng.uniform(0.05, 0.95))) * CELL
            py[k] = ORIGIN[1] + (cj + float(rng.uniform(0.05, 0.95))) * CELL
    meters = pa.table(
        {
            "meter_id": pa.array(np.arange(n_pts, dtype=np.int64)),
            "px": pa.array(np.round(px, 7)),
            "py": pa.array(np.round(py, 7)),
        }
    )
    pq.write_table(meters, os.path.join(out_dir, "meters.parquet"))

    return {
        "workload": "service_areas_etl",
        "sizes": {
            "kml_files": len(kml_files),
            "kml_placemarks": placemarks_total,
            "kml_polygons": len(polygons),
            "kml_coords": coords_total,
            "invalid_polygons": n_invalid,
            "certificate_rows": len(rows),
            "chronology_rows": len(chron),
            "meter_points": n_pts,
        },
        "config": config,
        "edit_file": edit_name,
        "expected": {
            "n_source_polygons": {str(c): n_polys[c] for c in survivors},
            "geojson_features": len(survivors),
            "owners": {str(k): v for k, v in sorted(expected_owner.items())},
        },
    }


# --- curation_dedup ---------------------------------------------------

#: The substrate's document vocabulary (the same 30 words and the
#: 'dup' marker the reference scales use).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

#: Provisional: the corpus follows the sf0.1 documents (the same
#: vocabulary, 10 to 100 words a document) at 300 rows, not its 5000,
#: because a run reads only its checkout and must fit its share of the
#: benchmark's time budget; four times the rows added about 20 s a run.
CURATION_SIZES = {
    "base_docs": 100,
    "replicas": 3,  # the corpus is base_docs x replicas rows
    "near_dup_share": 0.4,  # of the rows of each extra replica
    "edits": (1, 4),  # token replacements per near duplicate, inclusive
    "words": (10, 100),
    "sources": 20,
}


def generate_curation(seed: int, out_dir: str) -> dict:
    """Write documents.parquet: base documents plus replicas in which a
    stated share of rows are token-edited near duplicates. Document
    lengths, the near-duplicate count and the edits per near duplicate
    are fixed multisets in seeded order, so every seed costs the same."""
    rng = np.random.default_rng([seed, 2])
    s = CURATION_SIZES
    os.makedirs(out_dir, exist_ok=True)
    lo, hi = s["words"]
    n_base = s["base_docs"]
    lengths = np.linspace(lo, hi, n_base).round().astype(int)

    base = [[VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
            for n in rng.permutation(lengths)]
    texts = [" ".join(d) for d in base]
    near_dups = 0
    for _ in range(s["replicas"] - 1):
        is_dup = _exactly(rng, n_base, s["near_dup_share"])
        n_edits = iter(rng.permutation(
            [s["edits"][0] + k % (s["edits"][1] - s["edits"][0] + 1) for k in range(n_base)]))
        for d, dup in zip(base, is_dup):
            if not dup:  # an unrelated document of the same length
                texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), len(d))))
                continue
            toks = list(d)
            for _ in range(int(next(n_edits))):
                toks[int(rng.integers(len(toks)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
            near_dups += 1
    n = len(texts)
    texts = [texts[i] for i in rng.permutation(n)]
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    docs_table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in langs]),
            "source": pa.array([f"src{int(i)}" for i in rng.integers(0, s["sources"], n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs_table, os.path.join(out_dir, "documents.parquet"))
    return {
        "workload": "curation_dedup",
        "sizes": {
            "documents": n,
            "base_documents": n_base,
            "near_duplicates": near_dups,
            "tokens": int(sum(len(t.split()) for t in texts)),
        },
    }


GENERATORS = {
    "service_areas_etl": generate_etl,
    "curation_dedup": generate_curation,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    manifest = GENERATORS[workload](seed, out_dir)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest
