"""Static checks on the repository itself: no Spark session needed.

- Every ``tests/slow_tests.txt`` line names a test function that exists.
  conftest.py marks manifest IDs as slow and silently ignores the rest,
  so a stale line would otherwise go unnoticed.
- The package reads exactly the environment values listed below.
- Every package definition is reached from the engine's entry points,
  or is on ``REACH_ALLOWLIST`` with a reason.
- Each store claims its commits in one place: ``os.link`` only in the
  versioned tables' claim helper, the manifest generation claims only
  in ``sources/fsutil.py``.
"""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import defaultdict

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(TESTS_DIR)
PACKAGE_DIR = os.path.join(REPO_DIR, "utility_service_areas_spark")

# The engine's whole environment surface: the two deployment settings
# (core count, driver heap) and the worker import path session.py
# extends.
ENV_SURFACE = {"PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def test_slow_manifest_names_existing_tests():
    with open(os.path.join(TESTS_DIR, "slow_tests.txt"), encoding="utf-8") as f:
        ids = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    assert ids
    defined: dict[str, set[str]] = {}
    stale = []
    for node_id in ids:
        file_name, _, name = node_id.partition("::")
        path = os.path.join(TESTS_DIR, file_name)
        if path not in defined:
            defined[path] = (
                {n.name for n in _parse(path).body if isinstance(n, ast.FunctionDef)}
                if os.path.isfile(path)
                else set()
            )
        if name.split("[", 1)[0] not in defined[path]:
            stale.append(node_id)
    assert not stale, f"slow_tests.txt names missing tests: {stale}"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_names(path: str) -> set[str]:
    """Names passed to ``os.environ.get``, ``os.environ[...]`` and
    ``os.getenv`` in one module. A module-level string constant is
    resolved; any other non-literal name is reported as ``<dynamic>``."""
    tree = _parse(path)
    consts = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def name_of(arg: ast.AST) -> str:
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        if isinstance(arg, ast.Name) and arg.id in consts:
            return consts[arg.id]
        return f"<dynamic {os.path.basename(path)}:{arg.lineno}>"

    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            names.add(name_of(node.slice))
        elif isinstance(node, ast.Call) and node.args:
            fn = node.func
            env_get = isinstance(fn, ast.Attribute) and fn.attr == "get" and _is_environ(fn.value)
            getenv = (isinstance(fn, ast.Attribute) and fn.attr == "getenv") or (
                isinstance(fn, ast.Name) and fn.id == "getenv"
            )
            if env_get or getenv:
                names.add(name_of(node.args[0]))
    return names


def test_env_surface_is_fixed():
    read = set()
    for root, _, files in os.walk(PACKAGE_DIR):
        for f in files:
            if f.endswith(".py"):
                read |= _env_names(os.path.join(root, f))
    assert read == ENV_SURFACE


@pytest.mark.parametrize(
    "src, want",
    [
        ('import os\nos.environ.get("A", "1")', {"A"}),
        ('import os\nos.environ["B"] = "x"', {"B"}),
        ('import os\nos.getenv("C")', {"C"}),
        ('import os\n_K = "D"\nos.environ.get(_K)', {"D"}),
        ("import os\nk = 'E'.lower()\nos.getenv(k)", {"<dynamic m.py:3>"}),
    ],
    ids=["get", "subscript", "getenv", "module_constant", "dynamic"],
)
def test_env_scan_sees_every_read_form(tmp_path, src, want):
    path = tmp_path / "m.py"
    path.write_text(src)
    assert _env_names(str(path)) == want


# Package definitions that no query, pipeline stage, CLI command,
# bench.py, tools/ script or perfbench workload reaches, kept on
# purpose. Each reason starts with one of three categories:
# - parity: a stage PAPER.md or SURVEY.md §1 cites from the reference
#   pipeline (R/functions.R, index.qmd);
# - reference twin: the simpler implementation the named test compares
#   a reached path against;
# - recovery: fault recovery for a store that reached code writes.
REACH_ALLOWLIST: dict[str, str] = {
    "sources/fetch.py::fetch_assets": "parity: the per-certificate "
    "download fan-out, R/functions.R:84-164",
    "sources/fetch.py::missing_assets": "parity: the download stage's "
    "data/missing-placeholder listing, R/functions.R:100-108",
    "plans/targets.py::service_areas_replay_stages": "parity: the "
    "export re-derived from the reference's committed raw layer and CSV",
    "sources/geojson.py::write_leaflet_map": "parity: index.qmd's "
    "Leaflet map (SURVEY S9)",
    "sources/html_table.py::read_html_tables": "parity: the rvest "
    "html_table scrape, R/functions.R:40-54,251-256 (SURVEY S5)",
    "sources/pdf.py::pdf_metadata": "parity: download_certificate_pdf, "
    "R/functions.R:115-140 (SURVEY S6)",
    "operators/kmeans.py::kmeans_fit_assign": "reference twin: "
    "test_ann_kernels.py::test_kmeans_numpy_path_matches_jvm holds "
    "kmeans_fit_assign_np to it",
    "functions/textops.py::shingles": "reference twin: "
    "test_r18_fixes.py::test_shingle_sql_matches_column_builders holds "
    "shingles_sql to it",
    "functions/textops.py::minhash_col": "reference twin: "
    "test_r17_perf.py::test_minhash_signatures_match_explode_groupby_reference "
    "holds minhash_signatures to it",
    "functions/hashing.py::simhash64_py": "reference twin: "
    "test_dedup.py::test_simhash_batch_matches_reference_kernel holds "
    "simhash_batch to it",
    "functions/spacefill.py::hilbert_index_scalar": "reference twin: "
    "test_spacefill.py::test_hilbert_vectorized_matches_scalar_reference "
    "holds hilbert_index to it",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` could refer to a definition by: names,
    attribute names, imported names and identifier-shaped strings (the
    registry and getattr-style dispatch name functions by string)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _is_query(decorator: ast.expr) -> bool:
    fn = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(fn, ast.Name) and fn.id == "query") or (
        isinstance(fn, ast.Attribute) and fn.attr == "query"
    )


def _reach_report(pkg_dir: str, entry_files: list[str], allow: dict[str, str]):
    """(unreached, bad_allow) for the top-level definitions of every
    module under ``pkg_dir``, keyed ``"module/path.py::name"``.

    Roots are the @query functions, every module's top-level statements
    other than imports, every name in ``entry_files`` and the allowlist.
    A reached definition reaches every definition whose name its body
    mentions, in any module; this over-approximates, so a definition
    used through a local import or a by-name lookup is never reported.
    ``bad_allow`` lists the allowlist entries that name no definition
    or that the other roots already reach."""
    body: dict[str, set[str]] = {}
    seeds: set[str] = set()
    queries = set()
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
        module = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{module}::{node.name}"
                body[key] = _names(node)
                if any(_is_query(d) for d in node.decorator_list):
                    queries.add(key)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                seeds |= _names(node)
    for path in entry_files:
        seeds |= _names(_parse(path))
    by_name = defaultdict(set)
    for key in body:
        by_name[key.split("::", 1)[1]].add(key)

    def reach(extra: set[str]) -> set[str]:
        todo = [*queries, *extra, *(k for n in seeds for k in by_name[n])]
        seen: set[str] = set()
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo.extend(k for n in body[key] for k in by_name[n])
        return seen

    allowed = set(allow) & set(body)
    unreached = sorted(set(body) - reach(allowed))
    stale = {k for k in allowed if k in reach(allowed - {k})}
    return unreached, sorted(stale | (set(allow) - set(body)))


def _entry_files() -> list[str]:
    perfbench = glob.glob(os.path.join(REPO_DIR, "perfbench", "*.py"))
    return [
        os.path.join(PACKAGE_DIR, "__main__.py"),
        os.path.join(REPO_DIR, "__spark_entry__.py"),
        os.path.join(REPO_DIR, "bench.py"),
        *glob.glob(os.path.join(REPO_DIR, "tools", "*.py")),
        *(p for p in perfbench if not os.path.basename(p).startswith("test_")),
    ]


def test_package_code_is_reached():
    unreached, bad_allow = _reach_report(PACKAGE_DIR, _entry_files(), REACH_ALLOWLIST)
    assert not unreached, f"package code no entry point reaches: {unreached}"
    assert not bad_allow, f"allowlist entries missing or already reached: {bad_allow}"


@pytest.mark.parametrize(
    "module, entry, allow, want",
    [
        (
            "def run():\n    return _helper()\n\n\ndef _helper():\n    return 1\n",
            "from pkg.m import run\nrun()\n",
            {},
            ([], []),
        ),
        ('@query("q")\ndef q(spark, sf):\n    return 1\n', "", {}, ([], [])),
        (
            '@query("q")\ndef q(spark, sf):\n    return globals()["_impl"]()\n\n\n'
            "def _impl():\n    return 1\n",
            "",
            {},
            ([], []),
        ),
        ('KERNELS = {"a": _a}\n\n\ndef _a():\n    return 1\n', "", {}, ([], [])),
        (
            "def dead():\n    return _inner()\n\n\ndef _inner():\n    return 1\n",
            "",
            {},
            (["m.py::_inner", "m.py::dead"], []),
        ),
        ("def twin():\n    return 1\n", "", {"m.py::twin": "reference twin"}, ([], [])),
        (
            '@query("q")\ndef q(spark, sf):\n    return kept()\n\n\ndef kept():\n    return 1\n',
            "",
            {"m.py::kept": "reference twin"},
            ([], ["m.py::kept"]),
        ),
        ("", "", {"m.py::gone": "parity"}, ([], ["m.py::gone"])),
    ],
    ids=[
        "helper_of_reached_def",
        "query_decorator",
        "string_dispatch",
        "module_level_code",
        "unreached_reported",
        "allowlisted_kept",
        "stale_allowlist_entry",
        "missing_allowlist_entry",
    ],
)
def test_reach_scan_follows_every_root_and_edge(tmp_path, module, entry, allow, want):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(module)
    (tmp_path / "entry.py").write_text(entry)
    assert _reach_report(str(pkg), [str(tmp_path / "entry.py")], allow) == want


# Who may call each commit primitive: a call outside its owner is a
# second, hand-written copy of a store's commit protocol.
COMMIT_OWNERS = {
    "os.link": {"sources/versioned.py::_claim_version"},
    "claim_generation": {"sources/fsutil.py::commit_manifest"},
    "clear_generation_markers": {
        "sources/fsutil.py::commit_manifest",
        "sources/fsutil.py::commit_overwrite",
    },
}


def _call_sites(pkg_dir: str, names: set[str]) -> dict[str, set[str]]:
    """For each name in ``names`` (``f`` or a dotted ``mod.f``), the
    ``"module/path.py::top-level definition"`` keys whose code calls
    it; a call in module-level code is keyed ``::<module>``."""
    sites: dict[str, set[str]] = defaultdict(set)
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
        module = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
        for top in _parse(path).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                if isinstance(fn, ast.Name):
                    called = {fn.id}
                elif isinstance(fn, ast.Attribute):
                    called = {fn.attr}
                    if isinstance(fn.value, ast.Name):
                        called.add(f"{fn.value.id}.{fn.attr}")
                else:
                    continue
                for name in called & names:
                    sites[name].add(f"{module}::{owner}")
    return sites


def test_each_store_commits_through_one_helper():
    sites = _call_sites(PACKAGE_DIR, set(COMMIT_OWNERS))
    stray = {
        name: sorted(where - COMMIT_OWNERS[name])
        for name, where in sites.items()
        if where - COMMIT_OWNERS[name]
    }
    assert not stray, f"commit primitives called outside their helper: {stray}"
    assert dict(sites) == COMMIT_OWNERS  # each helper still calls its primitive


def test_call_site_scan_sees_every_call_form(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import os\n"
        "from x import claim_generation\n"
        "def a():\n    os.link('s', 'd')\n"
        "class B:\n    def c(self):\n        fsutil.claim_generation(1, 2)\n"
        "claim_generation(3, 4)\n"
        "def d():\n    link('s', 'd')\n"
    )
    assert _call_sites(str(pkg), {"os.link", "claim_generation"}) == {
        "os.link": {"m.py::a"},
        "claim_generation": {"m.py::B", "m.py::<module>"},
    }
