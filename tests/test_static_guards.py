"""Static checks on the repository itself: no Spark session needed.

- Every ``tests/slow_tests.txt`` line names a test function that exists.
  conftest.py marks manifest IDs as slow and silently ignores the rest,
  so a stale line would otherwise go unnoticed.
- The package reads exactly the environment values listed below.
- Every package definition is reached from the engine's entry points,
  or is on ``REACH_ALLOWLIST`` with a reason.
- Every switch (a defaulted parameter of a top-level package function
  that an ``if``, conditional expression or ``while`` in that function
  tests) is set to a non-default value by some non-test caller, or is
  on ``SWITCH_ALLOWLIST`` with a reason. A switch only tests set keeps
  a branch alive that no run of the engine takes.
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


def _package_files(pkg_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True))


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
    for path in _package_files(pkg_dir):
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


# Switches (defaulted parameters that pick a branch) that no package
# code, CLI command, bench.py, tools/ script or perfbench workload sets,
# kept on purpose. Each reason starts with one of three categories:
# - parity: a knob of a stage the reference pipeline has;
# - test seam: a value a test injects in place of a side effect or a
#   plan cut, naming the test;
# - recovery: fault recovery for a store that reached code writes.
SWITCH_ALLOWLIST: dict[str, str] = {
    "plans/service_areas.py::build_service_areas(assume_disjoint)": "parity: "
    "False is the reference's st_union dissolve, R/functions.R:431",
    "sources/geojson.py::write_leaflet_map(multi)": "parity: index.qmd's "
    "Leaflet map over the MULTIPOLYGON export (SURVEY S9)",
    "sources/geojson.py::write_leaflet_map(communities)": "parity: "
    "index.qmd's community pin layer (SURVEY S9)",
    "sources/fetch.py::fetch_assets(link_resolver)": "test seam: "
    "test_fetch.py::test_two_step_fetch_and_missing_placeholder replaces "
    "the certificate-page link scrape",
    "sources/fetch.py::fetch_assets(existing)": "test seam: "
    "test_fetch.py::test_cached_short_circuit injects the cached set",
    "sources/fetch.py::fetch_assets(fanout)": "test seam: "
    "test_fetch.py::test_retry_then_success_and_permanent_error keeps its "
    "flaky counter in one worker",
    "operators/dedup.py::minhash_verified_pairs(cut_lineage)": "test seam: "
    "test_plans.py::test_minhash_verified_semi_filters_before_pair_join "
    "reads the uncut plan",
    "sources/versioned.py::vacuum(dry_run)": "test seam: "
    "test_versioned_sink.py::test_versioned_vacuum_spares_dir_with_fresh_inner_file "
    "reads the plan without deleting",
    "operators/vector_index.py::add_to_ivfpq_index(txn_id)": "recovery: "
    "exactly-once replay of a torn add, "
    "test_vector_index.py::test_vector_torn_add_invisible_and_retry_exactly_once",
}


def _switches(pkg_dir: str) -> dict[str, tuple[str, str, int | None, str]]:
    """Every switch of every top-level function under ``pkg_dir``, keyed
    ``"module/path.py::function(param)"``, as (function, param,
    positional index or None for keyword-only, default's source text).
    A switch is a defaulted parameter whose name appears in the test of
    an ``if``, a conditional expression or a ``while`` in its function."""
    out = {}
    for path in _package_files(pkg_dir):
        module = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
        for fn in _parse(path).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            tested = {
                n.id
                for node in ast.walk(fn)
                if isinstance(node, (ast.If, ast.IfExp, ast.While))
                for n in ast.walk(node.test)
                if isinstance(n, ast.Name)
            }
            a = fn.args
            positional = [*a.posonlyargs, *a.args]
            first = len(positional) - len(a.defaults)
            defaulted = [
                (p, first + i, d) for i, (p, d) in enumerate(zip(positional[first:], a.defaults))
            ] + [(p, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p, index, default in defaulted:
                if p.arg in tested:
                    key = f"{module}::{fn.name}({p.arg})"
                    out[key] = (fn.name, p.arg, index, ast.unparse(default))
    return out


def _set_switches(switches: dict, caller_files: list[str]) -> set[str]:
    """The switches some call in ``caller_files`` passes a value other
    than the default: by keyword with other source text, by position, or
    through ``*args``/``**kwargs``. A call names its function as ``f()``
    or ``x.f()``, or through a same-file alias (``g = f``, ``self._g =
    f``); like the reach scan it matches by name in any module."""
    by_fn: dict[str, list[str]] = defaultdict(list)
    for key, (fn, *_rest) in switches.items():
        by_fn[fn].append(key)

    def name(node: ast.AST) -> str | None:
        return getattr(node, "id", None) or getattr(node, "attr", None)

    found = set()
    for path in caller_files:
        tree = _parse(path)
        alias = defaultdict(set)
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and name(node.value) in by_fn:
                for t in node.targets:
                    alias[name(t)].add(name(node.value))
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            starred = [i for i, arg in enumerate(call.args) if isinstance(arg, ast.Starred)]
            for fn in {name(call.func)} | alias.get(name(call.func), set()):
                for key in by_fn.get(fn, ()):
                    _fn, param, index, default = switches[key]
                    if (
                        any(kw.arg is None for kw in call.keywords)
                        or any(
                            kw.arg == param and ast.unparse(kw.value) != default
                            for kw in call.keywords
                        )
                        or (index is not None and len(call.args) > index)
                        or (index is not None and starred and starred[0] <= index)
                    ):
                        found.add(key)
    return found


def _switch_report(pkg_dir: str, caller_files: list[str], allow: dict[str, str]):
    """(unset, bad_allow): the switches no caller sets and that are off
    the allowlist, and the allowlist entries that name no switch or
    that a caller already sets."""
    switches = _switches(pkg_dir)
    found = _set_switches(switches, caller_files)
    unset = sorted(set(switches) - found - set(allow))
    return unset, sorted((set(allow) - set(switches)) | (set(allow) & found))


def test_package_switches_are_set():
    unset, bad_allow = _switch_report(
        PACKAGE_DIR, _package_files(PACKAGE_DIR) + _entry_files(), SWITCH_ALLOWLIST
    )
    assert not unset, f"switches only tests set (one value in use): {unset}"
    assert not bad_allow, f"switch allowlist entries missing or already set: {bad_allow}"
    assert all(
        r.startswith(("parity", "test seam", "recovery")) for r in SWITCH_ALLOWLIST.values()
    )


_SWITCHED = "def f(x, flag=False, *, mode='a'):\n    if flag:\n        return 1\n    return 2 if mode == 'a' else 3\n"


@pytest.mark.parametrize(
    "caller, allow, want",
    [
        ("f(1, flag=True, mode='b')\n", {}, ([], [])),
        ("f(1, flag=False, mode='a')\n", {}, (["m.py::f(flag)", "m.py::f(mode)"], [])),
        ("m.f(1, True, mode='b')\n", {}, ([], [])),
        ("f(*args, mode='b')\n", {}, ([], [])),
        ("f(1, **kw)\n", {}, ([], [])),
        ("g = f\ng(1, True)\nself._h = f\nself._h(1, mode='b')\n", {}, ([], [])),
        ("f(1, mode='b')\n", {"m.py::f(flag)": "test seam"}, ([], [])),
        ("f(1, True, mode='b')\n", {"m.py::f(flag)": "test seam"}, ([], ["m.py::f(flag)"])),
        ("f(1, True, mode='b')\n", {"m.py::f(gone)": "parity"}, ([], ["m.py::f(gone)"])),
    ],
    ids=[
        "keyword",
        "default_text_unset",
        "positional_attribute_call",
        "star_args",
        "star_star_kwargs",
        "same_file_alias",
        "allowlisted_kept",
        "stale_allowlist_entry",
        "missing_allowlist_entry",
    ],
)
def test_switch_scan_sees_every_call_form(tmp_path, caller, allow, want):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(_SWITCHED)
    (tmp_path / "caller.py").write_text(caller)
    assert _switch_report(str(pkg), [str(tmp_path / "caller.py")], allow) == want


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
    for path in _package_files(pkg_dir):
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
