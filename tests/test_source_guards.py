"""Source-level guards: one pin policy, and a packaged zip that matches kgx/."""

import ast
import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _sources():
    yield from sorted((ROOT / "kgx").rglob("*.py"))
    yield from sorted((ROOT / "jobs").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def _calls_and_params(path):
    """(enclosing function, call attribute) for every ``x.attr(...)`` call
    and (function, parameter) for every parameter in ``path``."""
    calls, params = [], []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            name = getattr(node, "name", "<lambda>")
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                params.append((name, arg.arg))
            fn = name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            calls.append((fn, node.func.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text(), str(path)), None)
    return calls, params


def test_local_checkpoint_only_inside_plan_materialize():
    """Every pin goes through ``kgx.functions.plan.materialize``, so the
    pin policy (and its lost-executor trade-off) lives in one function."""
    sites = []
    for path in _sources():
        calls, _ = _calls_and_params(path)
        rel = path.relative_to(ROOT).as_posix()
        sites += [(rel, fn) for fn, attr in calls if attr == "localCheckpoint"]
    assert sites == [("kgx/functions/plan.py", "materialize")]


def test_no_per_call_pin_switches():
    """Pins are unconditional and the newest SCD2 run is read from the
    log: no function takes a ``materialize`` switch, the
    ``assume_distinct`` hint or a caller-supplied ``n_runs``."""
    banned = {"materialize", "assume_distinct", "n_runs"}
    found = []
    for path in _sources():
        _, params = _calls_and_params(path)
        rel = path.relative_to(ROOT).as_posix()
        found += [(rel, fn, p) for fn, p in params if p in banned]
    assert found == []


def test_dist_zip_matches_kgx_sources():
    """``dist/kgx.zip`` (the ``--py-files`` bundle) holds exactly the bytes
    of ``kgx/**/*.py``; rebuild it with ``python tools/package.py``."""
    with zipfile.ZipFile(ROOT / "dist" / "kgx.zip") as z:
        packed = {n: z.read(n) for n in z.namelist()}
    sources = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "kgx").rglob("*.py")
    }
    assert sorted(packed) == sorted(sources)
    stale = sorted(n for n in sources if packed[n] != sources[n])
    assert stale == [], f"stale in dist/kgx.zip: {stale}"
