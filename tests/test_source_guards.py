"""Source-level guards: one pin policy, driver-built frames from Arrow, one
in-row pair enumeration, no def that only tests reach, no kgx module or
public def off a job path without a stated reason, oracle builders without
defaults, and a packaged zip that matches kgx/."""

import ast
import collections
import pathlib
import re
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


def test_driver_built_frames_come_from_arrow():
    """No ``createDataFrame`` in ``kgx/`` takes a Python list, tuple or
    comprehension as its data, directly or through a name its scope binds
    to one: those rows are pickled through a ``PythonRDD`` and start Python
    workers, where a pyarrow Table is a local scan."""
    python_rows = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)
    sites = set()
    for path in sorted((ROOT / "kgx").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        for scope in ast.walk(tree):
            if not isinstance(scope, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            bound = collections.defaultdict(list)
            calls = []
            for node in ast.walk(scope):
                if isinstance(node, ast.Assign):
                    for target in node.targets:
                        if isinstance(target, ast.Name):
                            bound[target.id].append(node.value)
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    calls.append(node)
            for call in calls:
                data = call.args[0] if call.args else next(
                    (k.value for k in call.keywords if k.arg == "data"), None
                )
                values = bound[data.id] if isinstance(data, ast.Name) else [data]
                if any(isinstance(v, python_rows) for v in values):
                    sites.add((rel, call.lineno))
    assert sorted(sites) == []


def test_unordered_pairs_only_inside_the_array_helper():
    """The in-row unordered-pair enumeration (each element against the
    slice after it) is written once, in
    ``kgx.functions.arrays.unordered_pairs``; operators call it."""
    pattern = re.compile(r"slice\([^,()]+, i \+ 2, size\(")
    sites = []
    for path in _sources():
        text = path.read_text()
        rel = path.relative_to(ROOT).as_posix()
        sites += [rel] * len(pattern.findall(text))
    assert sites == ["kgx/functions/arrays.py"]


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


#: kgx modules that no ``jobs/`` entry imports, each with why it stays
UNREACHED_BY_JOBS = {
    "kgx.oracles": "the DuckDB reference implementation the oracle gate compares against",
    "kgx.sources.binary": "binary-file ingest, SURVEY S2-S6",
    "kgx.sources.minidoc": "the pdf/docx parsers of binary ingest, SURVEY S2-S6",
    "kgx.sources.llm": "the LLM extraction source, SURVEY S7/S8",
    "kgx.operators.jsonio": "LLM JSON parse, repair and coercion, SURVEY J1-J3",
    "kgx.operators.security": "file-security predicates, SURVEY P10",
    "kgx.plans.versions": "snapshot diff and SCD2 intervals, the SURVEY Version table",
    "kgx.operators.media": "the media payload of the interleaved corpus",
    "kgx.sources.miniimage": "the media payload's image codec",
    "kgx.sources.miniwav": "the media payload's audio codec",
    "kgx.sources.miniavi": "the media payload's video container",
}


def _kgx_modules():
    """Dotted name → path of every ``kgx/**/*.py`` module."""
    mods = {}
    for path in sorted((ROOT / "kgx").rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return mods


def _imported(path, mods):
    """The kgx modules ``path`` imports anywhere in its body, function-local
    imports included, with the packages each import runs on the way."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            found.update(
                m for m in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
                if m in mods
            )
    return found


def _modules_imported_by(paths):
    """The kgx modules ``paths`` import, transitively."""
    mods = _kgx_modules()
    reached = set()
    todo = [i for p in paths for i in _imported(p, mods)]
    while todo:
        mod = todo.pop()
        if mod not in reached:
            reached.add(mod)
            todo += _imported(mods[mod], mods)
    return reached


def _names(node):
    """Every ``Name``, ``Attribute`` and import-alias name under ``node``."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
            if n.asname:
                yield n.asname


def _top_defs(path):
    return [
        node for node in ast.parse(path.read_text(), str(path)).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def _reached_defs(roots, names=()):
    """``(path, name)`` of every top-level def, in the shipped sources or
    in ``roots``, that a name walk reaches from the module-level code of
    ``roots`` and of the kgx modules they import, or from the defs called
    ``names``.  A reached def's body is walked in turn.  Names match by
    name alone, so a name reaches every def it could mean: approximate,
    as the module guard is."""
    mods = _kgx_modules()
    by_name = collections.defaultdict(list)
    for path in {*_sources(), *roots}:
        for node in _top_defs(path):
            by_name[node.name].append((path, node))
    todo = list(names)
    for path in [*roots, *(mods[m] for m in _modules_imported_by(roots))]:
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                todo += _names(stmt)
    reached = set()
    while todo:
        for path, node in by_name.get(todo.pop(), ()):
            if (path, node.name) not in reached:
                reached.add((path, node.name))
                todo += _names(node)
    return reached


def test_every_kgx_module_is_on_a_job_path():
    """Every ``kgx`` module is imported, at least transitively, by a
    ``jobs/`` entry, or is in ``UNREACHED_BY_JOBS`` with its reason; an
    operator family that only the oracle gate runs is wired to a job or
    deleted.  An exception that a job does reach is stale and fails too."""
    mods = _kgx_modules()
    reached = _modules_imported_by(sorted((ROOT / "jobs").glob("*.py")))
    off_path = sorted(set(mods) - reached - set(UNREACHED_BY_JOBS))
    assert off_path == [], f"modules no job imports: {off_path}"
    stale = sorted((set(UNREACHED_BY_JOBS) & reached) | (set(UNREACHED_BY_JOBS) - set(mods)))
    assert stale == [], f"stale exceptions: {stale}"


def test_every_def_has_a_non_test_caller():
    """Every top-level ``def``/``class`` in the shipped sources is reached
    by a name walk from a non-test front end, so code that only tests reach
    is deleted rather than kept.  The front ends are the jobs, the driver
    entry module, ``bench.py``, ``tools/`` and ``perfbench/``; a word in a
    comment or docstring reaches nothing.  The one exception is the
    driver's ``entry``, which the driver calls by name."""
    roots = [*sorted((ROOT / "jobs").glob("*.py")), ROOT / "__spark_entry__.py",
             ROOT / "bench.py"]
    for d in ("tools", "perfbench"):
        roots += sorted((ROOT / d).rglob("*.py"))
    reached = _reached_defs(roots)
    unreached = sorted(
        node.name for path in _sources() for node in _top_defs(path)
        if (path, node.name) not in reached
    )
    assert unreached == ["entry"], f"defs that only tests reach: {unreached}"


#: public defs in job-imported kgx modules that no ``jobs/`` entry reaches,
#: as ``module.def``, each with why it stays
OFF_JOB_DEFS = {
    "textstats.text_stats": "text-analysis extra, the `text_stats` row",
    "textstats.token_counts": "text-analysis extra, the `token_counts` row",
    "textstats.vocab_topk": "text-analysis extra, the `vocab_topk` row",
    "textstats.repetition_stats": "Gopher repetition signals, the `repetition_stats` row",
    "textstats.fingerprints": "SURVEY §2.9 normalized md5, the `fingerprints` row",
    "textstats.winnowed_fingerprints": "MOSS fingerprints, the `fingerprints_winnowed` row",
    "curation.sentence_dedup_stats": "CCNet duplicate-sentence audit, the `sentence_dedup` row",
    "curation.balanced_sample": "stratified sampling extra, the `balanced_sample` row",
    "curation.contamination_screen": "n-gram decontamination extra, the `contamination` row",
    "curation.dataset_split": "train/val/test split audit, the `dataset_split` row",
    "curation.pii_fixture_expr": "plants the PII of the `pii_scrub` row and its oracle",
    "packing.seq_pack_interleaved": "multimodal packing, the `seq_pack_interleaved` row",
    "spans.explode_spans": "SURVEY W5 span explode, the `kg_spans` row",
    "spans.reassemble_spans": "SURVEY W5 reassembly after a shuffle, the `kg_doc_text` row",
    "validate.graph_checks": "SURVEY P7/P9 per-graph checks, the `p9_graph_checks` row",
    "curation_pipeline.funnel_final": "the funnel as one lazy frame, the `curation_funnel` row",
    "curation_pipeline.clear_funnel_cache": "frees `funnel_final`'s pins after the gate",
    "corpus.replicate": "perfbench's corpus scale-up",
    "corpus.heavy_tail": "perfbench's long-document skew",
    "docs.load_documents": "the documents scan of perfbench and the gate's inputs",
}


def test_every_kgx_def_is_on_a_job_path():
    """Every public top-level def in a kgx module that a job imports is
    reached by a name walk from ``jobs/``, or is in ``OFF_JOB_DEFS`` with
    its reason.  The walk also starts from the listed defs, so what only
    they call needs no entry of its own.  A listed def that a job reaches,
    or that no longer exists, is stale and fails too."""
    jobs = sorted((ROOT / "jobs").glob("*.py"))
    mods = _kgx_modules()
    public = {
        f"{mods[m].stem}.{node.name}" for m in _modules_imported_by(jobs)
        for node in _top_defs(mods[m]) if not node.name.startswith("_")
    }
    listed = [key.rsplit(".", 1)[1] for key in OFF_JOB_DEFS]
    by_jobs = {f"{p.stem}.{name}" for p, name in _reached_defs(jobs)}
    reached = {f"{p.stem}.{name}" for p, name in _reached_defs(jobs, listed)}
    off_path = sorted(public - reached)
    assert off_path == [], f"defs no job reaches: {off_path}"
    stale = sorted((set(OFF_JOB_DEFS) & by_jobs) | (set(OFF_JOB_DEFS) - public))
    assert stale == [], f"stale exceptions: {stale}"


def test_oracle_builders_take_no_defaults():
    """A ``QUERIES`` row states every parameter of its oracle builder, so a
    parameter the row misses raises instead of silently taking a default
    that may differ from the engine operator's.  The one exception,
    ``curation_funnel_sql``, keeps its defaults because perfbench's
    curation workload calls it with two of its six parameters."""
    allowed = {"curation_funnel_sql"}
    tree = ast.parse((ROOT / "kgx" / "oracles.py").read_text())
    defaulted = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            a = node.args
            named = a.posonlyargs + a.args
            with_default = named[len(named) - len(a.defaults):] + [
                arg for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            defaulted += [(node.name, arg.arg) for arg in with_default]
    assert [d for d in defaulted if d[0] not in allowed] == []


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
