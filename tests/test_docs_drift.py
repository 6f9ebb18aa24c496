"""The hand-written registry facts in the docs stay in step with ``QUERIES``:
the rotation table of docs/COVERAGE.md names every row past the driver
gate, and the registered / gate / remainder counts quoted in COVERAGE and
the README's driver-gate paragraph are the registry's own.  The generated
docs/PLANS.md carries no run-specific expression ids, and its sections are
the plan audit's ``SECTIONS`` and the epilogue's, each named for a
registered query."""

import importlib.util
import os
import re

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = 50  # the driver records the first 50 rows of queries()


def _read(rel: str) -> str:
    with open(os.path.join(ROOT, rel)) as f:
        return f.read()


def _rotation_table() -> set[str]:
    """Backticked names in the first column of COVERAGE's rotation table."""
    section = _read("docs/COVERAGE.md").split("## Driver-gate rotation", 1)[1]
    section = section.split("\n## ", 1)[0]
    names = set()
    for line in section.splitlines():
        if line.startswith("| `"):
            names.update(re.findall(r"`([a-z0-9_]+)`", line.split("|")[1]))
    return names


def test_rotation_table_names_every_row_past_the_gate():
    remainder = list(entrymod.queries())[GATE:]
    missing = [n for n in remainder if n not in _rotation_table()]
    assert not missing, missing


def test_quoted_registry_counts_match_queries():
    n = len(entrymod.QUERIES)
    readme = _read("README.md")
    paragraph = readme[readme.index("driver-gate rotation table") :].split("\n\n")[0]
    for where, text in (("docs/COVERAGE.md", _read("docs/COVERAGE.md")),
                        ("README.md", paragraph)):
        quoted = re.findall(r"first (\d+) of\s+the (\d+) registered", text)
        others = re.findall(r"[Tt]he other (\d+)", text)
        assert quoted and others, where
        assert set(quoted) == {(str(GATE), str(n))}, (where, quoted)
        assert set(others) == {str(n - GATE)}, (where, others)


def test_plans_doc_has_no_expression_ids():
    # tools/plan_audit.py writes name#N, so regenerating rewrites only the
    # plans that changed
    ids = re.findall(r"\w+#\d+", _read("docs/PLANS.md"))
    assert not ids, ids[:5]


def _headings(rel: str) -> list[str]:
    return [line[3:] for line in _read(rel).splitlines() if line.startswith("## ")]


def test_plans_doc_sections_name_registered_queries():
    """tools/plan_audit.py's ``SECTIONS`` and the hand-written epilogue name
    only ``QUERIES`` rows, and docs/PLANS.md is their concatenation: a
    section left behind by a deleted row fails here, without a Spark run
    to regenerate the doc."""
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(ROOT, "tools", "plan_audit.py")
    )
    plan_audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_audit)
    sections = [name for name, _ in plan_audit.SECTIONS]
    registered = set(entrymod.queries())
    assert [n for n in sections if n not in registered] == []
    epilogue = _headings("docs/PLANS_epilogue.md")
    named = [n for heading in epilogue for n in heading.split(" / ")]
    assert [n for n in named if n not in registered] == []
    assert _headings("docs/PLANS.md") == sections + epilogue
