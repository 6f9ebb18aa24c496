"""The hand-written registry facts in the docs stay in step with ``QUERIES``:
the registry fits the driver's 50-row gate, so the driver records every
row, and the count that COVERAGE and the README quote ("all 50 registered
queries") is the registry's own.  The generated docs/PLANS.md carries no
run-specific expression ids, and its sections are the plan audit's
``SECTIONS`` and the epilogue's, each named for a registered query."""

import importlib.util
import os
import re

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = 50  # the driver records the first 50 rows of queries()


def _read(rel: str) -> str:
    with open(os.path.join(ROOT, rel)) as f:
        return f.read()


def test_registry_fits_the_driver_gate():
    # past the cap the driver would skip the last rows, and a rotation
    # table would have to say which ones
    assert len(entrymod.QUERIES) <= GATE


def test_quoted_registry_counts_match_queries():
    n = str(len(entrymod.QUERIES))
    for where in ("docs/COVERAGE.md", "README.md"):
        quoted = re.findall(r"all (\d+) registered\s+queries", _read(where))
        assert quoted, where
        assert set(quoted) == {n}, (where, quoted)


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
