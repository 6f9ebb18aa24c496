"""The oracle gate inside Tier-1: every ``QUERIES`` row on Spark against its
DuckDB oracle at the test sf, on row count, sorted schema and value hash —
the comparison ``tools/compare_oracle.py`` runs from the command line."""

import inspect
import re

import pytest

import __spark_entry__ as entrymod
from tools import compare_oracle

NAMES = [row[0] for row in entrymod.QUERIES]


def teardown_module():
    # the gate fills the extraction and funnel caches; free them for later tests
    entrymod.clear_graph_cache()


@pytest.fixture(scope="module")
def con(sf_dir):
    con = compare_oracle.connect(sf_dir)
    yield con
    con.close()


def test_registry_names_are_unique():
    assert len(set(NAMES)) == len(NAMES)


def test_row_params_bind_to_op_and_oracle():
    """Each row's params fit both its engine op (after the input frame) and
    its oracle, so a misspelt or missing parameter fails here, before any
    Spark run."""
    unbound = []
    for name, _, op, params, oracle in entrymod.QUERIES:
        for fn, args in ((op, (object(),)), (oracle, ())):
            try:
                inspect.signature(fn).bind(*args, **params)
            except TypeError as e:
                unbound.append((name, str(e)))
    assert unbound == []


def test_oracle_connection_names_only_tables_it_reads():
    """Each sf-dir table ``compare_oracle.connect`` registers is read by
    some oracle, so the connection lists no table the gate never queries."""
    words = set(re.findall(r"\w+", " ".join(entrymod.oracle_sql().values())))
    assert [t for t in compare_oracle.TABLES if t not in words] == []


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, con, sf_dir, name):
    r = compare_oracle.compare(spark, con, sf_dir, name)
    for check in compare_oracle.CHECKS:
        spark_side, duck_side = r[check]
        assert spark_side == duck_side, (check, r[check])
