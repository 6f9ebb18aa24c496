"""The oracle gate inside Tier-1: every ``QUERIES`` row on Spark against its
DuckDB oracle at the test sf, on row count, sorted schema and value hash —
the comparison ``tools/compare_oracle.py`` runs from the command line."""

import pytest

import __spark_entry__ as entrymod
from tools import compare_oracle

NAMES = [name for name, _, _ in entrymod.QUERIES]


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


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, con, sf_dir, name):
    r = compare_oracle.compare(spark, con, sf_dir, name)
    for check in compare_oracle.CHECKS:
        spark_side, duck_side = r[check]
        assert spark_side == duck_side, (check, r[check])
