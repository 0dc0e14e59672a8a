"""Driver-contract smoke tests: entry() runs, every queries() entry runs
at sf0.001 and returns a stable schema."""

import importlib.util
import sys
from pathlib import Path

import pytest

spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    Path(__file__).resolve().parents[1] / "__spark_entry__.py")
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"day", "n_events", "n_users", "total_value"}


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_sf0001(spark, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, "/root/testdata/sf0.001")
    assert df.columns  # schema resolvable
    df.limit(5).collect()  # executes without error
