"""Every registry query that has a DuckDB twin matches it at sf0.001.

The comparison (column set, row count, order-insensitive values with
floats normalised to 9 significant digits) is the one
``tools/check_oracles.py`` applies, imported from there so the gate and
this test cannot drift apart.
"""

import pytest

from ai_incident_analyst_spark.queries import REGISTRY
from tools.check_oracles import oracle_con, twin_problems

TWINNED = [name for name, q in REGISTRY.items() if q.sql is not None]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", TWINNED)
def test_query_matches_twin(spark, sf_dir, con, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    problems = twin_problems(con, q.sql, sdf.columns,
                             [tuple(r) for r in sdf.collect()])
    assert not problems, problems
