"""DuckDB oracle parity for the registered queries outside the driver
window.

The driver's correctness harness checks ``__spark_entry__.queries()``,
which is ``DRIVER_WINDOW`` (50 names).  This test keeps the SAME oracle
comparison running locally (sf0.001) for every other registered query,
using the identical canonicalize/compare contract as
tools/check_oracle.py, and pins the registry itself: each module-level
``q_<name>`` is registered as ``<name>`` and has an oracle.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.check_oracle import TABLES, compare

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


_HELD_OUT = sorted(set(entrymod._all_queries()) - set(entrymod.DRIVER_WINDOW))


@pytest.mark.parametrize("name", _HELD_OUT)
def test_extra_query_matches_oracle(spark, con, name):
    q = entrymod._all_queries()[name]
    sql = entrymod._all_oracle_sql()[name]
    sdf = q(spark, SF).toPandas()
    odf = con.execute(sql).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_registry_is_within_driver_window():
    # the registry is derived from the q_<name> definitions; the only
    # hand-written name list is the driver's 50-query window
    qs = entrymod._all_queries()
    defined = {n[2:]: f for n, f in vars(entrymod).items()
               if n.startswith("q_") and callable(f)}
    assert qs == defined
    assert set(qs) == set(entrymod._all_oracle_sql())
    window = entrymod.DRIVER_WINDOW
    assert len(window) == len(set(window)) == 50, len(window)
    assert set(window) <= set(qs), sorted(set(window) - set(qs))
    assert list(entrymod.queries()) == list(entrymod.oracle_sql()) \
        == list(window)
