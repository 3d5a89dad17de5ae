"""Strict dtype lint over ALL oracles (every registered query).

The driver's correctness harness hashes EXACT values: a Spark BIGINT
11757 vs a DuckDB HUGEINT-widened 11757.0 (fetched as float64) is a
hash mismatch even though the values compare equal.  This class of
drift cost a red driver row three times (r1/r2 union_prefer_left, r4
corpus_stats + rep_quality) because the local tolerance gate coerced
both sides to numeric.  This test makes the class extinct:

* every oracle is type-checked via DuckDB ``DESCRIBE`` (no execution)
  against the Spark query's lazy schema (no execution either), so the
  whole 64-oracle sweep is cheap;
* HUGEINT anywhere in an oracle result is an immediate failure — it
  always means an uncast integer ``sum()``;
* integer-kind vs float-kind disagreement between the two sides fails,
  in either direction.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.check_oracle import TABLES

SF = "/root/testdata/sf0.001"

_ALL_ORACLES = entrymod._all_oracle_sql()
_ALL_QUERIES = entrymod._all_queries()

_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE", "REAL"}


def _duck_kind(t: str) -> str:
    t = t.upper()
    if t == "HUGEINT":
        return "hugeint"
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT or t.startswith("DECIMAL"):
        return "float"
    if t in ("VARCHAR", "TEXT"):
        return "str"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "datetime"
    if t == "BOOLEAN":
        return "bool"
    return "other"


def _spark_kind(t) -> str:
    n = t.simpleString()
    if n in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if n in ("float", "double") or n.startswith("decimal"):
        return "float"
    if n == "string":
        return "str"
    if n.startswith("timestamp") or n == "date":
        return "datetime"
    if n == "boolean":
        return "bool"
    return "other"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_ALL_ORACLES))
def test_oracle_dtype_kinds_match_spark(spark, con, name):
    otypes = dict(con.execute(
        f"SELECT column_name, column_type FROM (DESCRIBE {_ALL_ORACLES[name]})"
    ).fetchall())
    schema = _ALL_QUERIES[name](spark, SF).schema
    stypes = {f.name: f.dataType for f in schema.fields}

    assert sorted(otypes) == sorted(stypes), (
        f"{name}: column names differ — oracle {sorted(otypes)} vs "
        f"spark {sorted(stypes)}")

    problems = []
    for col in sorted(otypes):
        ok = _duck_kind(otypes[col])
        sk = _spark_kind(stypes[col])
        if ok == "hugeint":
            problems.append(
                f"{col}: DuckDB HUGEINT (uncast integer sum — add ::BIGINT); "
                f"spark={stypes[col].simpleString()}")
        elif {ok, sk} == {"int", "float"}:
            problems.append(
                f"{col}: kind drift oracle={otypes[col]} vs "
                f"spark={stypes[col].simpleString()} — the driver's exact "
                f"hasher will mismatch")
    assert not problems, f"{name}: " + "; ".join(problems)


# ----------------------------------------------------------------------
# Value-level gate for the CURRENT round's newcomers (r10 VERDICT ask
# #7): the schema-kind lint above catches int-vs-float drift without
# executing, but an oracle whose VALUES diverge (wrong cast inside an
# expression, off-by-one in a closed-form replay) only surfaced in the
# full check_oracle sweep — 20 minutes in.  This runs the full
# compare() contract (row count + columns + exact values) at sf0.001
# for each newcomer, so a broken new oracle fails in seconds inside
# the normal suite.  Update the list each round when queries are added.

_ROUND_NEWCOMERS = ["audio_stream_dedup", "audio_stream_incr",
                    "video_offset_dedup", "video_offset_incr",
                    "audio_snippet_search", "video_snippet_search",
                    "video_segments"]


@pytest.mark.parametrize("name", _ROUND_NEWCOMERS)
def test_newcomer_values_match_oracle(spark, con, name):
    from fsharp_dataframe_spark.functions.util import release_cached
    from tools.check_oracle import compare

    try:
        sdf = _ALL_QUERIES[name](spark, SF).toPandas()
    finally:
        release_cached()
    odf = con.execute(_ALL_ORACLES[name]).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: " + "; ".join(problems)
