"""Every DuckDB oracle declares AS MATERIALIZED each non-recursive CTE it
reads two or more times.

DuckDB 1.0 inlines a CTE at every reference, so a CTE read twice is
computed twice. Before this rule the MinHash and corpus oracles spent
most of the correctness loop recomputing ``sig``, ``mh``, ``exact`` and
``fin``: run one after another at sf0.01 on 4 cores, the 211 oracles
took 127 s, and 14 s once the rule held. The check parses each registry
string with DuckDB's own parser and counts table references by name,
subqueries included. A recursive CTE reads itself and is exempt.
"""

from __future__ import annotations

import json

import duckdb
import pytest

from etl_stack_spark.queries import all_oracles

ORACLES = all_oracles()


def _walk(node, defs: dict, refs: dict) -> None:
    if isinstance(node, list):
        for child in node:
            _walk(child, defs, refs)
        return
    if not isinstance(node, dict):
        return
    if node.get("type") == "CTE_NODE":
        # the parser wraps each MATERIALIZED CTE in a CTE_NODE whose
        # ``query`` repeats the CTE body and whose ``child`` carries the
        # full CTE map again; walk the child only, or bodies count twice
        _walk(node["child"], defs, refs)
        return
    if node.get("type") == "BASE_TABLE":
        refs[node["table_name"]] = refs.get(node["table_name"], 0) + 1
    for key, value in node.items():
        if key == "cte_map":
            for entry in value["map"]:
                defs.setdefault(entry["key"], []).append(entry["value"])
        _walk(value, defs, refs)


def unmaterialized_shared_ctes(con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Names of the non-recursive CTEs that ``sql`` reads two or more
    times without declaring them AS MATERIALIZED."""
    tree = json.loads(
        con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0]
    )
    assert not tree["error"], tree
    defs: dict[str, list[dict]] = {}
    refs: dict[str, int] = {}
    _walk(tree["statements"], defs, refs)
    return sorted(
        name
        for name, bodies in defs.items()
        for body in bodies
        if refs.get(name, 0) >= 2
        and body["query"]["node"]["type"] != "RECURSIVE_CTE_NODE"
        and body["materialized"] != "CTE_MATERIALIZE_ALWAYS"
    )


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_rule_sees_shared_and_recursive_ctes(con):
    sql = """
WITH RECURSIVE a AS (SELECT 1 AS x), b AS MATERIALIZED (SELECT x FROM a),
r AS (SELECT x FROM b UNION SELECT x + 1 FROM r WHERE x < 3)
SELECT * FROM a, r, b WHERE x IN (SELECT x FROM a)
"""
    assert unmaterialized_shared_ctes(con, sql) == ["a"]
    assert unmaterialized_shared_ctes(con, sql.replace("a AS (", "a AS MATERIALIZED (")) == []


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_shared_ctes_are_materialized(name, con):
    assert unmaterialized_shared_ctes(con, ORACLES[name]) == []
