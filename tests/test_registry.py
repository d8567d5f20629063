"""Driver-contract registry: `__spark_entry__.QUERIES` is the one table
of queries, and `queries()`, `oracle_sql()` and bench.py's `HEADLINE`
are derived from it. Each name is declared once, each rows-only query
names an oracle-backed check twin, every oracle-backed query sits
inside the window the correctness gate checks (the first 50 queries),
and every oracle runs on DuckDB."""

import ast
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

CHECKED_WINDOW = 50
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def test_every_oracle_names_a_query():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_oracle_backed_queries_inside_checked_window():
    oracles = entrymod.oracle_sql()
    names = list(entrymod.queries())
    outside = [n for n in names[CHECKED_WINDOW:] if n in oracles]
    assert not outside, f"oracle-backed queries past position {CHECKED_WINDOW}: {outside}"


def test_no_query_declared_twice():
    names = [q.name for q in entrymod.QUERIES]
    assert len(names) == len(set(names)), sorted(n for n in set(names) if names.count(n) > 1)


def test_rows_only_queries_name_an_oracle_backed_check():
    oracles = entrymod.oracle_sql()
    unchecked = [
        q.name for q in entrymod.QUERIES if q.oracle is None and q.check not in oracles
    ]
    assert not unchecked


def test_no_hand_kept_list_of_query_names():
    """No dict, list, tuple or set literal in the contract or the bench
    holds two query names: every such list is derived from QUERIES."""
    names = {q.name for q in entrymod.QUERIES}
    for fname in ("__spark_entry__.py", "bench.py"):
        with open(os.path.join(ROOT, fname)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                elts = node.keys
            elif isinstance(node, (ast.List, ast.Tuple, ast.Set)):
                elts = node.elts
            else:
                continue
            listed = [e.value for e in elts if isinstance(e, ast.Constant) and e.value in names]
            assert len(listed) < 2, f"{fname}:{node.lineno} lists {listed}"


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    con = duckdb.connect()
    for f in sorted(os.listdir(SF_DIR)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{SF_DIR}/{f}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", list(entrymod.oracle_sql()))
def test_oracle_runs_on_duckdb(duck, name):
    """Every oracle executes, and none returns a HUGEINT column (DuckDB's
    type for an uncast integer sum, which never equals Spark's bigint)."""
    tbl = duck.execute(entrymod.oracle_sql()[name]).arrow()
    assert tbl.num_columns > 0
    huge = [f.name for f in tbl.schema if str(f.type) == "decimal128(38, 0)"]
    assert not huge, huge
