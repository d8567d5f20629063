"""Driver-contract registry: the `queries()` / `oracle_sql()` pair in
`__spark_entry__.py` must agree, and every oracle-backed query must sit
inside the window the correctness gate checks (the first 50 queries)."""

import __spark_entry__ as entrymod

CHECKED_WINDOW = 50


def test_every_oracle_names_a_query():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_oracle_backed_queries_inside_checked_window():
    oracles = entrymod.oracle_sql()
    names = list(entrymod.queries())
    outside = [n for n in names[CHECKED_WINDOW:] if n in oracles]
    assert not outside, f"oracle-backed queries past position {CHECKED_WINDOW}: {outside}"
