"""Every registered query must match its DuckDB oracle exactly
(row count + columns + normalized values) — the local replica of the
driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from striot_spark.queries.registry import REGISTRY, _load

_load()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, name):
    from tests.oracle_harness import compare_query

    spec = REGISTRY[name]
    problems = compare_query(spark, name, spec.fn, spec.oracle, sf_dir)
    assert not problems, "\n".join(problems)


def test_no_rows_only_entries_remain():
    """Round 12 closed the registry's one rows-only hole (q215's zlib
    screen became an oracle-backed repetitiveness proxy): every entry
    is hash-gated. The weaker rows-only contract path still exists for
    genuinely non-SQL ops, but nothing may use it silently — a new
    rows-only registration must be a deliberate, documented decision
    (update this test alongside)."""
    assert ROWS_ONLY == []


def test_twins_share_one_oracle_string():
    """A stream twin registers its batch twin's oracle constant instead
    of a second copy of the SQL: any two entries whose
    whitespace-normalised oracle SQL is equal hold the same string
    object, so the two copies cannot drift."""
    owner: dict[str, str] = {}
    copies = []
    for name in ORACLE_QUERIES:
        sql = REGISTRY[name].oracle
        first = owner.setdefault(" ".join(sql.split()), name)
        if REGISTRY[first].oracle is not sql:
            copies.append(f"{name} repeats the oracle of {first}")
    assert copies == []
