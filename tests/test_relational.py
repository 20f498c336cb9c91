"""Every registered query vs its DuckDB oracle (the t2 correctness
replica), plan-gated: each run also asserts that none of the SQL
executions it ran plans a forbidden node (``tests/oracle.registry_run``).

The registry is derived from the plans modules' ``*_ORACLES`` dicts,
so a new oracle key is covered here with no other edit; the
``PARITY_KEYS`` queries run, gated the same way, in tests/test_parity.py.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from tests.oracle import registry_run
from tests.test_parity import PARITY_KEYS

ALL_ORACLED = sorted(k for k in entry_mod.oracle_sql() if k not in PARITY_KEYS)


@pytest.mark.parametrize("name", ALL_ORACLED)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_every_oracle_has_a_query():
    qs = entry_mod.queries()
    missing = [k for k in entry_mod.oracle_sql() if k not in qs]
    assert not missing, f"oracles without queries: {missing}"
