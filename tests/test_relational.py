"""Every registered query vs its DuckDB oracle (the t2 correctness replica).

The registry is derived from the plans modules' ``*_ORACLES`` dicts,
so a new oracle key is covered here with no other edit; the
``PARITY_KEYS`` queries run in tests/test_parity.py instead.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from tests.oracle import assert_matches
from tests.test_parity import PARITY_KEYS

ALL_ORACLED = sorted(k for k in entry_mod.oracle_sql() if k not in PARITY_KEYS)


@pytest.mark.parametrize("name", ALL_ORACLED)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    assert_matches(q(spark, sf_dir), duck.sql(sql))


def test_every_oracle_has_a_query():
    qs = entry_mod.queries()
    missing = [k for k in entry_mod.oracle_sql() if k not in qs]
    assert not missing, f"oracles without queries: {missing}"
