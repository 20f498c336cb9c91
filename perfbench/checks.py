"""Result checks, run outside every timed region.

Query operations are compared with ``tests/oracle.assert_matches``
against the operation's own DuckDB oracle (``oracle_sql()``) over the
same generated files. Oracle answers are cached as parquet under the
input fingerprint, so a repeated seed does not pay for them twice.

The lakehouse table is checked against ``LakeReplay``: the same seeded
mutation list applied to a DuckDB table, one snapshot per committed
version. Its change feed between two versions is the multiset
difference of the two snapshots, tagged with the commit version.
"""

from __future__ import annotations

import os

import duckdb

from map_reduce_rpc_spark.tables import TABLE_NAMES
from tests.oracle import assert_matches


def duck_connect(inputs: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLE_NAMES:
        path = os.path.join(inputs, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


class OracleCache:
    """DuckDB oracle answers for one input fingerprint."""

    def __init__(self, con, oracles: dict[str, str], cache_dir: str):
        self.con = con
        self.oracles = oracles
        self.dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def relation(self, name: str):
        path = os.path.join(self.dir, f"{name}.parquet")
        if not os.path.exists(path):
            tmp = f"{path}.{os.getpid()}.tmp"
            self.con.execute(f"COPY ({self.oracles[name]}) TO '{tmp}' (FORMAT parquet)")
            os.replace(tmp, path)
        return self.con.read_parquet(path)

    def check(self, name: str, df) -> None:
        assert_matches(df, self.relation(name))


class LakeReplay:
    """The lakehouse mutation list replayed in DuckDB."""

    def __init__(self, con, key: str = "o_orderkey"):
        self.con = con
        self.key = key
        self.versions: list[int] = []

    def _snap(self, version: int, sql: str) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE s{version} AS {sql}")
        self.versions.append(version)

    def _latest(self) -> str:
        return f"s{self.versions[-1]}"

    def create(self, version: int, source_sql: str) -> None:
        self._snap(version, source_sql)

    def merge(self, version: int, batch: str) -> None:
        prev = self._latest()
        self._snap(
            version,
            f"SELECT * FROM {prev} WHERE {self.key} NOT IN "
            f"(SELECT {self.key} FROM read_parquet('{batch}')) "
            f"UNION ALL SELECT * FROM read_parquet('{batch}')",
        )

    def append(self, version: int, batch: str) -> None:
        self._snap(
            version,
            f"SELECT * FROM {self._latest()} UNION ALL SELECT * FROM read_parquet('{batch}')",
        )

    def delete(self, version: int, predicate: str) -> None:
        self._snap(version, f"SELECT * FROM {self._latest()} WHERE NOT ({predicate})")

    def update(self, version: int, assignments: dict[str, str], predicate: str) -> None:
        prev = self._latest()
        cols = [r[0] for r in self.con.execute(f"DESCRIBE {prev}").fetchall()]
        sel = ", ".join(
            f"CASE WHEN {predicate} THEN {assignments[c]} ELSE {c} END AS {c}"
            if c in assignments
            else c
            for c in cols
        )
        self._snap(version, f"SELECT {sel} FROM {prev}")

    def unchanged(self, version: int) -> None:
        self._snap(version, f"SELECT * FROM {self._latest()}")

    def snapshot(self, version: int):
        return self.con.sql(f"SELECT * FROM s{version}")

    def changes(self, lo: int, hi: int):
        """Row changes of the commits in ``(lo, hi]``."""
        parts = []
        for v in self.versions:
            if lo < v <= hi:
                p = self.versions[self.versions.index(v) - 1]
                parts.append(
                    f"(SELECT *, 'insert' AS _change_type, {v}::BIGINT AS _commit_version "
                    f"FROM (SELECT * FROM s{v} EXCEPT ALL SELECT * FROM s{p})) UNION ALL "
                    f"(SELECT *, 'delete' AS _change_type, {v}::BIGINT AS _commit_version "
                    f"FROM (SELECT * FROM s{p} EXCEPT ALL SELECT * FROM s{v}))"
                )
        return self.con.sql(" UNION ALL ".join(parts))

    def change_counts(self, lo: int, hi: int):
        """Each distinct row of ``changes(lo, hi)`` with its count."""
        rel = self.changes(lo, hi)
        cols = ", ".join(rel.columns)
        return rel.aggregate(f"{cols}, count(*) AS count", cols)
