"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The registry is derived, never hand-kept: every key of a plans
module's ``*_ORACLES`` dict is a query, run by the same-named function
in that module. The correctness check records only the first 50 keys, so
``queries()`` puts ``wordcount`` first and the rest stalest-first by
their last green round in the committed CORRECTNESS_r*.json ledger.
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from map_reduce_rpc_spark.plans import (
    events,
    multimodal,
    parity,
    relational,
    sampling,
    streams,
    textops,
    vectors,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Each plans module and its oracle dict; a key names a function of that module.
_ORACLE_DICTS = {
    parity: "PARITY_ORACLES",
    relational: "RELATIONAL_ORACLES",
    events: "EVENTS_ORACLES",
    streams: "STREAMS_ORACLES",
    textops: "TEXTOPS_ORACLES",
    sampling: "SAMPLING_ORACLES",
    vectors: "VECTORS_ORACLES",
    multimodal: "MULTIMODAL_ORACLES",
}
_LEDGER_DIR = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: wordcount over the documents corpus.

    Exercises the reference's whole engine path (scan -> flatMap
    tokenize -> shuffle -> agg -> sink), SURVEY.md §7 phase 0.
    """
    return parity.wordcount(spark, SMOKE_SF_DIR)


@functools.cache
def _last_green_rounds() -> dict[str, int]:
    """Query name -> highest round N whose CORRECTNESS_rN.json has it
    fully green (rows, schema and hash match, no error)."""
    last: dict[str, int] = {}
    for fname in os.listdir(_LEDGER_DIR):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(_LEDGER_DIR, fname)) as fh:
            for name, r in json.load(fh).items():
                green = all(r.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
                if green and r.get("err") is None:
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every oracle key mapped to its plan function: ``wordcount`` first
    (the reference's whole engine path), then stalest-first by
    (last green round, name); a query never certified counts as round 0.
    Functions are looked up on each call so rebound attributes are seen."""
    owner = {name: mod for mod, attr in _ORACLE_DICTS.items() for name in getattr(mod, attr)}
    last = _last_green_rounds()
    order = sorted(owner, key=lambda k: (k != "wordcount", last.get(k, 0), k))
    return {name: getattr(owner[name], name) for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each query (ANSI, runs on the registered
    views region nation customer supplier part orders lineitem events
    documents embeddings)."""
    o: dict[str, str] = {}
    for mod, attr in _ORACLE_DICTS.items():
        o.update(getattr(mod, attr))
    return o
