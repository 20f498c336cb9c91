"""The query library exposed through __spark_entry__.py.

Each module exports functions ``(spark, sf_dir) -> DataFrame`` plus a
matching ``*_ORACLES`` dict of DuckDB SQL twins. The one naming rule:
an oracle key is the name of a function in the same module, and that
pair is a registered query. A key must not repeat across modules.
"""
