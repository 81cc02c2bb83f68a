"""SQL entry point: register the fixture tables as temp views and run
arbitrary SQL through Catalyst — the reference has no query language
(SURVEY.md §3); this is the surface a user of a general engine expects.

``register_views(spark, sf_dir)`` + ``spark.sql(...)`` gives the same
plans as the DataFrame API (one Catalyst), so every registry query could
equivalently be phrased here.

``sql_ident(name)`` is the one guard for caller-supplied names that the
engine splices into a parsed string (an ``F.expr``/``selectExpr``
expression, a DDL-style schema string, a ``DROP TABLE`` statement).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .sources.tables import TABLES, load_table

__all__ = ["register_views", "sql", "sql_ident"]

# Rejecting loudly beats quoting quietly: the engine's own frames and
# tables never carry such names, so a hit is a caller bug.
_SAFE_SQL_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def sql_ident(name: str) -> str:
    """Return ``name`` if it is a plain identifier, else raise ValueError."""
    if not _SAFE_SQL_IDENT.fullmatch(name):
        raise ValueError(
            f"name {name!r} is not a plain identifier; the engine splices "
            "it into a parsed SQL or schema string")
    return name


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> None:
    """Temp views named exactly like the DuckDB oracle's (region, nation,
    ..., documents, embeddings)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(query)
