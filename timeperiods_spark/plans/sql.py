"""SQL-text helpers for plans built as expression strings.

Operators build each stage as one projection from Python lists of SQL
expression strings (``selectExpr``, ``F.expr``, parameterized
``spark.sql``) rather than composing ``Column`` objects call by call:
every ``Column`` method is a py4j round trip, and classic PySpark
analyses a new Dataset per ``select``/``withColumn``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier (any column name is legal)."""
    return "`" + name.replace("`", "``") + "`"


def sql(query: str, args: Optional[dict] = None, **frames: DataFrame) -> DataFrame:
    """``spark.sql(query, args)`` over ``frames``, each named ``{name}``
    in ``query``; any other brace in ``query`` (e.g. inside a quoted
    column name) stays literal. ``args`` binds ``:name`` parameters."""
    text = query.replace("{", "{{").replace("}", "}}")
    for name in frames:
        text = text.replace("{{%s}}" % name, "{%s}" % name)
    spark = next(iter(frames.values())).sparkSession
    return spark.sql(text, args, **frames)
