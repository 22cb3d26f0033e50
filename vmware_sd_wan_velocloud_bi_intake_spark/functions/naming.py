"""Column-name conformance: API camelCase ↔ warehouse snake_case (F20).

The reference converts names at the ingest/sink boundary with string loops
(``Functions/helpers.py:23-36``). Under Spark this is a driver-side rename
applied once per DataFrame at the bronze→silver boundary — never a row
expression, so it costs nothing at any scale.

No caller yet: the silver builders alias each column explicitly; this is
the reference's ``Functions/helpers.py:23-36`` rename on its own.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_CAMEL_BOUNDARY = re.compile(r"(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])")


def camel_to_snake(name: str) -> str:
    """``edgeState`` → ``edge_state``; ``linkUUIDValue`` → ``link_uuid_value``."""
    return _CAMEL_BOUNDARY.sub("_", name).lower()


def snake_to_camel(name: str) -> str:
    """``edge_state`` → ``edgeState`` (leading/trailing underscores dropped)."""
    parts = [p for p in name.split("_") if p]
    if not parts:
        return name
    return parts[0].lower() + "".join(p.capitalize() for p in parts[1:])


def conform_columns(df: DataFrame, style: str = "snake") -> DataFrame:
    """Rename every column to the given style in one pass (metadata-only)."""
    fn = camel_to_snake if style == "snake" else snake_to_camel
    return df.toDF(*[fn(c) for c in df.columns])
