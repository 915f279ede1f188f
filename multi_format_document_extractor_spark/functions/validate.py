"""Business-rule validation as predicate columns (SURVEY.md §2.2, P1-P9).

The reference raises Pydantic exceptions (src/schemas.py:51-66) and collects
rule violations (src/validators/schema_validator.py:38-127); here violations
are DATA — an ``errors ARRAY<STRING>`` column plus ``is_valid BOOLEAN`` —
so one bad row never kills a 100 TB job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def rule(cond: Column, message: str) -> Column:
    """One rule → an error message when violated, else null."""
    return F.when(~F.coalesce(cond, F.lit(False)), F.lit(message))


def collect_errors(*rules: Column) -> Column:
    """Stack rule outcomes into a compact error array."""
    return F.filter(F.array(*rules), lambda x: x.isNotNull())

