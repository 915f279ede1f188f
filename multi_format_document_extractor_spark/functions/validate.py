"""Business-rule validation as predicate columns (SURVEY.md §2.2, P1-P9).

The reference raises Pydantic exceptions (src/schemas.py:51-66) and collects
rule violations (src/validators/schema_validator.py:38-127); here violations
are DATA — an ``errors ARRAY<STRING>`` column plus ``is_valid BOOLEAN`` —
so one bad row never kills a 100 TB job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ITEM_TOTAL_TOL = 0.10  # schema_validator.py:106-115
ORDER_TOTAL_TOL = 1.00  # schema_validator.py:117-124


def rule(cond: Column, message: str) -> Column:
    """One rule → an error message when violated, else null."""
    return F.when(~F.coalesce(cond, F.lit(False)), F.lit(message))


def collect_errors(*rules: Column) -> Column:
    """Stack rule outcomes into a compact error array."""
    return F.filter(F.array(*rules), lambda x: x.isNotNull())


def non_empty(col: Column) -> Column:
    """P9: trimmed-non-empty (src/schemas.py:22-27)."""
    return F.nullif(F.trim(col), F.lit("")).isNotNull()


def delivery_after_order(order_date: Column, delivery_date: Column) -> Column:
    """schema_validator.py:77-80: delivery ≥ order date."""
    return delivery_date >= order_date


def item_total_consistent(qty: Column, unit_price: Column, total: Column) -> Column:
    """schema_validator.py:106-115: |total − q·p| ≤ 0.10."""
    return F.abs(total - qty * unit_price) <= ITEM_TOTAL_TOL


def order_total_consistent(order_total: Column, items_sum: Column) -> Column:
    """schema_validator.py:117-124: |order_total − Σ items| ≤ 1.00."""
    return F.abs(order_total - items_sum) <= ORDER_TOTAL_TOL


def needs_enhancement(
    order_id: Column, client: Column, n_items: Column, source_conf: Column
) -> Column:
    """P3 (src/pipeline.py:219-228): route to the expensive path when core
    fields are missing or source confidence is low."""
    return (
        order_id.isNull() | client.isNull() | (n_items == 0) | (source_conf < 0.7)
    )
