"""F33: fuzzy column-name resolution — plan-time Python, not data-path.

The reference resolves messy header names against synonym lists per parser
(src/parsers/csv_parser.py:86-168, excel_parser.py:193-220,
pdf_parser.py:214-232, word_parser.py:219-237): exact match first, then
case-insensitive substring. Here the same logic operates on ``df.columns``
BEFORE the query is built — schema resolution is metadata work, so it costs
zero at execution time and the resolved plan stays fully native."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Target field → accepted header synonyms (reference's dictionaries,
# csv_parser.py:92-159, lowercased).
SYNONYMS: dict[str, tuple[str, ...]] = {
    "order_id": ("order_id", "order id", "po number", "po #", "order no"),
    "client_name": ("client", "client name", "customer", "customer name"),
    "order_date": ("order_date", "order date", "date", "po date"),
    "product_code": ("product_code", "sku", "item code", "part number"),
    "description": ("description", "item", "product", "item description"),
    "quantity": ("quantity", "qty", "amount", "units"),
    "unit_price": ("unit_price", "unit price", "price", "unit cost", "cost"),
    "total_price": ("total_price", "total", "line total", "extended price"),
}


def resolve_columns(columns: Sequence[str]) -> dict[str, str]:
    """Map target field → actual column name. Exact (case-insensitive) match
    wins over substring match; first synonym hit wins (reference order
    semantics). Unresolved targets are absent from the result."""
    lowered = {c.lower(): c for c in columns}
    out: dict[str, str] = {}
    for target, names in SYNONYMS.items():
        hit = None
        for syn in names:  # pass 1: exact
            if syn in lowered:
                hit = lowered[syn]
                break
        if hit is None:  # pass 2: substring, reference fallback
            for syn in names:
                for low, orig in lowered.items():
                    if syn in low:
                        hit = orig
                        break
                if hit:
                    break
        if hit is not None:
            out[target] = hit
    return out


def normalize_schema(df: DataFrame) -> DataFrame:
    """Select + rename every resolvable column to its canonical field name;
    unresolved targets come back as typed nulls so downstream plans see a
    stable schema (the lenient RawExtraction contract, src/schemas.py:78-98)."""
    mapping = resolve_columns(df.columns)
    cols = [
        (
            F.col(mapping[t]).alias(t)
            if t in mapping
            else F.lit(None).cast("string").alias(t)
        )
        for t in SYNONYMS
    ]
    return df.select(*cols)
