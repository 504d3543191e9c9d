"""Scalar type-coercion matrix (SURVEY.md section 1.2).

The reference coerces query/CSV values into typed tag fields in two
places with slightly different rules:

* query-result path (reference: DataCatalogController.py:1857-1943):
  ``bool(value)`` Python truthiness, ``float``, ``str``, richtext
  ``<br>``-join, and a length-sniffed timestamp matrix
  (10 chars -> date at 00:00 UTC, 19 chars -> 'YYYY-MM-DD HH:MM:SS',
  otherwise ISO).
* CSV-import path (reference: DataCatalogController.py:1505-1569):
  string ``'TRUE'`` (upper-cased) -> True else False.

Here both are column-expression factories: they run JVM-side inside
whole-stage codegen, so coercion costs nothing extra at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def coerce_bool_from_string(col: Column) -> Column:
    """CSV-path bool: case-insensitive 'TRUE' -> True, else False
    (reference: DataCatalogController.py:1510-1521)."""
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.upper(F.trim(col)) == F.lit("TRUE")
    )


def coerce_bool_truthy(col: Column) -> Column:
    """Query-path bool: Python ``bool(value)`` truthiness on an arbitrary
    (stringified) value (reference: DataCatalogController.py:1872-1875).
    Empty string / '0' / 0 / false-typed false -> False, else True."""
    s = F.trim(col.cast("string"))
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
        ~(
            (s == F.lit(""))
            | (F.lower(s) == F.lit("false"))
            | (s == F.lit("0"))
            | (s == F.lit("0.0"))
        )
    )


def coerce_double(col: Column) -> Column:
    """float(value); malformed input -> null (ANSI-safe try_cast)
    (reference: DataCatalogController.py:1885-1888)."""
    return F.trim(col.cast("string")).try_cast("double")


def coerce_string(col: Column) -> Column:
    """str(value) (reference: DataCatalogController.py:1876-1879)."""
    return col.cast("string")


def richtext_import_swap(col: Column) -> Column:
    """On CSV import, ',' separators become '<br>' (reference:
    DataCatalogController.py:1533-1537)."""
    return F.regexp_replace(col, r",\s*", "<br>")


def richtext_export_swap(col: Column) -> Column:
    """On export, '<br>' becomes ', ' (reference:
    DataCatalogController.py:301)."""
    return F.regexp_replace(col, r"<br>", ", ")


def coerce_timestamp(col: Column) -> Column:
    """Length-sniffed timestamp matrix (reference:
    DataCatalogController.py:1893-1936):

    * native timestamp/date values pass through,
    * 10-char string -> date at 00:00:00 UTC,
    * 19-char string -> 'yyyy-MM-dd HH:mm:ss' (UTC),
    * otherwise ISO-8601 parse.

    Implemented as a coalesce cascade; session timezone is pinned to UTC
    by session.get_spark so string parses land in UTC like the reference.
    """
    s = F.trim(col.cast("string"))
    return F.coalesce(
        F.when(F.length(s) == 10, F.try_to_timestamp(s, F.lit("yyyy-MM-dd"))),
        F.when(F.length(s) == 19, F.try_to_timestamp(s, F.lit("yyyy-MM-dd HH:mm:ss"))),
        F.try_to_timestamp(s),
    )


def coerce_enum(col: Column, enum_values: Column) -> Column:
    """Enum membership: value must be one of the template's enum_values,
    else null (invalid) (reference: DataCatalogController.py:121-131,
    :1889-1892). ``enum_values`` is an array column."""
    v = F.trim(col.cast("string"))
    return F.when(F.array_contains(enum_values, v), v)


def render_tag_value(
    field_type_col: Column,
    string_col: Column,
    double_col: Column,
    bool_col: Column,
    ts_col: Column,
) -> Column:
    """Inverse of the typed routing in ``dynamic.coerce_long_rows``:
    render one display string from the typed columns (used by
    export/report/history writers — reference export stringifies every
    value, BigQueryUtils.py:263-305)."""
    return F.coalesce(
        string_col,
        F.when(field_type_col == "double", double_col.cast("string")),
        F.when(field_type_col == "bool", F.when(bool_col, "TRUE").otherwise("FALSE")),
        F.when(
            field_type_col.isin("datetime", "timestamp"),
            F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        ),
    )
