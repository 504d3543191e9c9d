"""Glossary-asset tagging (SURVEY.md J1; reference:
DataCatalogController.py:768-799 / apply_glossary_asset_config).

The reference runs, per asset, one BigQuery lookup
``select canonical_name from mapping where source_name in (<schema cols>)``
and sets each matched canonical name's bool field to True. Spark-first:
ALL assets are handled in one pass — explode each asset's schema
columns, broadcast-join the (small) mapping table, and emit one bool
tag row per matched canonical field. No per-asset statements, one
broadcast hash join, no shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def glossary_matches(assets: DataFrame, mapping: DataFrame) -> DataFrame:
    """Match every asset's schema columns against the glossary mapping.

    assets: ASSETS_SCHEMA rows (schema array populated).
    mapping: (source_name STRING, canonical_name STRING).
    Returns (asset_uri, source_name, canonical_name), one row per hit.
    """
    cols = assets.select(
        "asset_uri", F.explode(F.col("schema")["name"]).alias("source_name")
    )
    return cols.join(F.broadcast(mapping), "source_name", "inner").select(
        "asset_uri", "source_name", "canonical_name"
    )


def glossary_tag_rows(assets: DataFrame, mapping: DataFrame, template_id: str) -> DataFrame:
    """Emit raw long tag rows: canonical_name fields set to 'TRUE' for
    each matched asset (coerce with coerce_long_rows(bool_mode='csv')).
    One row per (asset_uri, canonical_name): two schema columns that map
    to one canonical name set one tag field, not two."""
    return glossary_matches(assets, mapping).select(
        "asset_uri",
        F.lit(None).cast("string").alias("column"),
        F.lit(template_id).alias("template_id"),
        F.col("canonical_name").alias("field_id"),
        F.lit("bool").alias("field_type"),
        F.lit("TRUE").alias("raw_value"),
    ).distinct()
