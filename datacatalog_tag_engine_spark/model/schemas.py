"""Public table schemas of the engine (SURVEY.md section 1.4).

These are the Spark equivalents of the reference's storage surfaces:
Data Catalog templates and tag protos, the asset inventory, and the
BigQuery history and job tables (reference: BigQueryUtils.py:344-387,
:504-521; JobManager.py:168-178; TaskManager.py:192-202). Configs stay
JSON-shaped dicts (``TagEngine.configs``), and the export builds its
report tables' columns itself (``operators/export.py``).

The ``tags`` table uses a long/EAV layout: one row per
(asset, column, template, field). That is the shape the reference's own
export tables use, it merges cheaply (MERGE key is the 4-tuple), and it
keeps the table schema stable as templates evolve. Typed value columns
(one per scalar type) avoid lossy stringification; exactly one is
non-null per row.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Field types supported by the tag type system (reference:
# DataCatalogController.py:1872-1936).
FIELD_TYPES = ("bool", "string", "double", "enum", "richtext", "datetime", "timestamp")

TEMPLATES_SCHEMA = T.StructType(
    [
        T.StructField("template_id", T.StringType(), False),
        T.StructField("field_id", T.StringType(), False),
        T.StructField("display_name", T.StringType(), True),
        T.StructField("field_type", T.StringType(), False),
        T.StructField("is_required", T.BooleanType(), True),
        T.StructField("order", T.IntegerType(), True),
        T.StructField("enum_values", T.ArrayType(T.StringType()), True),
    ]
)

SUBCOLUMN_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
    ]
)

ASSET_COLUMN_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("mode", T.StringType(), True),
        T.StructField("subcolumns", T.ArrayType(SUBCOLUMN_SCHEMA), True),
    ]
)

# One row per discoverable data asset (reference: Resources.py:131-147 for
# the URI forms; schema capture DataCatalogController.py:548-578).
ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_uri", T.StringType(), False),
        T.StructField("asset_type", T.StringType(), False),  # bigquery|fileset|spanner
        T.StructField("project", T.StringType(), True),
        T.StructField("dataset", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("schema", T.ArrayType(ASSET_COLUMN_SCHEMA), True),
        T.StructField("num_rows", T.LongType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("created_ts", T.TimestampType(), True),
        T.StructField("updated_ts", T.TimestampType(), True),
    ]
)

# Long/EAV tag layout; `column` is null for table-level tags (reference
# tag.column: DataCatalogController.py:419, :1013, :1579).
TAGS_SCHEMA = T.StructType(
    [
        T.StructField("asset_uri", T.StringType(), False),
        T.StructField("column", T.StringType(), True),
        T.StructField("template_id", T.StringType(), False),
        T.StructField("field_id", T.StringType(), False),
        T.StructField("field_type", T.StringType(), False),
        T.StructField("field_value_string", T.StringType(), True),
        T.StructField("field_value_double", T.DoubleType(), True),
        T.StructField("field_value_bool", T.BooleanType(), True),
        T.StructField("field_value_ts", T.TimestampType(), True),
        T.StructField("job_uuid", T.StringType(), True),
        T.StructField("updated_ts", T.TimestampType(), True),
    ]
)

# Audit stream: one row per tag mutation, day-partitioned on event_time
# (reference: BigQueryUtils.py:344-387).
TAG_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("asset_name", T.StringType(), False),
        T.StructField("column", T.StringType(), True),
        T.StructField("template_id", T.StringType(), False),
        T.StructField("field_id", T.StringType(), False),
        T.StructField("field_value", T.StringType(), True),
        T.StructField("action", T.StringType(), True),  # CREATE|UPDATE|DELETE
        T.StructField("tag_creator_account", T.StringType(), True),
        T.StructField("tag_invoker_account", T.StringType(), True),
        T.StructField("job_uuid", T.StringType(), True),
        T.StructField("event_date", T.DateType(), True),  # partition column
    ]
)

# Job ledger (reference: JobManager.py:168-178, :119-135). Task-level
# accounting is Spark's own scheduler; the ledger keeps per-run rollups.
JOBS_SCHEMA = T.StructType(
    [
        T.StructField("job_uuid", T.StringType(), False),
        T.StructField("config_uuid", T.StringType(), True),
        T.StructField("config_type", T.StringType(), True),
        T.StructField("job_status", T.StringType(), True),
        T.StructField("task_count", T.LongType(), True),
        T.StructField("tasks_ran", T.LongType(), True),
        T.StructField("tasks_success", T.LongType(), True),
        T.StructField("tasks_failed", T.LongType(), True),
        T.StructField("creation_time", T.TimestampType(), True),
        T.StructField("completion_time", T.TimestampType(), True),
    ]
)

# Job metadata (reference BigQueryUtils.py:504-521): one row per job
# carrying caller-supplied workflow metadata as a JSON string,
# day-partitioned on event_time in the reference
JOB_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("job_uuid", T.StringType(), False),
        T.StructField("metadata", T.StringType(), False),
        T.StructField("tag_creator_sa", T.StringType(), False),
        T.StructField("tag_invoker_sa", T.StringType(), False),
    ]
)
