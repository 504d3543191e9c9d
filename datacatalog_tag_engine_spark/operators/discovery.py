"""Asset discovery: build the ``assets`` inventory (SURVEY.md S1-S4,
S15; reference: Resources.py:77-128 project/folder listing,
:271-336 GCS blob scan; DataCatalogController.py:548-578 parquet footer
schema + row count; :498-674 entry creation).

The reference lists BigQuery datasets/tables via API calls and infers
GCS parquet schemas by reading file footers. Here:

* ``discover_catalog_assets`` — the Spark-catalog analogue of the
  BQ listing (spark.catalog.listTables per database, temporary views
  skipped);
* ``discover_parquet_assets`` — file-based assets: one row per parquet
  file with footer-only schema, num_rows and size_bytes (no data read);
* entry creation (S15) is just appending these rows to the inventory —
  the file->entry id normalization (F14) is provided for parity.

Footer reads in ``discover_parquet_assets`` are driver-side pyarrow
calls that read the footer only, no data pages — fine into the
thousands of files.
"""

from __future__ import annotations

import datetime
import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..model.schemas import ASSETS_SCHEMA
from ..session import local_df


def entry_id_from_path(path: str) -> str:
    """F14 (reference DataCatalogController.py:201-203, :507-518):
    '-'->'_', '/'->'_', strip the extension."""
    base = re.sub(r"\.[A-Za-z0-9]+$", "", path)
    return base.replace("-", "_").replace("/", "_")


def discover_parquet_assets(
    spark: SparkSession,
    directory: str,
    project: str = "local",
    dataset: str | None = None,
) -> DataFrame:
    """One asset row per *.parquet under ``directory`` with footer
    schema/num_rows/size_bytes (S3+S4+S15)."""
    import pyarrow.parquet as pq

    dataset = dataset or os.path.basename(os.path.normpath(directory))
    rows = []
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(directory, name)
        meta = pq.ParquetFile(path)
        schema = meta.schema_arrow
        stat = os.stat(path)
        table = entry_id_from_path(name)
        rows.append(
            {
                "asset_uri": f"{project}/datasets/{dataset}/tables/{table}",
                "asset_type": "fileset",
                "project": project,
                "dataset": dataset,
                "table": table,
                "schema": [
                    {"name": f.name, "type": str(f.type), "mode": "NULLABLE", "subcolumns": None}
                    for f in schema
                ],
                "num_rows": meta.metadata.num_rows,
                "size_bytes": stat.st_size,
                "created_ts": datetime.datetime.fromtimestamp(stat.st_mtime, tz=datetime.timezone.utc),
                "updated_ts": datetime.datetime.fromtimestamp(stat.st_mtime, tz=datetime.timezone.utc),
            }
        )
    return local_df(spark, rows, ASSETS_SCHEMA)


def discover_catalog_assets(spark: SparkSession, project: str = "spark") -> DataFrame:
    """S1: inventory from the Spark catalog (databases x tables) — the
    engine-native analogue of the reference's BQ project listing.
    ``listTables`` also returns the session's temporary views, which
    belong to no database; they are skipped."""
    rows = []
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if t.isTemporary:
                continue
            schema = [
                {"name": c.name, "type": c.dataType, "mode": "NULLABLE", "subcolumns": None}
                for c in spark.catalog.listColumns(f"`{db.name}`.`{t.name}`")
            ]
            rows.append(
                {
                    "asset_uri": f"{project}/datasets/{db.name}/tables/{t.name}",
                    "asset_type": "bigquery",
                    "project": project,
                    "dataset": db.name,
                    "table": t.name,
                    "schema": schema,
                }
            )
    return local_df(spark, rows, ASSETS_SCHEMA)
