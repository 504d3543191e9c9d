"""Asset discovery: build the ``assets`` inventory (SURVEY.md S1-S4,
S15; reference: Resources.py:77-128 project/folder listing,
:271-336 GCS blob scan; DataCatalogController.py:548-578 parquet footer
schema + row count; :498-674 entry creation).

The reference lists BigQuery datasets/tables via API calls and infers
GCS parquet schemas by reading file footers. Here:

* ``discover_catalog_assets`` — the Spark-catalog analogue of the
  BQ listing (spark.catalog.listTables per database);
* ``discover_parquet_assets`` — file-based assets: one row per parquet
  file with footer-only schema, num_rows and size_bytes (no data read);
* entry creation (S15) is just appending these rows to the inventory —
  the file->entry id normalization (F14) is provided for parity.

Footer reads in ``discover_parquet_assets`` are driver-side pyarrow
calls — fine into the thousands of files.
``discover_parquet_assets_distributed`` is the cluster form: the path
list parallelizes and executors parse footers with pyarrow (seek to
metadata, no data pages) — the shape for millions of files.
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


def discover_parquet_assets_distributed(
    spark: SparkSession,
    directory: str,
    project: str = "local",
    dataset: str | None = None,
    tasks: int = 64,
) -> DataFrame:
    """Cluster form of ``discover_parquet_assets`` (the S4 scale path):
    the file list — a cheap object-store LIST — parallelizes into path
    batches, and each executor opens its files with pyarrow and parses
    ONLY the footer (pyarrow seeks to the metadata; no data pages are
    read). At millions of files this is the difference between a
    driver-side loop and a short cluster job; the driver never touches
    file contents. Output rows are identical to the driver-side form.
    """
    import glob as globmod

    dataset = dataset or os.path.basename(os.path.normpath(directory))
    paths = sorted(globmod.glob(os.path.join(directory, "*.parquet")))
    if not paths:
        return spark.createDataFrame([], ASSETS_SCHEMA)
    pdf = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        min(len(paths), tasks)
    )

    def parse_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            out = []
            for path in b["path"]:
                meta = pq.ParquetFile(path)
                stat = os.stat(path)
                table = entry_id_from_path(os.path.basename(path))
                ts = datetime.datetime.fromtimestamp(stat.st_mtime, tz=datetime.timezone.utc)
                out.append(
                    {
                        "asset_uri": f"{project}/datasets/{dataset}/tables/{table}",
                        "asset_type": "fileset",
                        "project": project,
                        "dataset": dataset,
                        "table": table,
                        "schema": [
                            {"name": f.name, "type": str(f.type), "mode": "NULLABLE",
                             "subcolumns": None}
                            for f in meta.schema_arrow
                        ],
                        "num_rows": meta.metadata.num_rows,
                        "size_bytes": stat.st_size,
                        "created_ts": ts,
                        "updated_ts": ts,
                    }
                )
            yield pd.DataFrame(out)

    return pdf.mapInPandas(parse_footers, ASSETS_SCHEMA)


def discover_catalog_assets(spark: SparkSession, project: str = "spark") -> DataFrame:
    """S1: inventory from the Spark catalog (databases x tables) — the
    engine-native analogue of the reference's BQ project listing."""
    rows = []
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            schema = [
                {"name": c.name, "type": c.dataType, "mode": "NULLABLE", "subcolumns": None}
                for c in spark.catalog.listColumns(t.name, db.name)
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
