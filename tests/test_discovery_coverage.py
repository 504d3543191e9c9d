"""Asset discovery (S1-S4/S15), coverage (J6/A9), tag copy (J7), and
update-subset tests."""

from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.operators.coverage import coverage_report
from datacatalog_tag_engine_spark.operators.discovery import (
    discover_catalog_assets,
    discover_parquet_assets,
    entry_id_from_path,
)


def test_entry_id_normalization():
    assert entry_id_from_path("my-file.parquet") == "my_file"
    assert entry_id_from_path("a/b/c.snappy") == "a_b_c"


def test_discover_parquet_assets(spark, sf_dir, tmp_path):
    assets = discover_parquet_assets(spark, sf_dir, project="local")
    rows = {r["table"]: r for r in assets.collect()}
    assert set(rows) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    li = rows["lineitem"]
    assert li["num_rows"] == 6000
    assert li["size_bytes"] > 0
    assert [c["name"] for c in li["schema"]][:2] == ["l_orderkey", "l_partkey"]
    assert li["asset_uri"] == "local/datasets/sf0.001/tables/lineitem"
    # empty directory -> empty inventory, not an error
    assert discover_parquet_assets(spark, str(tmp_path)).count() == 0


def test_discover_catalog_assets_skips_temp_views(spark, tmp_path):
    """S1: every session here holds temporary views (register_testdata);
    they belong to no database, so the listing skips them instead of
    looking their columns up in ``default``."""
    spark.range(1).createOrReplaceTempView("discovery_tv")
    spark.sql(f"create database discovery_db location '{tmp_path}'")
    try:
        spark.sql("create table discovery_db.owners (id bigint, name string) using parquet")
        rows = {r["asset_uri"]: r for r in discover_catalog_assets(spark).collect()}
    finally:
        spark.sql("drop database discovery_db cascade")
    owners = rows["spark/datasets/discovery_db/tables/owners"]
    assert (owners["dataset"], owners["table"]) == ("discovery_db", "owners")
    assert [(c["name"], c["type"]) for c in owners["schema"]] == [("id", "bigint"), ("name", "string")]
    assert not any(r["table"] in ("discovery_tv", "lineitem") for r in rows.values())


def test_coverage_report(spark, sf_dir):
    assets = discover_parquet_assets(spark, sf_dir)
    from datacatalog_tag_engine_spark.model.schemas import TAGS_SCHEMA

    tags = spark.createDataFrame(
        [
            ("local/datasets/sf0.001/tables/lineitem", None, "t", "a", "string", "x", None, None, None, None, None),
            ("local/datasets/sf0.001/tables/lineitem", None, "t", "b", "string", "y", None, None, None, None, None),
            ("local/datasets/sf0.001/tables/orders", None, "t", "a", "string", "z", None, None, None, None, None),
        ],
        TAGS_SCHEMA,
    )
    rep = coverage_report(assets, tags).collect()
    assert len(rep) == 1
    r = rep[0]
    assert (r["table_count"], r["tagged_tables"], r["tag_count"]) == (10, 2, 3)
    per_table = {t["table"]: t["n"] for t in r["tables"]}
    assert per_table["lineitem"] == 2 and per_table["events"] == 0

    # exclusions (P9)
    rep2 = coverage_report(assets, tags, excluded_tables=["lineitem"]).first()
    assert (rep2["table_count"], rep2["tag_count"]) == (9, 1)


def test_copy_tags_and_update_subset(spark):
    from datacatalog_tag_engine_spark.engine import TagEngine
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    eng = TagEngine(spark)
    eng.create_template("t", [
        {"field_id": "owner", "field_type": "string"},
        {"field_id": "domain", "field_type": "string"},
    ])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/src", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "src"}],
        ASSETS_SCHEMA,
    )
    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "t", included_uris="bigquery/project/p/dataset/d/src",
        fields=[{"field_id": "owner", "field_value": "alice"},
                {"field_id": "domain", "field_value": "OPS"}],
    )
    eng.trigger_job(cfg, assets)

    n = eng.copy_tags("p/datasets/d/tables/src", "p/datasets/d/tables/dst")
    assert n == 2
    vals = {
        (r["asset_uri"], r["field_id"]): r["field_value_string"]
        for r in eng.store.all().collect()
    }
    assert vals[("p/datasets/d/tables/dst", "owner")] == "alice"

    # subset update touches only the named field
    eng.update_tag_subset("t", "p/datasets/d/tables/dst", None,
                          [{"field_id": "owner", "field_type": "string", "raw_value": "bob"}])
    vals = {
        (r["asset_uri"], r["field_id"]): r["field_value_string"]
        for r in eng.store.all().collect()
    }
    assert vals[("p/datasets/d/tables/dst", "owner")] == "bob"
    assert vals[("p/datasets/d/tables/dst", "domain")] == "OPS"


def test_coverage_exclusion_keeps_null_table_rows(spark):
    """Regression: ~isin() is NULL for dataset-level rows (table=NULL),
    so an unrelated table exclusion silently dropped them."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA, TAGS_SCHEMA

    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": None},
         {"asset_uri": "p/datasets/d/tables/t1", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "t1"}],
        ASSETS_SCHEMA,
    )
    tags = spark.createDataFrame([], TAGS_SCHEMA)
    base = coverage_report(assets, tags).agg(F.sum("table_count")).first()[0]
    with_excl = (
        coverage_report(assets, tags, excluded_tables=["unrelated"])
        .agg(F.sum("table_count"))
        .first()[0]
    )
    assert base == with_excl == 2
