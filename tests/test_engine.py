"""End-to-end TagEngine lifecycle tests (SURVEY.md section 3): config
authoring -> trigger_job -> tags + history + jobs, across config types,
mirroring the reference's examples/unit_tests.sh but asserting on
tables instead of a UI."""

import datetime

import pytest
from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.engine import TagEngine
from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

TEMPLATE = [
    {"field_id": "data_domain", "field_type": "enum", "enum_values": ["LOGISTICS", "MARKETING", "OPERATIONS"]},
    {"field_id": "data_owner", "field_type": "string"},
    {"field_id": "is_compliant", "field_type": "bool"},
    {"field_id": "retention_days", "field_type": "double"},
    {"field_id": "approved_by", "field_type": "richtext"},
    {"field_id": "data_creation", "field_type": "datetime"},
    {"field_id": "row_count", "field_type": "double"},
]


@pytest.fixture()
def engine(spark):
    eng = TagEngine(spark)
    eng.create_template("data_governance", TEMPLATE)
    return eng


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        {
            "asset_uri": f"p/datasets/d/tables/{t}",
            "asset_type": "bigquery",
            "project": "p",
            "dataset": "d",
            "table": t,
            "schema": [
                {"name": c, "type": None, "mode": None, "subcolumns": None}
                for c in spark.table(t).columns
            ],
        }
        for t in ["lineitem", "orders"]
    ]
    return spark.createDataFrame(rows, ASSETS_SCHEMA)


def tag_map(engine):
    out = {}
    for r in engine.store.all().collect():
        v = (
            r["field_value_double"]
            if r["field_type"] == "double"
            else r["field_value_bool"]
            if r["field_type"] == "bool"
            else r["field_value_ts"]
            if r["field_type"] in ("datetime", "timestamp")
            else r["field_value_string"]
        )
        out[(r["asset_uri"], r["column"], r["field_id"])] = v
    return out


def test_dynamic_table_end_to_end(spark, engine, assets):
    cfg = engine.create_config(
        "DYNAMIC_TAG_TABLE",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/*",
        excluded_uris="bigquery/project/p/dataset/d/orders",
        fields=[
            {"field_id": "row_count", "query_expression": "select count(*) from $table"},
            {"field_id": "data_domain", "query_expression": "select 'LOGISTICS'"},
        ],
    )
    job = engine.trigger_job(cfg, assets)
    tags = tag_map(engine)
    assert tags[("p/datasets/d/tables/lineitem", None, "row_count")] == 6000.0
    assert tags[("p/datasets/d/tables/lineitem", None, "data_domain")] == "LOGISTICS"
    assert ("p/datasets/d/tables/orders", None, "row_count") not in tags

    hist = engine.history().collect()
    assert all(h["action"] == "CREATE" for h in hist)
    assert hist[0]["asset_name"].startswith("p/dataset/d/table/")
    assert all(h["job_uuid"] == job for h in hist)

    jobs = {j["job_uuid"]: j for j in engine.jobs}
    assert jobs[job]["job_status"] == "SUCCESS"
    assert jobs[job]["tasks_success"] == 2


def test_dynamic_table_inventory_view(spark, engine):
    """Scale form: cfg['inventory_view'] names one relation holding all
    matched assets' rows keyed by asset_uri — a single-leaf fused plan
    with exclusion applied as a semi-join, no per-asset scans."""
    li = spark.table("lineitem")
    clones = {"clone_a": li, "clone_b": li.limit(100), "clone_c": li.limit(7)}
    inv = None
    for name, df in clones.items():
        part = df.withColumn("asset_uri", F.lit(f"p/datasets/d/tables/{name}"))
        inv = part if inv is None else inv.unionByName(part)
    inv.createOrReplaceTempView("inv_clones")
    asset_rows = [
        {
            "asset_uri": f"p/datasets/d/tables/{name}",
            "asset_type": "bigquery",
            "project": "p",
            "dataset": "d",
            "table": name,
            "schema": [
                {"name": c, "type": None, "mode": None, "subcolumns": None}
                for c in li.columns
            ],
        }
        for name in clones
    ]
    assets = spark.createDataFrame(asset_rows, ASSETS_SCHEMA)
    cfg = engine.create_config(
        "DYNAMIC_TAG_TABLE",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/*",
        excluded_uris="bigquery/project/p/dataset/d/clone_c",
        fields=[
            {"field_id": "row_count", "query_expression": "select count(*) from $table"},
            {"field_id": "data_domain", "query_expression": "select 'LOGISTICS'"},
        ],
        inventory_view="inv_clones",
    )
    engine.trigger_job(cfg, assets)
    tags = tag_map(engine)
    assert tags[("p/datasets/d/tables/clone_a", None, "row_count")] == 6000.0
    assert tags[("p/datasets/d/tables/clone_b", None, "row_count")] == 100.0
    assert tags[("p/datasets/d/tables/clone_a", None, "data_domain")] == "LOGISTICS"
    assert ("p/datasets/d/tables/clone_c", None, "row_count") not in tags


def test_ordering_views(spark, engine, assets):
    """O5/O6: jobs-by-config newest-completion-first, non-inactive
    config ordering, and the latest-25 log view."""
    import time

    cfg = engine.create_config(
        "STATIC_TAG_ASSET", "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "alice"}],
    )
    engine.trigger_job(cfg, assets)
    time.sleep(0.01)
    engine.trigger_job(cfg, assets)

    jobs = engine.jobs_by_config(cfg).collect()
    assert len(jobs) == 2
    assert jobs[0]["completion_time"] >= jobs[1]["completion_time"]

    # a same-hash config deactivates the prior one; active_configs drops it
    cfg2 = engine.create_config(
        "STATIC_TAG_ASSET", "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "bob"}],
    )
    act = engine.active_configs()
    assert [c["config_uuid"] for c in act] == [cfg2]

    logs = engine.recent_log_entries(limit=1).collect()
    assert len(logs) == 1
    assert logs[0]["payload"].startswith("UPDATE p/dataset/d/table/lineitem data_owner")
    assert len(logs[0]["payload"]) <= 120


def test_static_and_overwrite_guard(spark, engine, assets):
    cfg1 = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[
            {"field_id": "data_owner", "field_value": "alice"},
            {"field_id": "is_compliant", "field_value": "TRUE"},
            {"field_id": "retention_days", "field_value": "180"},
            {"field_id": "data_creation", "field_value": "2023-11-10"},
        ],
    )
    engine.trigger_job(cfg1, assets)
    tags = tag_map(engine)
    assert tags[("p/datasets/d/tables/lineitem", None, "data_owner")] == "alice"
    assert tags[("p/datasets/d/tables/lineitem", None, "is_compliant")] is True
    assert tags[("p/datasets/d/tables/lineitem", None, "retention_days")] == 180.0
    assert tags[("p/datasets/d/tables/lineitem", None, "data_creation")] == datetime.datetime(2023, 11, 10)

    # overwrite=False: second config does not clobber the existing tag
    cfg2 = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        excluded_uris=None,
        overwrite=False,
        fields=[{"field_id": "data_owner", "field_value": "mallory"}],
    )
    engine.trigger_job(cfg2, assets)
    assert tag_map(engine)[("p/datasets/d/tables/lineitem", None, "data_owner")] == "alice"


def test_enum_validation_rejects_bad_value(engine):
    with pytest.raises(ValueError, match="enum value"):
        engine.create_config(
            "STATIC_TAG_ASSET",
            "data_governance",
            included_uris="x",
            fields=[{"field_id": "data_domain", "field_value": "NOT_A_DOMAIN"}],
        )


def test_unknown_field_rejected(engine):
    with pytest.raises(ValueError, match="not in template"):
        engine.create_config(
            "STATIC_TAG_ASSET",
            "data_governance",
            included_uris="x",
            fields=[{"field_id": "nope", "field_value": "v"}],
        )


def test_repeated_field_ids_rejected(engine):
    """One tag key holds one value per field, so a config or a subset
    update naming a field twice is refused before any row is written."""
    with pytest.raises(ValueError, match="'data_owner' given twice"):
        engine.create_config(
            "STATIC_TAG_ASSET",
            "data_governance",
            included_uris="x",
            fields=[{"field_id": "data_owner", "field_value": v} for v in ("a", "b")],
        )
    owner = {"field_id": "data_owner", "field_type": "string"}
    with pytest.raises(ValueError, match="'data_owner' given twice"):
        engine.update_tag_subset("data_governance", "p/datasets/d/tables/lineitem", None,
                                 [dict(owner, raw_value="a"), dict(owner, raw_value="b")])
    assert engine.configs == {} and engine.store.all().count() == 0


def test_config_dedup_by_hash(engine):
    c1 = engine.create_config(
        "STATIC_TAG_ASSET", "data_governance",
        included_uris="bigquery/project/p/dataset/d/*",
        fields=[{"field_id": "data_owner", "field_value": "a"}],
    )
    c2 = engine.create_config(
        "STATIC_TAG_ASSET", "data_governance",
        included_uris="bigquery/project/p/dataset/d/*",
        fields=[{"field_id": "data_owner", "field_value": "b"}],
    )
    assert engine.configs[c1]["config_status"] == "INACTIVE"
    assert engine.configs[c2]["config_status"] == "ACTIVE"
    with pytest.raises(ValueError, match="not active"):
        engine.trigger_job(c1, None)


def test_dynamic_column_config(spark, engine, assets):
    cfg = engine.create_config(
        "DYNAMIC_TAG_COLUMN",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        included_columns_query="select 'l_orderkey', 'l_partkey'",
        fields=[
            {"field_id": "row_count", "query_expression": "select count(distinct $column) from $table"},
        ],
    )
    engine.trigger_job(cfg, assets)
    tags = tag_map(engine)
    li = spark.table("lineitem")
    assert tags[("p/datasets/d/tables/lineitem", "l_orderkey", "row_count")] == float(
        li.select(F.countDistinct("l_orderkey")).first()[0]
    )
    assert tags[("p/datasets/d/tables/lineitem", "l_partkey", "row_count")] == float(
        li.select(F.countDistinct("l_partkey")).first()[0]
    )


def test_glossary_config(spark, engine, assets):
    mapping = spark.createDataFrame(
        [("l_orderkey", "is_compliant"), ("o_custkey", "is_compliant")],
        "source_name string, canonical_name string",
    )
    cfg = engine.create_config(
        "GLOSSARY_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/*",
    )
    engine.trigger_job(cfg, assets, mapping=mapping)
    tags = tag_map(engine)
    assert tags[("p/datasets/d/tables/lineitem", None, "is_compliant")] is True
    assert tags[("p/datasets/d/tables/orders", None, "is_compliant")] is True


def test_import_config(spark, engine, assets, tmp_path):
    csv = tmp_path / "tags.csv"
    csv.write_text(
        "project,dataset,table,data_owner,retention_days,approved_by\n"
        "p,d,lineitem,bob ,90,x@y.com, z@y.com\n"
    )
    # note: csv line has richtext with comma -> must be quoted to survive
    csv.write_text(
        'project,dataset,table,data_owner,retention_days,approved_by\n'
        'p,d,lineitem,bob ,90,"x@y.com, z@y.com"\n'
    )
    cfg = engine.create_config(
        "TAG_IMPORT", "data_governance", included_uris="n/a", csv_path=str(csv)
    )
    engine.trigger_job(cfg, assets)
    tags = tag_map(engine)
    assert tags[("p/datasets/d/tables/lineitem", None, "data_owner")] == "bob"  # rtrim
    assert tags[("p/datasets/d/tables/lineitem", None, "retention_days")] == 90.0
    assert tags[("p/datasets/d/tables/lineitem", None, "approved_by")] == "x@y.com<br>z@y.com"


def test_restore_config(spark, engine, assets, tmp_path):
    import json

    jl = tmp_path / "backup.jsonl"
    objs = [
        {
            "entryGroupId": "d", "id": "lineitem", "locationId": "us", "projectId": "p",
            "tags": [
                {"templateId": "data_governance", "projectId": "p",
                 "fields": [{"name": "data_owner", "type": "STRING", "value": "carol"}]},
                {"templateId": "other_template", "projectId": "p",
                 "fields": [{"name": "data_owner", "type": "STRING", "value": "IGNORED"}]},
            ],
            "columns": [
                {"name": "lineitem:l_orderkey",
                 "tags": [{"templateId": "data_governance", "projectId": "p",
                           "fields": [{"name": "is_compliant", "type": "BOOL", "value": "TRUE"}]}]}
            ],
            "createTime": "x", "updateTime": "y", "snapshotTime": "z",
        },
        {"entryGroupId": "d", "id": "orders", "locationId": "us", "projectId": "OTHER",
         "tags": [{"templateId": "data_governance", "projectId": "OTHER",
                   "fields": [{"name": "data_owner", "type": "STRING", "value": "SKIP"}]}],
         "columns": [], "createTime": "x", "updateTime": "y", "snapshotTime": "z"},
    ]
    jl.write_text("\n".join(json.dumps(o) for o in objs))
    cfg = engine.create_config(
        "TAG_RESTORE", "data_governance", included_uris="n/a",
        backup_path=str(jl), project_id="p",
    )
    engine.trigger_job(cfg, assets)
    tags = tag_map(engine)
    assert tags[("p/datasets/d/tables/lineitem", None, "data_owner")] == "carol"
    assert tags[("p/datasets/d/tables/lineitem", "l_orderkey", "is_compliant")] is True
    assert not any(k[0].endswith("orders") for k in tags)


def test_scheduled_refresh(spark, engine, assets):
    t0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    cfg = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "cron"}],
        refresh_mode="AUTO",
        refresh_frequency=24,
        refresh_unit="hours",
        next_run=t0,
    )
    jobs = engine.run_ready_configs(assets, now=t0)
    assert len(jobs) == 1
    c = engine.configs[cfg]
    assert c["version"] == 2
    assert c["next_run"] == t0 + datetime.timedelta(hours=24)
    # not ready again until next_run
    assert engine.run_ready_configs(assets, now=t0) == []
    assert engine.run_ready_configs(assets, now=t0 + datetime.timedelta(hours=25)) != []


def test_delete_and_purge_configs(spark, engine):
    # delete_config: miss on unknown uuid or mismatched type, hard-delete
    # otherwise (reference TagEngineStoreHandler.py:1286-1314)
    cfg = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "x"}],
    )
    assert not engine.delete_config("cfg-999999")
    assert not engine.delete_config(cfg, "DYNAMIC_TAG_TABLE")
    assert cfg in engine.configs
    assert engine.delete_config(cfg, "STATIC_TAG_ASSET")
    assert cfg not in engine.configs
    assert not engine.delete_config(cfg)  # already gone

    # purge_inactive_configs: superseding a config by hash (P11)
    # deactivates the old one; purge removes only INACTIVE of the
    # requested type (reference TagEngineStoreHandler.py:1317-1343)
    old = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/orders",
        fields=[{"field_id": "data_owner", "field_value": "v1"}],
    )
    new = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/orders",
        fields=[{"field_id": "data_owner", "field_value": "v2"}],
    )
    assert engine.configs[old]["config_status"] == "INACTIVE"
    assert engine.purge_inactive_configs("DYNAMIC_TAG_TABLE") == 0
    assert engine.purge_inactive_configs("STATIC_TAG_ASSET") == 1
    assert old not in engine.configs and new in engine.configs
    assert engine.purge_inactive_configs() == 0  # nothing left to purge


def test_settings_documents_and_history_gate(spark, engine, assets):
    # settings docs mirror the reference's keyed collection: full
    # replace on write, (exists, dict) on read
    assert engine.get_settings("u@example.com") == (False, {})
    engine.set_settings("u@example.com", template_id="data_governance", template_project="p")
    ok, s = engine.get_settings("u@example.com")
    assert ok and s["template_id"] == "data_governance"
    engine.set_settings("u@example.com", template_id="other")
    assert engine.get_settings("u@example.com")[1] == {"template_id": "other"}

    # tag_history off: tagging still works, no history rows are written
    engine.set_settings("tag_history", enabled=False)
    cfg = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "quiet"}],
    )
    engine.trigger_job(cfg, assets)
    assert engine.store.all().count() == 1
    assert engine.history().count() == 0
    assert engine.jobs[-1]["job_status"] == "SUCCESS"

    # re-enable: subsequent merges append again
    engine.set_settings("tag_history", enabled=True)
    cfg2 = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/orders",
        fields=[{"field_id": "data_owner", "field_value": "loud"}],
    )
    engine.trigger_job(cfg2, assets)
    assert engine.history().count() == 1


def test_settings_driven_coverage_report(spark, engine, assets):
    cfg = engine.create_config(
        "STATIC_TAG_ASSET",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "x"}],
    )
    engine.trigger_job(cfg, assets)
    # unconfigured: everything reported
    full = engine.coverage_report(assets)
    assert full.agg(F.sum("table_count")).first()[0] == assets.count()
    # configured: project filter + table exclusion both apply
    engine.set_settings(
        "coverage_report", included_projects=["p"], excluded_tables=["orders"]
    )
    r = engine.coverage_report(assets).first()
    assert r["table_count"] == assets.count() - 1
    assert r["tagged_tables"] == 1
    engine.set_settings("coverage_report", included_projects=["absent"])
    assert engine.coverage_report(assets).count() == 0


def test_settings_snapshot_semantics(spark, engine, assets):
    # reads are snapshots: mutating the returned dict must not edit
    # engine state behind set_settings' full-replace contract
    engine.set_settings("tag_history", enabled=True)
    _, s = engine.get_settings("tag_history")
    s["enabled"] = False
    assert engine.tag_history_enabled()
    # sets/tuples normalize to lists at write time (JSON-snapshot safe)
    engine.set_settings("coverage_report", included_projects={"p2", "p1"})
    assert engine.get_settings("coverage_report")[1]["included_projects"] == ["p1", "p2"]
    # configured-but-EMPTY project list means an empty report, not all
    engine.set_settings("coverage_report", included_projects=[])
    assert engine.coverage_report(assets).count() == 0


def test_dynamic_column_schema_discovery(spark, engine):
    # the reference's INFORMATION_SCHEMA.COLUMNS idiom
    # (examples/configs/dynamic_column/*.json): answered from the
    # inventory's schema column as ONE distributed plan — tags land
    # only on the predicate-matched columns of each asset
    rows = [
        {
            "asset_uri": "p/datasets/d/tables/lineitem",
            "asset_type": "bigquery", "project": "p", "dataset": "d",
            "table": "lineitem",
            "schema": [
                {"name": "l_returnflag", "type": "STRING", "mode": "NULLABLE", "subcolumns": None},
                {"name": "l_orderkey", "type": "INT64", "mode": "NULLABLE", "subcolumns": None},
                {"name": "l_linestatus", "type": "STRING", "mode": "NULLABLE", "subcolumns": None},
            ],
        },
        {
            "asset_uri": "p/datasets/d/tables/orders",
            "asset_type": "bigquery", "project": "p", "dataset": "d",
            "table": "orders",
            "schema": [
                {"name": "o_orderkey", "type": "INT64", "mode": "NULLABLE", "subcolumns": None},
                {"name": "o_orderstatus", "type": "STRING", "mode": "NULLABLE", "subcolumns": None},
            ],
        },
    ]
    assets = spark.createDataFrame(rows, ASSETS_SCHEMA)
    cfg = engine.create_config(
        "DYNAMIC_TAG_COLUMN",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/*",
        included_columns_query=(
            "select column_name from $project.$dataset.INFORMATION_SCHEMA.COLUMNS "
            "where table_name = '$table' and data_type = 'STRING'"
        ),
        fields=[
            {"field_id": "row_count", "query_expression": "select count($column) from $table"},
        ],
    )
    engine.trigger_job(cfg, assets)
    tagged = {
        (r["asset_uri"], r["column"])
        for r in engine.store.all().select("asset_uri", "column").collect()
    }
    assert tagged == {
        ("p/datasets/d/tables/lineitem", "l_returnflag"),
        ("p/datasets/d/tables/lineitem", "l_linestatus"),
        ("p/datasets/d/tables/orders", "o_orderstatus"),
    }


def test_dynamic_column_query_reads_all_rows(spark, engine, assets):
    # reference parity (DataCatalogController.py:380-384): the columns
    # query result is ALL rows x cells — a one-column-per-ROW result
    # (the dynamic_column_auto.json example shape) must not truncate to
    # the first row
    spark.createDataFrame(
        [("lineitem", "l_orderkey"), ("lineitem", "l_partkey")],
        "t string, c string",
    ).createOrReplaceTempView("governed_columns")
    cfg = engine.create_config(
        "DYNAMIC_TAG_COLUMN",
        "data_governance",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        included_columns_query="select c from governed_columns where t = '$table'",
        fields=[
            {"field_id": "row_count", "query_expression": "select count($column) from $table"},
        ],
    )
    engine.trigger_job(cfg, assets)
    cols = {
        r["column"]
        for r in engine.store.all().select("column").collect()
    }
    assert cols == {"l_orderkey", "l_partkey"}
