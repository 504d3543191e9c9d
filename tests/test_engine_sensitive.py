"""Sensitive-column config end-to-end, per-asset error capture, and
report export through the engine facade."""

import pytest
from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.engine import TagEngine
from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA


@pytest.fixture()
def engine(spark):
    eng = TagEngine(spark)
    eng.create_template(
        "data_sensitivity",
        [
            {"field_id": "sensitive_field", "field_type": "bool"},
            {"field_id": "sensitive_type", "field_type": "string"},
            {"field_id": "row_count", "field_type": "double"},
        ],
    )
    return eng


@pytest.fixture()
def assets(spark):
    rows = [
        {"asset_uri": f"p/datasets/d/tables/{t}", "asset_type": "bigquery",
         "project": "p", "dataset": "d", "table": t}
        for t in ["users", "public_stuff", "lineitem", "missing_table"]
    ]
    return spark.createDataFrame(rows, ASSETS_SCHEMA)


def test_sensitive_config_end_to_end(spark, engine, assets):
    findings = spark.createDataFrame(
        [
            ("p/datasets/d/tables/users", "email", "EMAIL_ADDRESS"),
            ("p/datasets/d/tables/users", "name", "PERSON_NAME"),
            ("p/datasets/d/tables/public_stuff", "city", "LOCATION"),
        ],
        "asset_uri string, field string, infotype string",
    )
    selection = spark.createDataFrame(
        [
            (["EMAIL_ADDRESS"], "EMAIL"),
            (["PERSON_NAME"], "NAME"),
            (["LOCATION"], "LOCATION"),
        ],
        "field_infotypes array<string>, notable_infotype string",
    )
    classification = spark.createDataFrame(
        [
            (["EMAIL", "NAME"], "Sensitive_Personal_Identifiable_Information"),
            (["LOCATION"], "Public_Information"),
            (["EMAIL", "NAME", "LOCATION"], "Sensitive_Personal_Identifiable_Information"),
        ],
        "notable_infotypes array<string>, classification_result string",
    )
    cfg = engine.create_config(
        "SENSITIVE_TAG_COLUMN", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/*",
    )
    engine.trigger_job(cfg, assets, findings=findings, selection=selection,
                       classification=classification)

    got = {
        (r["asset_uri"], r["column"], r["field_id"]): (r["field_value_bool"], r["field_value_string"])
        for r in engine.store.all().collect()
    }
    assert got[("p/datasets/d/tables/users", "email", "sensitive_field")][0] is True
    assert got[("p/datasets/d/tables/users", "email", "sensitive_type")][1] == "EMAIL"
    assert got[("p/datasets/d/tables/users", "name", "sensitive_type")][1] == "NAME"
    # Public_Information asset is skipped entirely (reference :998)
    assert not any(k[0].endswith("public_stuff") for k in got)


def test_policy_tag_application(spark, engine):
    """create_policy_tags=True: sensitive columns of non-public assets
    get the taxonomy policy tag matching the asset classification,
    applied as a schema-metadata rewrite (reference
    DataCatalogController.py:1038-1042, :1064-1097)."""
    schema_cols = lambda names: [
        {"name": n, "type": "STRING", "mode": "NULLABLE", "subcolumns": None}
        for n in names
    ]
    assets = spark.createDataFrame(
        [
            {"asset_uri": "p/datasets/d/tables/users", "asset_type": "bigquery",
             "project": "p", "dataset": "d", "table": "users",
             "schema": schema_cols(["email", "name", "age"])},
            {"asset_uri": "p/datasets/d/tables/public_stuff", "asset_type": "bigquery",
             "project": "p", "dataset": "d", "table": "public_stuff",
             "schema": schema_cols(["city"])},
        ],
        ASSETS_SCHEMA,
    )
    findings = spark.createDataFrame(
        [
            ("p/datasets/d/tables/users", "email", "EMAIL_ADDRESS"),
            ("p/datasets/d/tables/users", "name", "PERSON_NAME"),
            ("p/datasets/d/tables/public_stuff", "city", "LOCATION"),
        ],
        "asset_uri string, field string, infotype string",
    )
    selection = spark.createDataFrame(
        [(["EMAIL_ADDRESS"], "EMAIL"), (["PERSON_NAME"], "NAME"), (["LOCATION"], "LOCATION")],
        "field_infotypes array<string>, notable_infotype string",
    )
    classification = spark.createDataFrame(
        [
            (["EMAIL", "NAME"], "Sensitive_Personal_Identifiable_Information"),
            (["LOCATION"], "Public_Information"),
        ],
        "notable_infotypes array<string>, classification_result string",
    )
    taxonomy = spark.createDataFrame(
        [
            ("taxonomies/t1/policyTags/pii", "Sensitive_Personal_Identifiable_Information"),
            ("taxonomies/t1/policyTags/public", "Public_Information"),
        ],
        "policy_tag_name string, category string",
    )
    cfg = engine.create_config(
        "SENSITIVE_TAG_COLUMN", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/*",
        create_policy_tags=True,
    )
    engine.trigger_job(cfg, assets, findings=findings, selection=selection,
                       classification=classification, taxonomy=taxonomy)

    reqs = {
        (r["asset_uri"], r["column"]): r["policy_tag"]
        for r in engine.last_policy_tag_requests.collect()
    }
    assert reqs == {
        ("p/datasets/d/tables/users", "email"): "taxonomies/t1/policyTags/pii",
        ("p/datasets/d/tables/users", "name"): "taxonomies/t1/policyTags/pii",
    }

    updated = engine.apply_policy_tags(assets)
    by_asset = {r["asset_uri"]: r for r in updated.collect()}
    users_schema = {c["name"]: c for c in by_asset["p/datasets/d/tables/users"]["schema"]}
    assert users_schema["email"]["policy_tag"] == "taxonomies/t1/policyTags/pii"
    assert users_schema["name"]["policy_tag"] == "taxonomies/t1/policyTags/pii"
    assert users_schema["age"]["policy_tag"] is None
    assert users_schema["age"]["type"] == "STRING"  # untouched fields survive
    public = {c["name"]: c for c in by_asset["p/datasets/d/tables/public_stuff"]["schema"]}
    assert public["city"]["policy_tag"] is None


def test_policy_tag_duplicate_category(spark):
    """Two policy tags in the same taxonomy category must not blow up
    the schema map (DUPLICATE_MAP_KEY): the deterministic min wins."""
    from datacatalog_tag_engine_spark.operators import sensitive as SEN

    requests = spark.createDataFrame(
        [("a", "email", "taxonomies/t1/policyTags/pii_b"),
         ("a", "email", "taxonomies/t1/policyTags/pii_a")],
        "asset_uri string, column string, policy_tag string",
    )
    assets = spark.createDataFrame(
        [{"asset_uri": "a", "asset_type": "bigquery", "project": "p",
          "dataset": "d", "table": "t",
          "schema": [{"name": "email", "type": "STRING", "mode": None, "subcolumns": None}]}],
        ASSETS_SCHEMA,
    )
    out = SEN.apply_policy_tags(assets, requests).collect()
    assert out[0]["schema"][0]["policy_tag"] == "taxonomies/t1/policyTags/pii_a"


def test_per_asset_error_capture(spark, engine, assets):
    cfg = engine.create_config(
        "DYNAMIC_TAG_TABLE", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/lineitem, bigquery/project/p/dataset/d/missing_table",
        fields=[{"field_id": "row_count", "query_expression": "select count(*) from $table"}],
    )
    job = engine.trigger_job(cfg, assets)
    jobs = {j["job_uuid"]: j for j in engine.jobs}
    assert jobs[job]["job_status"] == "ERROR"
    assert jobs[job]["tasks_failed"] == 1
    assert jobs[job]["tasks_success"] == 1
    # the healthy asset still got tagged
    tags = {r["asset_uri"] for r in engine.store.all().collect()}
    assert tags == {"p/datasets/d/tables/lineitem"}
    (bad_uri, msg), = engine.job_errors[job]
    assert bad_uri.endswith("missing_table")
    assert "TABLE_OR_VIEW_NOT_FOUND" in msg or "missing_table" in msg


def test_raising_job_keeps_its_task_errors(spark, engine, assets, monkeypatch):
    """A job whose runner raises after a task failed records both in the
    ledger: the failed asset and the exception that ended the job."""
    cfg = engine.create_config(
        "DYNAMIC_TAG_TABLE", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/lineitem, bigquery/project/p/dataset/d/missing_table",
        fields=[{"field_id": "row_count", "query_expression": "select count(*) from $table"}],
    )

    def failing_merge(*args, **kwargs):
        raise RuntimeError("merge refused")

    monkeypatch.setattr(engine.store, "merge", failing_merge)
    with pytest.raises(RuntimeError, match="merge refused"):
        engine.trigger_job(cfg, assets)
    job = engine.jobs[-1]
    # the failed task and the raise, each a failed unit of work
    assert (job["job_status"], job["task_count"], job["tasks_failed"]) == ("ERROR", 2, 2)
    (bad_uri, msg), (where, reason) = engine.job_errors[job["job_uuid"]]
    assert bad_uri.endswith("missing_table") and "missing_table" in msg
    assert (where, reason) == ("job", "RuntimeError: merge refused")


def test_column_discovery_error_capture(spark, engine, assets):
    # an opaque included_columns_query runs per asset: the asset whose
    # query fails is recorded, the others are still discovered and tagged
    cfg = engine.create_config(
        "DYNAMIC_TAG_COLUMN", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/lineitem, bigquery/project/p/dataset/d/missing_table",
        included_columns_query="select 'l_orderkey' from $table limit 1",
        fields=[{"field_id": "row_count", "query_expression": "select count(distinct $column) from $table"}],
    )
    job = engine.trigger_job(cfg, assets)
    jobs = {j["job_uuid"]: j for j in engine.jobs}
    assert jobs[job]["job_status"] == "ERROR"
    assert jobs[job]["tasks_failed"] == 1
    assert jobs[job]["tasks_success"] == 1
    tags = {(r["asset_uri"], r["column"]) for r in engine.store.all().collect()}
    assert tags == {("p/datasets/d/tables/lineitem", "l_orderkey")}
    (bad_uri, msg), = engine.job_errors[job]
    assert bad_uri.endswith("missing_table")
    assert "TABLE_OR_VIEW_NOT_FOUND" in msg or "missing_table" in msg


def test_column_evaluation_error_names_the_column(spark, engine, assets):
    # a constant included_columns_query names one real and one missing
    # column: the missing column's statement fails, and its error says
    # which column, while the real column is still tagged
    cfg = engine.create_config(
        "DYNAMIC_TAG_COLUMN", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        included_columns_query="select 'l_orderkey', 'bad_a'",
        fields=[{"field_id": "row_count", "query_expression": "select count(distinct $column) from $table"}],
    )
    job = engine.trigger_job(cfg, assets)
    jobs = {j["job_uuid"]: j for j in engine.jobs}
    assert jobs[job]["job_status"] == "ERROR"
    assert jobs[job]["tasks_failed"] == 1
    tags = {(r["asset_uri"], r["column"]) for r in engine.store.all().collect()}
    assert tags == {("p/datasets/d/tables/lineitem", "l_orderkey")}
    (bad_uri, msg), = engine.job_errors[job]
    assert bad_uri == "p/datasets/d/tables/lineitem"
    assert msg.startswith("column bad_a: ")


def test_export_reports(spark, engine, assets, tmp_path):
    cfg = engine.create_config(
        "STATIC_TAG_ASSET", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "sensitive_type", "field_value": "NONE"}],
    )
    engine.trigger_job(cfg, assets)
    counts = engine.export_reports(str(tmp_path / "reports"))
    assert counts["catalog_report_table_tags"] == 1
    assert counts["catalog_report_column_tags"] == 0
    table_report = spark.read.parquet(str(tmp_path / "reports/catalog_report_table_tags"))
    row = table_report.first()
    assert (row["project"], row["dataset"], row["table"], row["tag_value"]) == ("p", "d", "lineitem", "NONE")


def test_sensitive_job_releases_its_caches(spark, engine, assets):
    # a cron engine runs sensitive jobs for the session's life: each job
    # must leave no cached frame behind once its merge has read them
    findings = spark.createDataFrame(
        [("p/datasets/d/tables/users", "email", "EMAIL_ADDRESS")],
        "asset_uri string, field string, infotype string",
    )
    selection = spark.createDataFrame(
        [(["EMAIL_ADDRESS"], "EMAIL")], "field_infotypes array<string>, notable_infotype string"
    )
    classification = spark.createDataFrame(
        [(["EMAIL"], "Sensitive_Personal_Identifiable_Information")],
        "notable_infotypes array<string>, classification_result string",
    )
    cfg = engine.create_config(
        "SENSITIVE_TAG_COLUMN", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/*",
    )
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    before = persistent()
    engine.trigger_job(cfg, assets, findings=findings, selection=selection,
                       classification=classification)
    assert persistent() - before == set()
    assert {r["field_value_string"] for r in engine.store.all().collect()} == {None, "EMAIL"}


def test_asset_with_only_null_notable_infotypes_is_unclassified(spark, engine, assets):
    # users' one field maps to a selection row whose notable_infotype is
    # null, so the asset has no notable infotype to classify: the empty
    # set must not superset-match the smallest classification and tag
    # the field sensitive
    findings = spark.createDataFrame(
        [
            ("p/datasets/d/tables/users", "email", "EMAIL_ADDRESS"),
            ("p/datasets/d/tables/lineitem", "name", "PERSON_NAME"),
        ],
        "asset_uri string, field string, infotype string",
    )
    selection = spark.createDataFrame(
        [(["EMAIL_ADDRESS"], None), (["PERSON_NAME"], "NAME")],
        "field_infotypes array<string>, notable_infotype string",
    )
    classification = spark.createDataFrame(
        [(["NAME"], "Sensitive_Personal_Identifiable_Information")],
        "notable_infotypes array<string>, classification_result string",
    )
    cfg = engine.create_config(
        "SENSITIVE_TAG_COLUMN", "data_sensitivity",
        included_uris="bigquery/project/p/dataset/d/*",
    )
    engine.trigger_job(cfg, assets, findings=findings, selection=selection,
                       classification=classification)
    got = {(r["asset_uri"], r["column"], r["field_id"]) for r in engine.store.all().collect()}
    assert got == {
        ("p/datasets/d/tables/lineitem", "name", "sensitive_field"),
        ("p/datasets/d/tables/lineitem", "name", "sensitive_type"),
    }
