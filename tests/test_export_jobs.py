"""Export/report (S9-S12) and job-rollup (A10/A11) tests."""

import datetime

from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.model.schemas import TAGS_SCHEMA
from datacatalog_tag_engine_spark.operators import export as X
from datacatalog_tag_engine_spark.store.jobs import rollup_tasks

TAGS = [
    ("p/datasets/d/tables/t1", None, "gov", "domain", "string", "LOGISTICS", None, None, None, None, None),
    ("p/datasets/d/tables/t1", None, "gov", "days", "double", None, 30.0, None, None, None, None),
    ("p/datasets/d/tables/t1", "c1", "gov", "domain", "string", "KEYS", None, None, None, None, None),
    ("p/datasets/d", None, "gov", "domain", "string", "DS-LEVEL", None, None, None, None, None),
    ("p/datasets/d/tables/t1", None, "gov", "rich", "richtext", "a<br>b", None, None, None, None, None),
    ("p/datasets/d/tables/t1", None, "gov", "when", "datetime", None, None, None, datetime.datetime(2023, 1, 2, 3, 4, 5), None, None),
]


def _tags(spark):
    return spark.createDataFrame(TAGS, TAGS_SCHEMA)


def test_table_grain(spark):
    got = {r["tag_field"]: r["tag_value"] for r in X.export_table_tags(_tags(spark)).collect()}
    assert got == {
        "domain": "LOGISTICS",
        "days": "30.0",
        "rich": "a, b",
        "when": "2023-01-02T03:04:05Z",
    }


def test_column_grain(spark):
    rows = X.export_column_tags(_tags(spark)).collect()
    assert len(rows) == 1
    assert (rows[0]["column"], rows[0]["tag_value"]) == ("c1", "KEYS")


def test_dataset_grain(spark):
    rows = X.export_dataset_tags(_tags(spark)).collect()
    assert len(rows) == 1
    assert rows[0]["tag_value"] == "DS-LEVEL"
    assert "table" not in rows[0].asDict()


def test_report_write_roundtrip(spark, tmp_path):
    path = str(tmp_path / "report")
    X.write_report(X.export_table_tags(_tags(spark)), path)
    X.write_report(X.export_table_tags(_tags(spark)), path)  # append
    assert spark.read.parquet(path).count() == 8
    X.write_report(X.export_table_tags(_tags(spark)), path, truncate=True)
    assert spark.read.parquet(path).count() == 4


def test_job_rollup(spark):
    tasks = spark.createDataFrame(
        [
            ("j1", "c1", "T", "SUCCESS"),
            ("j1", "c1", "T", "ERROR"),
            ("j2", "c2", "T", "SUCCESS"),
            ("j2", "c2", "T", "PENDING"),
        ],
        "job_uuid string, config_uuid string, config_type string, status string",
    )
    got = {r["job_uuid"]: r for r in rollup_tasks(tasks).collect()}
    assert got["j1"]["job_status"] == "ERROR"
    assert got["j1"]["pct_complete"] == 100.0
    assert got["j2"]["job_status"] == "RUNNING"
    assert got["j2"]["pct_complete"] == 50.0


def test_scheduled_export_and_entry_create_jobs(spark, tmp_path):
    # all 9 reference config types are job-dispatchable (ConfigType.py:
    # 4-12 routed via main.py:3597-3628): a TAG_EXPORT config runs on a
    # refresh schedule with a job-ledger row, same as tagging configs
    from datacatalog_tag_engine_spark.engine import TagEngine
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    eng = TagEngine(spark)
    eng.create_template("gov", [{"field_id": "domain", "field_type": "string"}])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/lineitem", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "lineitem"}],
        ASSETS_SCHEMA,
    )
    tag_cfg = eng.create_config(
        "STATIC_TAG_ASSET", "gov",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "domain", "field_value": "LOGISTICS"}],
    )
    eng.trigger_job(tag_cfg, assets)

    export_cfg = eng.create_config(
        "TAG_EXPORT", None, target_path=str(tmp_path / "reports"),
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours",
        next_run=datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc),
    )
    jobs = eng.run_ready_configs(
        assets, now=datetime.datetime(2026, 1, 2, tzinfo=datetime.timezone.utc)
    )
    assert len(jobs) == 1
    job = next(j for j in eng.jobs if j["job_uuid"] == jobs[0])
    assert job["config_type"] == "TAG_EXPORT"
    assert job["job_status"] == "SUCCESS"
    assert job["tasks_success"] == 1  # only the table-grain report has rows
    exported = spark.read.parquet(str(tmp_path / "reports" / "catalog_report_table_tags"))
    assert exported.count() == 1
    # the schedule advanced one refresh step
    assert eng.configs[export_cfg]["next_run"] == datetime.datetime(
        2026, 1, 1, 1, tzinfo=datetime.timezone.utc
    )

    # ENTRY_CREATE through the same machinery: discovers parquet files
    # as entries and records a ledger row
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "files").mkdir()
    pq.write_table(
        pa.table({"id": list(range(10))}), str(tmp_path / "files" / "part_a.parquet")
    )
    entry_cfg = eng.create_config("ENTRY_CREATE", None, directory=str(tmp_path / "files"))
    job_id = eng.trigger_job(entry_cfg, assets)
    job = next(j for j in eng.jobs if j["job_uuid"] == job_id)
    assert job["config_type"] == "ENTRY_CREATE"
    assert job["job_status"] == "SUCCESS"
    assert job["tasks_success"] >= 1
    assert eng.assets.count() >= 1


def test_entry_create_ledger_counts_this_run_only(spark, tmp_path):
    # a second ENTRY_CREATE run over a directory with one extra file
    # records the DELTA in the ledger, not the cumulative inventory
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datacatalog_tag_engine_spark.engine import TagEngine

    (tmp_path / "files").mkdir()
    for name in ("a", "b"):
        pq.write_table(pa.table({"id": [1]}), str(tmp_path / "files" / f"{name}.parquet"))

    eng = TagEngine(spark)
    cfg = eng.create_config("ENTRY_CREATE", None, directory=str(tmp_path / "files"))
    j1 = eng.trigger_job(cfg, None)
    assert next(j for j in eng.jobs if j["job_uuid"] == j1)["task_count"] == 2

    pq.write_table(pa.table({"id": [2]}), str(tmp_path / "files" / "c.parquet"))
    # same directory hash -> reuse the config; re-trigger directly
    j2 = eng.trigger_job(cfg, None)
    job2 = next(j for j in eng.jobs if j["job_uuid"] == j2)
    # the run re-discovers all 3 files (idempotent replace), but never
    # inflates with the engine's cumulative inventory across directories
    assert job2["task_count"] == 3
    assert eng.assets.count() == 3


def test_export_job_failure_records_error_row(spark, tmp_path):
    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark)
    # unwritable target: a FILE where the report dir should be
    target = tmp_path / "not_a_dir"
    target.write_text("occupied")
    cfg = eng.create_config("TAG_EXPORT", None, target_path=str(target / "sub"))
    eng.create_template("gov", [{"field_id": "domain", "field_type": "string"}])
    eng.store.merge(
        spark.createDataFrame(
            [("p/datasets/d/tables/t1", None, "gov", "domain", "string",
              "X", None, None, None, None, None)],
            TAGS_SCHEMA,
        )
    )
    try:
        eng.trigger_job(cfg, None)
        raised = False
    except Exception:
        raised = True
    assert raised
    job = eng.jobs[-1]
    assert job["config_type"] == "TAG_EXPORT"
    assert job["job_status"] == "ERROR"
    assert job["tasks_failed"] == 1


def test_side_effect_config_validation_at_create_time(spark, tmp_path):
    # the essential coordinate is checked when the config is created,
    # not discovered as a KeyError on the first (possibly scheduled) run
    import pytest

    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark)
    with pytest.raises(ValueError, match="target_path"):
        eng.create_config("TAG_EXPORT", None)
    with pytest.raises(ValueError, match="directory"):
        eng.create_config("ENTRY_CREATE", None)
    # incremental refresh has no meaning for side-effect jobs: reject
    # loudly instead of silently running a full export
    cfg = eng.create_config("TAG_EXPORT", None, target_path=str(tmp_path / "r"))
    with pytest.raises(ValueError, match="incremental"):
        eng.trigger_job(cfg, None, incremental=True)
    assert all(j["config_uuid"] != cfg for j in eng.jobs)


def test_cron_cycle_isolates_failures_and_drops_inapplicable_incremental(spark, tmp_path):
    """run_ready_configs mirrors the reference's one-task-per-config
    dispatch: an export config on the cron path with incremental=True
    just runs fully (the flag is a per-type optimization there), and a
    FAILING config neither wedges its own schedule nor aborts the
    configs after it."""
    from datacatalog_tag_engine_spark.engine import TagEngine
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    eng = TagEngine(spark)
    eng.create_template("gov", [{"field_id": "domain", "field_type": "string"}])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/lineitem", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "lineitem"}],
        ASSETS_SCHEMA,
    )
    t0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    blocked = tmp_path / "occupied"
    blocked.write_text("file, not a dir")
    bad = eng.create_config(
        "TAG_EXPORT", None, target_path=str(blocked / "sub"),
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours", next_run=t0,
    )
    # a failing tagging job on the cron path: its CSV does not exist
    bad_import = eng.create_config(
        "TAG_IMPORT", "gov", csv_path=str(tmp_path / "missing.csv"),
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours", next_run=t0,
    )
    good_export = eng.create_config(
        "TAG_EXPORT", None, target_path=str(tmp_path / "reports"),
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours", next_run=t0,
    )
    tag_cfg = eng.create_config(
        "STATIC_TAG_ASSET", "gov",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "domain", "field_value": "X"}],
    )
    eng.trigger_job(tag_cfg, assets)  # populate the store so exports write
    jobs = eng.run_ready_configs(assets, now=t0, incremental=True)
    # the failing export and import didn't block the good export after them
    assert len(jobs) == 1
    good_job = next(j for j in eng.jobs if j["job_uuid"] == jobs[0])
    assert good_job["config_uuid"] == good_export and good_job["job_status"] == "SUCCESS"
    # each failure got its ERROR ledger row and stays schedulable —
    # exactly ONE row: trigger_job wrote it, so the scheduler, which
    # sees the ledger grew, adds no duplicate fallback row
    for failed in (bad, bad_import):
        assert [j["job_status"] for j in eng.jobs if j["config_uuid"] == failed] == ["ERROR"]
        assert eng.configs[failed]["scheduling_status"] == "READY"
    # direct calls keep the loud contract
    import pytest

    with pytest.raises(ValueError, match="incremental"):
        eng.trigger_job(good_export, assets, incremental=True)
    imp = eng.create_config("TAG_IMPORT", "gov", csv_path=str(tmp_path / "x.csv"))
    with pytest.raises(ValueError, match="incremental"):
        eng.trigger_job(imp, assets, incremental=True)
    with pytest.raises(ValueError, match="asset catalog"):
        eng.trigger_job(tag_cfg, None, incremental=True)


def test_cron_records_pre_dispatch_failures_and_create_validates_type(spark):
    """No cron failure is silent: a raise BEFORE trigger_job's own
    ledger writes still produces an ERROR ledger row with the captured
    exception; and a typo'd config_type fails at create time."""
    import pytest

    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark)
    eng.create_template("gov", [{"field_id": "domain", "field_type": "string"}])
    with pytest.raises(ValueError, match="unknown config_type"):
        eng.create_config("DYNAMIC_TABLE_TAG", "gov")  # transposed typo
    # the retired corpus shard-export type is not one of the reference's
    # nine; pipeline/export.write_training_shards is called directly
    with pytest.raises(ValueError, match="unknown config_type"):
        eng.create_config("SHARD_EXPORT", None, target_path="shards", num_shards=2)
    t0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "gov",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "domain", "field_value": "X"}],
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours", next_run=t0,
    )
    # incremental with no asset catalog raises before any ledger write
    jobs = eng.run_ready_configs(None, now=t0, incremental=True)
    assert jobs == []
    row = eng.jobs[-1]
    assert row["config_uuid"] == cfg and row["job_status"] == "ERROR"
    assert "asset catalog" in eng.job_errors[row["job_uuid"]][0][1]
    assert eng.configs[cfg]["scheduling_status"] == "READY"


def test_job_metadata_table(spark, tmp_path):
    """Reference job-metadata table (BigQueryUtils.py:504-521, SURVEY
    section 1.4): rows record at job creation when the settings doc is
    enabled; off by default; exact schema; exported alongside the
    report tables, day-partitioned."""
    import warnings

    from datacatalog_tag_engine_spark.engine import TagEngine
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA

    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "owner", "field_type": "string"}])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/x", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "x"}],
        ASSETS_SCHEMA,
    )
    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "t", included_uris="bigquery/project/p/dataset/d/*",
        fields=[{"field_id": "owner", "field_value": "gov"}],
    )

    # OFF by default (the reference's ENABLE_JOB_METADATA default):
    # metadata is ignored with a warning, no row recorded
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eng.trigger_job(cfg, assets, job_metadata={"source": "airflow"})
    assert any("not enabled" in str(x.message) for x in w)
    assert eng.job_metadata_df().count() == 0

    # enabled: one row per job that supplies metadata, section 1.4 shape
    eng.set_settings("job_metadata", enabled=True, tag_creator_sa="creator@sa", tag_invoker_sa="invoker@sa")
    job2 = eng.trigger_job(cfg, assets, job_metadata={"dag": "nightly", "run": 7})
    eng.trigger_job(cfg, assets)  # no metadata supplied -> no row
    # non-dict metadata: warned and ignored (reference main.py:3003-3004)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eng.trigger_job(cfg, assets, job_metadata="not-a-dict")
    assert any("not a dict" in str(x.message) for x in w)

    md = eng.job_metadata_df()
    assert [f.name for f in md.schema.fields] == [
        "event_time", "job_uuid", "metadata", "tag_creator_sa", "tag_invoker_sa"
    ]
    rows = md.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["job_uuid"] == job2
    assert r["tag_creator_sa"] == "creator@sa" and r["tag_invoker_sa"] == "invoker@sa"
    import json as _json

    assert _json.loads(r["metadata"]) == {"dag": "nightly", "run": 7}

    # exports alongside the report tables, day-partitioned on event_date
    out = eng.export_reports(str(tmp_path / "reports"))
    assert out["job_metadata"] == 1
    back = spark.read.parquet(str(tmp_path / "reports" / "job_metadata"))
    assert back.count() == 1 and "event_date" in back.columns

    # survives a save/load round trip
    eng.save_state(str(tmp_path / "state"))
    loaded = TagEngine.load_state(spark, str(tmp_path / "state"))
    assert loaded.job_metadata_df().count() == 1
