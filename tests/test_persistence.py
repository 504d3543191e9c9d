"""Engine state persistence round-trip."""

import datetime

import pytest

from datacatalog_tag_engine_spark.engine import TagEngine
from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA


def test_save_load_roundtrip(spark, tmp_path):
    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "owner", "field_type": "string"}])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/lineitem", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "lineitem"}],
        ASSETS_SCHEMA,
    )
    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "t",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "owner", "field_value": "alice"}],
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours",
        next_run=datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc),
    )
    eng.trigger_job(cfg, assets)
    eng.set_settings("coverage_report", included_projects=["p"])
    eng.save_state(str(tmp_path / "state"))

    loaded = TagEngine.load_state(spark, str(tmp_path / "state"))
    assert loaded.templates == eng.templates
    assert loaded.get_settings("coverage_report") == (True, {"included_projects": ["p"]})
    assert loaded.tag_history_enabled()
    assert loaded.configs[cfg]["next_run"] == eng.configs[cfg]["next_run"]
    assert loaded.store.all().count() == 1
    assert loaded.history().count() == 1
    assert loaded.jobs[0]["job_status"] == "SUCCESS"

    # the loaded engine keeps working: new config ids don't collide and
    # scheduling state carried over
    jobs = loaded.run_ready_configs(assets, now=datetime.datetime(2026, 1, 2, tzinfo=datetime.timezone.utc))
    assert len(jobs) == 1
    assert jobs[0] not in {j["job_uuid"] for j in eng.jobs}

    # regression: a merge after load_state must take the FULL merge path
    # (the store is non-empty even though no tags_path was set) — a
    # same-key re-run updates in place, never duplicates
    assert loaded.store.all().count() == 1
    rows = loaded.store.all().collect()
    assert len({(r["asset_uri"], r["column"], r["field_id"]) for r in rows}) == len(rows)
    hist_actions = [r["action"] for r in loaded.history().collect()]
    assert hist_actions.count("UPDATE") == 1  # re-run classified as UPDATE, not CREATE


def test_save_load_roundtrip_with_templateless_configs(spark, tmp_path):
    # TAG_EXPORT / ENTRY_CREATE configs carry no template; they must
    # survive the JSON persistence roundtrip and stay job-dispatchable
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datacatalog_tag_engine_spark.engine import TagEngine

    (tmp_path / "files").mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), str(tmp_path / "files" / "a.parquet"))

    eng = TagEngine(spark)
    export_cfg = eng.create_config(
        "TAG_EXPORT", None, target_path=str(tmp_path / "reports"),
        refresh_mode="AUTO", refresh_frequency=1, refresh_unit="hours",
        next_run=datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc),
    )
    entry_cfg = eng.create_config("ENTRY_CREATE", None, directory=str(tmp_path / "files"))

    base = str(tmp_path / "state")
    eng.save_state(base)
    restored = TagEngine.load_state(spark, base)
    assert restored.configs[export_cfg]["config_type"] == "TAG_EXPORT"
    assert restored.configs[export_cfg]["template_id"] is None
    job = restored.trigger_job(entry_cfg, None)
    assert next(j for j in restored.jobs if j["job_uuid"] == job)["job_status"] == "SUCCESS"
    assert restored.assets.count() == 1


def test_config_with_retired_executor_knobs_loads_and_runs(spark, tmp_path):
    # snapshots written while the engine had the fuse_threshold and
    # fuse_columns knobs carry them in their configs: the keys are
    # ignored, and the jobs still tag every asset and column
    from pyspark.sql import functions as F

    li = spark.table("lineitem")
    li.limit(100).createOrReplaceTempView("lineitem_head")
    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "n", "field_type": "double"}])
    table_cfg = eng.create_config(
        "DYNAMIC_TAG_TABLE", "t",
        included_uris="bigquery/project/p/dataset/d/*",
        fields=[{"field_id": "n", "query_expression": "select count(*) from $table"}],
        fuse_threshold=1,
    )
    column_cfg = eng.create_config(
        "DYNAMIC_TAG_COLUMN", "t",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        included_columns_query="select 'l_orderkey', 'l_returnflag'",
        fields=[{"field_id": "n", "query_expression": "select count(distinct $column) from $table"}],
        fuse_columns=True,
    )
    base = str(tmp_path / "state")
    eng.save_state(base)

    loaded = TagEngine.load_state(spark, base)
    assert loaded.configs[table_cfg]["fuse_threshold"] == 1
    assets = spark.createDataFrame(
        [{"asset_uri": f"p/datasets/d/tables/{t}", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": t} for t in ("lineitem", "lineitem_head")],
        ASSETS_SCHEMA,
    )
    for cfg in (table_cfg, column_cfg):
        job = loaded.trigger_job(cfg, assets)
        assert next(j for j in loaded.jobs if j["job_uuid"] == job)["job_status"] == "SUCCESS"

    expected = {
        ("p/datasets/d/tables/lineitem", None): float(li.count()),
        ("p/datasets/d/tables/lineitem_head", None): 100.0,
        **{
            ("p/datasets/d/tables/lineitem", c): float(li.select(F.countDistinct(c)).first()[0])
            for c in ("l_orderkey", "l_returnflag")
        },
    }
    got = {(r["asset_uri"], r["column"]): r["field_value_double"] for r in loaded.store.all().collect()}
    assert got == expected


@pytest.mark.parametrize("cap", [None, 0], ids=["driver_resident", "past_the_cap"])
def test_load_then_save_to_the_same_path(spark, tmp_path, monkeypatch, cap):
    # load_state leaves nothing reading under its path, so saving back
    # to it (which replaces the directory) keeps the engine readable;
    # cap=0 keeps the loaded tag state distributed
    from datacatalog_tag_engine_spark.store.tagstore import TagStore

    if cap is not None:
        monkeypatch.setattr(TagStore, "SMALL_STATE_MAX", cap)
    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "owner", "field_type": "string"}])
    assets = spark.createDataFrame(
        [{"asset_uri": "p/datasets/d/tables/lineitem", "asset_type": "bigquery",
          "project": "p", "dataset": "d", "table": "lineitem"}],
        ASSETS_SCHEMA,
    )
    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "t",
        included_uris="bigquery/project/p/dataset/d/lineitem",
        fields=[{"field_id": "owner", "field_value": "alice"}],
    )
    eng.trigger_job(cfg, assets)
    base = str(tmp_path / "state")
    eng.save_state(base)

    loaded = TagEngine.load_state(spark, base)
    assert (loaded.store._rows is None) == (cap is not None)
    loaded.save_state(base)
    assert loaded.store.all().count() == 1
    assert loaded.history().count() == 1
    loaded.save_state(base)

    again = TagEngine.load_state(spark, base)
    assert [r["field_value_string"] for r in again.store.all().collect()] == ["alice"]
    assert [r["action"] for r in again.history().collect()] == ["CREATE"]
