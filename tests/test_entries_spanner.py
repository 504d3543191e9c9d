"""Entry-create config flow (S15) and Spanner FQN parsing (F2)."""

import pytest

from datacatalog_tag_engine_spark.engine import TagEngine
from datacatalog_tag_engine_spark.operators.uri import parse_spanner_fqn


def test_create_entries_then_tag(spark, sf_dir):
    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": "data_owner", "field_type": "string"}])
    inventory = eng.create_entries(sf_dir, project="local", dataset="raw")
    assert inventory.count() == 10

    # re-running is idempotent (replace-by-uri), and the inventory stays
    # one flat relation: no run stacks a join onto the last one's plan
    for _ in range(3):
        eng.create_entries(sf_dir, project="local", dataset="raw")
    assert eng.assets.count() == 10
    assert "Join" not in eng.assets._jdf.queryExecution().optimizedPlan().toString()

    cfg = eng.create_config(
        "STATIC_TAG_ASSET", "t",
        included_uris="bigquery/project/local/dataset/raw/lineitem",
        fields=[{"field_id": "data_owner", "field_value": "ingest"}],
    )
    eng.trigger_job(cfg, eng.assets)
    rows = eng.store.all().collect()
    assert len(rows) == 1
    assert rows[0]["asset_uri"] == "local/datasets/raw/tables/lineitem"


def test_parse_spanner_fqn():
    got = parse_spanner_fqn("spanner:proj.regional-us-east1.inst.db.tbl")
    assert got == {
        "project": "proj",
        "region": "us-east1",
        "instance": "inst",
        "database": "db",
        "table": "tbl",
    }
    with pytest.raises(ValueError):
        parse_spanner_fqn("bigquery:nope")
    with pytest.raises(ValueError):
        parse_spanner_fqn("spanner:proj.bad.inst.db")
