"""History log and driver-resident path guards: the synchronous tag
calls run no Spark job, history renders the same on both merge paths,
and the state on disk survives a crash at any step."""

import datetime
import gc
import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

from datacatalog_tag_engine_spark.engine import TagEngine
from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA
from datacatalog_tag_engine_spark.session import local_df
from datacatalog_tag_engine_spark.store.tagstore import TagStore

T1 = "p/datasets/ds/tables/t1"
T2 = "p/datasets/ds/tables/t2"


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def owner(value):
    return [{"field_id": "owner", "field_type": "string", "raw_value": value}]


def governance_engine(spark, **kw):
    eng = TagEngine(spark, **kw)
    eng.create_template("g", [{"field_id": "owner", "field_type": "string"}])
    return eng


def test_driver_resident_sync_calls_run_no_spark_jobs(spark):
    eng = governance_engine(spark)
    eng.update_tag_subset("g", T1, None, owner("warm"))
    j0 = next_job_id(spark)
    assert eng.update_tag_subset("g", T1, None, owner("alice")) == 1
    assert next_job_id(spark) - j0 == 0
    j0 = next_job_id(spark)
    assert eng.copy_tags(T1, T2) == 1
    assert next_job_id(spark) - j0 == 0
    assert eng.store._rows is not None  # stayed driver-resident


def test_small_batch_into_distributed_state_merges_its_touched_slice(spark, monkeypatch):
    # past the cap the state is distributed, but a 1-row update still
    # merges on the driver: one job collects the asset's state rows,
    # one checkpoints the new state, and the history append writes the
    # events from the driver
    eng = governance_engine(spark)
    eng.store.SMALL_STATE_MAX = 4
    for i in range(6):
        eng.update_tag_subset("g", f"p/datasets/ds/tables/t{i}", None, owner("a"))
    assert eng.store._rows is None  # promoted

    jobs = {}

    def counted(name, fn):
        def run(*args, **kw):
            j0 = next_job_id(spark)
            out = fn(*args, **kw)
            jobs[name] = next_job_id(spark) - j0
            return out
        return run

    monkeypatch.setattr(eng.store, "merge", counted("merge", eng.store.merge))
    monkeypatch.setattr(eng, "_append_history", counted("history", eng._append_history))
    assert eng.update_tag_subset("g", T1, None, owner("bob")) == 1
    assert jobs["history"] == 0
    assert jobs["merge"] <= 2
    state = {r["asset_uri"]: r["field_value_string"] for r in eng.store.all().collect()}
    assert len(state) == 6 and state[T1] == "bob"
    assert [r["action"] for r in eng.history().collect() if r["field_value"] == "bob"] == ["UPDATE"]


def test_history_rendering_matches_across_merge_paths(spark):
    eng = TagEngine(spark)
    eng.create_template("t", [
        {"field_id": "s", "field_type": "string"},
        {"field_id": "big", "field_type": "double"},
        {"field_id": "tiny", "field_type": "double"},
        {"field_id": "flag", "field_type": "bool"},
        {"field_id": "at", "field_type": "datetime"},
    ])
    raw = [
        {"field_id": "s", "field_type": "string", "raw_value": "hello"},
        {"field_id": "big", "field_type": "double", "raw_value": "12345678.5"},
        {"field_id": "tiny", "field_type": "double", "raw_value": "0.0001"},
        {"field_id": "flag", "field_type": "bool", "raw_value": "TRUE"},
        {"field_id": "at", "field_type": "datetime", "raw_value": "2024-03-01T10:11:12Z"},
    ]
    # driver-resident merges: a table tag and a column tag
    eng.update_tag_subset("t", T1, None, raw)
    eng.update_tag_subset("t", T1, "c1", raw[:1])
    assert eng.store._rows is not None
    # then a distributed one
    eng.store.SMALL_STATE_MAX = 0
    eng.update_tag_subset("t", T2, None, raw)
    assert eng.store._rows is None

    want = {"s": "hello", "big": "1.23456785E7", "tiny": "1.0E-4", "flag": "TRUE",
            "at": "2024-03-01T10:11:12Z"}
    rows = eng.history().collect()
    for name in ("p/dataset/ds/table/t1", "p/dataset/ds/table/t2"):
        got = {r["field_id"]: r["field_value"] for r in rows if r["asset_name"] == name}
        assert got == want, name
    col = [r for r in rows if r["column"] == "c1"]
    assert [(r["asset_name"], r["field_value"]) for r in col] == [
        ("p/dataset/ds/table/t1/column/c1", "hello")
    ]
    assert {r["action"] for r in rows} == {"CREATE"}
    assert len({r["event_time"] for r in rows}) == 3  # one stamp per append
    assert all(r["event_date"] == r["event_time"].date() for r in rows)


def test_local_df_assets_rows_run_no_jobs(spark):
    ts = datetime.datetime(2024, 3, 1, 10, 11, 12, tzinfo=datetime.timezone.utc)
    rows = [
        {"asset_uri": T1, "asset_type": "fileset", "project": "p", "dataset": "ds", "table": "t1",
         "schema": [{"name": "a", "type": "int64", "mode": "NULLABLE", "subcolumns": None},
                    {"name": "b", "type": "struct", "mode": None,
                     "subcolumns": [{"name": "x", "type": "int32"}]}],
         "num_rows": 5, "size_bytes": 100, "created_ts": ts, "updated_ts": ts},
        {"asset_uri": T2, "asset_type": "bigquery", "project": "p", "dataset": "ds", "table": "t2"},
    ]
    j0 = next_job_id(spark)
    got = local_df(spark, rows, ASSETS_SCHEMA).collect()
    assert next_job_id(spark) - j0 == 0
    assert got == spark.createDataFrame(rows, ASSETS_SCHEMA).collect()


def test_local_df_reads_naive_datetimes_as_local_time(spark):
    naive = datetime.datetime(2024, 3, 1, 10, 11, 12)
    got = local_df(spark, [(naive,)], "ts timestamp").collect()
    assert got == spark.createDataFrame([(naive,)], "ts timestamp").collect()


# -- state on disk survives a crash at any step -----------------------------------


def fail_on_call(monkeypatch, target, name, n):
    """Make ``target.name`` raise from its n-th call on."""
    real = getattr(target, name)
    calls = []

    def wrapped(*args, **kw):
        calls.append(args)
        if len(calls) >= n:
            raise OSError("injected crash")
        return real(*args, **kw)

    monkeypatch.setattr(target, name, wrapped)


def owners(eng):
    return sorted(r["field_value"] for r in eng.history().collect())


def test_reopened_engine_sees_every_earlier_event(spark, tmp_path):
    path = str(tmp_path / "tags")
    eng = governance_engine(spark, tags_path=path, history_spill_every=2)
    for v in ("a", "b", "c"):
        eng.update_tag_subset("g", T1, None, owner(v))
    reopened = TagEngine(spark, tags_path=path)
    assert owners(reopened) == ["a", "b", "c"]
    assert {r["field_value_string"] for r in reopened.store.all().collect()} == {"c"}
    # opening deleted the two files the compaction superseded
    log_dir = path + ".history"
    assert len(os.listdir(log_dir)) == len(reopened._history_log.files()) == 2


def test_history_append_crash_leaves_no_partial_entry(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tags")
    eng = governance_engine(spark, tags_path=path)
    eng.update_tag_subset("g", T1, None, owner("a"))
    with monkeypatch.context() as m:
        fail_on_call(m, os, "replace", 1)
        with pytest.raises(OSError, match="injected"):
            eng.update_tag_subset("g", T1, None, owner("b"))
    log_dir = path + ".history"
    assert any(n.startswith(".tmp-") for n in os.listdir(log_dir))  # the cut-short write
    reopened = TagEngine(spark, tags_path=path)
    assert owners(reopened) == ["a"]
    assert not any(n.startswith(".tmp-") for n in os.listdir(log_dir))


def test_history_compaction_crash_keeps_every_event_once(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tags")
    eng = governance_engine(spark, tags_path=path, history_spill_every=2)
    eng.update_tag_subset("g", T1, None, owner("a"))
    with monkeypatch.context() as m:
        # the append's own replace succeeds, the compaction's fails
        fail_on_call(m, os, "replace", 2)
        with pytest.raises(OSError, match="injected"):
            eng.update_tag_subset("g", T1, None, owner("b"))
    reopened = TagEngine(spark, tags_path=path)
    assert owners(reopened) == ["a", "b"]
    assert sorted(os.listdir(path + ".history")) == [
        "00000001-00000001.parquet", "00000002-00000002.parquet"
    ]


def test_tag_state_swap_crash_keeps_previous_state(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tags")
    eng = governance_engine(spark, tags_path=path)
    eng.update_tag_subset("g", T1, None, owner("a"))
    with monkeypatch.context() as m:
        # the old state is renamed aside, then the new one fails to move in
        fail_on_call(m, os, "rename", 2)
        with pytest.raises(OSError, match="injected"):
            eng.update_tag_subset("g", T1, None, owner("b"))
    assert not os.path.exists(path)
    reloaded = TagStore(spark, path=path)
    assert [r["field_value_string"] for r in reloaded.all().collect()] == ["a"]
    assert sorted(os.listdir(tmp_path)) == ["tags", "tags.history"]


def test_save_state_crash_leaves_previous_snapshot_loadable(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "state")
    eng = governance_engine(spark)
    eng.update_tag_subset("g", T1, None, owner("a"))
    eng.save_state(base)
    # the tags, the history and the metadata all change before the
    # second save, which fails on its last part
    eng.update_tag_subset("g", T1, None, owner("b"))
    eng.create_template("later", [{"field_id": "x", "field_type": "string"}])
    with monkeypatch.context() as m:
        fail_on_call(m, json, "dump", 1)
        with pytest.raises(OSError, match="injected"):
            eng.save_state(base)
        # a first snapshot cut short leaves no directory to load
        with pytest.raises(OSError, match="injected"):
            eng.save_state(str(tmp_path / "fresh"))
    assert sorted(os.listdir(tmp_path)) == ["state"]
    with pytest.raises(FileNotFoundError):
        TagEngine.load_state(spark, str(tmp_path / "fresh"))
    loaded = TagEngine.load_state(spark, base)
    assert set(loaded.templates) == {"g"}
    assert owners(loaded) == ["a"]
    assert [r["field_value_string"] for r in loaded.store.all().collect()] == ["a"]


def _snapshot_copies() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "tag_engine_snapshot_*")))


def test_temp_directories_go_with_the_engine(spark, tmp_path):
    """An engine built without tags_path logs its history to a temp
    directory, and load_state copies the snapshot into another: both
    are removed once the engine is collected."""
    eng = governance_engine(spark)
    eng.update_tag_subset("g", T1, None, owner("alice"))
    log_dir = eng._history_log.directory
    eng.save_state(str(tmp_path / "snap"))
    before = _snapshot_copies()
    loaded = TagEngine.load_state(spark, str(tmp_path / "snap"))
    (copy,) = _snapshot_copies() - before
    assert os.path.isdir(log_dir) and os.path.isdir(copy)
    del eng, loaded
    gc.collect()
    assert not os.path.exists(log_dir)
    assert not os.path.exists(copy)


def test_temp_history_directory_removed_at_exit():
    """A process that exits with a temp history log leaves no directory."""
    script = (
        "import datetime\n"
        "from datacatalog_tag_engine_spark.store.historylog import HistoryLog\n"
        "log = HistoryLog(None, None, 32)\n"
        "event = {'asset_uri': 'a', 'template_id': 't', 'field_id': 'f', 'field_type': 'string',"
        " 'action': 'CREATE'}\n"
        "log.append_rows([event], datetime.datetime(2024, 1, 1), 'j')\n"
        "print(log.directory)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script], cwd=root, capture_output=True, text=True, check=True)
    directory = out.stdout.strip()
    assert os.path.basename(directory).startswith("tag_engine_history_")
    assert not os.path.exists(directory)
