"""TagStore MERGE semantics tests (SURVEY S13/S14/P5, 2.10 #18, R6)."""

import os

import pytest
from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.model.schemas import TAGS_SCHEMA
from datacatalog_tag_engine_spark.store.tagstore import TagStore


def tag_row(asset, field, value=None, column=None, template="t", ftype="string", **kw):
    return {
        "asset_uri": asset,
        "column": column,
        "template_id": template,
        "field_id": field,
        "field_type": ftype,
        "field_value_string": value,
        "field_value_double": kw.get("double"),
        "field_value_bool": kw.get("bool"),
        "field_value_ts": None,
        "job_uuid": None,
        "updated_ts": None,
    }


def mk(spark, rows):
    return spark.createDataFrame(rows, TAGS_SCHEMA)


def state(store):
    return {
        (r["asset_uri"], r["column"], r["template_id"], r["field_id"]): r["field_value_string"]
        for r in store.all().collect()
    }


def test_create_then_update(spark):
    ts = TagStore(spark)
    hist1 = ts.merge(mk(spark, [tag_row("a", "owner", "alice")])).collect()
    assert [h["action"] for h in hist1] == ["CREATE"]
    assert state(ts) == {("a", None, "t", "owner"): "alice"}

    hist2 = ts.merge(mk(spark, [tag_row("a", "owner", "bob")])).collect()
    assert [h["action"] for h in hist2] == ["UPDATE"]
    assert state(ts) == {("a", None, "t", "owner"): "bob"}


def test_merge_is_idempotent(spark):
    ts = TagStore(spark)
    batch = mk(spark, [tag_row("a", "owner", "alice"), tag_row("b", "owner", "bee")])
    ts.merge(batch)
    first = state(ts)
    ts.merge(batch)
    assert state(ts) == first
    assert ts.all().count() == 2


def test_overwrite_false_skips_existing_tag(spark):
    ts = TagStore(spark)
    ts.merge(mk(spark, [tag_row("a", "owner", "alice")]))
    hist = ts.merge(
        mk(spark, [tag_row("a", "owner", "mallory"), tag_row("b", "owner", "bee")]),
        overwrite=False,
    ).collect()
    assert [h["action"] for h in hist] == ["CREATE"]  # only b
    assert state(ts)[("a", None, "t", "owner")] == "alice"
    assert state(ts)[("b", None, "t", "owner")] == "bee"


def test_delete_when_all_empty(spark):
    ts = TagStore(spark)
    ts.merge(mk(spark, [tag_row("a", "owner", "alice"), tag_row("a", "domain", "X")]))
    # all-null values for the tag group -> delete the whole tag
    hist = ts.merge(mk(spark, [tag_row("a", "owner", None), tag_row("a", "domain", None)])).collect()
    assert sorted(h["action"] for h in hist) == ["DELETE", "DELETE"]
    assert state(ts) == {}


def test_partial_empty_rows_are_skipped_not_deleted(spark):
    ts = TagStore(spark)
    ts.merge(mk(spark, [tag_row("a", "owner", "alice")]))
    # one empty + one non-empty row in the same tag group: the group is
    # not a delete; the empty row is just skipped
    ts.merge(mk(spark, [tag_row("a", "owner", None), tag_row("a", "domain", "X")]))
    assert state(ts) == {
        ("a", None, "t", "owner"): "alice",
        ("a", None, "t", "domain"): "X",
    }


def test_delete_when_empty_false_is_noop(spark):
    ts = TagStore(spark)
    ts.merge(mk(spark, [tag_row("a", "owner", "alice")]))
    hist = ts.merge(
        mk(spark, [tag_row("a", "owner", None)]), delete_when_empty=False
    ).collect()
    assert hist == []  # all-empty group neither deletes nor upserts
    assert state(ts) == {("a", None, "t", "owner"): "alice"}


def test_column_tags_distinct_from_table_tags(spark):
    ts = TagStore(spark)
    ts.merge(
        mk(
            spark,
            [
                tag_row("a", "owner", "table-level"),
                tag_row("a", "owner", "col-level", column="c1"),
            ],
        )
    )
    s = state(ts)
    assert s[("a", None, "t", "owner")] == "table-level"
    assert s[("a", "c1", "t", "owner")] == "col-level"


def test_persistence_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tags.parquet")
    ts = TagStore(spark, path=path)
    ts.merge(mk(spark, [tag_row("a", "owner", "alice")]))
    reloaded = TagStore(spark, path=path)
    assert state(reloaded) == {("a", None, "t", "owner"): "alice"}


def test_store_loaded_empty_merges_past_the_cap(spark, tmp_path):
    # a store reopened on an empty state directory is an empty store: a
    # batch past the driver-resident cap keeps every valued row as a
    # CREATE and drops the all-empty one
    path = str(tmp_path / "tags.parquet")
    mk(spark, []).write.parquet(path)
    ts = TagStore(spark, path=path)
    ts.SMALL_STATE_MAX = 2
    batch = [tag_row(f"a{i}", "owner", f"u{i}") for i in range(3)] + [tag_row("b", "owner")]
    hist = ts.merge(mk(spark, batch)).collect()
    assert ts._rows is None  # promoted
    assert sorted((h["asset_uri"], h["action"]) for h in hist) == [
        ("a0", "CREATE"), ("a1", "CREATE"), ("a2", "CREATE")
    ]
    assert state(ts) == {(f"a{i}", None, "t", "owner"): f"u{i}" for i in range(3)}
    assert state(TagStore(spark, path=path)) == state(ts)


def test_small_state_promotes_to_distributed(spark, monkeypatch):
    # shrink the driver-resident threshold so the third merge crosses it:
    # the store must promote one-way to the distributed MERGE and keep
    # identical semantics (upsert wins, UPDATE classified, no dupes)
    monkeypatch.setattr(TagStore, "SMALL_STATE_MAX", 4)
    ts = TagStore(spark)
    ts.merge(mk(spark, [tag_row("a", "owner", "alice"), tag_row("a", "domain", "OPS")]))
    assert ts._rows is not None  # still driver-resident

    big = [tag_row(f"b{i}", "owner", f"u{i}") for i in range(6)]
    big.append(tag_row("a", "owner", "bob"))  # same-key overwrite across the promotion
    hist = ts.merge(mk(spark, big)).collect()
    assert ts._rows is None  # promoted
    assert {h["action"] for h in hist} == {"CREATE", "UPDATE"}
    assert sum(1 for h in hist if h["action"] == "UPDATE") == 1

    s = state(ts)
    assert s[("a", None, "t", "owner")] == "bob"
    assert s[("a", None, "t", "domain")] == "OPS"
    assert len(s) == 8

    # a later merge stays distributed and still updates in place
    ts.merge(mk(spark, [tag_row("b3", "owner", "carol")]))
    s = state(ts)
    assert s[("b3", None, "t", "owner")] == "carol"
    assert len(s) == 8


def test_driver_and_distributed_paths_agree_on_random_sequences(spark):
    # Property: the driver-resident merge and the distributed merge are
    # the SAME operator. Replay identical randomized merge sequences
    # (upserts, overwrite=False guards, delete-when-empty batches,
    # column/table tags, repeated keys, every value type) against one
    # store pinned small, one pinned to bucket merges and one that
    # promotes early and then takes both touched-slice and bucket
    # merges; state and event multisets must match after every step.
    import datetime
    import random
    from collections import Counter

    from datacatalog_tag_engine_spark.store.tagstore import VALUE_COLS

    rng = random.Random(20260814)
    assets = ["a", "b", "c", "d", "e", "f"]
    fields = ["owner", "domain"]
    columns = [None, "c1"]
    values = [
        ("field_value_string", "string", "x"),
        ("field_value_string", "string", "y"),
        ("field_value_double", "double", 1e-4),
        ("field_value_double", "double", 12345678.5),
        ("field_value_bool", "bool", True),
        ("field_value_bool", "bool", False),
        ("field_value_ts", "datetime", datetime.datetime(2026, 3, 1, 12, 30, 15, tzinfo=datetime.timezone.utc)),
    ]

    def draw(asset, field, column, empty):
        row = tag_row(asset, field, column=column)
        if not empty:
            col, ftype, value = rng.choice(values)
            row["field_type"] = ftype
            row[col] = value
        return row

    def random_batch():
        return [
            draw(rng.choice(assets), rng.choice(fields), rng.choice(columns), rng.random() < 0.3)
            for _ in range(rng.randint(1, 5))
        ]

    small = TagStore(spark)
    dist = TagStore(spark)
    dist.SMALL_STATE_MAX = 0  # instance override: promotes on first merge
    mixed = TagStore(spark)
    mixed.SMALL_STATE_MAX = 8  # promotes within a few steps
    paths = Counter()

    def key(r):
        return (r["asset_uri"], r["column"] or "", r["template_id"], r["field_id"])

    def typed(r):
        return (key(r),) + tuple(r[c] for c in VALUE_COLS)

    for step in range(16):
        if step == 0:
            # onto empty stores: one partly-empty and one all-empty tag
            rows = [
                draw("a", "owner", None, True),
                draw("a", "domain", None, False),
                draw("b", "owner", "c1", True),
                draw("b", "domain", "c1", True),
            ]
        else:
            rows = random_batch()
        overwrite = rng.random() < 0.7
        dwe = rng.random() < 0.7
        ev_s = small.merge(mk(spark, rows), overwrite=overwrite, delete_when_empty=dwe)
        ev_d = dist.merge(mk(spark, rows), overwrite=overwrite, delete_when_empty=dwe)
        ev_m = mixed.merge(mk(spark, rows), overwrite=overwrite, delete_when_empty=dwe)
        if mixed._rows is None:
            # only a driver merge hands its event rows to the caller
            paths["slice" if hasattr(ev_m, "_tag_engine_event_rows") else "bucket"] += 1
        small_events = Counter(typed(r) + (r["action"],) for r in ev_s.collect())
        for other, ev in (("dist", ev_d), ("mixed", ev_m)):
            events = Counter(typed(r) + (r["action"],) for r in ev.collect())
            assert small_events == events, f"step {step} {other} events diverge"
        s_state = Counter(typed(r) for r in small.all().collect())
        for other, store in (("dist", dist), ("mixed", mixed)):
            state = Counter(typed(r) for r in store.all().collect())
            assert s_state == state, f"step {step} {other} state diverges"
    assert small._rows is not None  # stayed driver-resident throughout
    assert paths["slice"] >= 1 and paths["bucket"] >= 1, paths


def test_history_readable_across_many_distributed_merges(spark):
    # Regression: each distributed merge's returned event rows read THAT
    # generation's checkpoint; an accumulated history union (the engine
    # pattern) must stay readable after later merges supersede the
    # state. An eager free of the previous generation broke this.
    ts = TagStore(spark)
    ts.SMALL_STATE_MAX = 0  # force the distributed path from merge 1
    history = None
    for i in range(4):
        ev = ts.merge(mk(spark, [tag_row("a", "owner", f"v{i}"), tag_row(f"b{i}", "owner", "x")]))
        history = ev if history is None else history.unionByName(ev)
    rows = history.collect()
    assert len(rows) == 8  # 2 events per merge, all generations readable
    assert {r["action"] for r in rows} == {"CREATE", "UPDATE"}
    assert ts.all().count() == 5


def test_persistence_reload_stays_distributed_past_threshold(spark, tmp_path):
    # a reloaded store whose persisted state exceeds the driver-resident
    # cap must come back on the distributed path and keep merging
    path = str(tmp_path / "tags.parquet")
    ts = TagStore(spark, path=path)
    ts.SMALL_STATE_MAX = 4
    ts.merge(mk(spark, [tag_row(f"a{i}", "owner", f"u{i}") for i in range(8)]))
    assert ts._rows is None  # promoted during the merge

    reloaded = TagStore(spark, path=path)
    reloaded.SMALL_STATE_MAX = 4
    # class-level probe in __init__ used the class cap (4096), so mirror
    # the instance cap by re-probing through set_state
    reloaded.set_state(spark.read.parquet(path))
    assert reloaded._rows is None  # distributed from the start
    hist = reloaded.merge(mk(spark, [tag_row("a3", "owner", "new")])).collect()
    assert [h["action"] for h in hist] == ["UPDATE"]
    assert state(reloaded)[("a3", None, "t", "owner")] == "new"
    assert reloaded.all().count() == 8


def test_history_auto_spill_bounds_generations(spark):
    """A long merge chain keeps history reads bounded: every
    history_spill_every appends the history log compacts its small
    files into one, and reopening the log deletes the superseded ones —
    yet history reads still return every event."""
    from datacatalog_tag_engine_spark.engine import TagEngine
    from datacatalog_tag_engine_spark.store.historylog import HistoryLog

    eng = TagEngine(spark, history_spill_every=5)
    eng.store.SMALL_STATE_MAX = 0  # force the distributed MERGE path
    n_merges = 23
    for i in range(n_merges):
        ev = eng.store.merge(mk(spark, [tag_row("a", "owner", f"v{i}")]))
        eng._append_history(ev, f"job{i}")

    # one compacted file plus the appends since the last compaction,
    # regardless of chain length
    log = eng._history_log
    assert len(log.files()) <= 5
    reopened = HistoryLog(spark, log.directory, 5)
    assert sorted(os.listdir(log.directory)) == sorted(os.path.basename(f) for f in reopened.files())
    assert len(reopened.files()) <= 5

    # every event of every generation still readable, exactly once
    rows = eng.history().collect()
    assert len(rows) == n_merges
    assert {r["field_value"] for r in rows} == {f"v{i}" for i in range(n_merges)}
    assert [r["action"] for r in sorted(rows, key=lambda r: r["field_value"])][0] == "CREATE"
    assert {r["job_uuid"] for r in rows} == {f"job{i}" for i in range(n_merges)}


def test_history_spill_threshold_not_reached_is_noop(spark):
    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark, history_spill_every=50)
    eng.store.SMALL_STATE_MAX = 0
    for i in range(3):
        ev = eng.store.merge(mk(spark, [tag_row("a", "owner", f"v{i}")]))
        eng._append_history(ev, f"job{i}")
    # one log file per append, none compacted
    files = [os.path.basename(f) for f in eng._history_log.files()]
    assert files == [f"{i:08d}-{i:08d}.parquet" for i in (1, 2, 3)]
    assert eng.history().count() == 3


def test_history_spill_with_held_handout_stays_readable(spark):
    """A held history() plan must survive later compactions: the files
    a compaction supersedes stay on disk until the log is next opened,
    so a plan handed out earlier still reads them."""
    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark, history_spill_every=4)
    eng.store.SMALL_STATE_MAX = 0  # force the distributed MERGE path
    for i in range(2):
        ev = eng.store.merge(mk(spark, [tag_row("a", "owner", f"v{i}")]))
        eng._append_history(ev, f"job{i}")
    held = eng.history()  # reads the two files written so far
    for i in range(2, 9):  # crosses the compaction threshold twice
        ev = eng.store.merge(mk(spark, [tag_row("a", "owner", f"v{i}")]))
        eng._append_history(ev, f"job{i}")
    # the held snapshot still reads — nothing was deleted underneath it
    assert {r["field_value"] for r in held.collect()} == {"v0", "v1"}
    # the engine's own view has every event, exactly once
    rows = eng.history().collect()
    assert {r["field_value"] for r in rows} == {f"v{i}" for i in range(9)}
    assert len(rows) == 9
    # and the log stayed bounded: one compacted file plus the append since
    assert len(eng._history_log.files()) < 4


def test_touched_slice_merge_of_many_assets_matches_merge_rows(spark):
    # a distributed state takes a ~1,000-asset batch on the driver (the
    # touched-slice path, whose predicate names every batch asset); its
    # state and events must equal merge_rows over the plain row lists
    from collections import Counter

    from datacatalog_tag_engine_spark.store.tagstore import VALUE_COLS, merge_rows

    odd = ["it's", 'q"uote', "back\\slash", "ü/€/😀", ""]
    assets = [f"p/datasets/d{i % 7}/tables/t{i}" for i in range(2400)] + odd
    initial = [tag_row(a, f, f"{f}-{i}") for i, a in enumerate(assets) for f in ("owner", "domain")]
    batch = [tag_row(a, "owner", f"new-{i}") for i, a in enumerate(assets[:2400:3])]  # updates
    batch += [tag_row(f"fresh{i}", "owner", "n") for i in range(150)]  # creates
    batch += [tag_row(a, "owner") for a in assets[1:600:3]]  # all-empty tags: deletes
    batch += [tag_row(a, "owner", "odd") for a in odd]
    assert len({r["asset_uri"] for r in batch}) > 1000

    ts = TagStore(spark)
    ts.set_state(mk(spark, initial))
    assert ts._rows is None  # distributed
    events = ts.merge(mk(spark, batch))
    assert hasattr(events, "_tag_engine_event_rows")  # merged on the driver

    def typed(r):
        return (r["asset_uri"], r["column"], r["template_id"], r["field_id"]) + tuple(
            r[c] for c in VALUE_COLS
        )

    want_state, want_events = merge_rows(initial, batch, True, True)
    assert Counter(typed(r) + (r["action"],) for r in events.collect()) == Counter(
        typed(r) + (r["action"],) for r in want_events
    )
    assert Counter(typed(r) for r in ts.all().collect()) == Counter(typed(r) for r in want_state)
