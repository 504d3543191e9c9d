"""Asset-count scale ladder (SURVEY.md section 5.iv): the reference
load-tests 500 -> 1M assets (examples/load/configs/); this replays the
same shape locally — N schema-identical assets, the 11-expression
profile — on the engine's two dynamic-tag executors and prints seconds
per rung.

The point being demonstrated: per-asset cost grows with ASSET COUNT
(one Spark job per asset, each a full scan of its clone — driver
scheduling bound), while fused-inventory cost grows with DATA SIZE
only: one scan leaf regardless of N, the same total rows split across
the N assets, the only shape that reaches the reference's
500k/1M-asset ladder.

Per-asset stops at 256 assets to keep the ladder runnable;
fused-inventory runs every rung.

`--static` instead runs the STATIC_TAG_ASSET ladder (the reference's
flagship load shape, examples/load/configs/static_asset_1m.json: N
assets x 7 constant fields): a spark.range-derived synthetic inventory
through the engine's _static_rows crossJoin plan + type coercion to a
noop sink — no createDataFrame-from-list anywhere in the path, so the
1M rung is a single distributed job.

`--columns` runs the DYNAMIC_TAG_COLUMN ladder: per-asset column
discovery + per-(asset, column) statements, both thread-pooled (the
discovery loop used to be serial on the driver).

`--discovery` runs the column-discovery ladder: the schema-shaped
single pass against the opaque per-asset thread pool.

`--merge` runs the tag-store MERGE ladder over growing standing state
(10k/100k/1M rows, always distributed): a fixed 10k batch (bucket
merge), a fixed 200-row batch (touched-slice merge on the driver), and
a cold load of the rung's row count into an empty store.

`--history` runs the history-log ladder: N `update_tag_subset` appends
on each merge path (driver-resident and distributed), then one timed
`history().count()` and the number of live log files. Compaction every
`history_spill_every` appends keeps the file count, and with it the
read cost, bounded as the session grows.

Usage: python tools/scale_ladder.py [--static|--columns|--discovery|--merge|--history] [N ...]
(default 10 50 200)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from datacatalog_tag_engine_spark.operators import dynamic as DYN
from datacatalog_tag_engine_spark.session import get_spark, register_testdata

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


STATIC_FIELDS = [
    # mirrors examples/load/configs/static_asset_1m.json:5-33 (7 constant
    # fields), typed against this repo's test template vocabulary
    {"field_id": f"static_field_{i}", "field_type": "string", "field_value": f"VALUE_{i}"}
    for i in range(7)
]


def static_ladder(rungs: list[int]) -> None:
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.engine import TagEngine

    spark = get_spark("scale-ladder-static")
    spark.sparkContext.setLogLevel("ERROR")
    eng = TagEngine(spark)
    eng.create_template(
        "static_ladder", [{"field_id": f["field_id"], "field_type": "string"} for f in STATIC_FIELDS]
    )
    cfg_uuid = eng.create_config(
        "STATIC_TAG_ASSET", "static_ladder",
        included_uris="bigquery/project/p/dataset/d/*",
        fields=STATIC_FIELDS,
    )
    cfg = eng.configs[cfg_uuid]
    print(f"{'assets':>9} {'static(s)':>10}   (N assets x 7 fields -> coerced rows -> noop sink)")
    for n in rungs:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assets = spark.range(0, n, 1, width).select(
            F.format_string("p/datasets/d/tables/t_%07d", F.col("id")).alias("asset_uri"),
            F.lit("bigquery").alias("asset_type"),
            F.lit("p").alias("project"),
            F.lit("d").alias("dataset"),
            F.format_string("t_%07d", F.col("id")).alias("table"),
        )
        t0 = time.time()
        raw = eng._static_rows(cfg, assets)
        DYN.coerce_long_rows(raw).write.mode("overwrite").format("noop").save()
        print(f"{n:>9} {time.time() - t0:>10.2f}")


def columns_ladder(rungs: list[int]) -> None:
    """DYNAMIC_TAG_COLUMN ladder: N assets x per-asset column discovery
    (included_columns_query) + per-(asset, column) statements, all
    through the engine's thread pools — the discovery phase used to be
    a serial driver loop, so this rung is the regression guard for it.
    Field expression is constant-cost so the number measures job
    scheduling, the actual bottleneck of the interactive path."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.engine import TagEngine

    spark = get_spark("scale-ladder-columns")
    spark.sparkContext.setLogLevel("ERROR")
    register_testdata(spark, SF_DIR)
    spark.table("lineitem").count()  # warm
    eng = TagEngine(spark, qualify=lambda p, d, t: "lineitem")
    eng.create_template("cols", [{"field_id": "tagged", "field_type": "double"}])
    print(f"{'assets':>8} {'columns(s)':>11}   (discovery + 2 stmts per asset, pooled)")
    for n in rungs:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assets = spark.range(0, n, 1, width).select(
            F.format_string("p/datasets/d/tables/t_%05d", F.col("id")).alias("asset_uri"),
            F.lit("bigquery").alias("asset_type"),
            F.lit("p").alias("project"),
            F.lit("d").alias("dataset"),
            F.format_string("t_%05d", F.col("id")).alias("table"),
        )
        cfg = eng.create_config(
            "DYNAMIC_TAG_COLUMN", "cols",
            included_uris="bigquery/project/p/dataset/d/*",
            included_columns_query="select 'l_orderkey', 'l_partkey'",
            fields=[{"field_id": "tagged", "query_expression": "select 1"}],
        )
        t0 = time.time()
        eng.trigger_job(cfg, assets)
        print(f"{n:>8} {time.time() - t0:>11.2f}")


def discovery_ladder(rungs: list[int]) -> None:
    """Column-DISCOVERY ladder: the schema-shaped single pass (one
    distributed plan over the inventory's schema column — ZERO per-asset
    Spark jobs, engine._discover_columns 'schema' regime) against the
    opaque per-asset thread pool (one spark.sql job per asset, 8
    workers — the reference's own per-asset semantics, capped at 1000
    rungs here). The schema path's cost tracks inventory SIZE (one
    explode+filter+groupBy job); the pooled path tracks ASSET COUNT
    (driver job-scheduling bound) — the same cliff the static ladder
    demonstrates for tagging, now removed from discovery too."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.engine import TagEngine
    from datacatalog_tag_engine_spark.model.schemas import SUBCOLUMN_SCHEMA
    from pyspark.sql import types as T

    spark = get_spark("scale-ladder-discovery")
    spark.sparkContext.setLogLevel("ERROR")
    register_testdata(spark, SF_DIR)
    spark.table("lineitem").count()  # warm
    eng = TagEngine(spark, qualify=lambda p, d, t: "lineitem")
    sub_t = T.ArrayType(SUBCOLUMN_SCHEMA)
    col_struct = lambda name, typ: F.struct(
        F.lit(name).alias("name"),
        F.lit(typ).alias("type"),
        F.lit("NULLABLE").alias("mode"),
        F.lit(None).cast(sub_t).alias("subcolumns"),
    )
    schema_q = (
        "select column_name from $project.$dataset.INFORMATION_SCHEMA.COLUMNS "
        "where table_name = '$table' and data_type = 'STRING'"
    )
    # the same two columns via per-asset SQL (a $table reference that is
    # not information-schema-shaped -> the opaque thread-pool regime)
    opaque_q = "select 'l_returnflag', 'l_linestatus' from $table limit 1"
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    print(f"{'assets':>9} {'schema-pass(s)':>15} {'per-asset-pool(s)':>18}")
    for n in rungs:
        assets = spark.range(0, n, 1, width).select(
            F.format_string("p/datasets/d/tables/t_%07d", F.col("id")).alias("asset_uri"),
            F.lit("bigquery").alias("asset_type"),
            F.lit("p").alias("project"),
            F.lit("d").alias("dataset"),
            F.format_string("t_%07d", F.col("id")).alias("table"),
            F.array(
                col_struct("l_returnflag", "STRING"),
                col_struct("l_orderkey", "INT64"),
                col_struct("l_linestatus", "STRING"),
            ).alias("schema"),
        )
        uris = [f"p/datasets/d/tables/t_{i:07d}" for i in range(n)]

        t0 = time.time()
        found = eng._discover_columns({"included_columns_query": schema_q}, assets, uris)
        schema_s = time.time() - t0
        assert len(found) == n and found[uris[0]] == ["l_returnflag", "l_linestatus"]

        pooled_s = float("nan")
        if n <= 1000:
            t0 = time.time()
            found = eng._discover_columns({"included_columns_query": opaque_q}, assets, uris)
            pooled_s = time.time() - t0
            assert len(found) == n
        print(f"{n:>9} {schema_s:>15.2f} {pooled_s:>18.2f}")


def merge_ladder(rungs: list[int]) -> None:
    """Tag-store MERGE ladder: state-size rungs with a distributed state
    (state > SMALL_STATE_MAX). Two batch sizes, each split half
    updates / half creates plus 2% delete groups — the reconcile shape
    (S14) a refresh applies to a large standing tag table:

    * 10k rows, above the cap: the size probe, the touched-tag
      semi/anti joins, the per-bucket row merge in Python workers, and
      the eager checkpoint that materializes state + events;
    * 200 rows, an incremental refresh: the size probe, one job that
      collects the touched slice, the row merge on the driver, and the
      narrow checkpoint that swaps the slice into the state.

    Each rung also times a cold load: the rung's row count merged into
    an empty store (a bulk first load), the path that never leaves the
    JVM."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.model.schemas import TAGS_SCHEMA
    from datacatalog_tag_engine_spark.store.tagstore import TagStore

    spark = get_spark("scale-ladder-merge")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()  # warm

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def tag_rows(ids, value):
        out = ids.select(
            F.format_string("p/datasets/d/tables/t_%09d", F.col("id")).alias("asset_uri"),
            F.lit(None).cast("string").alias("column"),
            F.lit("t").alias("template_id"),
            F.lit("owner").alias("field_id"),
            F.lit("string").alias("field_type"),
            value.alias("field_value_string"),
            F.lit(None).cast("double").alias("field_value_double"),
            F.lit(None).cast("boolean").alias("field_value_bool"),
            F.lit(None).cast("timestamp").alias("field_value_ts"),
            F.lit(None).cast("string").alias("job_uuid"),
            F.lit(None).cast("timestamp").alias("updated_ts"),
        )
        return out.select(*[f.name for f in TAGS_SCHEMA.fields])

    def timed_merge(s, batch_n):
        store = TagStore(spark)
        store.set_state(tag_rows(spark.range(0, s, 1, width), F.lit("old")))
        upd = tag_rows(spark.range(0, batch_n // 2, 1, width), F.lit("new"))  # ids 0.. overlap
        crt = tag_rows(
            spark.range(s, s + batch_n // 2 - batch_n // 50, 1, width), F.lit("new")
        )
        dlt = tag_rows(
            spark.range(batch_n // 2, batch_n // 2 + batch_n // 50, 1, width),
            F.lit(None).cast("string"),
        )
        batch = upd.unionByName(crt).unionByName(dlt)
        t0 = time.time()
        n_ev = store.merge(batch).count()
        return time.time() - t0, n_ev

    print(
        f"{'state':>9} {'merge-10k(s)':>13} {'merge-200(s)':>13} {'cold-load(s)':>13}"
        "   (batches: 50% update / 48% create / 2% delete)"
    )
    for s in rungs:
        big_s, big_ev = timed_merge(s, 10_000)
        small_s, small_ev = timed_merge(s, 200)

        cold = TagStore(spark)
        t0 = time.time()
        assert cold.merge(tag_rows(spark.range(0, s, 1, width), F.lit("old"))).count() == s
        cold_s = time.time() - t0
        print(
            f"{s:>9} {big_s:>13.2f} {small_s:>13.2f} {cold_s:>13.2f}"
            f"   ({big_ev} / {small_ev} events)"
        )


def history_ladder(rungs: list[int]) -> None:
    from datacatalog_tag_engine_spark.engine import TagEngine

    spark = get_spark("scale-ladder-history")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'appends':>8} {'path':>12} {'appends(s)':>11} {'count(s)':>9} {'rows':>6} {'files':>6}")
    for n in rungs:
        for path in ("driver", "distributed"):
            eng = TagEngine(spark)
            eng.create_template("g", [{"field_id": "owner", "field_type": "string"}])
            if path == "distributed":
                eng.store.SMALL_STATE_MAX = 0
            t0 = time.time()
            for i in range(n):
                eng.update_tag_subset("g", f"p/datasets/d/tables/t{i % 50}", None, [
                    {"field_id": "owner", "field_type": "string", "raw_value": f"v{i}"}])
            append_s = time.time() - t0
            t0 = time.time()
            rows = eng.history().count()
            count_s = time.time() - t0
            files = len(eng._history_log.files())
            print(f"{n:>8} {path:>12} {append_s:>11.2f} {count_s:>9.2f} {rows:>6} {files:>6}")


def main() -> None:
    argv = sys.argv[1:]
    if argv and argv[0] == "--static":
        static_ladder([int(a) for a in argv[1:]] or [1000, 100_000, 1_000_000])
        return
    if argv and argv[0] == "--columns":
        columns_ladder([int(a) for a in argv[1:]] or [100, 1000])
        return
    if argv and argv[0] == "--discovery":
        discovery_ladder([int(a) for a in argv[1:]] or [100, 1000, 10_000, 100_000])
        return
    if argv and argv[0] == "--merge":
        merge_ladder([int(a) for a in argv[1:]] or [10_000, 100_000, 1_000_000])
        return
    if argv and argv[0] == "--history":
        history_ladder([int(a) for a in argv[1:]] or [10, 50, 200])
        return
    rungs = [int(a) for a in sys.argv[1:]] or [10, 50, 200]
    spark = get_spark("scale-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    register_testdata(spark, SF_DIR)
    li = spark.table("lineitem")
    li.count()  # warm

    from pyspark.sql import functions as F

    print(f"{'assets':>8} {'fused-inv(s)':>13} {'per-asset(s)':>14}")
    for n in rungs:
        uris = [f"p/datasets/d/tables/clone_{i:04d}" for i in range(n)]

        # inventory form: ONE scan with a derived asset_uri column — the
        # same total data volume, split across n assets
        inv = li.withColumn(
            "asset_uri",
            F.format_string("p/datasets/d/tables/clone_%04d", F.pmod(F.hash("l_orderkey"), F.lit(n))),
        )
        t0 = time.time()
        DYN.run_config_fused(spark, E.FUSED_FIELDS, inv, "t").write.mode(
            "overwrite"
        ).format("noop").save()
        fused_inv = time.time() - t0

        per_asset = float("nan")
        if n <= 256:
            t0 = time.time()
            DYN.run_config_per_asset(
                spark, E.FUSED_FIELDS, [(u, None) for u in uris], "t",
                qualify=lambda p, d, t: "lineitem",
            )
            per_asset = time.time() - t0

        print(f"{n:>8} {fused_inv:>13.2f} {per_asset:>14.2f}")


if __name__ == "__main__":
    main()
