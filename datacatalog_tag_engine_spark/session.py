"""SparkSession factory tuned for this engine, and its driver-rows rule.

Local testing runs on local[N]; the same settings are what we would ship
on a multi-executor cluster: AQE on (runtime re-plan + skew-join
handling), shuffle partitions sized for the data scale, Arrow enabled for
the few Pandas-UDF paths (pipeline/ operators).

The driver-rows rule: a tag state, batch, touched slice or history
entry of at most ``DRIVER_ROWS_MAX`` rows lives on the driver, as dicts,
pyarrow-written files and in-plan ``LocalRelation``s; anything larger
stays in Spark. ``driver_rows`` is its one probe, ``local_df`` and
``arrow_table`` its one way from dict rows to Spark and to Arrow.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, StructField, StructType, TimestampType

# HotSpot's tier-4 (C2) compile thresholds at 10x the JDK 17 defaults.
# A tag-engine job runs many short queries over small data, so the
# driver JVM never leaves warm-up: C2 compiled Spark's own
# infrastructure (closure cleaner, SQL parser, Janino, Catalyst) whose
# optimized code never ran long enough to repay the compile, and took
# about half of the JVM's CPU doing it. Lukewarm code stays in C1;
# hot loops still reach C2 (SCALE.md "Driver JVM compile budget").
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(app_name: str = "tag-engine-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    shuffle_partitions defaults to the parallelism of the master; at
    100 TB scale this is instead sized so post-shuffle partitions stay
    in the 128-256 MB range — AQE coalesces down from a high initial
    number, so we set a generous initial and let AQE shrink it.

    The driver JVM starts with ``DRIVER_JIT_OPTIONS``. They go into
    ``spark.driver.defaultJavaOptions``, which Spark places before
    ``spark.driver.extraJavaOptions`` on the JVM command line, so a
    caller's own flags (``--driver-java-options``, or extraJavaOptions
    in PYSPARK_SUBMIT_ARGS) still apply and win on conflict. They only
    take effect when this call launches the JVM; a session whose JVM
    already runs keeps its flags. Executors on a cluster are untouched:
    their JVMs take ``spark.executor.*JavaOptions``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's sort-merge -> shuffled-hash rewrite
        # (maxShuffledHashJoinLocalMapThreshold, guide §3.1) was probed
        # r14 on the fingerprint/shingle pair joins:
        # an apparent 2x on d25 under a loaded box did NOT reproduce on
        # a quiet one — in-process toggle A/B measured a wash on
        # d25/d29/q106 and ~0.5 s WORSE on d27 (the sort the rewrite
        # removes is cheap on 8-byte keys; the per-partition hash map
        # build is not free). Left at the default (off).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        # UI off for tests/bench (port + listener overhead); tools that
        # read per-stage shuffle metrics over the REST API opt in via
        # SPARK_GRAFT_UI=true
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # LIMIT/first() probes: CollectLimitExec ramps up from 1
        # partition (x4 per retry), so a first() over a 32-partition
        # relation that doesn't fill the limit in partition 0 pays 3-4
        # successive jobs — measured 0.87s vs 0.34s on a dimension-sized
        # local relation. Size the first probe wave to the cluster's
        # parallelism instead: one wave regardless of where the rows
        # live. Per-task early-stop still bounds the cost of each probe
        # task on huge scans (lineitem first(): 0.10s under this
        # setting), and the engine's interactive paths (user-SQL
        # first-row-wins, merge size probes) are LIMIT-shaped.
        .config("spark.sql.limit.initialNumPartitions", cpus)
        # RDD-default parallelism governs how python-local data
        # (createDataFrame from driver rows) slices. In this engine that
        # data is dimension-sized by construction (fixtures, metadata,
        # centroid tables) — distributed work always enters through
        # parquet scans and SQL shuffles, governed by the SQL configs
        # above. Cluster-width parallelize fans a 3-row relation into
        # one near-empty task per core (thousands on a real cluster);
        # pin it small instead. Measured on the engine-fixture queries:
        # q26 2.8->1.7s, q18 1.7->1.1s, q33 1.9->1.1s at local[32].
        # Distributed code paths must NOT size themselves off the RDD
        # default: CPU-heavy repartitions (dedup shingling) read
        # spark.sql.shuffle.partitions instead; SQL-side leaf nodes keep
        # cluster width via the leaf-parallelism conf below (NOTE:
        # PySpark's session.range() bypasses it by filling numSlices
        # from the RDD default — synthetic range inventories must pass
        # an explicit width, as tools/scale_ladder.py does).
        .config("spark.default.parallelism", str(max(4, int(cpus) // 4)))
        .config("spark.sql.leafNodeDefaultParallelism", cpus)
    )
    return builder.getOrCreate()


# The driver-rows cap (module docstring). The reference writes tags one
# entry at a time (DataCatalogController.py:1608-1652), so a
# driver-sized unit of work is its own regime. ``local_df``,
# ``TagStore`` and ``HistoryLog`` all read this one cap.
DRIVER_ROWS_MAX = 4096


def driver_rows(df, cap: int) -> list[dict] | None:
    """The rows of ``df`` as dicts when it has at most ``cap`` rows,
    else None. One limit-collect, which stops past the cap; over a
    ``LocalRelation`` it runs no Spark job."""
    rows = df.limit(cap + 1).collect()
    return [r.asDict() for r in rows] if len(rows) <= cap else None


def local_df(spark: SparkSession, data, schema, slices: int | None = None):
    """createDataFrame for driver rows (tuples in field order, or dicts
    keyed by field name).

    Up to ``DRIVER_ROWS_MAX`` rows become an Arrow-backed
    ``LocalRelation``: the rows live inside the plan, and Catalyst folds
    project, filter and limit over them, so collecting such a frame (a
    tag-state mirror, the incoming rows of a synchronous call, merge
    events, the job ledger) runs no Spark job. Nested struct and array
    fields come back nullable: PySpark's Arrow input path rebuilds
    nested arrays without their non-null flags.

    Above the cap, or when ``slices`` is given, the rows are
    parallelized at one slice per ``DRIVER_ROWS_MAX`` rows instead of
    the defaultParallelism-wide default, which would schedule a full
    task wave for every action on a handful of rows."""
    data = list(data)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if data and isinstance(data[0], dict):
        # fail fast on misspelled keys: a silent r.get() None would
        # surface (if at all) as a wrong column far from the bug
        names = {f.name for f in schema.fields}
        for r in data:
            unknown = r.keys() - names
            if unknown:
                raise ValueError(f"local_df: keys {sorted(unknown)} not in schema {sorted(names)}")
    if slices is None and len(data) <= DRIVER_ROWS_MAX:
        if data and not isinstance(data[0], dict):
            data = [dict(zip(schema.names, r)) for r in data]
        schema = StructType(
            [StructField(f.name, _nullable_nested(f.dataType), f.nullable) for f in schema.fields]
        )
        return spark.createDataFrame(arrow_table(data, schema), schema)
    if slices is None:
        slices = (len(data) + DRIVER_ROWS_MAX - 1) // DRIVER_ROWS_MAX
    return spark.createDataFrame(spark.sparkContext.parallelize(data, slices), schema)


def _nullable_nested(dt):
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable_nested(f.dataType), True) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_nested(dt.elementType), True)
    return dt


def arrow_table(rows: list[dict], schema):
    """A pyarrow Table of driver rows (dicts keyed by field name: a
    missing key is null, an extra key is ignored) typed by a Spark
    StructType. Naive datetimes in timestamp columns are read as local
    time, as PySpark's own createDataFrame reads them; a None in a
    non-nullable column raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist(rows, schema=arrow_schema)
    for i, field in enumerate(schema.fields):
        if isinstance(field.dataType, TimestampType):
            values = pa.array([_as_utc(r.get(field.name)) for r in rows], type=arrow_schema.field(i).type)
            table = table.set_column(i, arrow_schema.field(i), values)
        if not field.nullable and table.column(i).null_count:
            raise ValueError(f"field {field.name}: not nullable, but got None")
    return table


def _as_utc(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.astimezone(datetime.timezone.utc)
    return v


def free_local_checkpoint(df) -> None:
    """Eagerly free the block-manager storage behind a
    ``localCheckpoint(eager=True)`` DataFrame whose data is no longer
    referenced. ``Dataset.unpersist()`` is a NO-OP for these (verified
    on Spark 4.1.2: it only uncaches CacheManager entries, while
    checkpoint blocks live on the internally cached RDD), so reach the
    RDD through the LogicalRDD plan root. Falls back silently if the
    plan shape ever changes — the ContextCleaner then frees the blocks
    when the RDD reference is GC'd, just later."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_parquet(spark: SparkSession, path: str):
    """Read a parquet file, tolerating TIMESTAMP(NANOS) columns.

    Spark rejects nano-precision parquet timestamps outright; we read
    them as raw nanos longs (legacy conf) and truncate to micros —
    byte-identical to how DuckDB/Arrow surface the same column, so
    oracle comparisons stay exact. Footer-only schema sniff, no data
    read on the driver.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    try:
        footer = pq.read_schema(path)
    except Exception:
        return df
    for field in footer:
        if str(field.type) == "timestamp[ns]" and field.name in df.columns:
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's parquet tables as temp views.

    Parquet scans give Catalyst column pruning + predicate pushdown for
    free; at 100 TB these would be external tables with partition
    columns, and the same view names keep every query unchanged.

    Pins the session timezone to UTC: date-casting queries must agree
    with the (timezone-naive) DuckDB oracle even when the caller built
    the SparkSession without our factory.

    Idempotent per (session, sf_dir): repeated calls (every query entry
    calls this) skip the footer reads and catalog churn unless the
    directory changed.
    """
    key = id(spark)
    if _REGISTERED.get(key) == sf_dir:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_parquet(spark, path).createOrReplaceTempView(name)
    _REGISTERED[key] = sf_dir


_REGISTERED: dict[int, str] = {}
